package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Frequency sketching: heavy hitters over arbitrarily-skewed key
  * columns WITHOUT a key-space shuffle.
  *
  * The naive `groupBy(key).count.orderBy` shuffles every distinct key —
  * at 100 TB a vocabulary-sized exchange dominated by the very skew the
  * query is trying to find. This protocol never shuffles raw keys:
  *
  *  1. ONE scan builds a count-min sketch (Cormode & Muthukrishnan,
  *     J. Algorithms 2005) via Spark's `count_min_sketch` aggregate —
  *     partial sketches merge associatively, so the exchange carries
  *     KB-sized blobs, one per partition.
  *  2. ONE scan runs per-partition Misra–Gries (Misra & Gries, Sci.
  *     Comput. Program. 1982) with `mgCapacity` counters: any key with
  *     global count > n/mgCapacity exceeds that rate in at least one
  *     partition (pigeonhole), so the bounded candidate union — at most
  *     partitions·mgCapacity strings to the driver — provably contains
  *     every such key under ANY row layout.
  *  3. Candidates probe the driver-side sketch (bounded loop); top-k by
  *     estimate.
  *
  * Estimates are one-sided: est ∈ [count, count + ε·n] with probability
  * ≥ confidence per key. The returned ranking is exact whenever the
  * k-th key's true count clears the (k+1)-th by more than ε·n — the
  * regime heavy-hitter queries live in by definition.
  */
object Sketches {

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * Spark's native hll_sketch_agg): one (keys, sketch-blob) row per
    * group. The blobs are the incremental-analytics primitive: persist
    * per-day/per-source sketches once, then answer ANY later
    * distinct-count question — per group, rolled up, or across arbitrary
    * group unions — by merging blobs, never rescanning history. At
    * 100 TB that turns a full-corpus distinct scan into a read of
    * #groups × ~2^lgK bytes. */
  def distinctSketches(df: DataFrame, keys: Seq[Column], value: Column,
      lgK: Int = 12, sketchCol: String = "sketch"): DataFrame =
    df.groupBy(keys: _*).agg(hll_sketch_agg(value, lit(lgK)).as(sketchCol))

  /** Aggregate Column: merged distinct estimate over a sketch column
    * (register-wise max union, then the HLL estimator) — the read side
    * of [[distinctSketches]]. */
  def mergedDistinctEstimate(sketch: Column): Column =
    hll_sketch_estimate(hll_union_agg(sketch, lit(false)))

  /** One-pass mergeable sketch of `key` (cast to string; nulls are
    * skipped by the aggregate). The blob returns to the driver once —
    * width·depth counters, independent of corpus size. */
  def countMinSketchOf(df: DataFrame, key: Column, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 42): CountMinSketch = {
    val bytes = df
      .select(count_min_sketch(key.cast("string"), lit(eps), lit(confidence),
        lit(seed)).as("s"))
      .head().getAs[Array[Byte]](0)
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Per-partition Misra–Gries candidate union: ≤ mgCapacity survivors
    * per partition, each guaranteed to include every key whose count in
    * that partition exceeds rows/mgCapacity. Bounded imperative state
    * (one hashmap per partition) — the justified mapPartitions case. */
  private[graft] def mgCandidates(df: DataFrame, key: Column,
      mgCapacity: Int): Array[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(key.cast("string")).where(key.isNotNull).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { k =>
          if (counters.contains(k) || counters.size < mgCapacity)
            counters.update(k, counters.getOrElse(k, 0L) + 1L)
          else {
            // decrement-all step, dropping zeroed counters
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counters.mapValuesInPlace((_, v) => v - 1L)
            counters.foreach { case (k2, v) => if (v <= 0L) dead += k2 }
            dead.foreach(counters.remove)
          }
        }
        counters.keysIterator
      }
      .collect().distinct
  }

  /** Bottom-k distinct 64-bit key hashes — a KMV (k-minimum-values)
    * distinct sketch (Bar-Yossef et al., RANDOM 2002). ONE TakeOrdered
    * job: each partition ships at most k hashes toward the driver merge,
    * independent of corpus size. Deterministic — the hash is seeded
    * content math, no sampling. */
  private[graft] def kmvSketch(df: DataFrame, key: Column, k: Int): Array[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(key.isNotNull)
      .select(xxhash64(key.cast("string")).as("h")).distinct()
      .orderBy("h").limit(k).as[Long].collect()
  }

  /** Corpus-overlap estimation: Jaccard similarity of two corpora's
    * DISTINCT key sets from their KMV sketches — the "how much does
    * snapshot N overlap snapshot N−1" question answered with two
    * bounded jobs instead of a cross-corpus join. Standard KMV
    * estimator: merge both sketches, keep the k smallest hashes of the
    * union, count how many appear in both; J ≈ |both| / k. Relative
    * error ~1/√k; the estimate is DETERMINISTIC (content hashes, no
    * randomness), so the same corpora always report the same overlap.
    * Returns (estimate, kUsed) — kUsed < k when the union itself has
    * fewer than k distinct keys (then the estimate is exact). */
  def corpusJaccard(a: DataFrame, b: DataFrame, keyA: Column, keyB: Column,
      k: Int = 4096): (Double, Int) = {
    require(k > 0, s"k must be positive, got $k")
    val sa = kmvSketch(a, keyA, k)
    val sb = kmvSketch(b, keyB, k)
    val union = (sa ++ sb).distinct.sorted.take(k)
    if (union.isEmpty) (0.0, 0)
    else {
      val inA = sa.toSet; val inB = sb.toSet
      val both = union.count(h => inA(h) && inB(h))
      (both.toDouble / union.length, union.length)
    }
  }

  /** PER-GROUP top-k heavy hitters with EXACT counts — "top terms per
    * language" / "hot urls per host" without shuffling the full
    * (group, key) space:
    *
    *  1. per-partition Misra–Gries PER GROUP (one bounded counter map
    *     per (partition, group) — the same pigeonhole guarantee as
    *     [[mgCandidates]], now per group: any key with in-group count
    *     > n_g/mgCapacity survives in some partition);
    *  2. the bounded candidate set (≤ partitions·groups·mgCapacity)
    *     BROADCASTS back as a semi-join filter, and ONE aggregation
    *     counts exactly — but only candidate rows enter the exchange;
    *  3. WindowGroupLimit takes top-k per group (count DESC, key).
    *
    * Counts for returned keys are EXACT (stage 2 is a real count, not
    * a sketch estimate); recall is guaranteed for keys above the
    * n_g/mgCapacity rate and best-effort below — the heavy-hitter
    * regime by definition. */
  def heavyHittersPerGroup(df: DataFrame, group: Column, key: Column,
      k: Int, mgCapacity: Int = 1024): DataFrame = {
    require(k > 0 && mgCapacity >= k,
      s"need mgCapacity >= k > 0, got k=$k capacity=$mgCapacity")
    val spark = df.sparkSession
    import spark.implicits._
    // a narrow scan: the candidate pass and the exact count each re-read it
    val gk = df.select(group.cast("string").as("g"), key.cast("string").as("w"))
      .where(col("g").isNotNull && col("w").isNotNull)
    val cands = gk.as[(String, String)]
      .mapPartitions { it =>
        val perGroup = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.HashMap[String, Long]]
        it.foreach { case (g, w) =>
          val counters = perGroup.getOrElseUpdate(g,
            scala.collection.mutable.HashMap.empty[String, Long])
          if (counters.contains(w) || counters.size < mgCapacity)
            counters.update(w, counters.getOrElse(w, 0L) + 1L)
          else {
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counters.mapValuesInPlace((_, v) => v - 1L)
            counters.foreach { case (w2, v) => if (v <= 0L) dead += w2 }
            dead.foreach(counters.remove)
          }
        }
        perGroup.iterator.flatMap { case (g, cs) => cs.keysIterator.map(g -> _) }
      }
      .toDF("g", "w").distinct()
    val exact = gk.join(broadcast(cands), Seq("g", "w"), "left_semi")
      .groupBy("g", "w").agg(count(lit(1L)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("n").desc, col("w"))
    exact
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .select(col("g").as("group"), col("w").as("key"), col("n"))
      .orderBy("group", "key")
  }

  /** Top-k keys by estimated count, as a DataFrame (`key` string,
    * `est` long) ordered (est DESC, key). Exactly two scans of `df`,
    * no raw-key shuffle, driver state bounded by
    * partitions·mgCapacity + the sketch. */
  def heavyHitters(df: DataFrame, key: Column, k: Int, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 42,
      mgCapacity: Int = 1024): DataFrame = {
    require(k > 0 && mgCapacity >= k,
      s"need mgCapacity >= k > 0, got k=$k capacity=$mgCapacity")
    val sketch = countMinSketchOf(df, key, eps, confidence, seed)
    val spark = df.sparkSession
    import spark.implicits._
    val top = mgCandidates(df, key, mgCapacity)
      .map(c => (c, sketch.estimateCount(c)))
      .sortBy { case (c, est) => (-est, c) }
      .take(k)
    spark.createDataset(top.toSeq).toDF("key", "est")
  }
}
