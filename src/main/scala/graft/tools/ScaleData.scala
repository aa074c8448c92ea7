package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing testdata dir by
  * key-offset replication (VERDICT r14 #5: the per-query gates all run
  * at sf0.1 where 60% of rows are sub-second — a one-off sf1 record
  * exposes superlinear rows the hand-picked scale metrics miss).
  *
  * Replication is TPC-H-faithful, not naive unioning:
  *  - `region`/`nation` are fixed enumerations at every SF (25 nations
  *    regardless of scale) — copied verbatim; FK columns into them are
  *    left untouched.
  *  - every scaling table gets its OWN keys offset by replica·10^7, and
  *    every FK into a scaling table gets the SAME offset — replica i of
  *    lineitem joins replica i of orders/part/supplier, so join
  *    fan-outs stay 1:1 instead of exploding 10× per side.
  *  - `documents.text` is token-suffixed per replica (replica 0
  *    verbatim): a real 10× crawl is NOT ten exact copies, and exact
  *    replication would turn every near-dup query quadratic in the
  *    replica count rather than representative of the scale.
  *    `n_chars` is re-derived from the rewritten text.
  *  - `embeddings.embedding` gets a deterministic per-replica ±5e-3
  *    per-dimension perturbation (exact duplicate vectors would
  *    collapse semdedup cells and tie every top-k).
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <dstDir> [replicas]
  *        [tables] — optional comma-list restricts output (a targeted
  *        100× run needs only documents,embeddings; skipping lineitem's
  *        60M-row write saves most of the generation time).
  */
object ScaleData {

  private val OFF = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    try generate(spark, src, dst, reps, only) finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, reps: Int,
      only: Set[String] = Set.empty): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: => DataFrame, t: String, files: Int): Unit =
      if (only.isEmpty || only.contains(t))
        df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // fixed enumerations: verbatim at every SF
    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)

    /** Replicate `df` `reps` times, adding replica·OFF to each column
      * in `keys` (the table's own keys + FKs into scaling tables).
      * Guard (ADVICE r15): offsetting only injects whole replicas if
      * every source key is already < OFF — scaling an ALREADY-scaled
      * dir (sf1 → sf10) would otherwise silently collide keys across
      * replicas and break the 1:1 join-fanout invariant. */
    def replicate(df: DataFrame, keys: Seq[String])(
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val maxes = df.agg(max(col(keys.head)).cast("long").as(keys.head),
        keys.tail.map(k => max(col(k)).cast("long").as(k)): _*).first()
      keys.zipWithIndex.foreach { case (k, j) =>
        val m = if (maxes.isNullAt(j)) 0L else maxes.getLong(j)
        require(m < OFF,
          s"key $k max $m >= offset $OFF — source dir looks already " +
            "scaled; replicating it would collide keys across replicas " +
            "(re-scale from the ORIGINAL sf dir, or raise OFF)")
      }
      (0 until reps).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * OFF)))
        perReplica(shifted, i)
      }.reduce(_ unionByName _)
    }

    // c_name gets a per-replica suffix: names replicated verbatim gave
    // every name 10 exact copies, so the SymSpell edit-distance miner's
    // TRUE pair count grew ~100× (r15 first sf1 record: dedup_fuzzy
    // 79.5s = output-sensitive runtime doing its job on unrealistic
    // input) — a real 10× corpus has mostly-unique names
    wr(replicate(rd("customer"), Seq("c_custkey")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("c_name", concat(col("c_name"), lit("#" + i)))
    }, "customer", 4)
    wr(replicate(rd("supplier"), Seq("s_suppkey"))(), "supplier", 1)
    wr(replicate(rd("part"), Seq("p_partkey"))(), "part", 4)
    wr(replicate(rd("orders"), Seq("o_orderkey", "o_custkey"))(), "orders", 8)
    wr(replicate(rd("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem", 16)
    wr(replicate(rd("events"), Seq("event_id", "user_id"))(), "events", 8)

    // documents: replica 0 verbatim; others token-suffixed so the
    // near-dup surface scales like a crawl, not like a copy farm
    wr(replicate(rd("documents"), Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text", concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"),
            tk => concat(tk, lit("_" + i)))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 8)

    // embeddings: deterministic per-replica perturbation breaks exact
    // vector duplication (semdedup cells, top-k ties) while keeping
    // the geometry — shift each dim by <= 5e-3 as a function of
    // (vec_id, dim, replica)
    wr(replicate(rd("embeddings"), Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + ((pmod(col("vec_id") * 31 + j.cast("long") * 17 + lit(i * 101L),
            lit(1000L)) - 500L).cast("float") / lit(100000.0f)))
            .cast("float")))
    }, "embeddings", 2)

    println(s"[scaledata] wrote ${reps}x of $src to $dst")
  }
}
