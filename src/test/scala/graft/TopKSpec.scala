package graft

import graft.functions.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r17: [[graft.functions.TopKByScoreAgg]] replaces the bitext cut's
  * Sort→Window(row_number)→rank≤k with a k-bounded aggregate. This spec
  * proves the kept SET equals the window's across the machinery the
  * aggregate must survive: map-side partials + merges over many
  * partitions, the serialize/deserialize path (the default
  * ObjectHashAggregate key threshold forces sort-based fallback at
  * >128 groups, which round-trips every buffer), STRING ids (whose
  * buffer aliasing a shallow copy would corrupt — the reason update
  * materializes through the unsafe projection), NULL scores (DESC ⇒
  * last, still selectable in small groups), and groups smaller than k. */
class TopKSpec extends SparkSuite {

  import spark.implicits._

  private def windowCut(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("g")).orderBy(round(col("s"), 6).desc, col("id"))
    df.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("g"), col("id"), col("s"))
  }

  private def aggCut(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("g"))
      .agg(TopK.topKByScore(struct(round(col("s"), 6).as("r6"),
        col("id"), col("s")), k).as("__tk"))
      .select(col("g"), explode(col("__tk")).as("__e"))
      .select(col("g"), col("__e.id").as("id"), col("__e.s").as("s"))

  private def assertSame(df: org.apache.spark.sql.DataFrame, k: Int,
      label: String): Unit = {
    val a = aggCut(df, k).collect().map(_.toString).sorted
    val w = windowCut(df, k).collect().map(_.toString).sorted
    assert(a.toSeq == w.toSeq,
      s"$label: agg cut != window cut (${a.length} vs ${w.length} rows)")
  }

  test("top-k aggregate == window rank cut: long ids, 500 groups, partials+merges") {
    val df = spark.range(25000).select(
        (col("id") % 500).as("g"), col("id"),
        (pmod(col("id") * 2654435761L, lit(10007)) / 10007.0).as("s"))
      .repartition(16)
    assertSame(df, 4, "long ids")
  }

  test("top-k aggregate == window rank cut: string ids, ties, null scores, tiny groups") {
    val df = spark.range(4000).select(
        (col("id") % 300).as("g"),
        concat(lit("id_"), lpad(col("id").cast("string"), 6, "0")).as("id"),
        when(col("id") % 17 === 0, lit(null).cast("double"))
          // coarse scores force r6 TIES so the id tie-break decides
          .otherwise((pmod(col("id"), lit(5))).cast("double")).as("s"))
      .repartition(13)
    assertSame(df, 3, "string ids with ties and null scores")
    // groups smaller than k keep everything, including null-score rows
    val tiny = Seq(("a", "x", Some(1.0)), ("a", "y", None), ("b", "z", Some(2.0)))
      .toDF("g", "id", "s").select(col("g"), col("id"), col("s").cast("double").as("s"))
    assertSame(tiny, 4, "groups smaller than k")
  }

  test("top-k aggregate == window rank cut: NULL ids sort first among tied scores") {
    val df = Seq(
        ("a", Some("x"), 1.0), ("a", None, 1.0), ("a", Some("y"), 2.0), ("a", Some("w"), 1.0),
        ("b", None, 0.5), ("b", None, 0.5), ("b", Some("v"), 0.5))
      .toDF("g", "id", "s")
    assertSame(df, 2, "null ids")
  }
}
