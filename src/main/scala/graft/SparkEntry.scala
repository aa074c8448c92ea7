package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the Phase-3 extensions) gets a
  * `queries` entry built through the engine API, and, where ANSI-SQL
  * expressible, a DuckDB `oracleSql` equivalent over the same parquet
  * tables. Column names are aligned between both sides (the driver's
  * compare hashes values under sorted column names); multi-row results
  * carry an identical ORDER BY on both sides.
  */
object SparkEntry {

  /** Flagship: the fused quick-check pass — N checks, ONE scan, one-row
    * result. */
  def entry(spark: SparkSession): DataFrame =
    CheckQueries.fusedQuery(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CheckQueries.queries ++ RelationalQueries.queries ++ PipelineQueries.queries

  /** The dev tools' local session (Bench, Verify, DumpPlans, ScaleData):
    * `local[cpus]` with `cpus` shuffle partitions, UTC session time zone,
    * parquet nanos read as long, no UI, WARN logging. */
  def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The half-boundary-exposed regression-family oracles go through
    * [[queries.OracleRounding]] so DuckDB rounds the same digits Spark
    * does (VERDICT r13 #1/#2). */
  def oracleSql: Map[String, String] = OracleRounding(
    CheckQueries.oracleSql ++ RelationalQueries.oracleSql ++ PipelineQueries.oracleSql)
}
