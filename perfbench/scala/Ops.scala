package perfbench

import graft.Main
import graft.SparkEntry
import graft.config.{ConfigParser, FileOutput}
import graft.exec.Runner
import graft.functions.{Clusters, Decontam, Dedup, GraftFunctions, TextFunctions}
import graft.model.{ColStats, RowCheckSpec, UniqueCheck}
import graft.report.{HtmlReport, JsonReport, ReportIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Every op the benchmark runs, by name, over the generated inputs in
  * `data`:
  *
  *   - [[Ops.Validate]]: `graft.Main.run` on the generated config. Traced,
  *     the op replays the public steps of `Main.run` one by one so that
  *     each gets a span.
  *   - [[Ops.Curate]]: the corpus curation pipeline, written to parquet.
  *   - any other name: that registry query, built and written to the
  *     `noop` sink.
  *
  * `run` returns per-op facts the summary needs. Ops are repeatable. */
final class Ops(data: String, out: String) {
  private val config = s"$data/validate.yaml"
  private val jsonOut = s"$out/validate/report.json"
  private val htmlOut = s"$out/validate/report.html"
  private val reports = mutable.ArrayBuffer[(Int, String)]()
  val QualityMin = 0.6

  def run(spark: SparkSession, name: String, id: Int, tr: Tracer): Map[String, Any] = name match {
    case Ops.Validate => validate(spark, id, tr)
    case Ops.Curate => curate(spark, id, tr)
    case query => this.query(spark, query, tr)
  }

  private def validate(spark: SparkSession, id: Int, tr: Tracer): Map[String, Any] = {
    if (!tr.enabled) {
      val (fatal, _, report) = Main.run(spark,
        Main.Cli(config = config, jsonReport = Some(jsonOut), htmlReport = Some(htmlOut)))
      if (fatal || report.isEmpty) throw new IllegalStateException("graft.Main.run reported a fatal error")
      reports += id -> report.get
      return Map.empty
    }
    val cfg = tr("config.parse")(ConfigParser.parseFile(config, Map.empty, Some(spark))) match {
      case Right(c) => c
      case Left(errs) => throw new IllegalStateException(errs.mkString("; "))
    }
    val tables = cfg.tables.map(_.toTableSpec)
      .map(t => t.copy(load = (s: SparkSession) => tr("sources.open")(t.load(s))))
    val sinks = cfg.outputs :+ FileOutput(jsonOut, append = false)
    tr("report.preflight") {
      (sinks.collect { case FileOutput(f, _) => f } :+ htmlOut).foreach(f =>
        ReportIO.canAppendOrCreate(spark, f).left.foreach(e => throw new IllegalStateException(e)))
    }
    val errs = tables.flatMap(t => tr("exec.config_check")(Runner.configCheck(spark, t)))
    if (errs.nonEmpty) throw new IllegalStateException(errs.mkString("; "))
    val results = tables.map(t => tr("exec.run")(
      Runner.run(spark, t, cfg.detailedErrors, cfg.numErrorsToReport, cfg.numKeyCols)))
    val (json, html) = tr("report.render")((
      JsonReport.fullReport(results, cfg.numKeyCols, cfg.numErrorsToReport,
        cfg.detailedErrors, cfg.resolvedVars, master = spark.sparkContext.master),
      HtmlReport.report(results)))
    tr("report.emit") {
      sinks.foreach(o => ReportIO.emit(spark, o, json).left.foreach(e => throw new IllegalStateException(e)))
      ReportIO.writeFile(spark, htmlOut, html).left.foreach(e => throw new IllegalStateException(e))
    }
    reports += id -> json
    val passes = results.flatMap(_.timings).groupMapReduce {
      case (k, _) if k.startsWith("unique_") => "unique"
      case (k, _) => k
    }(_._2 / 1e6)(_ + _)
    Map("passes_ms" -> passes, "scan_table_rows" -> results.head.rowCount)
  }

  private def query(spark: SparkSession, name: String, tr: Tracer): Map[String, Any] = {
    val fn = SparkEntry.queries(name)
    val before = if (tr.enabled) spark.conf.getAll else Map.empty[String, String]
    val df = tr("queries.build")(fn(spark, data))
    tr("queries.action")(df.write.format("noop").mode("overwrite").save())
    if (!tr.enabled) Map.empty
    else {
      val after = spark.conf.getAll
      Map("conf_changed" -> (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k)).toSeq.sorted)
    }
  }

  /** normalize → quality gate → exact dedup → Jaccard near-dup pairs →
    * drop non-representative cluster members → drop eval-contaminated docs. */
  private def curate(spark: SparkSession, id: Int, tr: Tracer): Map[String, Any] = {
    val corpus = spark.read.parquet(s"$data/corpus.parquet")
    val evalset = spark.read.parquet(s"$data/evalset.parquet")
    val good = corpus
      .select(col("doc_id"), GraftFunctions.normalizeText(col("text")).as("text"))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .where(col("quality") >= QualityMin)
    val dupGroups = Dedup.exactDupGroups(good, "doc_id", "text").select("content_hash", "keep_id")
    val unique = good.withColumn("content_hash", xxhash64(col("text")))
      .join(dupGroups, Seq("content_hash"), "left")
      .where(col("keep_id").isNull || col("doc_id") === col("keep_id"))
      .select("doc_id", "text")
    val pairs = tr("functions.near_dup_pairs")(Dedup.jaccardNearDupPairs(unique, "doc_id", "text"))
    val kept = tr("functions.cluster_drop")(Clusters.dropNearDupMembers(unique, "doc_id", pairs))
    val clean = tr("functions.decontam")(Decontam.dropContaminated(kept, evalset, "doc_id", "text"))
    tr("functions.action")(clean.write.mode("overwrite").parquet(s"$out/curate/op-$id"))
    Map.empty
  }

  /** Untimed, after the timed sections: writes what the output checks read.
    * The validate reports; and each registry query that ran, once more,
    * its result in parquet for the oracle, three at a time, each in its
    * own session so that a query's conf changes cannot reach another. */
  def finish(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any] = {
    val w = new java.io.PrintWriter(s"$out/validate_reports.jsonl", "UTF-8")
    try reports.foreach { case (i, r) => w.println(s"""{"op":$i,"report":$r}""") }
    finally w.close()
    val names = ops.filter(_.error.isEmpty).map(_.name).distinct
      .filterNot(n => n == Ops.Validate || n == Ops.Curate)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val tasks = names.map { n =>
      pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] =
          try {
            SparkEntry.queries(n)(spark.newSession(), data).coalesce(1)
              .write.mode("overwrite").parquet(s"$out/board/$n")
            None
          } catch { case e: Exception => Some(String.valueOf(e.getMessage)) }
      })
    }
    val errors = names.zip(tasks.map(_.get())).collect { case (n, Some(e)) => n -> e }.toMap
    pool.shutdown()
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json(names.map(n => n -> oracle.getOrElse(n, "")).toMap).getBytes(StandardCharsets.UTF_8))
    Map("written" -> names.filterNot(errors.contains), "write_errors" -> errors,
      "scan_model" -> scanModel(spark))
  }

  /** What the reference cost model needs of the config, per table in
    * config order: a table is scanned once, once more if it has colstats,
    * once more for the detail pass if detailed errors are on and a row
    * check failed, and once per uniqueCheck. */
  private def scanModel(spark: SparkSession): Map[String, Any] = {
    val cfg = ConfigParser.parseFile(config, Map.empty, Some(spark))
      .fold(errs => throw new IllegalStateException(errs.mkString("; ")), identity)
    Map("detailed" -> cfg.detailedErrors, "tables" -> cfg.tables.map(_.toTableSpec).map(t => Map(
      "colstats" -> t.checks.exists(_.isInstanceOf[ColStats]),
      "uniques" -> t.checks.count(_.isInstanceOf[UniqueCheck]),
      "row_checks" -> t.checks.collect { case rc: RowCheckSpec => rc.label })))
  }
}

object Ops {
  /** The registry query each set-up round runs once. */
  val WarmQuery = "chk_fused"
  val Validate = "validate"
  val Curate = "curate"
}
