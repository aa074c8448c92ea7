package graft

import graft.config.{ConfigParser, FileOutput, GraftConfig}
import graft.exec.{Parallel, Runner, TableResult}
import graft.report.{JsonReport, ReportIO}
import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's Main.scala:127-154 contract:
  *
  *   graft.Main --config conf.yaml [--jsonReport out.json]
  *     [--vars k=v[,k=v…]] [--exitErrorOnFail] [--verbose]
  *
  * Error dichotomy (Main.scala:78-82): `fatal` (config/system error) →
  * exit -1 always; `validatorFail` (checks failed) → print
  * `DATA_VALIDATOR_STATUS=FAIL`, exit -1 only with --exitErrorOnFail.
  *
  * A run opens each table's source exactly once. The tables go through
  * configCheck all at once, then through [[Runner.run]] all at once
  * ([[graft.exec.Parallel]]); each table's report carries a
  * `configCheck` timer beside its pass timers.
  */
object Main {

  final case class Cli(
      config: String = "",
      jsonReport: Option[String] = None,
      htmlReport: Option[String] = None,
      vars: Map[String, String] = Map.empty,
      exitErrorOnFail: Boolean = false,
      emailOnPass: Boolean = false,
      verbose: Boolean = false)

  def parseArgs(args: Seq[String]): Either[String, Cli] = {
    def loop(rest: List[String], acc: Cli): Either[String, Cli] = rest match {
      case Nil if acc.config.isEmpty => Left("--config <file> is required")
      case Nil => Right(acc)
      case "--config" :: f :: t => loop(t, acc.copy(config = f))
      case "--jsonReport" :: f :: t => loop(t, acc.copy(jsonReport = Some(f)))
      case "--htmlReport" :: f :: t => loop(t, acc.copy(htmlReport = Some(f)))
      case "--vars" :: kvs :: t =>
        val pairs = kvs.split(',').toSeq.map(_.split("=", 2))
        if (pairs.exists(_.length != 2)) Left(s"bad --vars '$kvs', expected k=v[,k=v…]")
        else loop(t, acc.copy(vars = acc.vars ++ pairs.map(p => p(0) -> p(1))))
      case "--exitErrorOnFail" :: t => loop(t, acc.copy(exitErrorOnFail = true))
      case "--emailOnPass" :: t => loop(t, acc.copy(emailOnPass = true))
      case "--verbose" :: t => loop(t, acc.copy(verbose = true))
      case other :: _ => Left(s"unknown option '$other'")
    }
    loop(args.toList, Cli())
  }

  /** Run everything; returns (fatal, validatorFail, report JSON). Pure of
    * exits/printlns so it is testable; `main` owns the process contract. */
  def run(spark: SparkSession, cli: Cli): (Boolean, Boolean, Option[String]) =
    ConfigParser.parseFile(cli.config, cli.vars, Some(spark)) match {
      case Left(errors) =>
        errors.foreach(e => System.err.println(s"[graft] config error: $e"))
        (true, false, None)
      case Right(config) => runConfig(spark, cli, config)
    }

  private def runConfig(spark: SparkSession, cli: Cli,
      config: GraftConfig): (Boolean, Boolean, Option[String]) = {
    val tables = config.tables.map(_.toTableSpec)

    // pre-flight: every file sink must be creatable/appendable BEFORE the
    // first Spark job (reference Main.scala:55-66) — discovering a bad
    // report path after an hour-long run wastes the whole run
    val fileSinks = (config.outputs.collect { case FileOutput(f, _) => f } ++
      cli.jsonReport ++ cli.htmlReport).distinct
    val preflightErrors = fileSinks.flatMap(f =>
      ReportIO.canAppendOrCreate(spark, f).left.toOption)
    if (preflightErrors.nonEmpty) {
      preflightErrors.foreach(e => System.err.println(s"[graft] preflight: $e"))
      return (true, false, None)
    }

    // config check, all tables at once: open each source (for a file
    // source, one schema-inference job) and validate the config against
    // its schema; no data read. The opened table is reused by the run.
    val checked = Parallel.map(spark, tables) { t =>
      val t0 = System.nanoTime()
      try {
        val opened = t.opened(t.open(spark))
        val errors = Runner.configCheck(spark, opened)
        (opened, errors, System.nanoTime() - t0)
      } catch { case e: Exception => (t, Seq(s"cannot open source: ${e.getMessage}"), 0L) }
    }
    val configErrors = checked.flatMap { case (t, errors, _) => errors.map(e => s"${t.name}: $e") }
    if (configErrors.nonEmpty) {
      configErrors.foreach(e => System.err.println(s"[graft] configCheck: $e"))
      return (true, false, None)
    }

    // the run, all tables at once; the first failure in config order is
    // rethrown once every table has finished
    val results: Seq[TableResult] = Parallel.map(spark, checked) { case (t, _, configCheckNs) =>
      val r = Runner.run(spark, t, config.detailedErrors, config.numErrorsToReport, config.numKeyCols)
      r.copy(timings = r.timings + ("configCheck" -> configCheckNs))
    }
    val report = JsonReport.fullReport(results,
      config.numKeyCols, config.numErrorsToReport, config.detailedErrors,
      config.resolvedVars, master = spark.sparkContext.master)

    val sinks = config.outputs ++ cli.jsonReport.map(FileOutput(_, append = false))
    val sinkErrors = sinks.flatMap(o => ReportIO.emit(spark, o, report).left.toOption) ++
      cli.htmlReport.flatMap(f =>
        ReportIO.writeFile(spark, f, graft.report.HtmlReport.report(results)).left.toOption)
    sinkErrors.foreach(e => System.err.println(s"[graft] output: $e"))

    // email on failure (or on pass with --emailOnPass), reference
    // Main.scala:105-108; a delivery problem is logged, not fatal
    config.email.foreach { ec =>
      graft.report.Emailer.sendReport(ec, results, cli.emailOnPass).foreach {
        case Left(err) => System.err.println(s"[graft] email: $err")
        case Right(_) => ()
      }
    }

    (sinkErrors.nonEmpty, results.exists(_.failed), Some(report))
  }

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args.toIndexedSeq) match {
      case Right(c) => c
      case Left(err) =>
        System.err.println(s"[graft] $err")
        System.err.println("usage: graft.Main --config <file> [--jsonReport <file>] " +
          "[--htmlReport <file>] [--vars k=v[,k=v…]] [--exitErrorOnFail] " +
          "[--emailOnPass] [--verbose]")
        println("DATA_VALIDATOR_STATUS=FAIL")
        sys.exit(-1)
    }
    // Under spark-submit the master comes from the launcher; standalone
    // runs (tests, local CLI) fall back to all local cores. Hive support
    // backs the db+table source kind (reference Main.scala:86-87);
    // enabled when the hive classes are on the classpath.
    val builder0 = SparkSession.builder()
      .appName("graft-validator")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val builder =
      try builder0.enableHiveSupport()
      catch { case _: IllegalArgumentException => builder0 }
    val spark =
      if (sys.props.contains("spark.master")) builder.getOrCreate()
      else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")).getOrCreate()
    if (!cli.verbose) spark.sparkContext.setLogLevel("WARN")

    val (fatal, validatorFail, _) =
      try run(spark, cli)
      finally spark.stop()

    println(s"DATA_VALIDATOR_STATUS=${if (fatal || validatorFail) "FAIL" else "PASS"}")
    if (fatal || (validatorFail && cli.exitErrorOnFail)) sys.exit(-1)
  }
}
