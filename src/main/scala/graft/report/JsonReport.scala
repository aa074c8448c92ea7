package graft.report

import graft.exec.{CheckResult, ColumnStats, TableResult}

/** Hand-rolled JSON rendering of run results (the offline resolver has no
  * JSON library beyond Spark's shaded Jackson; report shapes mirror the
  * reference's JSON report, ValidatorConfig.scala:73-90 / JsonUtils.scala). */
object JsonReport {

  def esc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => esc(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => render(n.toDouble)
    case d: Double =>
      if (d.isNaN || d.isInfinite) esc(d.toString) else d.toString
    case ColumnStats(cnt, mean, mn, mx, sd, hist) =>
      s"""{"count":$cnt,"mean":${render(mean)},"min":${render(mn)},"max":${render(mx)},""" +
        s""""stdDev":${render(sd)},"histogram":${render(hist)}}"""
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${esc(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => esc(other.toString)
  }

  def checkJson(c: CheckResult): String =
    s"""{"label":${esc(c.label)},"failed":${c.failed},"message":${esc(c.message)},""" +
      s""""metrics":${render(c.metrics)},"events":${checkEvents(c).mkString("[", ",", "]")}}"""

  /** Per-check event list in the reference's event vocabulary
    * (ValidatorEvent.scala:17-47, 75-85): counters for measured values, a
    * checkEvent/columnBasedCheckEvent verdict, quickCheckError examples. */
  def checkEvents(c: CheckResult): Seq[String] = {
    def counter(name: String, v: Long) =
      s"""{"type":"counter","name":${esc(name)},"value":$v}"""
    c.metrics.get("errorCount") match {
      case Some(errs: Long) =>
        val limit = c.metrics.get("errorLimit") match { case Some(l: Long) => l; case _ => 0L }
        Seq(counter("errorCount", errs)) ++
          (if (limit > 0) Seq(counter("errorCountThreshold", limit)) else Nil) :+
          s"""{"type":"checkEvent","failed":${c.failed},"label":${esc(c.label)},"errorCount":$errs}"""
      case _ =>
        Seq(s"""{"type":"columnBasedCheckEvent","failed":${c.failed},""" +
          s""""data":${render(c.metrics.view.mapValues(_.toString).toMap)},""" +
          s""""msg":${esc(c.message)}}""")
    }
  }

  /** Table events: per-stage ns timers (configCheck/firstPass/quickPass/
    * errorDetails/uniqueCheck — ValidatorTimer, ValidatorEvent.scala:52-73;
    * `graft.Main` records configCheck, [[graft.exec.Runner.run]] the passes)
    * + one quickCheckError per captured error-detail row. */
  def tableEvents(t: TableResult): Seq[String] = {
    val timers = t.timings.toSeq.sortBy(_._1).map { case (label, ns) =>
      s"""{"type":"timer","label":${esc(label)},"durationNs":$ns}"""
    }
    val details = t.errorDetails.map { row =>
      val kv = row.schema.fieldNames.map(f =>
        s"${esc(f)}:${render(row.getAs[Any](f))}").mkString("{", ",", "}")
      s"""{"type":"quickCheckError","row":$kv}"""
    }
    timers ++ details
  }

  def tableJson(t: TableResult): String =
    s"""{"table":${esc(t.table)},"rowCount":${t.rowCount},"failed":${t.failed},""" +
      s""""checks":[${t.results.map(checkJson).mkString(",")}],""" +
      s""""numErrorDetails":${t.errorDetails.size},""" +
      s""""events":${tableEvents(t).mkString("[", ",", "]")}}"""

  /** Full-run report + the reference's status-line contract
    * (Main.scala:138-153). */
  def report(tables: Seq[TableResult]): String = {
    val failed = tables.exists(_.failed)
    s"""{"status":${esc(if (failed) "FAIL" else "PASS")},""" +
      s""""tables":[${tables.map(tableJson).mkString(",")}]}"""
  }

  /** Whole-run report with the reference's top-level shape
    * (ValidatorConfig.genJsonReport, ValidatorConfig.scala:73-90):
    * settings, varSubDict, buildInfo, runtimeInfo, failed, tables. */
  def fullReport(tables: Seq[TableResult],
      numKeyCols: Int, numErrorsToReport: Int, detailedErrors: Boolean,
      varSubDict: Seq[(String, String)],
      sparkVersion: String = org.apache.spark.SPARK_VERSION,
      master: String = ""): String = {
    val failed = tables.exists(_.failed)
    val buildInfo =
      s"""{"name":"datavalidatorspark","version":"0.1.0",""" +
        s""""scalaVersion":${esc(scala.util.Properties.versionNumberString)},""" +
        s""""sparkVersion":${esc(sparkVersion)},""" +
        s""""javaVersion":${esc(System.getProperty("java.version"))}}"""
    val runtimeInfo = s"""{"master":${esc(master)}}"""
    val dict = varSubDict.map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString("{", ",", "}")
    s"""{"status":${esc(if (failed) "FAIL" else "PASS")},"failed":$failed,""" +
      s""""numKeyCols":$numKeyCols,"numErrorsToReport":$numErrorsToReport,""" +
      s""""detailedErrors":$detailedErrors,"varSubDict":$dict,""" +
      s""""buildInfo":$buildInfo,"runtimeInfo":$runtimeInfo,""" +
      s""""tables":[${tables.map(tableJson).mkString(",")}]}"""
  }

  def statusLine(tables: Seq[TableResult]): String =
    s"DATA_VALIDATOR_STATUS=${if (tables.exists(_.failed)) "FAIL" else "PASS"}"
}
