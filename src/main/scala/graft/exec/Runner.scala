package graft.exec

import graft.compile.CheckCompiler
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of one check on one table. `metrics` holds the check's measured
  * aggregates (errorCount, actual max/sum, stats, …) — pure data, no
  * mutable event state (unlike the reference's `var failed` +
  * global EventLog, ValidatorBase.scala:15, EventLog.scala:16-18). */
final case class CheckResult(
    label: String,
    failed: Boolean,
    metrics: Map[String, Any],
    message: String)

/** Stats emitted by ColStats (ColStats.scala / CompleteStats.scala). */
final case class ColumnStats(
    count: Long, mean: Double, min: Double, max: Double,
    stdDev: Double, histogram: Seq[Long])

final case class TableResult(
    table: String,
    rowCount: Long,
    results: Seq[CheckResult],
    errorDetails: Seq[Row],
    timings: Map[String, Long]) {
  def failed: Boolean = results.exists(_.failed)
}

/** Executes a [[TableSpec]]'s checks with the reference's pass structure
  * (ValidatorTable.scala:76-187) re-expressed as declarative DataFrame
  * plans:
  *
  *   1. (optional) first pass — count/avg/min/max for every ColStats column,
  *      ONE job regardless of how many colstats checks (ValidatorTable.scala:76-89).
  *   2. fused quick pass — count(1) + one aggregate column per cheap check
  *      + colstats pass-2 columns (ssq + 10 histogram bins), ONE scan
  *      (ValidatorTable.scala:100-143). All columns are built-in codegen'd
  *      aggregates, so Catalyst fuses them into a single partial→final
  *      HashAggregate: at 100 TB this is one data pass with only a 1-row
  *      driver result.
  *   3. verdicts, computed in-plan: the quick pass IS the [[verdictDF]]
  *      plan (verdict columns from [[CheckCompiler.verdict]]), and each
  *      uniqueCheck pass the [[uniqueDF]] plan, so the CLI executes the
  *      same plans as the registry and the streaming monitor. The driver
  *      reads each `<label>_failed` flag and only formats messages and
  *      metrics around it.
  *   4. (conditional) error-detail pass — filter(or of failed predicates)
  *      .limit(n), early-terminating (ValidatorTable.scala:154-187).
  *   5. costly checks (uniqueCheck) — own pass + shuffle each
  *      (UniqueCheck.scala:34-49).
  *
  * Passes 1–4 form a chain: each needs the one before. A uniqueCheck needs
  * only the source, so every pass 5 starts when the table's run starts and
  * runs beside the chain ([[Parallel]]); their Spark jobs share the
  * cluster. `run` opens the table's source itself; [[graft.Main]] opens it
  * once for configCheck and hands the opened table in
  * ([[graft.model.TableSpec.opened]]).
  */
object Runner {

  val NumBins = 10 // SecondPassStatsAggregator.scala:11

  /** Labels key the fused pass's aggregate columns; two checks sharing one
    * would silently read each other's results via fieldIndex (the
    * reference indexes positionally and cannot collide). */
  def duplicateLabels(checks: Seq[CheckSpec]): Seq[String] =
    checks.groupBy(_.label).collect { case (l, cs) if cs.size > 1 => l }.toSeq.sorted

  def configCheck(spark: SparkSession, table: TableSpec): Seq[String] = {
    val schema = table.open(spark).schema
    val keyErrs = table.keyColumns.toSeq.flatten
      .filterNot(schema.fieldNames.contains)
      .map(k => s"key column '$k' not found") // ValidatorTable.checkKeyCols (:50-74)
    keyErrs ++
      duplicateLabels(table.checks).map(l =>
        s"duplicate check label '$l' — give same-type checks distinct labels") ++
      table.checks.flatMap(c => CheckCompiler.configCheck(c, schema).map(e => s"${c.label}: $e"))
  }

  def run(spark: SparkSession, table: TableSpec,
          detailedErrors: Boolean = true, numErrorsToReport: Int = 100,
          numKeyCols: Int = 2): TableResult = {
    val dups = duplicateLabels(table.checks)
    require(dups.isEmpty, s"duplicate check labels: ${dups.mkString(", ")} — " +
      "aggregate columns are keyed by label; give same-type checks distinct labels")
    val df = table.open(spark)
    val uniques = table.checks.collect { case u: UniqueCheck => u }
    // Each pass returns its share of the table's result. A uniqueCheck
    // needs nothing but the source, so it starts beside the scan passes,
    // whose share, with the row count and error details, comes first.
    Parallel.map(spark, None +: uniques.map(Some(_))) {
      case None => scanPasses(table, df, detailedErrors, numErrorsToReport, numKeyCols)
      case Some(u) => uniquePass(table.name, df, u)
    }.reduce((a, b) => a.copy(results = a.results ++ b.results, timings = a.timings ++ b.timings))
  }

  /** Passes 1–4: each depends on the one before, so they run in order. */
  private def scanPasses(table: TableSpec, df: DataFrame, detailedErrors: Boolean,
      numErrorsToReport: Int, numKeyCols: Int): TableResult = {
    val timings = scala.collection.mutable.Map[String, Long]()
    def timed[T](k: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f; timings(k) = System.nanoTime() - t0; r
    }

    val rowChecks = table.checks.collect { case rc: RowCheckSpec => rc }
    val colStats = table.checks.collect { case cs: ColStats => cs }

    // ---- pass 1 (colstats only): one job for ALL colstats columns
    val firstPass =
      if (colStats.isEmpty) Map.empty[String, (Long, Double, Double, Double)]
      else timed("firstPass")(firstPassStats(df, colStats))

    // ---- fused quick pass: the verdictDF plan, colstats pass 2 riding along
    val row = timed("quickPass") {
      verdictPlan(df, table.checks,
        colStats.flatMap(cs => secondPassCols(cs, firstPass(cs.label)))).head()
    }
    val rowCount = row.getLong(row.fieldIndex("row_cnt"))
    def failed(label: String): Boolean = row.getBoolean(row.fieldIndex(s"${label}_failed"))

    // ---- results: verdicts from the row, messages and metrics around them
    val results = table.checks.collect {
      case rc: RowCheckSpec =>
        val errs = longAt(row, s"${rc.label}_errs")
        val limit = rc.thresholdOrZero.errorLimit(rowCount)
        val f = failed(rc.label)
        CheckResult(rc.label, f,
          Map("errorCount" -> errs, "errorLimit" -> limit, "column" -> rc.column),
          if (f) s"${rc.label} failed: $errs errors > limit $limit"
          else s"${rc.label} ok: $errs errors <= limit $limit")
      case MinNumRows(minRows, label) =>
        val f = failed(label)
        val relErr = if (minRows == 0) 0.0 else (minRows - rowCount).toDouble / minRows * 100.0
        CheckResult(label, f,
          Map("rowCount" -> rowCount, "minNumRows" -> minRows,
              "relativeErrorPct" -> (if (f) relErr else 0.0)),
          if (f) f"rowCount $rowCount < $minRows ($relErr%.2f%% short)"
          else s"rowCount $rowCount >= $minRows")
      case ColumnMaxCheck(c, expected, label) =>
        val actual = row.get(row.fieldIndex(s"${label}_max"))
        val f = failed(label)
        CheckResult(label, f, Map("column" -> c, "actual" -> actual), maxMessage(actual, expected, f))
      case ColumnSumCheck(c, mn, mx, inclusive, label) =>
        val actual = numAt(row, s"${label}_sum")
        val f = failed(label)
        CheckResult(label, f,
          Map("column" -> c, "actual" -> actual) ++ mn.map("min" -> _) ++ mx.map("max" -> _),
          s"$label ${if (f) "failed" else "ok"}: sum($c) = $actual, bounds ($mn, $mx) inclusive=$inclusive")
      case cs: ColStats =>
        val (cnt, mean, mn, mx) = firstPass(cs.label)
        val ssq = numAt(row, s"${cs.label}_ssq")
        val stdDev = if (cnt > 1) math.sqrt(ssq / (cnt - 1)) else 0.0 // sample, n-1 (SecondPassStatsAggregator.scala:93)
        val hist = (0 until NumBins).map(i => row.getLong(row.fieldIndex(s"${cs.label}_b$i")))
        CheckResult(cs.label, failed = false, // colstats never fails (ColStats.scala:83)
          Map("column" -> cs.column,
              "stats" -> ColumnStats(cnt, mean, mn, mx, stdDev, hist)),
          s"colstats(${cs.column}): count=$cnt mean=$mean min=$mn max=$mx stdDev=$stdDev")
    }

    // ---- error-detail pass (conditional, early-terminating)
    val failedRowChecks = rowChecks.filter(rc => results.exists(r => r.label == rc.label && r.failed))
    val details: Seq[Row] =
      if (!detailedErrors || failedRowChecks.isEmpty) Nil
      else timed("errorDetails") {
        val keys = table.keys(df.schema, numKeyCols)
        errorDetailsDF(df, keys, failedRowChecks, numErrorsToReport).collect().toSeq
      }

    TableResult(table.name, rowCount, results, details, timings.toMap)
  }

  /** Pass 5, one per uniqueCheck: the [[uniqueDF]] plan, its own scan +
    * shuffle. Its share of the table's result is its verdict and its timer. */
  private def uniquePass(table: String, df: DataFrame, u: UniqueCheck): TableResult = {
    val t0 = System.nanoTime()
    val row = uniqueDF(df, u.columns, u.label).head()
    val dupKeys = row.getLong(row.fieldIndex(s"${u.label}_dup_keys"))
    TableResult(table, 0L,
      Seq(CheckResult(u.label, row.getBoolean(row.fieldIndex(s"${u.label}_failed")),
        Map("columns" -> u.columns, "duplicatedKeys" -> dupKeys),
        s"uniqueCheck(${u.columns.mkString(",")}): $dupKeys duplicated key combinations")),
      Nil, Map(s"unique_${u.label}" -> (System.nanoTime() - t0)))
  }

  /** ColStats pass 1: count/mean/min/max of every colstats column, ONE job
    * (ValidatorTable.scala:76-89). An empty table or all-NULL column
    * aggregates avg/min/max to NULL; it reports (0, 0.0, 0.0, 0.0). */
  private def firstPassStats(df: DataFrame,
      colStats: Seq[ColStats]): Map[String, (Long, Double, Double, Double)] = {
    val cols = colStats.flatMap { cs =>
      val c = col(cs.column).cast(DoubleType)
      Seq(count(c).as(s"${cs.label}_cnt"), avg(c).as(s"${cs.label}_mean"),
          min(c).as(s"${cs.label}_min"), max(c).as(s"${cs.label}_max"))
    }
    val row = df.agg(cols.head, cols.tail: _*).head()
    colStats.zipWithIndex.map { case (cs, i) =>
      if (row.getLong(4 * i) == 0L || row.isNullAt(4 * i + 1))
        cs.label -> (0L, 0.0, 0.0, 0.0)
      else
        cs.label -> (row.getLong(4 * i), row.getDouble(4 * i + 1),
                     row.getDouble(4 * i + 2), row.getDouble(4 * i + 3))
    }.toMap
  }

  /** ColStats pass-2 aggregate columns riding the fused pass: sum of squared
    * deviations + 10 equi-width bin counts, bin = min(9, floor((x-min)/binSize))
    * (SecondPassStatsAggregator.scala:62-69). Pure built-ins → codegen'd.
    *
    * The bin expression must stay NULL for NULL inputs: Spark's `least`
    * SKIPS nulls (least(9, NULL) = 9), so without the isNotNull guard
    * every NULL row lands in the top bin — and the binSize=0 literal arm
    * would count NULL rows into bin 0. Caught by CheckFuzzSpec's
    * differential recomputation (seed 0) on a nullable column; the
    * chk_colstats oracle column happens to be null-free. The bins are
    * `count`s, so an empty table reports 0 in each, as the run does. */
  def secondPassCols(cs: ColStats, fp: (Long, Double, Double, Double)): Seq[Column] = {
    val (_, mean, mn, mx) = fp
    val c = col(cs.column).cast(DoubleType)
    val binSize = (mx - mn) / NumBins
    val bin: Column =
      if (binSize == 0.0) when(c.isNotNull, lit(0L))
      else when(c.isNotNull,
        least(lit(NumBins - 1L), floor((c - lit(mn)) / lit(binSize))))
    sum(pow(c - lit(mean), 2.0)).as(s"${cs.label}_ssq") +:
      (0 until NumBins).map(i =>
        count(when(bin === lit(i.toLong), true)).as(s"${cs.label}_b$i"))
  }

  /** Fully-declarative one-row verdict DataFrame: the fused aggregate pass
    * PLUS the verdict booleans computed inside the plan
    * ([[CheckCompiler.verdict]]) — zero driver-side data movement, ideal
    * shape for the 100 TB case. [[run]]'s quick pass executes this plan. */
  def verdictDF(df: DataFrame, checks: Seq[CheckSpec]): DataFrame = verdictPlan(df, checks, Nil)

  /** [[verdictDF]] with `extraAggs` in the same aggregate: the quick pass
    * adds the colstats pass-2 columns. Row-check verdicts come first. */
  private def verdictPlan(df: DataFrame, checks: Seq[CheckSpec], extraAggs: Seq[Column]): DataFrame = {
    val aggCols = count(lit(1L)).as("row_cnt") +: (checks.flatMap(CheckCompiler.fusedAggColumn) ++ extraAggs)
    val (rowChecks, others) = checks.partition(_.isInstanceOf[RowCheckSpec])
    val verdicts = (rowChecks ++ others).flatMap(CheckCompiler.verdict(_, col("row_cnt")))
    df.agg(aggCols.head, aggCols.tail: _*).select(col("*") +: verdicts: _*)
  }

  /** Error-detail pass (ValidatorTable.scala:154-187): keys + offending
    * columns for rows violating any failed check, capped at `n`.
    * `filter(or).limit(n)` early-terminates via CollectLimit — at 100 TB
    * only the first n matches are materialized. `deterministic` adds an
    * orderBy(keys) (a top-k TakeOrderedAndProject) for oracle-comparable
    * output; the reference's take(n) is arbitrary. */
  def errorDetailsDF(df: DataFrame, keys: Seq[String], failed: Seq[RowCheckSpec],
      n: Int, deterministic: Boolean = false): DataFrame = {
    val cols = (keys ++ failed.map(_.column)).distinct.map(col)
    val pred = failed.map(CheckCompiler.violation).reduce(_ || _)
    val base = df.select(cols: _*).where(pred)
    val ordered = if (deterministic) base.orderBy(keys.map(col): _*) else base
    ordered.limit(n)
  }

  /** uniqueCheck as a single declarative plan: #duplicated key combinations
    * + verdict. groupBy(keys) is ONE shuffle; the count-of-groups aggregate
    * is a trivial second stage over group counts. */
  def uniqueDF(df: DataFrame, columns: Seq[String], label: String = "unique"): DataFrame =
    df.select(columns.map(col): _*)
      .groupBy(columns.map(col): _*).count()
      .where(col("count") > 1)
      .agg(count(lit(1L)).as(s"${label}_dup_keys"))
      .select(col(s"${label}_dup_keys"),
        (col(s"${label}_dup_keys") > 0L).as(s"${label}_failed"))

  /** ColStats as an oracle-comparable one-row DataFrame. Runs pass 1
    * eagerly (count/avg/min/max — one job), then returns the pass-2 plan
    * with stats + histogram; doubles rounded to 6 dp so an independent
    * engine summing in a different order hashes identically. */
  def colStatsDF(df: DataFrame, column: String): DataFrame = {
    val cs = ColStats(column, "cs")
    val fp = firstPassStats(df, Seq(cs))(cs.label)
    val (cnt, mean, mn, mx) = fp
    val aggCols = secondPassCols(cs, fp)
    df.agg(aggCols.head, aggCols.tail: _*).select(
      (lit(cnt).as("cnt") +:
       round(lit(mean), 6).as("mean") +:
       lit(mn).as("mn") +:
       lit(mx).as("mx") +:
       round(sqrt(col("cs_ssq") / lit(math.max(cnt - 1L, 1L))), 6).as("stddev") +:
       (0 until NumBins).map(i => col(s"cs_b$i").as(s"b$i"))): _*)
  }

  private def longAt(row: Row, name: String): Long = {
    val i = row.fieldIndex(name)
    if (row.isNullAt(i)) 0L else row.getLong(i)
  }
  private def numAt(row: Row, name: String): Double = {
    val i = row.fieldIndex(name)
    if (row.isNullAt(i)) 0.0
    else row.get(i) match {
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalStateException(s"non-numeric aggregate $name: $other")
    }
  }

  /** columnMaxCheck's message (ColumnBased.scala:99-157): the relative
    * error for a numeric expectation, both values otherwise. */
  private def maxMessage(actual: Any, expected: Bound, failed: Boolean): String =
    (actual, expected) match {
      case (null, _) => "columnMaxCheck: max is NULL (empty input?)"
      case (a: java.lang.Number, Bound.Num(e)) =>
        val av = a.doubleValue()
        val relPct = if (e != 0.0) (av - e) / e * 100.0 else Double.NaN
        if (failed) f"columnMaxCheck failed: max $av != expected $e (${relPct}%.2f%% off)"
        else s"columnMaxCheck ok: max = $av"
      case (a, e) =>
        val ev = e match { case Bound.Num(v) => v; case Bound.Str(v) => v; case Bound.Ref(c) => c }
        s"columnMaxCheck ${if (failed) "failed" else "ok"}: max '$a' vs expected '$ev'"
    }
}
