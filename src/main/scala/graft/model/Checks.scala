package graft.model

/** Check-spec ADT — the typed surface of the validation engine.
  *
  * Semantics mirror the reference engine (target/data-validator); citations
  * are into /root/reference/src/main/scala/com/target/data_validator/.
  * The specs here are PURE DATA: compilation to Spark `Column`s lives in
  * [[graft.compile.CheckCompiler]], execution in [[graft.exec.Runner]].
  */

/** A bound of a range-style check: numeric literal, string literal, or a
  * reference to another column of the same table (the reference encodes
  * column refs as backtick-prefixed strings — validator/ValidatorBase.scala:207-214,
  * validator/RangeCheck.scala:46-59). */
sealed trait Bound
object Bound {
  final case class Num(value: Double) extends Bound
  final case class Str(value: String) extends Bound
  final case class Ref(column: String) extends Bound

  /** Reference-style parse: "`col" → Ref, numeric string → Num, else Str. */
  def parse(raw: String): Bound =
    if (raw.startsWith("`")) Ref(raw.stripPrefix("`"))
    else raw.toDoubleOption.map(Num.apply).getOrElse(Str(raw))
}

/** Error-count threshold grammar shared by the row-based checks
  * (validator/RowBased.scala:59-77, 115; README.md:315-321):
  *   - value >= 1            → absolute error count
  *   - value in [0, 1)       → fraction of rowCount
  *   - suffix '%'            → percent of rowCount
  * Failure iff errorCount > errorLimit(rowCount) (RowBased.scala:91).
  * Fraction/percent limits truncate toward zero (`.toLong`,
  * RowBased.scala:62-71).
  */
final case class Threshold(raw: String) {
  private val trimmed = raw.trim
  require(Threshold.isValid(raw), s"invalid threshold: '$raw'")
  val isPercent: Boolean = trimmed.endsWith("%")
  val value: Double = trimmed.stripSuffix("%").trim.toDouble

  // FP evaluation order mirrors the reference exactly
  // (RowBased.scala:64-66: value * (rowCount / 100.0)) — the other
  // association can differ by 1 after truncation at exact-boundary cases.
  // CheckCompiler.failedExpr mirrors this expression term for term; keep
  // the two in lockstep.
  def errorLimit(rowCount: Long): Long =
    if (isPercent) (value * (rowCount / 100.0)).toLong
    else if (value < 1.0) (value * rowCount).toLong
    else value.toLong
}
object Threshold {
  // Reference regex: ^([0-9]+\.*[0-9]*)\s*%{0,1}$ (RowBased.scala:115);
  // tightened to a single decimal point so toDouble cannot throw.
  private val Pattern = "^[0-9]+(\\.[0-9]*)?\\s*%?$".r
  def isValid(raw: String): Boolean = Pattern.matches(raw.trim)
}

sealed trait CheckSpec {
  /** Short label used to name output columns / report entries. */
  def label: String
}

/** Per-row predicate checks: compiled to a violation predicate and bridged
  * into the fused aggregate pass as sum(when(pred, 1L).otherwise(0L))
  * (RowBased.scala:50, ValidatorTable.scala:97). NULL predicate results are
  * not counted (the `otherwise(0)` branch), matching the reference. */
sealed trait RowCheckSpec extends CheckSpec {
  def column: String
  def threshold: Option[String]
  def thresholdOrZero: Threshold = Threshold(threshold.getOrElse("0"))
}

/** Fails when #null rows > threshold (validator/NullCheck.scala:12-28). */
final case class NullCheck(column: String, threshold: Option[String] = None,
    label: String = "nullcheck") extends RowCheckSpec

/** Fails when #rows with col < 0 > threshold; numeric columns only; NULLs
  * are not counted (validator/NegativeCheck.scala:14-58). */
final case class NegativeCheck(column: String, threshold: Option[String] = None,
    label: String = "negcheck") extends RowCheckSpec

/** Fails when #rows outside (min,max) > threshold. NOTE the reference's
  * inverted `inclusive` mapping (RangeCheck.scala:46-50): inclusive=true
  * uses STRICT comparisons (bounds themselves are legal); default uses
  * <=/>= (bounds are violations). */
final case class RangeCheck(column: String, minValue: Option[Bound],
    maxValue: Option[Bound], inclusive: Boolean = false,
    threshold: Option[String] = None, label: String = "rangecheck")
    extends RowCheckSpec {
  require(minValue.nonEmpty || maxValue.nonEmpty, "rangeCheck needs a bound")
}

/** Fails when #rows with length(col) outside [min,max] (inclusive bounds)
  * > threshold; string columns only (validator/StringLengthCheck.scala:14-129). */
final case class StringLengthCheck(column: String, minLength: Option[Int],
    maxLength: Option[Int], threshold: Option[String] = None,
    label: String = "strlen") extends RowCheckSpec {
  require(minLength.nonEmpty || maxLength.nonEmpty, "stringLengthCheck needs a bound")
}

/** Fails when #non-null rows NOT matching regex > threshold. The explicit
  * null-guard mirrors StringRegexCheck.scala:30-47 (RLike(null)=null would
  * otherwise leak nulls into the count). Java regex semantics. */
final case class StringRegexCheck(column: String, regex: String,
    threshold: Option[String] = None, label: String = "regex")
    extends RowCheckSpec

/** Fails when rowCount < min (ColumnBased.scala:36-86). Rides the fused
  * pass's count(1). Emits relative-error percent. */
final case class MinNumRows(min: Long, label: String = "rowcount") extends CheckSpec

/** Fails when max(column) != expected, exact equality; numeric or string
  * (ColumnBased.scala:88-166). */
final case class ColumnMaxCheck(column: String, expected: Bound,
    label: String = "colmax") extends CheckSpec

/** Fails when sum(column) is outside (min,max). `inclusive` makes the
  * bounds themselves allowed (ColumnSumCheck.scala:14-177) — i.e. default
  * fails on sum <= min or sum >= max; inclusive fails only strictly outside. */
final case class ColumnSumCheck(column: String, minValue: Option[Double] = None,
    maxValue: Option[Double] = None, inclusive: Boolean = false,
    label: String = "colsum") extends CheckSpec {
  require(minValue.nonEmpty || maxValue.nonEmpty, "columnSumCheck needs a bound")
}

/** Costly check — own pass + shuffle. Counts DUPLICATED KEY COMBINATIONS
  * (not duplicated rows): #groups with count > 1 (UniqueCheck.scala:34-49). */
final case class UniqueCheck(columns: Seq[String], label: String = "unique")
    extends CheckSpec {
  require(columns.nonEmpty, "uniqueCheck needs columns")
}

/** Never fails; emits count/mean/min/max/stdDev (sample, n-1) and a 10-bin
  * equi-width histogram (ColStats.scala:24-118,
  * stats/SecondPassStatsAggregator.scala:9-98). Two passes: pass 1 computes
  * count/mean/min/max; pass 2 (parameterized by pass 1) the rest. */
final case class ColStats(column: String, label: String = "colstats")
    extends CheckSpec

/** A table under validation: lazy source + optional SQL condition (pushed
  * into the scan), key columns for error reporting, and its checks
  * (ValidatorTable.scala:12-31). */
final case class TableSpec(
    name: String,
    load: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame,
    condition: Option[String] = None,
    keyColumns: Option[Seq[String]] = None,
    checks: Seq[CheckSpec] = Nil) {

  def open(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val df = load(spark)
    condition.fold(df)(df.where)
  }

  /** This table with its source already opened as `df` (the result of
    * [[open]], condition applied): opening it again costs no job, which
    * for a file source saves a schema-inference job. */
  def opened(df: org.apache.spark.sql.DataFrame): TableSpec =
    copy(load = _ => df, condition = None)

  /** First numKeyCols columns unless keyColumns given (ValidatorTable.scala:24-31). */
  def keys(schema: org.apache.spark.sql.types.StructType, numKeyCols: Int): Seq[String] =
    keyColumns.getOrElse(schema.fieldNames.take(numKeyCols).toSeq)
}
