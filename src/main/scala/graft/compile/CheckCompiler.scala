package graft.compile

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles [[graft.model.CheckSpec]]s to Spark `Column`s.
  *
  * Everything here is the PUBLIC Column/functions DSL — no Catalyst
  * internals (unlike the reference, which hand-builds `Expression` trees,
  * e.g. validator/NullCheck.scala:20, RangeCheck.scala:46-59). Declarative
  * Columns keep whole-stage codegen, predicate pushdown and column pruning
  * intact, which is what lets the fused pass scan 100 TB once.
  */
object CheckCompiler {

  /** Violation predicate for a row-based check: true for a row that is in
    * error. NULL results are possible (e.g. `col < 0` on NULL) and are NOT
    * counted by the aggregate bridge, matching the reference. */
  def violation(check: RowCheckSpec): Column = check match {
    case NullCheck(c, _, _) => col(c).isNull

    case NegativeCheck(c, _, _) => col(c) < lit(0)

    case RangeCheck(c, mn, mx, inclusive, _, _) =>
      // Inverted mapping per RangeCheck.scala:46-50: inclusive=true → strict.
      def lo(b: Bound) = if (inclusive) col(c) < bound(b) else col(c) <= bound(b)
      def hi(b: Bound) = if (inclusive) col(c) > bound(b) else col(c) >= bound(b)
      (mn.map(lo), mx.map(hi)) match {
        case (Some(l), Some(h)) => l || h
        case (Some(l), None)    => l
        case (None, Some(h))    => h
        case _ => throw new IllegalArgumentException("rangeCheck needs a bound")
      }

    case StringLengthCheck(c, mn, mx, _, _) =>
      // Inclusive bounds are LEGAL here (StringLengthCheck.scala:41-56).
      val len = length(col(c))
      (mn.map(len < lit(_)), mx.map(len > lit(_))) match {
        case (Some(l), Some(h)) => l || h
        case (Some(l), None)    => l
        case (None, Some(h))    => h
        case _ => throw new IllegalArgumentException("stringLengthCheck needs a bound")
      }

    case StringRegexCheck(c, re, _, _) =>
      // Null-guard per StringRegexCheck.scala:30-47.
      !col(c).rlike(re) && col(c).isNotNull
  }

  /** RowBased→aggregate bridge (RowBased.scala:50): the violation count as
    * one column of the fused aggregate pass. */
  def errorCount(check: RowCheckSpec): Column =
    sum(when(violation(check), 1L).otherwise(0L)).as(s"${check.label}_errs")

  private def bound(b: Bound): Column = b match {
    case Bound.Num(v)   => lit(v)
    case Bound.Str(s)   => lit(s)
    case Bound.Ref(c)   => col(c)
  }

  /** The aggregate column a check contributes to the fused quick pass
    * (ValidatorTable.scala:91-98 `cheapExpression`). UniqueCheck/ColStats
    * run their own passes and contribute nothing here. */
  def fusedAggColumn(check: CheckSpec): Seq[Column] = check match {
    case rc: RowCheckSpec       => Seq(errorCount(rc))
    case ColumnMaxCheck(c, _, l) => Seq(max(col(c)).as(s"${l}_max"))
    case ColumnSumCheck(c, _, _, _, l) => Seq(sum(col(c)).as(s"${l}_sum"))
    case _: MinNumRows | _: UniqueCheck | _: ColStats => Nil
  }

  /** Declarative verdict for a row-based check, evaluated INSIDE the plan on
    * the aggregated row (no driver round-trip): errorCount > errorLimit.
    * The limit expression mirrors Threshold.errorLimit TERM FOR TERM —
    * same FP association (value * (rowCount / 100.0)) and the same
    * truncation (`cast(long)` truncates toward zero for non-negative
    * values, matching `.toLong`) — so the verdict agrees, at an exact FP
    * boundary too, with the `errorLimit` the report prints beside it. */
  def failedExpr(check: RowCheckSpec, rowCount: Column): Column = {
    val t = check.thresholdOrZero
    val limit =
      if (t.isPercent)
        (lit(t.value) * (rowCount.cast(DoubleType) / lit(100.0))).cast(LongType)
      else if (t.value < 1.0)
        (lit(t.value) * rowCount.cast(DoubleType)).cast(LongType)
      else lit(t.value.toLong)
    (col(s"${check.label}_errs") > limit).as(s"${check.label}_failed")
  }

  /** A check's verdict column `<label>_failed`, evaluated INSIDE the plan
    * on the fused pass's aggregated row ([[fusedAggColumn]]'s columns plus
    * `rowCount`). This is the only verdict implementation: the CLI run,
    * the registry and the streaming monitor all execute it.
    *
    * Empty-input verdicts are definite booleans, not NULL (aggregates over
    * zero rows yield NULL, and a NULL comparison would leak through as a
    * non-verdict): row checks pass on an empty table (the reference only
    * evaluates them when count > 0, RowBased.scala:80-82); colmax fails
    * (no max to equal the expectation); colsum compares a NULL sum as 0.
    * A string expectation on a temporal column compares as that date or
    * timestamp (Catalyst's string→temporal coercion). UniqueCheck runs its
    * own pass and ColStats never fails, so neither has a verdict here. */
  def verdict(check: CheckSpec, rowCount: Column): Option[Column] = (check match {
    case rc: RowCheckSpec => Some(coalesce(failedExpr(rc, rowCount), lit(false)))
    case MinNumRows(minRows, _) => Some(rowCount < lit(minRows))
    case ColumnMaxCheck(_, expected, l) =>
      val actual = col(s"${l}_max")
      Some(coalesce(expected match {
        case Bound.Num(v) => actual.cast(DoubleType) =!= lit(v)
        case Bound.Str(s) => actual =!= lit(s)
        case Bound.Ref(c) => throw new IllegalArgumentException(s"columnMaxCheck expected cannot be a column ref: $c")
      }, lit(true)))
    case ColumnSumCheck(_, mn, mx, inclusive, l) =>
      val s = coalesce(col(s"${l}_sum").cast(DoubleType), lit(0.0))
      val lo = mn.map(m => if (inclusive) s < lit(m) else s <= lit(m))
      val hi = mx.map(m => if (inclusive) s > lit(m) else s >= lit(m))
      Some((lo ++ hi).reduce(_ || _))
    case _: UniqueCheck | _: ColStats => None
  }).map(_.as(s"${check.label}_failed"))

  /** Config-time (metadata-only) validation of a check against a schema —
    * mirrors the reference's configCheck (ValidatorTable.scala:50-74,
    * ValidatorBase.scala:53-79). Returns error messages; empty = ok. */
  def configCheck(check: CheckSpec, schema: StructType): Seq[String] = {
    def field(c: String): Either[String, StructField] =
      schema.fields.find(_.name == c).toRight(s"column '$c' not found")
    def isNumeric(dt: DataType) = dt.isInstanceOf[NumericType]
    // EXTENSION over the reference (SURVEY §1.2): temporal columns accept
    // string bounds (ISO literals), via Catalyst's string→temporal coercion
    def isTemporal(dt: DataType) =
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    // a string bound on a temporal column must parse the way the scan's
    // string→date/timestamp cast parses it, or the run throws
    // CAST_INVALID_INPUT partway through the scan
    def unparseable(s: String, dt: DataType): Boolean = {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      dt match {
        case DateType => DateTimeUtils.stringToDate(u).isEmpty
        case TimestampType => DateTimeUtils.stringToTimestamp(u, java.time.ZoneOffset.UTC).isEmpty
        case TimestampNTZType => DateTimeUtils.stringToTimestampWithoutTimeZone(u).isEmpty
        case _ => false
      }
    }

    check match {
      case NullCheck(c, t, _) => field(c).swap.toSeq ++ badThreshold(t)
      case NegativeCheck(c, t, _) =>
        field(c) match {
          case Left(e) => Seq(e) ++ badThreshold(t)
          case Right(f) if !isNumeric(f.dataType) =>
            Seq(s"negativeCheck on non-numeric column '$c' (${f.dataType.simpleString})") ++ badThreshold(t)
          case _ => badThreshold(t)
        }
      case RangeCheck(c, mn, mx, _, t, _) =>
        val refErrs = (mn.toSeq ++ mx.toSeq).collect {
          case Bound.Ref(rc) if schema.fields.forall(_.name != rc) =>
            s"range bound column '$rc' not found"
        }
        // bound/column type compatibility (reference areTypesCompatible,
        // ValidatorBase.scala:229-256) — under ANSI mode an incompatible
        // comparison would otherwise throw mid-scan instead of at config
        // time
        val typeErrs = field(c).toSeq.flatMap { f =>
          (mn.toSeq ++ mx.toSeq).collect {
            case Bound.Num(_) if !isNumeric(f.dataType) =>
              s"numeric range bound on non-numeric column '$c' (${f.dataType.simpleString})"
            case Bound.Str(_) if f.dataType != StringType && !isTemporal(f.dataType) =>
              s"string range bound on non-string/temporal column '$c' (${f.dataType.simpleString})"
            case Bound.Str(s) if unparseable(s, f.dataType) =>
              s"range bound '$s' is not a valid ${f.dataType.simpleString} for column '$c'"
            case Bound.Ref(rc) if schema.fields.exists(rf => rf.name == rc &&
                isNumeric(rf.dataType) != isNumeric(f.dataType)) =>
              s"range bound column '$rc' type incompatible with '$c'"
          }
        }
        field(c).swap.toSeq ++ refErrs ++ typeErrs ++ badThreshold(t)
      case StringLengthCheck(c, _, _, t, _) =>
        field(c) match {
          case Left(e) => Seq(e) ++ badThreshold(t)
          case Right(f) if f.dataType != StringType =>
            Seq(s"stringLengthCheck on non-string column '$c'") ++ badThreshold(t)
          case _ => badThreshold(t)
        }
      case StringRegexCheck(c, re, t, _) =>
        val reErr = try { java.util.regex.Pattern.compile(re); Nil }
          catch { case e: Exception => Seq(s"bad regex '$re': ${e.getMessage}") }
        val typeErr = field(c).toSeq.collect {
          case f if f.dataType != StringType =>
            s"stringRegexCheck on non-string column '$c' (${f.dataType.simpleString})"
        }
        field(c).swap.toSeq ++ reErr ++ typeErr ++ badThreshold(t)
      case _: MinNumRows => Nil
      case ColumnMaxCheck(c, Bound.Ref(_), _) =>
        field(c).swap.toSeq :+ "columnMaxCheck value cannot be a column reference"
      case ColumnMaxCheck(c, expected, _) =>
        val typeErr = field(c).toSeq.flatMap { f =>
          expected match {
            case Bound.Num(_) if !isNumeric(f.dataType) =>
              Seq(s"numeric columnMaxCheck on non-numeric column '$c' (${f.dataType.simpleString})")
            case Bound.Str(_) if f.dataType != StringType && !isTemporal(f.dataType) =>
              Seq(s"string columnMaxCheck on non-string/temporal column '$c' (${f.dataType.simpleString})")
            case Bound.Str(s) if unparseable(s, f.dataType) =>
              Seq(s"columnMaxCheck value '$s' is not a valid ${f.dataType.simpleString} for column '$c'")
            case _ => Nil
          }
        }
        field(c).swap.toSeq ++ typeErr
      case ColumnSumCheck(c, _, _, _, _) =>
        field(c) match {
          case Left(e) => Seq(e)
          case Right(f) if !isNumeric(f.dataType) =>
            Seq(s"columnSumCheck on non-numeric column '$c'")
          case _ => Nil
        }
      case UniqueCheck(cols, _) => cols.flatMap(c => field(c).swap.toSeq)
      case ColStats(c, _) =>
        field(c) match {
          case Left(e) => Seq(e)
          case Right(f) if !isNumeric(f.dataType) =>
            Seq(s"colstats on non-numeric column '$c'")
          case _ => Nil
        }
    }
  }

  private def badThreshold(t: Option[String]): Seq[String] =
    t.filterNot(Threshold.isValid).map(v => s"invalid threshold: '$v'").toSeq
}
