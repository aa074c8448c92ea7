package graft

import graft.exec.{ColumnStats, Runner}
import graft.model._
import org.apache.spark.sql.functions.col

/** Engine semantics mirrored from the reference's specs
  * (validator/RowBasedSpec.scala, RangeCheckSpec, StringRegexCheckSpec,
  * UniqueCheckSpec, stats/NumericData.scala): null handling, inclusive-flag
  * inversion, duplicated-keys-not-rows, and the exact stats goldens. */
class CheckEngineSpec extends SparkSuite {
  import spark.implicits._

  private def table(checks: CheckSpec*)(rows: (String, String, Int)*): TableSpec =
    TableSpec("t", s => {
      import s.implicits._
      rows.toSeq.toDF("key", "key2", "data")
    }, checks = checks.toSeq)

  private def run(t: TableSpec) = Runner.run(spark, t)

  test("negativeCheck fails on negative value and reports error details with keys") {
    val t = table(NegativeCheck("data"))(("one", "negative", -1), ("two", "zero", 0), ("three", "pos", 1))
    val r = run(t)
    assert(r.rowCount == 3)
    assert(r.results.head.failed)
    assert(r.results.head.metrics("errorCount") == 1L)
    assert(r.errorDetails.size == 1)
    assert(r.errorDetails.head.getString(0) == "one")
  }

  test("negativeCheck does NOT count nulls (NULL predicate -> not an error)") {
    val df = Seq[(String, Option[Int])](("a", Some(-5)), ("b", None), ("c", Some(3)))
      .toDF("key", "data")
    val t = TableSpec("t", _ => df, checks = Seq(NegativeCheck("data")))
    assert(run(t).results.head.metrics("errorCount") == 1L)
  }

  test("nullCheck counts nulls; threshold as absolute / fraction / percent") {
    val df = Seq[(String, Option[Int])](("a", None), ("b", None), ("c", Some(3)), ("d", Some(4)))
      .toDF("key", "data")
    def res(th: Option[String]) =
      Runner.run(spark, TableSpec("t", _ => df, checks = Seq(NullCheck("data", th))))
        .results.head
    assert(res(None).failed) // 2 > 0
    assert(!res(Some("2")).failed) // 2 > 2 is false
    assert(res(Some("1")).failed)
    assert(!res(Some("0.5")).failed) // limit = (4*0.5).toLong = 2
    assert(res(Some("0.25")).failed) // limit = 1
    assert(!res(Some("50%")).failed) // limit = 2
    assert(res(Some("25 %")).failed) // limit = 1
  }

  test("threshold grammar accept/reject matrix (RowBased.scala:115)") {
    for (good <- Seq("0", "1", "10", "0.25", "25%", "25 %", "1000", "2.", "0.5%"))
      assert(Threshold.isValid(good), s"should accept '$good'")
    for (bad <- Seq("-1", "1e3", "abc", "%", "25%%", "1.2.3", ".5"))
      assert(!Threshold.isValid(bad), s"should reject '$bad'")
  }

  test("rangeCheck inverted inclusive mapping: default counts bounds as violations") {
    val df = Seq(("a", 0), ("b", 5), ("c", 10), ("d", 3)).toDF("key", "data")
    def errs(inclusive: Boolean) =
      Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
        RangeCheck("data", Some(Bound.Num(0)), Some(Bound.Num(10)), inclusive))))
        .results.head.metrics("errorCount")
    assert(errs(inclusive = false) == 2L) // 0 and 10 violate <=/>=
    assert(errs(inclusive = true) == 0L)  // strict: bounds legal
  }

  test("rangeCheck with column-ref bound") {
    val df = Seq(("a", 5, 10), ("b", 11, 10), ("c", 2, 3)).toDF("key", "data", "cap")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
      RangeCheck("data", None, Some(Bound.Ref("cap")), inclusive = true))))
    assert(r.results.head.metrics("errorCount") == 1L) // only 11 > 10
  }

  test("stringLengthCheck: inclusive bounds are legal") {
    val df = Seq(("a", "x"), ("b", "xx"), ("c", "xxxx"), ("d", "xxxxxx")).toDF("key", "data")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
      StringLengthCheck("data", Some(2), Some(4)))))
    assert(r.results.head.metrics("errorCount") == 2L) // "x" and "xxxxxx"
  }

  test("stringRegexCheck: nulls are not errors (explicit null-guard)") {
    val df = Seq[(String, Option[String])](("a", Some("abc")), ("b", Some("123")), ("c", None))
      .toDF("key", "data")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
      StringRegexCheck("data", "^[a-z]+$"))))
    assert(r.results.head.metrics("errorCount") == 1L) // only "123"
  }

  test("minNumRows + relative error pct") {
    val t = table(MinNumRows(4))(("a", "b", 1), ("c", "d", 2))
    val r = run(t)
    assert(r.results.head.failed)
    assert(r.results.head.metrics("relativeErrorPct") == 50.0)
  }

  test("columnMaxCheck numeric and string") {
    val df = Seq(("a", 3, "apple"), ("b", 7, "pear")).toDF("key", "num", "str")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
      ColumnMaxCheck("num", Bound.Num(7), "m1"),
      ColumnMaxCheck("num", Bound.Num(8), "m2"),
      ColumnMaxCheck("str", Bound.Str("pear"), "m3"))))
    assert(!r.results(0).failed)
    assert(r.results(1).failed)
    assert(!r.results(2).failed)
  }

  test("columnSumCheck bounds: default excludes bounds, inclusive allows them") {
    val df = Seq(("a", 4), ("b", 6)).toDF("key", "data") // sum = 10
    def failed(inclusive: Boolean, mn: Double, mx: Double) =
      Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
        ColumnSumCheck("data", Some(mn), Some(mx), inclusive))))
        .results.head.failed
    assert(failed(inclusive = false, 10, 20))  // sum <= 10 -> fail
    assert(!failed(inclusive = true, 10, 20))  // 10 allowed
    assert(!failed(inclusive = false, 9, 11))
    assert(failed(inclusive = true, 11, 20))   // 10 < 11
  }

  test("uniqueCheck counts duplicated key combinations, not duplicated rows") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 1), ("c", 1)).toDF("key", "data")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(UniqueCheck(Seq("key")))))
    assert(r.results.head.failed)
    assert(r.results.head.metrics("duplicatedKeys") == 1L) // only "a", counted once
  }

  test("colstats matches the reference's NumericData goldens (0..9)") {
    val df = (0 to 9).map(i => ("k", i.toDouble)).toDF("key", "value1")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(ColStats("value1"))))
    val stats = r.results.head.metrics("stats").asInstanceOf[ColumnStats]
    assert(stats.count == 10)
    assert(stats.mean == 4.5)
    assert(stats.min == 0.0)
    assert(stats.max == 9.0)
    assert(stats.stdDev == 3.0276503540974917) // sample stddev, n-1
    assert(stats.histogram == Seq.fill(10)(1L)) // 10 uniform bins of width 0.9
    assert(!r.results.head.failed) // colstats never fails
  }

  test("table condition is applied at open (pushed into the scan)") {
    val df = Seq(("a", -1), ("b", -2), ("c", 5)).toDF("key", "data")
    val r = Runner.run(spark, TableSpec("t", _ => df,
      condition = Some("data > 0"), checks = Seq(NegativeCheck("data"))))
    assert(r.rowCount == 1)
    assert(r.results.head.metrics("errorCount") == 0L)
  }

  test("fused pass: many cheap checks -> single aggregate row, all verdicts correct") {
    val df = Seq[(String, Option[Int], String)](
      ("a", Some(-1), "abc"), ("b", None, "de"), ("c", Some(100), "fgh"))
      .toDF("key", "num", "str")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
      MinNumRows(3),
      NullCheck("num", None, "null_num"),
      NegativeCheck("num", Some("1"), "neg_num"),
      StringLengthCheck("str", Some(3), None, None, "len_str"),
      ColumnMaxCheck("num", Bound.Num(100), "max_num"),
      ColumnSumCheck("num", Some(0), None, inclusive = false, "sum_num"))))
    val byLabel = r.results.map(c => c.label -> c).toMap
    assert(!byLabel("rowcount").failed)
    assert(byLabel("null_num").failed)
    assert(!byLabel("neg_num").failed) // 1 error <= limit 1
    assert(byLabel("len_str").failed)  // "de"
    assert(!byLabel("max_num").failed)
    assert(!byLabel("sum_num").failed) // 99 > 0
  }

  test("configCheck catches missing columns, bad types, bad thresholds, bad regex") {
    val df = Seq(("a", 1, "s")).toDF("key", "num", "str")
    val schema = df.schema
    import graft.compile.CheckCompiler.configCheck
    assert(configCheck(NullCheck("nope"), schema).nonEmpty)
    assert(configCheck(NegativeCheck("str"), schema).nonEmpty)
    assert(configCheck(StringLengthCheck("num", Some(1), None), schema).nonEmpty)
    assert(configCheck(StringRegexCheck("str", "[unclosed"), schema).nonEmpty)
    assert(configCheck(NullCheck("num", Some("nope%")), schema).nonEmpty)
    assert(configCheck(RangeCheck("num", Some(Bound.Ref("missing")), None), schema).nonEmpty)
    assert(configCheck(ColStats("str"), schema).nonEmpty)
    assert(configCheck(NullCheck("num", Some("25%")), schema).isEmpty)
  }

  test("configCheck rejects type-incompatible bounds before any scan (ANSI safety)") {
    val schema = Seq(("a", 1, "s")).toDF("key", "num", "str").schema
    import graft.compile.CheckCompiler.configCheck
    // numeric bound on string column / string bound on numeric column
    assert(configCheck(RangeCheck("str", Some(Bound.Num(1)), None), schema).nonEmpty)
    assert(configCheck(RangeCheck("num", Some(Bound.Str("x")), None), schema).nonEmpty)
    // ref bound must be type-compatible with the checked column
    assert(configCheck(RangeCheck("num", None, Some(Bound.Ref("str"))), schema).nonEmpty)
    assert(configCheck(RangeCheck("num", None, Some(Bound.Ref("key"))), schema).nonEmpty)
    // regex needs a string column; colmax expected type must match
    assert(configCheck(StringRegexCheck("num", ".*"), schema).nonEmpty)
    assert(configCheck(ColumnMaxCheck("str", Bound.Num(5)), schema).nonEmpty)
    assert(configCheck(ColumnMaxCheck("num", Bound.Str("x")), schema).nonEmpty)
    // compatible combinations stay clean
    assert(configCheck(RangeCheck("num", Some(Bound.Num(0)), Some(Bound.Num(9))), schema).isEmpty)
    assert(configCheck(RangeCheck("str", Some(Bound.Str("a")), None), schema).isEmpty)
    assert(configCheck(ColumnMaxCheck("num", Bound.Num(5)), schema).isEmpty)
    assert(configCheck(ColumnMaxCheck("str", Bound.Str("x")), schema).isEmpty)
  }

  test("rangeCheck extends to timestamp columns with ISO-string bounds") {
    import java.sql.Timestamp
    val df = Seq(
      ("a", Timestamp.valueOf("2024-01-05 00:00:00")),
      ("b", Timestamp.valueOf("2024-01-15 00:00:00")),
      ("c", Timestamp.valueOf("2024-01-25 00:00:00"))).toDF("key", "ts")
    val spec = RangeCheck("ts",
      Some(Bound.Str("2024-01-10 00:00:00")), Some(Bound.Str("2024-01-20 00:00:00")),
      inclusive = false, None, "tsr")
    // superset over the reference: temporal columns are checkable
    assert(graft.compile.CheckCompiler.configCheck(spec, df.schema).isEmpty)
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(spec)))
    assert(r.results.head.metrics("errorCount") == 2L) // a (early) and c (late)
  }

  test("rangeCheck extends to DATE columns and DECIMAL columns") {
    import java.sql.Date
    val dates = Seq(("a", Date.valueOf("2024-01-05")), ("b", Date.valueOf("2024-06-15")))
      .toDF("key", "d")
    val dSpec = RangeCheck("d", Some(Bound.Str("2024-03-01")), None,
      inclusive = false, None, "dr")
    assert(graft.compile.CheckCompiler.configCheck(dSpec, dates.schema).isEmpty)
    val dr = Runner.run(spark, TableSpec("t", _ => dates, checks = Seq(dSpec)))
    assert(dr.results.head.metrics("errorCount") == 1L) // only 2024-01-05 below

    val decimals = Seq(("a", BigDecimal("10.50")), ("b", BigDecimal("-3.25")))
      .toDF("key", "v")
    val r = Runner.run(spark, TableSpec("t", _ => decimals, checks = Seq(
      NegativeCheck("v", None, "neg"),
      ColumnSumCheck("v", Some(0.0), None, inclusive = false, "sum"))))
    assert(r.results.find(_.label == "neg").get.metrics("errorCount") == 1L)
    assert(!r.results.find(_.label == "sum").get.failed) // 7.25 > 0
  }

  test("duplicate check labels are rejected up front (run + configCheck)") {
    val df = Seq[(String, Option[Int], Option[Int])](("a", Some(1), None)).toDF("key", "x", "y")
    val t = TableSpec("t", _ => df, checks = Seq(NullCheck("x"), NullCheck("y")))
    val e = intercept[IllegalArgumentException](Runner.run(spark, t))
    assert(e.getMessage.contains("duplicate check labels"))
    assert(Runner.configCheck(spark, t).exists(_.contains("duplicate check label")))
    // distinct labels on the same check type are fine
    val ok = TableSpec("t", _ => df, checks = Seq(
      NullCheck("x", None, "null_x"), NullCheck("y", None, "null_y")))
    val r = Runner.run(spark, ok)
    assert(r.results.map(_.label).toSet == Set("null_x", "null_y"))
    assert(!r.results.find(_.label == "null_x").get.failed)
    assert(r.results.find(_.label == "null_y").get.failed)
  }

  test("empty table: colstats reports count=0 instead of crashing; verdicts definite") {
    val df = Seq(("a", 1.0)).toDF("key", "v").where("v > 99")
    val r = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(
      ColStats("v"), NullCheck("v", None, "nulls"))))
    val stats = r.results.find(_.label == "colstats").get.metrics("stats").asInstanceOf[ColumnStats]
    assert(stats.count == 0L)
    assert(!r.results.find(_.label == "nulls").get.failed)
    // declarative path: aggregates over zero rows must still produce
    // boolean verdicts (NULL would leak as a non-verdict)
    val v = Runner.verdictDF(df, Seq(
      NullCheck("v", None, "n"),
      ColumnMaxCheck("v", Bound.Num(5), "m"),
      ColumnSumCheck("v", Some(1.0), None, inclusive = false, "s"))).collect().head
    assert(!v.getAs[Boolean]("n_failed")) // row checks pass on empty input
    assert(v.getAs[Boolean]("m_failed"))  // no max to equal expectation
    assert(v.getAs[Boolean]("s_failed"))  // sum treated as 0 <= 1
  }

  test("percent threshold FP evaluation order matches the reference exactly") {
    // (value * (rowCount / 100.0)).toLong — for rowCount=70, value=30%:
    // 30 * 0.7 = 21.000000000000004 -> 21; the reversed association
    // 70 * 0.3 = 21.0 (same here) but e.g. rowCount=110, 30%:
    // 30 * 1.1 = 33.00000000000001 -> 33 vs 110 * 0.3 = 33.0 -> 33 — and
    // rowCount=29, 7%: 7 * 0.29 = 2.0299999999999994 -> 2 vs
    // 29 * 0.07 = 2.0300000000000002 -> 2. Assert the reference formula.
    assert(Threshold("30%").errorLimit(70) == (30.0 * (70 / 100.0)).toLong)
    assert(Threshold("7%").errorLimit(29) == (7.0 * (29 / 100.0)).toLong)
    assert(Threshold("0.5").errorLimit(5) == 2L) // fraction: (0.5 * 5).toLong
  }

  test("driver and declarative verdicts agree at percent-threshold FP boundaries") {
    // 29% of 100: value*(rowCount/100.0) = 29.0 exactly, while the other
    // association 100*(29/100.0) = 28.999999999999996 truncates to 28 —
    // both paths must use the reference association or they disagree with
    // exactly 29 errors
    val df = (1 to 100).map(i => ("k" + i, if (i <= 29) -1 else 1)).toDF("key", "v")
    val spec = NegativeCheck("v", Some("29%"), "neg")
    val driver = Runner.run(spark, TableSpec("t", _ => df, checks = Seq(spec)))
      .results.head.failed
    val declarative = Runner.verdictDF(df, Seq(spec))
      .head().getAs[Boolean]("neg_failed")
    assert(driver == declarative, s"driver=$driver declarative=$declarative")
    assert(!driver) // 29 errors > limit 29 is false
  }

  test("verdictDF is fully declarative: one row, correct flags") {
    val df = Seq(("a", -1), ("b", 2), ("c", 3)).toDF("key", "data")
    val v = Runner.verdictDF(df, Seq(
      MinNumRows(10, "rc"),
      NegativeCheck("data", Some("0"), "neg"))).collect()
    assert(v.length == 1)
    val row = v.head
    assert(row.getAs[Long]("row_cnt") == 3L)
    assert(row.getAs[Long]("neg_errs") == 1L)
    assert(row.getAs[Boolean]("neg_failed"))
    assert(row.getAs[Boolean]("rc_failed"))
  }

  test("bound-less columnSumCheck is rejected at construction with a clear message") {
    // without the guard, a min=max=None spec would reach verdictDF and
    // blow up in (lo ++ hi).reduce with an opaque UnsupportedOperationException
    val e = intercept[IllegalArgumentException] {
      ColumnSumCheck("data", None, None, inclusive = false, "colsum")
    }
    assert(e.getMessage.contains("columnSumCheck needs a bound"))
  }
  test("columnMaxCheck on DATE and TIMESTAMP columns with ISO-string expectations") {
    val df = Seq(("a", "2024-01-15", "2024-01-15 08:00:00"), ("b", "2024-01-31", "2024-01-31 10:00:00"))
      .toDF("key", "d", "ts")
      .select(col("key"), col("d").cast("date").as("d"), col("ts").cast("timestamp").as("ts"))
    val checks = Seq(
      ColumnMaxCheck("d", Bound.Str("2024-01-31"), "d_eq"),
      ColumnMaxCheck("d", Bound.Str("2024-02-01"), "d_ne"),
      ColumnMaxCheck("ts", Bound.Str("2024-01-31 10:00:00"), "ts_eq"),
      ColumnMaxCheck("ts", Bound.Str("2024-01-31 09:59:59"), "ts_ne"))
    val t = TableSpec("t", _ => df, checks = checks)
    assert(Runner.configCheck(spark, t).isEmpty)
    val r = Runner.run(spark, t).results.map(c => c.label -> c).toMap
    assert(!r("d_eq").failed, r("d_eq").message)
    assert(!r("ts_eq").failed, r("ts_eq").message)
    assert(r("d_ne").failed, r("d_ne").message)
    assert(r("ts_ne").failed, r("ts_ne").message)
    for ((label, expected) <- Seq("d_ne" -> "2024-02-01", "ts_ne" -> "2024-01-31 09:59:59")) {
      val msg = r(label).message
      assert(msg.contains(expected) && msg.contains(r(label).metrics("actual").toString), msg)
    }
  }

  test("columnMaxCheck with a column-reference value is rejected in its own words") {
    val df = Seq(("a", 1, 2)).toDF("key", "x", "other")
    val t = TableSpec("t", _ => df, checks = Seq(ColumnMaxCheck("x", Bound.parse("`other"), "m")))
    assert(Runner.configCheck(spark, t) == Seq("m: columnMaxCheck value cannot be a column reference"))
    // without configCheck, run fails building the verdict plan, not with a verdict
    val e = intercept[IllegalArgumentException](Runner.run(spark, t))
    assert(e.getMessage.contains("columnMaxCheck expected cannot be a column ref"), e.getMessage)
  }

  test("configCheck rejects an unparseable string bound on a DATE or TIMESTAMP column") {
    val df = Seq(("a", "2024-01-15", "2024-01-15 08:00:00"))
      .toDF("key", "d", "ts")
      .select(col("key"), col("d").cast("date").as("d"), col("ts").cast("timestamp").as("ts"))
    def check(c: CheckSpec) = Runner.configCheck(spark, TableSpec("t", _ => df, checks = Seq(c)))
    val bad = Seq(
      RangeCheck("d", Some(Bound.Str("not-a-date")), None, label = "r_d"),
      RangeCheck("ts", None, Some(Bound.Str("2024-01-31 25:00:00")), label = "r_ts"),
      ColumnMaxCheck("d", Bound.Str("2024-02-30"), "m_d"),
      ColumnMaxCheck("ts", Bound.Str("yesterday"), "m_ts"))
    for (c <- bad) assert(check(c).exists(_.contains("is not a valid")), s"$c: ${check(c)}")
    // every ISO form the scan's cast accepts stays accepted, and runs
    val good = Seq(
      RangeCheck("d", Some(Bound.Str("2024-01-01")), Some(Bound.Str("2024-02-01 00:00:00")), label = "g_d"),
      RangeCheck("ts", Some(Bound.Str("2024-01")), Some(Bound.Str("2024-01-31T10:00:00Z")), label = "g_ts"),
      ColumnMaxCheck("d", Bound.Str("2024-01-15"), "g_md"),
      ColumnMaxCheck("ts", Bound.Str("2024-01-15T08:00:00"), "g_mts"))
    for (c <- good) {
      assert(check(c).isEmpty, s"$c: ${check(c)}")
      assert(!Runner.run(spark, TableSpec("t", _ => df, checks = Seq(c))).results.head.failed, c.toString)
    }
  }

  test("run agrees with verdictDF, uniqueDF and colStatsDF on an all-NULL column and an empty slice") {
    val df = Seq[(String, Int, Option[Double], String, String)](
      ("a", 1, None, "xx", "2024-01-31"), ("a", -2, None, "y", "2024-01-02"),
      ("c", 30, None, "zzzz", "2024-01-15"))
      .toDF("key", "x", "v", "s", "d")
      .withColumn("d", col("d").cast("date"))
    val checks = Seq(
      NullCheck("v", None, "nulls"), NegativeCheck("x", Some("0"), "neg"),
      RangeCheck("x", Some(Bound.Num(0)), Some(Bound.Num(10)), inclusive = true, None, "range"),
      RangeCheck("v", Some(Bound.Num(0)), None, inclusive = false, None, "range_v"),
      StringLengthCheck("s", Some(2), Some(3), None, "len"),
      StringRegexCheck("s", "^x+$", Some("50%"), "re"),
      MinNumRows(2, "rows"),
      ColumnMaxCheck("x", Bound.Num(30), "max_x"), ColumnMaxCheck("v", Bound.Num(0), "max_v"),
      ColumnMaxCheck("s", Bound.Str("zzzz"), "max_s"), ColumnMaxCheck("d", Bound.Str("2024-01-31"), "max_d"),
      ColumnSumCheck("x", Some(0.0), Some(100.0), inclusive = false, "sum_x"),
      ColumnSumCheck("v", None, Some(1.0), inclusive = false, "sum_v"),
      UniqueCheck(Seq("key"), "uniq"), UniqueCheck(Seq("key", "x"), "uniq2"),
      ColStats("x", "cs_x"), ColStats("v", "cs_v"))
    for (slice <- Seq(df, df.where("x > 1000"))) {
      val t = TableSpec("t", _ => slice, checks = checks)
      assert(Runner.configCheck(spark, t).isEmpty)
      val run = Runner.run(spark, t).results.map(c => c.label -> c).toMap
      val v = Runner.verdictDF(slice, checks).head()
      checks.foreach {
        case UniqueCheck(cols, label) =>
          assert(run(label).failed == Runner.uniqueDF(slice, cols, label).head().getAs[Boolean](s"${label}_failed"), label)
        case ColStats(c, label) =>
          val st = run(label).metrics("stats").asInstanceOf[ColumnStats]
          val ref = Runner.colStatsDF(slice, c).head()
          assert(st.count == ref.getAs[Long]("cnt") && st.min == ref.getAs[Double]("mn") &&
            st.max == ref.getAs[Double]("mx"), s"$label: $st vs $ref")
          // colStatsDF rounds to 6 dp; a NULL must not read as 0.0 here
          for ((name, v) <- Seq("mean" -> st.mean, "stddev" -> st.stdDev)) {
            val r = ref.getAs[java.lang.Double](name)
            assert(r != null && math.abs(r - v) <= 5e-7, s"$label $name: $st vs $ref")
          }
          assert(st.histogram == (0 until Runner.NumBins).map(i => ref.getAs[Long](s"b$i")), s"$label: $st vs $ref")
        case c => assert(run(c.label).failed == v.getAs[Boolean](s"${c.label}_failed"), c.label)
      }
    }
  }
}
