package graft.queries

import graft.exec.Runner
import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parity queries: the reference's ten checks + execution machinery
  * (SURVEY.md §2), each with a DuckDB oracle. */
object CheckQueries {


  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.table(s, dir, name)

  /** Materialize a testdata table in another format (once per sf dir) so
    * the orc / generic-format loaders get exercised against the SAME rows
    * the DuckDB oracle reads from parquet. Build-output area only. */
  private def fixture(s: SparkSession, dir: String, name: String, fmt: String): String = {
    val out = s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$name.$fmt"
    if (!new java.io.File(out).exists()) {
      val df = t(s, dir, name)
      fmt match {
        case "orc" => df.write.mode("overwrite").orc(out)
        case "json" => df.write.mode("overwrite").json(out)
        case "csv" => df.write.mode("overwrite").option("header", "true").csv(out)
        case other => throw new IllegalArgumentException(s"no fixture writer for $other")
      }
    }
    out
  }

  /** The hive-catalog fixture: the testdata table saved into the session
    * catalog ONCE (external table over a build-output path). */
  private def hiveFixture(s: SparkSession, dir: String): String = {
    val tbl = "graft_supplier_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(tbl)) {
      val loc = s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/supplier_catalog"
      t(s, dir, "supplier").write.mode("overwrite")
        .option("path", loc).saveAsTable(tbl)
    }
    tbl
  }

  /** Harness-setup hook: build EVERY non-parquet fixture up front so the
    * source-loader queries measure query time, not a one-off file write —
    * a cold Bench/Verify run otherwise charges the first such query for
    * the fixture's write job. */
  def materializeFixtures(s: SparkSession, dir: String): Unit = {
    fixture(s, dir, "nation", "orc")
    fixture(s, dir, "part", "csv")
    fixture(s, dir, "region", "json")
    fixture(s, dir, "customer", "json")
    hiveFixture(s, dir)
  }

  /** Flagship: the fused quick-check pass — N checks, ONE scan, one-row
    * result (ValidatorTable.scala:100-143 re-expressed declaratively). */
  

  def fusedQuery(s: SparkSession, dir: String): DataFrame =
    Runner.verdictDF(t(s, dir, "lineitem"), Seq(
      MinNumRows(1000, "rowcount"),
      NullCheck("l_returnflag", Some("1"), "null_rf"),
      NegativeCheck("l_discount", Some("0"), "neg_disc"),
      RangeCheck("l_quantity", Some(Bound.Num(2)), Some(Bound.Num(49)),
        inclusive = false, Some("10%"), "range_qty"),
      StringRegexCheck("l_returnflag", "^[ANR]$", Some("0"), "re_rf"),
      ColumnMaxCheck("l_quantity", Bound.Num(50), "max_qty"),
      ColumnSumCheck("l_quantity", Some(1.0), Some(1.0e9), inclusive = false, "sum_qty")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parity: the reference's ten checks + execution machinery ----
    "chk_fused" -> ((s, dir) => fusedQuery(s, dir)),

    // MinNumRows verdict on the fused quick-check pass (reference check #1).
    "chk_rowcount" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "lineitem"), Seq(MinNumRows(1000, "rowcount")))),

    // nullCheck with a fractional threshold over a planted nullable column (reference check #2).
    "chk_nullcheck" -> ((s, dir) =>
      Runner.verdictDF(
        t(s, dir, "lineitem").withColumn("ls_null", expr("nullif(l_linestatus, 'F')")),
        Seq(NullCheck("ls_null", Some("30%"), "nullcheck")))),

    // negativeCheck with an absolute threshold; NULLs are not counted (reference check #3).
    "chk_negative" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "customer"),
        Seq(NegativeCheck("c_acctbal", Some("100"), "neg")))),

    // rangeCheck matrix: inverted-inclusive numeric bounds, inclusive bounds, and a column-reference bound (reference check #4).
    "chk_range" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "lineitem"), Seq(
        RangeCheck("l_quantity", Some(Bound.Num(2)), Some(Bound.Num(49)),
          inclusive = false, Some("10%"), "range1"),
        RangeCheck("l_discount", Some(Bound.Num(0.0)), Some(Bound.Num(0.1)),
          inclusive = true, None, "range2"),
        RangeCheck("l_discount", None, Some(Bound.Ref("l_tax")),
          inclusive = false, Some("50%"), "range3")))),

    // stringLengthCheck with inclusive bounds and a percent threshold (reference check #5).
    "chk_strlen" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "documents"), Seq(
        StringLengthCheck("text", Some(100), Some(400), Some("40%"), "strlen")))),

    // stringRegexCheck with a null-guarded pattern and fractional threshold (reference check #6).
    "chk_regex" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "orders"), Seq(
        StringRegexCheck("o_orderpriority", "^[1-3]-", Some("0.3"), "regex")))),

    // columnMaxCheck in-plan verdicts for a numeric and a string column (reference check #7).
    "chk_colmax" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "lineitem"), Seq(
        ColumnMaxCheck("l_quantity", Bound.Num(50), "qmax"),
        ColumnMaxCheck("l_returnflag", Bound.Str("R"), "fmax")))),

    // columnSumCheck with inverted-inclusive bounds on the one-row aggregate pass (reference check #8).
    "chk_colsum" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "lineitem"), Seq(
        ColumnSumCheck("l_quantity", Some(100000.0), Some(2000000.0),
          inclusive = false, "colsum")))),

    // uniqueCheck counting duplicated KEYS (not rows) on a key that does repeat (reference check #9).
    "chk_unique_dup" -> ((s, dir) =>
      Runner.uniqueDF(t(s, dir, "lineitem"), Seq("l_orderkey"), "unique")),

    // uniqueCheck on the true primary key - the zero-duplicates verdict path (reference check #9).
    "chk_unique_ok" -> ((s, dir) =>
      Runner.uniqueDF(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"), "unique")),

    // colstats two-pass profile: count/min/max/mean, sample stddev, 10 equal-width bins (reference check #10).
    "chk_colstats" -> ((s, dir) =>
      Runner.colStatsDF(t(s, dir, "lineitem"), "l_quantity")),

    // Error-detail pass: per-row failing keys via the or-folded predicate + limit (the reference quickChecks detail report).
    "chk_detail" -> ((s, dir) =>
      Runner.errorDetailsDF(t(s, dir, "customer"), Seq("c_custkey"),
        Seq(NegativeCheck("c_acctbal")), 20, deterministic = true)),

    // rangeCheck on a TIMESTAMP column with ISO-string bounds — an
    // extension over the reference, which can only check string/boolean/
    // numeric columns (SURVEY §1.2)
    "chk_tsrange" -> ((s, dir) =>
      Runner.verdictDF(t(s, dir, "events"), Seq(
        RangeCheck("ts",
          Some(Bound.Str("2024-01-10 00:00:00")),
          Some(Bound.Str("2024-01-20 00:00:00")),
          inclusive = false, Some("50%"), "tsrange")))),

    // One-scan whole-table profile — the colstats pass generalized to
    // every column at once (nulls, HLL distinct, numeric min/max,
    // string lengths; one fused scan + a 1-row exchange at any width).
    // Exact distincts ride the oracle query only, to bound the HLL
    // estimate within 5%.
    "chk_profile" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cols = Seq("event_id", "user_id", "event_type", "value", "props")
      val prof = graft.ops.Profiler.profileTable(ev, cols)
      val exact = ev.agg(
        countDistinct(col(cols.head)).as("__e0"),
        cols.tail.zipWithIndex.map { case (c, i) =>
          countDistinct(col(c)).as(s"__e${i + 1}") }: _*)
      val exactRows = exact.select(inline(array(cols.zipWithIndex.map {
        case (c, i) => struct(lit(c).as("column"), col(s"__e$i").as("n_distinct_exact"))
      }: _*)))
      prof.join(exactRows, "column")
        .select(col("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct_exact"),
          (abs(col("n_distinct_est") - col("n_distinct_exact")) * 100 <=
            col("n_distinct_exact") * 5).as("distinct_ok"),
          round(col("min_num"), 4).as("min_num"),
          round(col("max_num"), 4).as("max_num"),
          col("min_len"), col("max_len"))
        .orderBy("column")
    }),

    // Cross-table referential integrity: orphan child keys planted by
    // filtering the parent (orders % 13 removed) — keys-only anti-join,
    // cost is key cardinality, not table size.
    "chk_refint" -> ((s, dir) =>
      graft.ops.TableHealth.refIntegrity(
        t(s, dir, "lineitem"), col("l_orderkey"),
        t(s, dir, "orders").where(col("o_orderkey") % 13 =!= 0),
        col("o_orderkey"))),

    // Freshness vs an EXPLICIT as-of epoch (replayable, never
    // wall-clock): newest event lag + trailing-hour volume.
    "chk_freshness" -> ((s, dir) =>
      graft.ops.TableHealth.freshness(t(s, dir, "events"), col("ts"),
        asOfEpoch = 1706745600L, maxLagSeconds = 604800L)),

    // Benford first-digit audit over order totals — the fabricated-
    // data screen; integer/string digit extraction keeps both engines
    // bit-identical (no float log/floor knife edges).
    "chk_benford" -> ((s, dir) =>
      graft.ops.TableHealth.benford(t(s, dir, "orders"), col("o_totalprice"))),

    // Column-redundancy audit over a derived view with a planted exact
    // duplicate and a planted constant: one scan of per-column
    // digests; DuckDB recomputes the identical digests.
    "chk_redundancy" -> ((s, dir) => {
      val base = t(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        col("c_name").as("name_copy"),
        lit("x").as("const_col"),
        col("c_mktsegment"))
      graft.ops.TableHealth.columnRedundancy(base, "c_custkey",
        Seq("c_name", "name_copy", "const_col", "c_mktsegment"))
    }),

    // k-anonymity audit: rows in quasi-identifier combos shared by
    // fewer than k=5 customers — the re-identification risk gate.
    "chk_kanon" -> ((s, dir) =>
      graft.ops.TableHealth.kAnonymity(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")), k = 5L)),

    // CSV corrupt-record accounting (chk_badrecords' CSV sibling): a
    // staged CSV with a non-numeric value in a LONG column every 7th
    // row; PERMISSIVE + columnNameOfCorruptRecord must count exactly
    // the planted corruptions and keep the good rows' arithmetic.
    "chk_badrecords_csv" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val stage = s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/badrecords_csv"
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(concat_ws(",", col("doc_id"),
          when(col("doc_id") % 7 === 0, lit("xx"))
            .otherwise(col("n_chars").cast("string")),
          col("lang")).as("value"))
        .coalesce(1).write.mode("overwrite").text(stage)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("n_chars", LongType),
        StructField("lang", StringType), StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(stage)
        .agg(count(lit(1L)).as("n_rows"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("n_chars")))
            .cast("long").as("good_chars"))
    }),

    // Release freeze manifest: one fingerprint row per frozen table —
    // the multiset-equality receipts a dataset release ships.
    "chk_freeze_manifest" -> ((s, dir) =>
      Seq("nation" -> Seq("n_nationkey", "n_name"),
          "region" -> Seq("r_regionkey", "r_name"),
          "customer" -> Seq("c_custkey", "c_name"))
        .map { case (tn, cols) =>
          graft.ops.TableHealth.tableFingerprint(t(s, dir, tn), cols)
            .select(lit(tn).as("table_name"), col("n_rows"), col("fingerprint"))
        }.reduce(_ unionByName _).orderBy("table_name")),

    // Schema-evolution union: two customer snapshots with different
    // column sets (acctbal dropped, mktsegment added) union by NAME
    // with null padding + batch provenance; per-batch null attribution
    // must match the snapshot definitions exactly.
    "chk_schema_evolution" -> ((s, dir) => {
      val dirKey = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = s"/root/repo/target/fixtures/$dirKey/evolution"
      val cust = t(s, dir, "customer")
      cust.where(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.mode("overwrite").parquet(s"$base/v1")
      cust.where(col("c_custkey") % 2 =!= 0)
        .select("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$base/v2")
      graft.sources.Sources
        .unionWithEvolution(s, Seq(s"$base/v1", s"$base/v2"))
        .groupBy(col("__batch"))
        .agg(count(lit(1L)).as("n"),
          sum(when(col("c_acctbal").isNull, 1L).otherwise(0L))
            .as("n_null_acctbal"),
          sum(when(col("c_mktsegment").isNull, 1L).otherwise(0L))
            .as("n_null_mktseg"))
        .orderBy("__batch")
    }),

    // JSON key profile: per-key presence/type-mix schema inference over
    // the events property blob — one parse+explode scan, key-space
    // rollup.
    "chk_json_profile" -> ((s, dir) =>
      graft.ops.Profiler.jsonKeyProfile(t(s, dir, "events"), col("props"))),

    // t-closeness: per-nation total-variation distance of the market-
    // segment distribution vs the global one — the distributional
    // privacy audit k-anonymity/l-diversity cannot see. Category-
    // bounded exchanges only.
    "chk_tcloseness" -> ((s, dir) =>
      graft.ops.TableHealth.tCloseness(t(s, dir, "customer"),
        Seq(col("c_nationkey")), col("c_mktsegment"), t = 0.2)),

    // Cross-engine table fingerprint: order-independent md5-row-hash
    // SUM over lineitem's integer/string columns — DuckDB recomputes
    // the identical fingerprint from the same parquet, proving the
    // multiset-equality gate works ACROSS engines.
    "chk_fingerprint" -> ((s, dir) =>
      graft.ops.TableHealth.tableFingerprint(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))),

    // Schema-drift check (metadata-only, zero rows scanned): the events
    // schema against a contract with a planted narrower type
    // (user_id int vs actual bigint), a planted absent column, and
    // props deliberately left out of the contract (→ unexpected). The
    // oracle recomputes from DuckDB's own catalog introspection.
    "chk_schema" -> ((s, dir) =>
      graft.ops.TableHealth.schemaCheck(t(s, dir, "events"), Seq(
        "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "int",
        "event_type" -> "string", "value" -> "double",
        "extra_col" -> "int"))),

    // Ingestion-gap audit over hourly purchase buckets, rolled up to a
    // single row (gap detail stays on the API) so the result has rows
    // at every scale factor.
    "chk_gaps" -> ((s, dir) => {
      val gaps = graft.ops.TableHealth.bucketGaps(
        t(s, dir, "events").where(col("event_type") === "purchase"),
        col("ts"), 3600L)
      gaps.agg(count(lit(1L)).as("n_gaps"),
        coalesce(sum("n_missing"), lit(0L)).as("total_missing"),
        coalesce(max("n_missing"), lit(0L)).as("longest_gap"),
        coalesce(min("gap_start_epoch"), lit(0L)).as("first_gap_epoch"))
    }),

    // Functional-dependency audit: a key FD that HOLDS (orderkey →
    // priority rides the orders PK) beside one that is VIOLATED
    // (an order's lineitems carry differing return flags) — one
    // determinant-keyed aggregation each.
    "chk_fd" -> ((s, dir) =>
      graft.ops.TableHealth.functionalDependency(t(s, dir, "orders"),
          "orderkey_to_priority", Seq(col("o_orderkey")), col("o_orderpriority"))
        .unionByName(graft.ops.TableHealth.functionalDependency(
          t(s, dir, "lineitem"),
          "orderkey_to_returnflag", Seq(col("l_orderkey")), col("l_returnflag")))
        .orderBy("fd")),

    // Format-boundary round trip: the part table written to CSV, read
    // back, and fingerprinted against the parquet original on its
    // stable columns — the "did the export corrupt anything" gate that
    // pairs the source loaders with the order-independent fingerprint.
    "chk_roundtrip" -> ((s, dir) => {
      val cols = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")
      val orig = graft.ops.TableHealth.tableFingerprint(
        t(s, dir, "part"), cols)
      val back = graft.ops.TableHealth.tableFingerprint(
        graft.sources.Sources.csv(s, fixture(s, dir, "part", "csv"),
            Map("header" -> "true"))
          .select(cols.map(col): _*), cols)
      orig.select(col("n_rows"), col("fingerprint"))
        .crossJoin(back.select(col("n_rows").as("__n2"),
          col("fingerprint").as("__f2")))
        .select(col("n_rows"), col("fingerprint"),
          (col("n_rows") === col("__n2") &&
            col("fingerprint") === col("__f2")).as("roundtrip_ok"))
    }),

    // Full-ROW duplicate audit: rows identical across every column —
    // the double-ingestion check uniqueCheck's key-based view cannot
    // express when no key exists. The distinct runs over the md5 of
    // the canonical row digest (0x1f-joined, NULL-marked — the
    // tableFingerprint canonicalization), so the exchange carries one
    // 32-char column, never the payload: at 100 TB on a documents
    // table a full-width distinct would ship every byte of text.
    // count + count_distinct fuse into ONE aggregate over one scan.
    "chk_dup_rows" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val digest = md5(concat_ws("\u001f", li.columns.toSeq.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*))
      li.select(digest.as("__digest"))
        .agg(count(lit(1L)).as("n_rows"),
          countDistinct(col("__digest")).as("n_distinct"))
        .select(col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dup_rows"),
          (col("n_rows") === col("n_distinct")).as("no_full_dups"))
    }),

    // Column-wise mean-shift sweep between two cohorts (key-parity
    // split stands in for "last week vs this week"): Welch z per
    // numeric column, ALL columns in ONE conditional-sum scan — the
    // cheap whole-table drift triage before per-column PSI deep dives.
    "chk_mean_shift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val inA = pmod(col("l_orderkey"), lit(2)) === 0
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c => Seq(
        sum(when(inA, 1L).otherwise(0L)).as(s"__na_$c"),
        sum(when(inA, col(c))).as(s"__sa_$c"),
        sum(when(inA, col(c) * col(c))).as(s"__qa_$c"),
        sum(when(!inA, 1L).otherwise(0L)).as(s"__nb_$c"),
        sum(when(!inA, col(c))).as(s"__sb_$c"),
        sum(when(!inA, col(c) * col(c))).as(s"__qb_$c"))
      }
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val rows = cols.map { c =>
        val na = col(s"__na_$c").cast("double"); val sa = col(s"__sa_$c")
        val qa = col(s"__qa_$c")
        val nb = col(s"__nb_$c").cast("double"); val sb = col(s"__sb_$c")
        val qb = col(s"__qb_$c")
        val ma = sa / na; val mb = sb / nb
        val va = (qa - sa * sa / na) / (na - 1)
        val vb = (qb - sb * sb / nb) / (nb - 1)
        struct(lit(c).as("column"),
          round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
          round((ma - mb) / sqrt(va / na + vb / nb), 6).as("welch_z"))
      }
      wide.select(inline(array(rows: _*))).orderBy("column")
    }),

    // Whitespace hygiene: values needing trim or space-collapse per
    // field — the silent killers of equality joins and group-bys
    // ("EU" vs "EU ") caught before normalization decisions.
    "chk_whitespace" -> ((s, dir) => {
      def audit(df: DataFrame, field: String, c: String) =
        df.select(col(c).as("v")).where(col("v").isNotNull)
          .agg(count(lit(1L)).as("n_values"),
            sum(when(col("v").rlike("^\\s"), 1L).otherwise(0L)).as("n_leading"),
            sum(when(col("v").rlike("\\s$"), 1L).otherwise(0L)).as("n_trailing"),
            sum(when(col("v").contains("  "), 1L).otherwise(0L)).as("n_double_space"),
            sum(when(col("v").rlike("[\\t\\n]"), 1L).otherwise(0L)).as("n_tab_newline"))
          .select(lit(field).as("field"), col("n_values"), col("n_leading"),
            col("n_trailing"), col("n_double_space"), col("n_tab_newline"))
      audit(t(s, dir, "documents"), "documents.text", "text")
        .unionByName(audit(t(s, dir, "customer"), "customer.c_name", "c_name"))
        .unionByName(audit(t(s, dir, "part"), "part.p_name", "p_name"))
        .orderBy("field")
    }),

    // Enum-domain conformance: the observed value inventory of a
    // categorical column against its allowed set — the check that
    // catches a new upstream enum value ('error' here) before it
    // poisons group-bys downstream. One value-keyed aggregate.
    "chk_domain" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type").as("value"))
        .agg(count(lit(1L)).as("n"))
        .withColumn("allowed",
          col("value").isin("view", "click", "purchase", "signup"))
        .orderBy("value")),

    // Casing profile per field: ALLCAPS / TitleCase / lowercase token
    // shares — schema-drift and normalization evidence (a lowercase
    // column suddenly sprouting ALLCAPS rows is an upstream change).
    "chk_casing" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val toks = Seq("p_name", "p_type", "p_brand").map { f =>
        part.select(lit(f).as("field"),
          explode(graft.functions.TextFunctions.tokensWs(col(f))).as("tok"))
      }.reduce(_ unionByName _).where(col("tok") =!= "")
      toks.groupBy("field")
        .agg(count(lit(1L)).as("n_tokens"),
          round(avg(when(col("tok").rlike("^[^a-z]*$") &&
            col("tok").rlike("[A-Z]"), 1.0).otherwise(0.0)), 6).as("upper_share"),
          round(avg(when(col("tok").rlike("^[A-Z][a-z]"), 1.0)
            .otherwise(0.0)), 6).as("title_share"),
          round(avg(when(col("tok").rlike("^[^A-Z]*$") &&
            col("tok").rlike("[a-z]"), 1.0).otherwise(0.0)), 6).as("lower_share"))
        .orderBy("field")
    }),

    // Referential-integrity SWEEP: every FK edge of the star schema in
    // one result — the schema-wide orphan report (keys-only anti-joins,
    // cost = key cardinality per edge, never table size).
    "chk_refint_sweep" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String) =
        graft.ops.TableHealth.refIntegrity(child, col(ck), parent, col(pk))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphan_rows"),
            col("n_orphan_keys"), col("ref_ok"))
      edge("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionByName(edge("lineitem_part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(edge("lineitem_supplier", t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(edge("orders_customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .unionByName(edge("customer_nation", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"))
        .unionByName(edge("nation_region", t(s, dir, "nation"), "n_regionkey",
          t(s, dir, "region"), "r_regionkey"))
        .orderBy("fk")
    }),

    // Join-fanout profile: how many orders have k lineitems — the
    // count-of-counts histogram that predicts join blowup and reducer
    // skew before any join runs.
    "chk_fanout" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1L)).as("__k"))
        .groupBy(col("__k").as("lines_per_order"))
        .agg(count(lit(1L)).as("n_orders"))
        .orderBy("lines_per_order")),

    // Sequence-integrity audit: is the surrogate key dense? Missing ids
    // (span minus distinct) mean silently dropped records; duplicates
    // mean double ingestion. One partially-aggregated scan.
    "chk_sequence" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1L)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        min(col("o_orderkey")).as("min_id"),
        max(col("o_orderkey")).as("max_id"))
        .select(col("n_rows"), col("n_distinct"), col("min_id"), col("max_id"),
          (col("max_id") - col("min_id") + 1 - col("n_distinct")).as("n_missing"),
          (col("n_rows") - col("n_distinct")).as("n_duplicated"),
          (col("max_id") - col("min_id") + 1 === col("n_distinct") &&
            col("n_rows") === col("n_distinct")).as("dense"))),

    // Shuffle-partition pre-flight over lineitem at a 16 MiB target:
    // deterministic width rule (strings at UTF-8 length, fixed slots),
    // one partially-aggregated scan.
    "chk_partition_plan" -> ((s, dir) =>
      graft.ops.Skew.partitionAdvisor(t(s, dir, "lineitem"),
        t(s, dir, "lineitem").columns.toSeq,
        targetPartitionBytes = 16L * 1024 * 1024, minPartitions = 32)),

    // l-diversity over (nation, segment) quasi-groups with the account
    // balance banded to thousands as the sensitive attribute — the
    // homogeneity-attack audit k-anonymity cannot see.
    "chk_ldiv" -> ((s, dir) =>
      graft.ops.TableHealth.lDiversity(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal") / 1000), l = 3)),

    // ---- source loaders beyond parquet, proven against the same rows ----
    "chk_orc" -> ((s, dir) =>
      Runner.verdictDF(graft.sources.Sources.orc(s, fixture(s, dir, "nation", "orc")), Seq(
        MinNumRows(5, "rowcount"),
        NullCheck("n_name", None, "null_name"),
        ColumnMaxCheck("n_regionkey", Bound.Num(4), "max_rk")))),

    // The metastore-backed source kind — the reference's PRIMARY production
    // path (db+table is first in its source decode order,
    // ConfigParser.scala:20-25, ValidatorTable.scala:228-261). The testdata
    // table is saved into the session catalog ONCE (external table over a
    // build-output path), then read back through Sources.hiveTable — the
    // full catalog data path — and validated against the same rows the
    // DuckDB oracle reads from parquet.
    "chk_hive" -> ((s, dir) =>
      Runner.verdictDF(graft.sources.Sources.hiveTable(s, hiveFixture(s, dir)), Seq(
        MinNumRows(1, "rowcount"),
        NullCheck("s_name", None, "null_name"),
        ColumnMaxCheck("s_nationkey", Bound.Num(24), "max_nk")))),

    // csv loader with options (header + schema inference) — the loader's
    // typed round-trip proven against the parquet oracle
    "chk_csv" -> ((s, dir) =>
      Runner.verdictDF(
        graft.sources.Sources.csv(s, fixture(s, dir, "part", "csv"),
          Map("header" -> "true", "inferSchema" -> "true")), Seq(
        MinNumRows(1, "rowcount"),
        NullCheck("p_name", None, "null_name"),
        ColumnMaxCheck("p_retailprice", Bound.Num(2000.0), "max_price")))),

    // nullCheck rides on r_name (never null): the JSON writer drops
    // all-null fields entirely, so an always-null column would not even
    // appear in the inferred schema.
    "chk_format" -> ((s, dir) =>
      Runner.verdictDF(
        graft.sources.Sources.format(s, "json", Map.empty,
          Seq(fixture(s, dir, "region", "json"))), Seq(
        MinNumRows(5, "rowcount"),
        NullCheck("r_name", None, "null_name"),
        ColumnMaxCheck("r_regionkey", Bound.Num(4), "max_rk")))),

    // the DIRECT json loader (Sources.json — distinct from the generic
    // format("json") path proven by chk_format), on a different table so
    // the two rows can't mask each other
    "chk_json" -> ((s, dir) =>
      Runner.verdictDF(
        graft.sources.Sources.json(s, fixture(s, dir, "customer", "json")), Seq(
        MinNumRows(1, "rowcount"),
        NullCheck("c_name", None, "null_name"),
        ColumnMaxCheck("c_nationkey", Bound.Num(24), "max_nk")))),

    // Corrupt-record accounting — malformed rows are a fact of life in
    // any 100 TB ingest, and a validator must COUNT them, not crash or
    // silently drop them. The fixture is a JSONL file with every 10th
    // line truncated mid-string (built through Spark, no driver-side
    // row handling); the PERMISSIVE reader routes each bad line into
    // the corrupt-record column, and the oracle predicts the exact
    // good/bad split from the corruption rule.
    "chk_badrecords" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val stage = s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/badrecords_jsonl"
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("text"))).as("j"))
        .select(when(col("doc_id") % 10 === 0,
            col("j").substr(lit(1), greatest(length(col("j")) - 5, lit(1))))
          .otherwise(col("j")).as("value"))
        .coalesce(1).write.mode("overwrite").text(stage)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(stage)
        .agg(count(lit(1L)).as("n_rows"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_corrupt"),
          sum(when(col("_corrupt").isNull, length(col("text"))))
            .cast("long").as("good_chars"))
    }),
  )

  /** DuckDB restatement of the engine's 60-bit row hash — the first 15
    * hex nibbles of md5(`expr`) as a BIGINT — WITHOUT the
    * `CAST('0x…' AS BIGINT)` hex trick, whose semantics proved
    * DuckDB-version-sensitive (the r09 red rows). Each nibble's value
    * comes from strpos over a constant alphabet and the place values
    * are spelled as exact BIGINT literals (16^14 … 16^0), so the
    * expression means the same thing in any SQL engine with md5. */
  private def duckRowHash(expr: String): String =
    (0 until 15).map { i =>
      val w = java.math.BigInteger.valueOf(16).pow(14 - i)
      s"(CAST(strpos('0123456789abcdef', substr(md5($expr), ${i + 1}, 1)) " +
        s"AS BIGINT) - 1) * $w"
    }.mkString("(", "\n   + ", ")")

  /** The oracle half of [[graft.ops.TableHealth.tableFingerprint]]:
    * sum of 60-bit row hashes over NULL-marked unit-separated columns,
    * emitted as the same zero-padded 39-digit decimal string the
    * engine emits — representation-proof through the driver's hasher. */
  private def duckFingerprint(cols: Seq[String]): String = {
    val canon = cols.map(c => s"coalesce(CAST($c AS VARCHAR), chr(0))")
      .mkString("concat_ws(chr(31), ", ", ", ")")
    // coalesce mirrors the engine: an empty table fingerprints as the
    // 39-zero string, not NULL (sum over zero rows is NULL in SQL)
    s"lpad(CAST(CAST(coalesce(sum(${duckRowHash(canon)}), 0) " +
      "AS DECIMAL(38,0)) AS VARCHAR), 39, '0')"
  }

  def oracleSql: Map[String, String] = Map(
    "chk_fused" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE l_returnflag IS NULL) AS BIGINT) AS null_rf_errs,
        | CAST(count(*) FILTER (WHERE l_discount < 0) AS BIGINT) AS neg_disc_errs,
        | CAST(count(*) FILTER (WHERE l_quantity <= 2 OR l_quantity >= 49) AS BIGINT) AS range_qty_errs,
        | CAST(count(*) FILTER (WHERE NOT regexp_matches(l_returnflag, '^[ANR]$') AND l_returnflag IS NOT NULL) AS BIGINT) AS re_rf_errs,
        | max(l_quantity) AS max_qty_max,
        | sum(l_quantity) AS sum_qty_sum,
        | count(*) FILTER (WHERE l_returnflag IS NULL) > 1 AS null_rf_failed,
        | count(*) FILTER (WHERE l_discount < 0) > 0 AS neg_disc_failed,
        | count(*) FILTER (WHERE l_quantity <= 2 OR l_quantity >= 49) > CAST(floor(count(*) * 0.10) AS BIGINT) AS range_qty_failed,
        | count(*) FILTER (WHERE NOT regexp_matches(l_returnflag, '^[ANR]$') AND l_returnflag IS NOT NULL) > 0 AS re_rf_failed,
        | count(*) < 1000 AS rowcount_failed,
        | max(l_quantity) != 50.0 AS max_qty_failed,
        | (sum(l_quantity) <= 1.0 OR sum(l_quantity) >= 1000000000.0) AS sum_qty_failed
        |FROM lineitem""".stripMargin,

    "chk_rowcount" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | count(*) < 1000 AS rowcount_failed FROM lineitem""".stripMargin,

    "chk_nullcheck" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE nullif(l_linestatus, 'F') IS NULL) AS BIGINT) AS nullcheck_errs,
        | count(*) FILTER (WHERE nullif(l_linestatus, 'F') IS NULL) > CAST(floor(count(*) * 0.30) AS BIGINT) AS nullcheck_failed
        |FROM lineitem""".stripMargin,

    "chk_negative" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS neg_errs,
        | count(*) FILTER (WHERE c_acctbal < 0) > 100 AS neg_failed
        |FROM customer""".stripMargin,

    "chk_range" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE l_quantity <= 2 OR l_quantity >= 49) AS BIGINT) AS range1_errs,
        | CAST(count(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 0.1) AS BIGINT) AS range2_errs,
        | CAST(count(*) FILTER (WHERE l_discount >= l_tax) AS BIGINT) AS range3_errs,
        | count(*) FILTER (WHERE l_quantity <= 2 OR l_quantity >= 49) > CAST(floor(count(*) * 0.10) AS BIGINT) AS range1_failed,
        | count(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 0.1) > 0 AS range2_failed,
        | count(*) FILTER (WHERE l_discount >= l_tax) > CAST(floor(count(*) * 0.50) AS BIGINT) AS range3_failed
        |FROM lineitem""".stripMargin,

    "chk_strlen" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE length(text) < 100 OR length(text) > 400) AS BIGINT) AS strlen_errs,
        | count(*) FILTER (WHERE length(text) < 100 OR length(text) > 400) > CAST(floor(count(*) * 0.40) AS BIGINT) AS strlen_failed
        |FROM documents""".stripMargin,

    "chk_regex" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-') AND o_orderpriority IS NOT NULL) AS BIGINT) AS regex_errs,
        | count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-') AND o_orderpriority IS NOT NULL) > CAST(floor(count(*) * 0.3) AS BIGINT) AS regex_failed
        |FROM orders""".stripMargin,

    "chk_colmax" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | max(l_quantity) AS qmax_max, max(l_returnflag) AS fmax_max,
        | max(l_quantity) != 50.0 AS qmax_failed,
        | max(l_returnflag) != 'R' AS fmax_failed
        |FROM lineitem""".stripMargin,

    "chk_colsum" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | sum(l_quantity) AS colsum_sum,
        | (sum(l_quantity) <= 100000.0 OR sum(l_quantity) >= 2000000.0) AS colsum_failed
        |FROM lineitem""".stripMargin,

    "chk_unique_dup" ->
      """SELECT CAST(count(*) AS BIGINT) AS unique_dup_keys,
        | count(*) > 0 AS unique_failed
        |FROM (SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) > 1)""".stripMargin,

    "chk_unique_ok" ->
      """SELECT CAST(count(*) AS BIGINT) AS unique_dup_keys,
        | count(*) > 0 AS unique_failed
        |FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1)""".stripMargin,

    "chk_benford" ->
      """WITH v AS (SELECT CAST(floor(abs(o_totalprice)) AS BIGINT) AS x
        |           FROM orders WHERE floor(abs(o_totalprice)) >= 1),
        |per AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit,
        |        CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM per)
        |SELECT digit, n,
        | round(n / t.t, 6) AS obs_frac,
        | round(log10(1.0 + 1.0 / digit), 6) AS exp_frac,
        | round(pow(n - t.t * log10(1.0 + 1.0 / digit), 2) /
        |   (t.t * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
        |FROM per CROSS JOIN t ORDER BY digit""".stripMargin,

    "chk_redundancy" -> {
      // same '0x'-free row hash as the fingerprint oracles; the digest
      // only needs within-engine equality here, but version-proof > not
      def branch(c: String) = {
        val dig = duckRowHash("CAST(k AS VARCHAR) || chr(31) || " +
          s"coalesce(CAST($c AS VARCHAR), chr(0))")
        s"""|  (SELECT CAST(sum($dig) AS DECIMAL(38,0)) FROM base),
            |  (SELECT min(CAST($c AS VARCHAR)) IS NOT DISTINCT FROM
            |     max(CAST($c AS VARCHAR)) FROM base)""".stripMargin
      }
      s"""WITH base AS (SELECT c_custkey AS k, c_name,
         |   c_name AS name_copy, 'x' AS const_col, c_mktsegment
         |  FROM customer),
         |cols(column_name, dig, is_constant) AS (
         | SELECT 'c_name',
         |${branch("c_name")}
         | UNION ALL SELECT 'name_copy',
         |${branch("name_copy")}
         | UNION ALL SELECT 'const_col',
         |${branch("const_col")}
         | UNION ALL SELECT 'c_mktsegment',
         |${branch("c_mktsegment")}),
         |m AS (SELECT dig, min(column_name) AS first FROM cols GROUP BY 1)
         |SELECT c.column_name, c.is_constant,
         | CASE WHEN m.first = c.column_name THEN NULL ELSE m.first END
         |   AS duplicate_of
         |FROM cols c JOIN m ON c.dig = m.dig
         |ORDER BY column_name""".stripMargin
    },

    "chk_kanon" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(count(*) FILTER (n < 5) AS BIGINT) AS n_risky_groups,
        | CAST(coalesce(sum(n) FILTER (n < 5), 0) AS BIGINT) AS n_risky_rows,
        | coalesce(sum(n) FILTER (n < 5), 0) = 0 AS k_anonymous
        |FROM g""".stripMargin,

    "chk_schema_evolution" ->
      """SELECT 'v1' AS __batch, CAST(count(*) AS BIGINT) AS n,
        | CAST(0 AS BIGINT) AS n_null_acctbal,
        | CAST(count(*) AS BIGINT) AS n_null_mktseg
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT 'v2', CAST(count(*) AS BIGINT),
        | CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
        |FROM customer WHERE c_custkey % 2 != 0
        |ORDER BY __batch""".stripMargin,

    // the events props blob is '{"k": <int>}' by generation; the oracle
    // extracts the scalar with a regex and applies the same type
    // classifiers — value-equal to the engine's parse+explode path
    "chk_json_profile" ->
      """WITH e AS (SELECT props,
        |  regexp_extract(props, '"k":\s*(.+)}', 1) AS v
        | FROM events WHERE props IS NOT NULL)
        |SELECT 'k' AS key, CAST(count(*) AS BIGINT) AS n_present,
        | round(CAST(count(*) AS DOUBLE) /
        |   (SELECT count(*) FROM events), 6) AS coverage,
        | CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        | CAST(count(*) FILTER (regexp_matches(v, '^-?[0-9]+$')) AS BIGINT)
        |   AS n_int,
        | CAST(count(*) FILTER (regexp_matches(v,
        |   '^-?[0-9]*\.[0-9]+([eE][+-]?[0-9]+)?$')) AS BIGINT) AS n_float,
        | CAST(count(*) FILTER (v IN ('true','false')) AS BIGINT) AS n_bool,
        | CAST(0 AS BIGINT) AS n_null,
        | CAST(count(*) FILTER (regexp_matches(v, '^[\[{]')) AS BIGINT)
        |   AS n_nested,
        | CAST(count(*) FILTER (NOT regexp_matches(v, '^-?[0-9]+$')
        |   AND NOT regexp_matches(v, '^-?[0-9]*\.[0-9]+([eE][+-]?[0-9]+)?$')
        |   AND v NOT IN ('true','false')
        |   AND NOT regexp_matches(v, '^[\[{]')) AS BIGINT) AS n_string,
        | CAST(count(*) FILTER (NOT regexp_matches(props,
        |   '^\{"k": -?[0-9]+\}$')) AS BIGINT) AS n_unparseable
        |FROM e""".stripMargin,

    "chk_tcloseness" ->
      """WITH cell AS (SELECT c_nationkey AS q,
        |    coalesce(CAST(c_mktsegment AS VARCHAR), '__tc_null__') AS s,
        |    count(*) AS ncs FROM customer GROUP BY q, s),
        |cls AS (SELECT q, sum(ncs) AS nc FROM cell GROUP BY q),
        |gm AS (SELECT s, sum(ncs) AS ns FROM cell GROUP BY s),
        |tot AS (SELECT CAST(sum(ncs) AS DOUBLE) AS n FROM cell),
        |pc AS (SELECT q, max(nc) AS sz,
        |    sum(abs(CAST(ncs AS DOUBLE) / nc - CAST(ns AS DOUBLE) / n))
        |      AS pres,
        |    sum(CAST(ns AS DOUBLE) / n) AS cov
        |  FROM cell JOIN cls USING (q) JOIN gm USING (s) CROSS JOIN tot
        |  GROUP BY q),
        |tv AS (SELECT sz,
        |    round((pres + CAST(1 AS DOUBLE) - cov) / CAST(2 AS DOUBLE), 6)
        |      AS tvd FROM pc)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        | round(max(tvd), 6) AS max_tvd,
        | CAST(count(*) FILTER (tvd > 0.2) AS BIGINT) AS n_violations,
        | CAST(coalesce(sum(sz) FILTER (tvd > 0.2), 0) AS BIGINT)
        |   AS n_exposed_rows,
        | count(*) FILTER (tvd > 0.2) = 0 AS t_close
        |FROM tv""".stripMargin,

    "chk_fingerprint" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         | ${duckFingerprint(Seq("l_orderkey", "l_partkey", "l_suppkey",
                "l_linenumber", "l_returnflag", "l_linestatus"))}
         |  AS fingerprint
         |FROM lineitem""".stripMargin,

    "chk_schema" ->
      """WITH actual AS (SELECT column_name AS name,
        |   CASE lower(column_type) WHEN 'varchar' THEN 'string'
        |        ELSE lower(column_type) END AS at
        |  FROM (DESCRIBE events)),
        |exp(name, et) AS (VALUES ('event_id', 'bigint'), ('ts', 'timestamp'),
        |  ('user_id', 'int'), ('event_type', 'string'), ('value', 'double'),
        |  ('extra_col', 'int'))
        |SELECT coalesce(e.name, a.name) AS column_name,
        | e.et AS expected_type, a.at AS actual_type,
        | CASE WHEN e.name IS NULL THEN 'unexpected'
        |      WHEN a.name IS NULL THEN 'missing'
        |      WHEN e.et = a.at THEN 'ok'
        |      ELSE 'type_mismatch' END AS status
        |FROM exp e FULL OUTER JOIN actual a ON e.name = a.name
        |ORDER BY column_name""".stripMargin,

    "chk_refint" ->
      """WITH par AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |             WHERE o_orderkey % 13 <> 0),
        |ck AS (SELECT l_orderkey AS k FROM lineitem),
        |ok AS (SELECT DISTINCT k FROM ck
        |       WHERE k NOT IN (SELECT k FROM par))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ck) AS n_child,
        | (SELECT CAST(count(*) AS BIGINT) FROM ck
        |  WHERE k IN (SELECT k FROM ok)) AS n_orphan_rows,
        | (SELECT CAST(count(*) AS BIGINT) FROM ok) AS n_orphan_keys,
        | (SELECT count(*) FROM ck WHERE k IN (SELECT k FROM ok)) = 0
        |   AS ref_ok""".stripMargin,

    "chk_freshness" ->
      """SELECT CAST(max(epoch_us(ts)//1000000) AS BIGINT) AS newest_epoch,
        | CAST(1706745600 - max(epoch_us(ts)//1000000) AS BIGINT) AS lag_sec,
        | CAST(sum(CASE WHEN epoch_us(ts)//1000000 > 1706745600 - 3600
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
        | max(epoch_us(ts)//1000000) IS NOT NULL AND
        |   1706745600 - max(epoch_us(ts)//1000000) <= 604800 AS fresh_ok
        |FROM events""".stripMargin,

    "chk_gaps" ->
      """WITH bk AS (SELECT (epoch_us(ts)//1000000 // 3600) * 3600 AS b
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |g AS (SELECT b, lag(b) OVER (ORDER BY b) AS prev FROM bk),
        |gaps AS (SELECT CAST((b - prev)/3600 - 1 AS BIGINT) AS n_missing,
        |          CAST(prev + 3600 AS BIGINT) AS gap_start
        |         FROM g WHERE prev IS NOT NULL AND b - prev > 3600)
        |SELECT CAST(count(*) AS BIGINT) AS n_gaps,
        | coalesce(CAST(sum(n_missing) AS BIGINT), 0) AS total_missing,
        | coalesce(CAST(max(n_missing) AS BIGINT), 0) AS longest_gap,
        | coalesce(CAST(min(gap_start) AS BIGINT), 0) AS first_gap_epoch
        |FROM gaps""".stripMargin,

    "chk_profile" ->
      """SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_exact,
        | true AS distinct_ok,
        | round(CAST(min(event_id) AS DOUBLE), 4) AS min_num,
        | round(CAST(max(event_id) AS DOUBLE), 4) AS max_num,
        | CAST(NULL AS INT) AS min_len, CAST(NULL AS INT) AS max_len
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(user_id) AS BIGINT),
        | CAST(count(DISTINCT user_id) AS BIGINT), true,
        | round(CAST(min(user_id) AS DOUBLE), 4),
        | round(CAST(max(user_id) AS DOUBLE), 4),
        | CAST(NULL AS INT), CAST(NULL AS INT)
        |FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(event_type) AS BIGINT),
        | CAST(count(DISTINCT event_type) AS BIGINT), true,
        | CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        | CAST(min(length(event_type)) AS INT),
        | CAST(max(length(event_type)) AS INT)
        |FROM events
        |UNION ALL
        |SELECT 'value', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(value) AS BIGINT),
        | CAST(count(DISTINCT value) AS BIGINT), true,
        | round(CAST(min(value) AS DOUBLE), 4),
        | round(CAST(max(value) AS DOUBLE), 4),
        | CAST(NULL AS INT), CAST(NULL AS INT)
        |FROM events
        |UNION ALL
        |SELECT 'props', CAST(count(*) AS BIGINT),
        | CAST(count(*) - count(props) AS BIGINT),
        | CAST(count(DISTINCT props) AS BIGINT), true,
        | CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        | CAST(min(length(props)) AS INT),
        | CAST(max(length(props)) AS INT)
        |FROM events
        |ORDER BY "column"""".stripMargin,

    // CASE guard on mx = mn mirrors Runner.secondPassCols (binSize == 0 →
    // everything in bin 0) — without it a constant column would divide by
    // zero here while the Spark side reports bin 0.
    "chk_colstats" ->
      """WITH fp AS (SELECT count(l_quantity) AS cnt, avg(l_quantity) AS mean,
        |  min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem),
        |b AS (SELECT l_quantity, fp.cnt, fp.mean, fp.mn, fp.mx,
        |  CASE WHEN fp.mx = fp.mn THEN 0
        |       ELSE least(9, CAST(floor((l_quantity - fp.mn) / ((fp.mx - fp.mn) / 10)) AS BIGINT)) END AS bin
        | FROM lineitem, fp)
        |SELECT CAST(cnt AS BIGINT) AS cnt, round(mean, 6) AS mean,
        | mn, mx,
        | round(sqrt(sum((l_quantity - mean) * (l_quantity - mean)) / greatest(cnt - 1, 1)), 6) AS stddev,
        | CAST(count(*) FILTER (WHERE bin = 0) AS BIGINT) AS b0,
        | CAST(count(*) FILTER (WHERE bin = 1) AS BIGINT) AS b1,
        | CAST(count(*) FILTER (WHERE bin = 2) AS BIGINT) AS b2,
        | CAST(count(*) FILTER (WHERE bin = 3) AS BIGINT) AS b3,
        | CAST(count(*) FILTER (WHERE bin = 4) AS BIGINT) AS b4,
        | CAST(count(*) FILTER (WHERE bin = 5) AS BIGINT) AS b5,
        | CAST(count(*) FILTER (WHERE bin = 6) AS BIGINT) AS b6,
        | CAST(count(*) FILTER (WHERE bin = 7) AS BIGINT) AS b7,
        | CAST(count(*) FILTER (WHERE bin = 8) AS BIGINT) AS b8,
        | CAST(count(*) FILTER (WHERE bin = 9) AS BIGINT) AS b9
        |FROM b
        |GROUP BY cnt, mean, mn, mx""".stripMargin,

    "chk_detail" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal < 0 ORDER BY c_custkey LIMIT 20""".stripMargin,

    "chk_tsrange" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
        |   OR ts >= TIMESTAMP '2024-01-20 00:00:00') AS BIGINT) AS tsrange_errs,
        | count(*) FILTER (WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
        |   OR ts >= TIMESTAMP '2024-01-20 00:00:00')
        |   > CAST(floor(50 * (count(*) / 100.0)) AS BIGINT) AS tsrange_failed
        |FROM events""".stripMargin,

    // oracles read the parquet view of the same table the fixture was
    // written from — proving the orc / format loaders reproduce the rows
    "chk_orc" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE n_name IS NULL) AS BIGINT) AS null_name_errs,
        | max(n_regionkey) AS max_rk_max,
        | count(*) FILTER (WHERE n_name IS NULL) > 0 AS null_name_failed,
        | count(*) < 5 AS rowcount_failed,
        | max(n_regionkey) != 4.0 AS max_rk_failed
        |FROM nation""".stripMargin,

    "chk_hive" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE s_name IS NULL) AS BIGINT) AS null_name_errs,
        | max(s_nationkey) AS max_nk_max,
        | count(*) FILTER (WHERE s_name IS NULL) > 0 AS null_name_failed,
        | count(*) < 1 AS rowcount_failed,
        | max(s_nationkey) != 24.0 AS max_nk_failed
        |FROM supplier""".stripMargin,

    "chk_csv" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE p_name IS NULL) AS BIGINT) AS null_name_errs,
        | max(p_retailprice) AS max_price_max,
        | count(*) FILTER (WHERE p_name IS NULL) > 0 AS null_name_failed,
        | count(*) < 1 AS rowcount_failed,
        | max(p_retailprice) != 2000.0 AS max_price_failed
        |FROM part""".stripMargin,

    "chk_format" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE r_name IS NULL) AS BIGINT) AS null_name_errs,
        | max(r_regionkey) AS max_rk_max,
        | count(*) FILTER (WHERE r_name IS NULL) > 0 AS null_name_failed,
        | count(*) < 5 AS rowcount_failed,
        | max(r_regionkey) != 4.0 AS max_rk_failed
        |FROM region""".stripMargin,

    "chk_json" ->
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        | CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT) AS null_name_errs,
        | max(c_nationkey) AS max_nk_max,
        | count(*) FILTER (WHERE c_name IS NULL) > 0 AS null_name_failed,
        | count(*) < 1 AS rowcount_failed,
        | max(c_nationkey) != 24.0 AS max_nk_failed
        |FROM customer""".stripMargin,

    // The corruption RULE predicts the split: every 10th line truncated
    // mid-string can never parse, the rest parse exactly.
    "chk_badrecords" ->
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id < 200) AS n_rows,
        | (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id < 200 AND doc_id % 10 = 0) AS n_corrupt,
        | (SELECT CAST(sum(length(text)) AS BIGINT) FROM documents
        |   WHERE doc_id < 200 AND doc_id % 10 != 0) AS good_chars""".stripMargin,

    "chk_fd" ->
      """WITH f1 AS (SELECT count(DISTINCT coalesce(CAST(o_orderpriority AS VARCHAR),
        |         '__fd_null__')) AS nd
        |       FROM orders GROUP BY o_orderkey),
        |f2 AS (SELECT count(DISTINCT coalesce(CAST(l_returnflag AS VARCHAR),
        |        '__fd_null__')) AS nd
        |       FROM lineitem GROUP BY l_orderkey),
        |v1 AS (SELECT 'orderkey_to_priority' AS fd,
        |        CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating_keys,
        |        CAST(max(nd) AS BIGINT) AS max_distinct_dependent,
        |        round(count(*) FILTER (WHERE nd > 1) / CAST(count(*) AS DOUBLE), 6)
        |          AS violation_rate,
        |        count(*) FILTER (WHERE nd > 1) = 0 AS holds FROM f1),
        |v2 AS (SELECT 'orderkey_to_returnflag' AS fd,
        |        CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating_keys,
        |        CAST(max(nd) AS BIGINT) AS max_distinct_dependent,
        |        round(count(*) FILTER (WHERE nd > 1) / CAST(count(*) AS DOUBLE), 6)
        |          AS violation_rate,
        |        count(*) FILTER (WHERE nd > 1) = 0 AS holds FROM f2)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2 ORDER BY fd""".stripMargin,

    "chk_badrecords_csv" ->
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id < 200)
        |   AS n_rows,
        | (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id < 200 AND doc_id % 7 = 0) AS n_corrupt,
        | (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |   WHERE doc_id < 200 AND doc_id % 7 != 0) AS good_chars""".stripMargin,

    "chk_freeze_manifest" ->
      s"""SELECT 'customer' AS table_name,
         | CAST(count(*) AS BIGINT) AS n_rows,
         | ${duckFingerprint(Seq("c_custkey", "c_name"))} AS fingerprint
         |FROM customer
         |UNION ALL
         |SELECT 'nation', CAST(count(*) AS BIGINT),
         | ${duckFingerprint(Seq("n_nationkey", "n_name"))}
         |FROM nation
         |UNION ALL
         |SELECT 'region', CAST(count(*) AS BIGINT),
         | ${duckFingerprint(Seq("r_regionkey", "r_name"))}
         |FROM region
         |ORDER BY table_name""".stripMargin,

    "chk_roundtrip" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         | ${duckFingerprint(Seq("p_partkey", "p_name", "p_brand",
                "p_type", "p_size"))}
         |  AS fingerprint,
         | true AS roundtrip_ok
         |FROM part""".stripMargin,

    "chk_dup_rows" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
        | (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT * FROM lineitem))
        |   AS n_distinct,
        | (SELECT count(*) FROM lineitem)
        |   - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem))
        |   AS n_dup_rows,
        | (SELECT count(*) FROM lineitem)
        |   = (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem))
        |   AS no_full_dups""".stripMargin,

    "chk_mean_shift" ->
      """WITH s AS (SELECT l_orderkey % 2 = 0 AS a, l_quantity, l_extendedprice,
        |        l_discount, l_tax FROM lineitem),
        |m AS (
        | SELECT 'l_quantity' AS col_name, avg(l_quantity) FILTER (WHERE a) AS ma,
        |  avg(l_quantity) FILTER (WHERE NOT a) AS mb,
        |  var_samp(l_quantity) FILTER (WHERE a) AS va,
        |  var_samp(l_quantity) FILTER (WHERE NOT a) AS vb,
        |  count(*) FILTER (WHERE a) AS na, count(*) FILTER (WHERE NOT a) AS nb
        | FROM s
        | UNION ALL SELECT 'l_extendedprice', avg(l_extendedprice) FILTER (WHERE a),
        |  avg(l_extendedprice) FILTER (WHERE NOT a),
        |  var_samp(l_extendedprice) FILTER (WHERE a),
        |  var_samp(l_extendedprice) FILTER (WHERE NOT a),
        |  count(*) FILTER (WHERE a), count(*) FILTER (WHERE NOT a) FROM s
        | UNION ALL SELECT 'l_discount', avg(l_discount) FILTER (WHERE a),
        |  avg(l_discount) FILTER (WHERE NOT a),
        |  var_samp(l_discount) FILTER (WHERE a),
        |  var_samp(l_discount) FILTER (WHERE NOT a),
        |  count(*) FILTER (WHERE a), count(*) FILTER (WHERE NOT a) FROM s
        | UNION ALL SELECT 'l_tax', avg(l_tax) FILTER (WHERE a),
        |  avg(l_tax) FILTER (WHERE NOT a),
        |  var_samp(l_tax) FILTER (WHERE a),
        |  var_samp(l_tax) FILTER (WHERE NOT a),
        |  count(*) FILTER (WHERE a), count(*) FILTER (WHERE NOT a) FROM s)
        |SELECT col_name AS column, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        | round((ma - mb) / sqrt(va/na + vb/nb), 6) AS welch_z
        |FROM m ORDER BY col_name""".stripMargin,

    "chk_whitespace" ->
      """WITH a AS (
        | SELECT 'documents.text' AS field, text AS v FROM documents
        |  WHERE text IS NOT NULL
        | UNION ALL SELECT 'customer.c_name', c_name FROM customer
        |  WHERE c_name IS NOT NULL
        | UNION ALL SELECT 'part.p_name', p_name FROM part
        |  WHERE p_name IS NOT NULL)
        |SELECT field, CAST(count(*) AS BIGINT) AS n_values,
        | CAST(count(*) FILTER (WHERE regexp_matches(v, '^\s')) AS BIGINT)
        |   AS n_leading,
        | CAST(count(*) FILTER (WHERE regexp_matches(v, '\s$')) AS BIGINT)
        |   AS n_trailing,
        | CAST(count(*) FILTER (WHERE contains(v, '  ')) AS BIGINT)
        |   AS n_double_space,
        | CAST(count(*) FILTER (WHERE regexp_matches(v, '[\t\n]')) AS BIGINT)
        |   AS n_tab_newline
        |FROM a GROUP BY field ORDER BY field""".stripMargin,

    "chk_domain" ->
      """SELECT event_type AS value, CAST(count(*) AS BIGINT) AS n,
        | event_type IN ('view', 'click', 'purchase', 'signup') AS allowed
        |FROM events GROUP BY 1 ORDER BY value""".stripMargin,

    "chk_casing" ->
      """WITH toks AS (
        | SELECT 'p_name' AS field,
        |  unnest(string_split_regex(trim(p_name), '\s+')) AS tok FROM part
        | UNION ALL SELECT 'p_type',
        |  unnest(string_split_regex(trim(p_type), '\s+')) FROM part
        | UNION ALL SELECT 'p_brand',
        |  unnest(string_split_regex(trim(p_brand), '\s+')) FROM part),
        |f AS (SELECT field, tok FROM toks WHERE tok != '')
        |SELECT field, CAST(count(*) AS BIGINT) AS n_tokens,
        | round(avg(CASE WHEN regexp_matches(tok, '^[^a-z]*$')
        |   AND regexp_matches(tok, '[A-Z]') THEN 1.0 ELSE 0.0 END), 6)
        |   AS upper_share,
        | round(avg(CASE WHEN regexp_matches(tok, '^[A-Z][a-z]')
        |   THEN 1.0 ELSE 0.0 END), 6) AS title_share,
        | round(avg(CASE WHEN regexp_matches(tok, '^[^A-Z]*$')
        |   AND regexp_matches(tok, '[a-z]') THEN 1.0 ELSE 0.0 END), 6)
        |   AS lower_share
        |FROM f GROUP BY field ORDER BY field""".stripMargin,

    "chk_refint_sweep" ->
      """WITH e(fk, n_child, n_orphan_rows, n_orphan_keys) AS (
        | SELECT 'lineitem_orders', (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)),
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey
        |    NOT IN (SELECT o_orderkey FROM orders))
        | UNION ALL SELECT 'lineitem_part', (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part)),
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem WHERE l_partkey
        |    NOT IN (SELECT p_partkey FROM part))
        | UNION ALL SELECT 'lineitem_supplier', (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier)),
        |  (SELECT count(DISTINCT l_suppkey) FROM lineitem WHERE l_suppkey
        |    NOT IN (SELECT s_suppkey FROM supplier))
        | UNION ALL SELECT 'orders_customer', (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)),
        |  (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_custkey
        |    NOT IN (SELECT c_custkey FROM customer))
        | UNION ALL SELECT 'customer_nation', (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation)),
        |  (SELECT count(DISTINCT c_nationkey) FROM customer WHERE c_nationkey
        |    NOT IN (SELECT n_nationkey FROM nation))
        | UNION ALL SELECT 'nation_region', (SELECT count(*) FROM nation),
        |  (SELECT count(*) FROM nation WHERE n_regionkey NOT IN
        |    (SELECT r_regionkey FROM region)),
        |  (SELECT count(DISTINCT n_regionkey) FROM nation WHERE n_regionkey
        |    NOT IN (SELECT r_regionkey FROM region)))
        |SELECT fk, CAST(n_child AS BIGINT) AS n_child,
        | CAST(n_orphan_rows AS BIGINT) AS n_orphan_rows,
        | CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys,
        | n_orphan_rows = 0 AS ref_ok
        |FROM e ORDER BY fk""".stripMargin,

    "chk_fanout" ->
      """WITH k AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
        |           FROM lineitem GROUP BY 1)
        |SELECT c AS lines_per_order, CAST(count(*) AS BIGINT) AS n_orders
        |FROM k GROUP BY 1 ORDER BY lines_per_order""".stripMargin,

    "chk_sequence" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |        CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |        min(o_orderkey) AS min_id, max(o_orderkey) AS max_id
        |       FROM orders)
        |SELECT n_rows, n_distinct, min_id, max_id,
        | max_id - min_id + 1 - n_distinct AS n_missing,
        | n_rows - n_distinct AS n_duplicated,
        | max_id - min_id + 1 = n_distinct AND n_rows = n_distinct AS dense
        |FROM a""".stripMargin,

    "chk_partition_plan" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(68 + coalesce(strlen(l_returnflag), 0)
        |    + coalesce(strlen(l_linestatus), 0)) AS BIGINT) AS est_bytes
        | FROM lineitem)
        |SELECT n_rows, est_bytes,
        | round(est_bytes*1.0/n_rows, 2) AS avg_row_bytes,
        | greatest(32, CAST(ceil(est_bytes/16777216.0) AS BIGINT))
        |   AS recommended_partitions,
        | CAST(ceil(n_rows*1.0/greatest(32,
        |   CAST(ceil(est_bytes/16777216.0) AS BIGINT))) AS BIGINT)
        |   AS rows_per_partition
        |FROM a""".stripMargin,

    "chk_ldiv" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |        CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(DISTINCT floor(c_acctbal/1000)) AS BIGINT) AS d
        |       FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | min(d) AS min_diversity,
        | CAST(count(*) FILTER (WHERE d < 3) AS BIGINT) AS n_weak_groups,
        | CAST(coalesce(sum(n) FILTER (WHERE d < 3), 0) AS BIGINT) AS n_weak_rows,
        | coalesce(sum(n) FILTER (WHERE d < 3), 0) = 0 AS l_diverse
        |FROM g""".stripMargin,
  )
}
