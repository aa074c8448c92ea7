package graft

import java.sql.Timestamp

import graft.model.{MinNumRows, NegativeCheck}
import graft.streaming.Streams
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming operators driven through MemoryStream: windowed /
  * session aggregation with watermarks, streaming dedup, custom state via
  * mapGroupsWithState, and the per-micro-batch check monitor. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowedCounts: tumbling event-time windows close as the watermark passes") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val out = Streams.windowedCounts(
      input.toDF().toDF("ts", "user"), "ts", "5 minutes", "1 minute", col("user"))
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(0), "a"), (ts(1), "a"), (ts(2), "b"))
      q.processAllAvailable()
      input.addData((ts(20), "a")) // advances max event time
      q.processAllAvailable()
      input.addData((ts(30), "a")) // watermark now past the first window
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("user", "n").as[(String, Long)].collect().toSet
      assert(rows.contains(("a", 2L)) && rows.contains(("b", 1L)),
        s"unexpected closed windows: $rows")
    } finally q.stop()
  }

  test("sessionCounts: rows within the gap merge into one session") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val out = Streams.sessionCounts(
      input.toDF().toDF("ts", "user"), "ts", "5 minutes", "1 minute", col("user"))
    val q = out.writeStream.format("memory").queryName("sess_counts")
      .outputMode(OutputMode.Append).start()
    try {
      // a: 3 events chained within the gap; b: 1 event
      input.addData((ts(0), "a"), (ts(3), "a"), (ts(6), "a"), (ts(1), "b"))
      q.processAllAvailable()
      input.addData((ts(30), "c"))
      q.processAllAvailable()
      input.addData((ts(45), "c"))
      q.processAllAvailable()
      val rows = spark.table("sess_counts")
        .select("user", "n").as[(String, Long)].collect().toSet
      assert(rows.contains(("a", 3L)) && rows.contains(("b", 1L)),
        s"unexpected sessions: $rows")
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within and across micro-batches") {
    val input = MemoryStream[(Timestamp, Long)](spark)
    val out = Streams.dedupStream(input.toDF().toDF("ts", "id"), "ts", "10 minutes", "id")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(0), 1L), (ts(0), 1L), (ts(1), 2L))
      q.processAllAvailable()
      input.addData((ts(0), 1L), (ts(2), 3L)) // cross-batch duplicate of id 1
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L), s"dedup produced: $ids")
    } finally q.stop()
  }

  test("anomalyMonitor: expanding history, current row excluded, state spans batches") {
    val input = MemoryStream[(String, Long, Double)](spark)
    val out = Streams.anomalyMonitor(input.toDS(), k = 3.0)
    val q = out.writeStream.format("memory").queryName("anomaly_mon")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: stable history for key a (out of id order — the monitor sorts)
      input.addData(("a", 2L, 10.1), ("a", 1L, 10.0), ("a", 3L, 9.9), ("a", 4L, 10.0))
      q.processAllAvailable()
      // batch 2: a spike — scored against batch-1 history carried in state
      input.addData(("a", 5L, 50.0), ("a", 6L, 10.0))
      q.processAllAvailable()
      val rows = spark.table("anomaly_mon").collect()
        .map(r => r.getLong(1) -> (Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getBoolean(4))).toMap
      // first two events have <2 history samples: unscored, never flagged
      assert(rows(1L) == ((None, false)) && rows(2L) == ((None, false)))
      // the spike is a clear anomaly vs the pre-spike history
      assert(rows(5L)._2, s"spike must flag: ${rows(5L)}")
      assert(rows(5L)._1.get > 3.0)
      // event AFTER the spike scores against history that now includes it
      // (expanding, not trailing): no longer anomalous
      assert(!rows(6L)._2)
      // hand-check z of event 3: history (10.0, 10.1) -> mean 10.05,
      // sd of 2 samples ~ 0.0707; z = (9.9-10.05)/0.0707 ~ -2.12
      assert(math.abs(rows(3L)._1.get - -2.121320) < 1e-5, s"z3 ${rows(3L)._1}")
    } finally q.stop()
  }

  test("runningKeyStats keeps per-key state across micro-batches") {
    val input = MemoryStream[(String, Double)](spark)
    val out = Streams.runningKeyStats(input.toDS())
    val q = out.writeStream.format("memory").queryName("key_stats")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      q.processAllAvailable()
      input.addData(("a", 3.0))
      q.processAllAvailable()
      // update mode: take the LAST emitted row per key
      val last = spark.table("key_stats").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(last("a") == ((3L, 6.0)), s"state for a: ${last("a")}")
      assert(last("b") == ((1L, 10.0)))
    } finally q.stop()
  }

  test("stateless curation ops (quality, langId, hashSplit, clean, PII) run unchanged on a stream") {
    import graft.functions.{GraftFunctions, TextFunctions => TF}
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog and runs on"),
      (2L, "srcB", "le chat est sur la table et le chien est dans le jardin"),
      (3L, "srcA", "1234 5678 90 12 34 56"),
      (4L, "srcB", "email me at bob@example.com about  the <b>offer</b> today"))
    // batch reference: the same Column pipeline on a static DataFrame
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.DataPrep.hashSplit(df, col("source"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"),
          round(TF.qualityScore(col("text")), 6).as("q"),
          GraftFunctions.langId(col("text")).as("lang"),
          TF.cleanText(TF.redactPii(col("text"))).as("clean"))
    val batch = curate(docs.toDF("doc_id", "source", "text"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3), r.getString(4))).toMap

    val input = MemoryStream[(Long, String, String)](spark)
    val q = curate(input.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("stream_curate")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs.head)
      q.processAllAvailable()
      input.addData(docs(1), docs(2), docs(3))
      q.processAllAvailable()
      val streamed = spark.table("stream_curate")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3), r.getString(4))).toMap
      // per-row curation is batch/stream-identical — same splits, scores, langs
      assert(streamed == batch, s"stream diverged from batch:\n$streamed\nvs\n$batch")
    } finally q.stop()
  }

  test("checkpoint restart: file-source stream resumes exactly-once, dedup state survives the kill") {
    // the production restart path: a file-source stream with a REAL
    // checkpoint dir is stopped mid-stream and a NEW query resumes from
    // the checkpoint — offsets (no reprocessing), the file-sink metadata
    // log (no duplicate output), and the dedup state store (cross-restart
    // duplicates still dropped) must all survive
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val chk = new java.io.File(root, "chk").getPath
    val out = new java.io.File(root, "out").getPath
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))

    def startQuery() = Streams.dedupStream(
        spark.readStream.schema(schema).parquet(in.getPath), "ts", "2 hours", "id")
      .writeStream.format("parquet")
      .option("checkpointLocation", chk).option("path", out)
      .outputMode(OutputMode.Append).start()

    // run 1: ids 0..99 (id 1 duplicated in-batch)
    ((0 to 99).map(i => (ts(i), i.toLong)) :+ ((ts(1), 1L)))
      .toDF("ts", "id").write.mode("append").parquet(in.getPath)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // the "kill"
    assert(spark.read.parquet(out).count() == 100)

    // run 2: duplicates of (1, ts1) and (95, ts95) — only droppable if the
    // RESTORED state store still holds run-1 keys — plus fresh 100..109
    (Seq((ts(1), 1L), (ts(95), 95L)) ++ (100 to 109).map(i => (ts(i), i.toLong)))
      .toDF("ts", "id").write.mode("append").parquet(in.getPath)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(out).select("id").as[Long].collect().toSeq
    assert(after.size == 110, s"expected 110 rows after restart, got ${after.size}")
    assert(after.distinct.size == 110, "restart emitted duplicate rows")
    assert(after.toSet == ((0 to 109).map(_.toLong).toSet))

    // run 3: nothing new to process — a resume with no input must not
    // re-emit or reprocess anything
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(out).count() == 110)
  }

  private def randText(seed: Int): String =
    new scala.util.Random(seed).alphanumeric.take(200).mkString

  test("nearDupIngestBatch: within-batch collapse, index filtering, idempotent replay") {
    val indexDir = java.nio.file.Files.createTempDirectory("ndidx").toString
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // batch 0: four novel docs + one exact within-batch copy of doc 1
    val b0 = Seq(1L -> randText(1), 2L -> randText(2), 3L -> randText(3),
      4L -> randText(4), 5L -> randText(1)).toDF("doc_id", "text")
    val s0 = Streams.nearDupIngestBatch(b0, 0L, "doc_id", "text", indexDir)
    assert(ids(s0) == Set(1L, 2L, 3L, 4L))
    // batch 1: one novel doc, one near-copy of an INDEXED doc (cross-batch),
    // one exact within-batch copy of the novel doc
    val b1 = Seq(6L -> randText(6), 7L -> (randText(2) + "xyz"),
      8L -> randText(6)).toDF("doc_id", "text")
    val s1 = Streams.nearDupIngestBatch(b1, 1L, "doc_id", "text", indexDir)
    assert(ids(s1) == Set(6L))
    // replay of batch 1 (foreachBatch is at-least-once): same survivors,
    // index partition OVERWRITTEN, not double-appended
    val s1r = Streams.nearDupIngestBatch(b1, 1L, "doc_id", "text", indexDir)
    assert(ids(s1r) == Set(6L))
    val index = spark.read.parquet(s"$indexDir/batch=0", s"$indexDir/batch=1")
    assert(index.count() == 5L, "replay must not grow the index")
    // batch 2: a copy of the batch-1 survivor must now be caught by the index
    val b2 = Seq(9L -> randText(6)).toDF("doc_id", "text")
    val s2 = Streams.nearDupIngestBatch(b2, 2L, "doc_id", "text", indexDir)
    assert(ids(s2).isEmpty)
  }

  test("nearDupIngest: the streaming form admits only novel docs across micro-batches") {
    val indexDir = java.nio.file.Files.createTempDirectory("ndidx_s").toString
    val input = MemoryStream[(Long, String)](spark)
    val survived = scala.collection.mutable.Set.empty[Long]
    val q = Streams.nearDupIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", indexDir) {
        (survivors, _) =>
          survived.synchronized {
            survived ++= survivors.select("doc_id").as[Long].collect()
          }
      }.start()
    try {
      input.addData(1L -> randText(11), 2L -> randText(12), 3L -> randText(11))
      q.processAllAvailable()
      assert(survived.toSet == Set(1L, 2L))
      input.addData(4L -> randText(12), 5L -> randText(15))
      q.processAllAvailable()
      assert(survived.toSet == Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("checkMonitor validates every micro-batch with the fused pass") {
    val input = MemoryStream[(Long, Double)](spark)
    val verdicts = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Long)]()
    val q = Streams.checkMonitor(
      input.toDF().toDF("id", "amount"),
      Seq(MinNumRows(2, "rc"), NegativeCheck("amount", Some("0"), "neg"))) {
      (batchId: Long, row: Row) =>
        verdicts.synchronized {
          verdicts += ((batchId, row.getAs[Boolean]("neg_failed"), row.getAs[Long]("row_cnt")))
        }
    }.start()
    try {
      input.addData((1L, 5.0), (2L, 6.0))
      q.processAllAvailable()
      input.addData((3L, -1.0), (4L, 2.0), (5L, 3.0))
      q.processAllAvailable()
      val byBatch = verdicts.synchronized(verdicts.toList)
      assert(byBatch.length == 2)
      assert(byBatch.head == ((0L, false, 2L)))
      assert(byBatch(1) == ((1L, true, 3L))) // the -1.0 trips negativeCheck
    } finally q.stop()
  }

  test("intervalJoin: cross-batch buffering matches; arrivals behind the watermark drop") {
    val lIn = MemoryStream[(Timestamp, String)](spark)
    val rIn = MemoryStream[(Timestamp, String)](spark)
    val joined = Streams.intervalJoin(
        lIn.toDF().toDF("v_ts", "user"), rIn.toDF().toDF("b_ts", "user"),
        "user", "v_ts", "b_ts", watermark = "10 minutes", within = "30 minutes")
      .select(col("l.user").as("user"), col("v_ts"), col("b_ts"))
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: left arrives alone — buffered, nothing emitted yet
      lIn.addData((ts(0), "a"), (ts(0), "c"))
      q.processAllAvailable()
      assert(spark.table("ivj").count() == 0)
      // batch 2: right arrives later for the same key → the buffered
      // left matches across micro-batches; wrong key ("x") does not
      rIn.addData((ts(5), "a"), (ts(5), "x"))
      q.processAllAvailable()
      val afterB2 = spark.table("ivj").select("user").as[String].collect().toSeq
      assert(afterB2 == Seq("a"), s"got $afterB2")
      // batch 3: push BOTH watermarks far ahead (each side's watermark
      // is min over inputs, so both must advance)...
      lIn.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "zz"))
      rIn.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "zz2"))
      q.processAllAvailable()
      // ...then a right row at 10:20 — inside c's 30-minute window but
      // far behind the 13:50 watermark: dropped, no match emitted
      rIn.addData((ts(20), "c"))
      q.processAllAvailable()
      val users = spark.table("ivj").select("user").as[String].collect().toSeq
      assert(users == Seq("a"), s"late arrival must not match, got $users")
    } finally q.stop()
  }

  test("enrich: stream-static broadcast join, left semantics, stateless across batches") {
    val dim = Seq(("u1", "gold"), ("u2", "basic")).toDF("user", "tier")
    val input = MemoryStream[(String, Double)](spark)
    val out = Streams.enrich(input.toDF().toDF("user", "v"), dim, Seq("user"))
    val q = out.writeStream.format("memory").queryName("enrich_t")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("u1", 1.0), ("u9", 2.0))
      q.processAllAvailable()
      input.addData(("u2", 3.0), ("u1", 4.0)) // second batch joins identically
      q.processAllAvailable()
      val rows = spark.table("enrich_t")
        .collect().map(r => (r.getString(0), r.getDouble(1),
          Option(r.getString(2)).getOrElse("?"))).toSet
      assert(rows == Set(("u1", 1.0, "gold"), ("u9", 2.0, "?"),
        ("u2", 3.0, "basic"), ("u1", 4.0, "gold")),
        s"left enrichment must keep unmatched rows with NULL tier: $rows")
    } finally q.stop()
  }

  test("indexIngest: checkpoint restart resumes the artifact, search spans all batches") {
    import graft.functions.InvertedIndex
    val root = java.nio.file.Files.createTempDirectory("graft_idx_restart").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val chk = new java.io.File(root, "chk").getPath
    val idx = new java.io.File(root, "idx").getPath
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

    def startQuery() = Streams.indexIngest(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(in.getPath),
        "doc_id", "text", idx, buckets = 8)
      .option("checkpointLocation", chk).start()

    // run 1: two arrival files
    Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
      .write.mode("append").parquet(in.getPath)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // the "kill"

    // run 2: one more file AFTER the restart — the resumed query must
    // append a NEW batch partition, never rewrite run-1's
    val before = spark.read.parquet(idx).count()
    Seq((3L, "alpha gamma")).toDF("doc_id", "text")
      .write.mode("append").parquet(in.getPath)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val full = spark.read.parquet(idx)
    assert(full.count() > before, "restart must append, not stall")
    // conjunctive search over the accumulated artifact sees every batch
    def hits(ts: Seq[String]): Set[Long] =
      InvertedIndex.searchAll(InvertedIndex.pruneToTerms(full, ts, 8), ts)
        .collect().map(_.getLong(0)).toSet
    assert(hits(Seq("alpha")) == Set(1L, 3L))
    assert(hits(Seq("beta", "gamma")) == Set(2L))
    assert(hits(Seq("alpha", "gamma")) == Set(3L), "post-restart doc searchable")
    // a resume with no new input must not duplicate index content
    val n2 = full.count()
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(idx).count() == n2, "idle resume rewrote the index")
  }

  test("embeddingDriftMonitor: identical batch scores 0, shifted batch positive") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_edrift").toFile
    val stage = new java.io.File(root, "arrivals"); stage.mkdirs()
    val ref = Seq(Seq(1.0f, 0.0f, 2.0f), Seq(0.0f, 3.0f, 1.0f),
      Seq(2.0f, 2.0f, 2.0f)).toDF("embedding")
    def put(name: String, df: org.apache.spark.sql.DataFrame, at: Long) = {
      val tmp = new java.io.File(root, "__tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(stage, name)
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(at)
    }
    val now = System.currentTimeMillis()
    put("b0.parquet", ref, now - 200000L) // the reference itself
    put("b1.parquet", ref.select(transform(col("embedding"),
      v => v + 40.0f).as("embedding")), now - 100000L) // far shift
    val schema = spark.read.parquet(s"${stage.getPath}/b0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.getPath)
    val out = s"$root/out"
    val q = Streams.embeddingDriftMonitor(stream, ref, "embedding",
        numFeatures = 16) { (df, _) =>
        df.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.read.parquet(out).orderBy("batch_id")
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getDouble(1)))
    assert(rows.length == 2, rows.mkString)
    assert(rows(0) == ((0L, 3L, 0.0)),
      s"the reference batch must score exactly 0: ${rows.mkString}")
    assert(rows(1)._3 > 0.0, s"shifted batch must register: ${rows.mkString}")
  }

  test("distinctMonitorBatch: cumulative HLL union, overlap collapses, replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dmon").toFile.getPath
    def run(lo: Int, hi: Int, id: Long) =
      Streams.distinctMonitorBatch((lo to hi).map(_.toLong).toDF("u"), id,
          col("u"), dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    // lgK=12 is exact at these cardinalities (sparse mode)
    val r0 = run(1, 100, 0L)
    assert(r0 == ((0L, 100L, 100L)), s"$r0")
    // second batch OVERLAPS the first by half: rows add, distincts union
    val r1 = run(51, 150, 1L)
    assert(r1 == ((1L, 200L, 150L)), s"$r1")
    // replay of batch 1 reads the prior state only — identical output
    assert(run(51, 150, 1L) == r1, "replay diverged")
    // and the next batch continues exactly-once
    val r2 = run(151, 200, 2L)
    assert(r2 == ((2L, 250L, 200L)), s"$r2")
  }

  test("sampleMonitorBatch: bottom-k by md5, cumulative, replay-idempotent, batch parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smon").toFile.getPath
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def run(keys: Seq[String], id: Long): Seq[(String, String)] =
      Streams.sampleMonitorBatch(keys.toDF("k"), id, col("k"), dir, k = 3)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq.sorted
    def bottom3(keys: Seq[String]): Seq[(String, String)] =
      keys.distinct.map(k => (k, md5hex(k)))
        .sortBy { case (k, p) => (p, k) }.take(3)
        .map { case (k, p) => (k, p) }.sorted
    // batch 0: bottom-3 of its own distinct keys (duplicate collapsed)
    val b0 = Seq("a", "b", "c", "d", "a")
    assert(run(b0, 0L) == bottom3(b0), "batch 0 sample")
    // batch 1 merges: the final sample is the bottom-3 of EVERYTHING
    val b1 = Seq("e", "f", "g", "b")
    val r1 = run(b1, 1L)
    assert(r1 == bottom3(b0 ++ b1), "cumulative sample")
    // replay of batch 1 reads the prior state only — identical output
    assert(run(b1, 1L) == r1, "replay diverged")
    // stream/batch parity: the same rule as ONE batch gives the same rows
    val dir2 = java.nio.file.Files.createTempDirectory("graft_smon2").toFile.getPath
    val one = Streams.sampleMonitorBatch((b0 ++ b1).toDF("k"), 0L, col("k"),
      dir2, k = 3).collect().map(r => (r.getString(1), r.getString(2))).toSeq.sorted
    assert(one == r1, "stream/batch parity")
  }

  test("quantileMonitorBatch: cumulative merge exact under k, replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qmon").toFile.getPath
    def batch(lo: Int, hi: Int) = (lo to hi).map(_.toDouble).toDF("v")
    def run(df: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.quantileMonitorBatch(df, id, col("v"), dir, Seq(0.5, 0.99))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Double](2))).head
    // 100 points fit the k=200 sketch exactly: inclusive quantiles are
    // the true order statistics
    val r0 = run(batch(1, 100), 0L)
    assert(r0 == ((0L, 100L, Seq(50.0, 99.0))), s"$r0")
    // cumulative: merge of two <=k sketches still exact at n=200
    val r1 = run(batch(101, 200), 1L)
    assert(r1 == ((1L, 200L, Seq(100.0, 198.0))), s"$r1")
    // foreachBatch is at-least-once: a REPLAY of batch 1 must read the
    // prior cumulative state (batch 0 only), not its own half-written
    // blob — identical output, no double counting
    val r1b = run(batch(101, 200), 1L)
    assert(r1b == r1, s"replay diverged: $r1b vs $r1")
    // the next batch continues from the exactly-once state; estimates
    // stay inside the sketch rank band even once compaction kicks in
    val r2 = run(batch(201, 300), 2L)
    assert(r2._2 == 300L, s"$r2")
    val Seq(e50, e99) = r2._3
    assert(math.abs(e50 / 300.0 - 0.5) <= 0.02, s"p50 off: $e50")
    assert(math.abs(e99 / 300.0 - 0.99) <= 0.02, s"p99 off: $e99")
  }

  test("statePartitions: volume-derived, clamped, restores the session conf") {
    // the formula: ceil(rows*bytes / 64MB) clamped to [1, 4096]
    assert(Streams.statePartitions(0L) == 1)
    assert(Streams.statePartitions(100000L) == 1)            // 12.8 MB
    assert(Streams.statePartitions(1000000L, 128L) == 2)     // 128 MB
    assert(Streams.statePartitions(1L << 33, 128L) == 4096)  // 1 TB clamps
    assert(Streams.statePartitions(524288L, 128L) == 1)      // exactly 64 MB
    assert(Streams.statePartitions(524289L, 128L) == 2)      // one byte over
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = Streams.withVolumeSizedState(spark, 100000L) {
      spark.conf.get(key)
    }
    assert(inside == "1", s"conf inside the wrap: $inside")
    assert(spark.conf.get(key) == before, "session conf must be restored")
    intercept[RuntimeException] {
      Streams.withVolumeSizedState(spark, 100000L) { sys.error("boom") }
    }
    assert(spark.conf.get(key) == before, "restored on failure too")
  }

  test("stageCopy: a directory tree replaces whatever the target held") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_stage")
    val src = root.resolve("src")
    Files.createDirectories(src.resolve("sub"))
    Files.writeString(src.resolve("part-0"), "a")
    Files.writeString(src.resolve("sub/part-1"), "b")
    val dst = root.resolve("dst")
    Files.createDirectories(dst)
    Files.writeString(dst.resolve("stale"), "old")
    graft.queries.RelationalQueries.stageCopy(src, dst)
    assert(Files.readString(dst.resolve("part-0")) == "a")
    assert(Files.readString(dst.resolve("sub/part-1")) == "b")
    assert(!Files.exists(dst.resolve("stale")))
    // a single file replaces a staged directory
    graft.queries.RelationalQueries.stageCopy(src.resolve("part-0"), dst)
    assert(Files.isRegularFile(dst) && Files.readString(dst) == "a")
  }

  test("a stream over events written as a dataset directory drains every row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_events").toFile
    spark.read.parquet(s"$sf0001/events.parquet").repartition(3)
      .write.parquet(s"$dir/events.parquet")
    val q = SparkEntry.queries("q_stream_parity")
    def counts(d: String) =
      q(spark, d).select("w_start", "event_type", "n").collect().map(_.toString).toSeq
    val fromFile = counts(sf0001)
    assert(fromFile.nonEmpty)
    assert(counts(dir.getPath) == fromFile)
  }
}
