package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

final case class OpRecord(id: Int, name: String, section: String, startNs: Long, endNs: Long,
    error: Option[String], extra: Map[String, Any], storageAfter: Long)

/** One benchmark run in one JVM: set-up (repeated, for a steady median),
  * untimed priming passes whose first runs each of the workload's ops
  * cold, a closed-loop timed section with one client issuing one op at a
  * time, then the untimed work the output checks need. Writes
  * `result.json` into the run directory; `run.py` turns it into metrics.
  *
  * Args: --data --out --seconds --trace, and the op names: --pass (one
  * pass of the timed section, comma-separated) and --foreign (ops run
  * once when traced). */
object Harness {
  val Cores = 4
  val SetupRounds = 3
  /** Priming runs whole passes until at least this many ops have run:
    * five validate ops, after which a run's timed ops take level times,
    * or one board pass. */
  val PrimeOps = 5

  def session(work: String): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (data, out) = (a("data"), a("out"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    def names(k: String): Seq[String] = a(k).split(",").toSeq.filter(_.nonEmpty)
    val pass = names("pass")
    val ops = new Ops(data, out)

    var spark: SparkSession = null
    var ledger: Ledger = null
    val setups = (0 until SetupRounds).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(out)
      spark.sparkContext.setLogLevel("ERROR")
      ledger = Ledger.attach(spark.sparkContext)
      Ledger.tag(spark.sparkContext, Some("warmup"))
      ops.run(spark, Ops.WarmQuery, -1, new Tracer(spark.sparkContext, enabled = false))
      Ledger.tag(spark.sparkContext, None)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val primeStart = System.nanoTime()
    Ledger.tag(sc, Some("prime"))
    val primePasses = (PrimeOps + pass.size - 1) / pass.size
    Seq.fill(primePasses)(pass).flatten.zipWithIndex.foreach { case (name, k) =>
      try ops.run(spark, name, -2 - k, new Tracer(sc, enabled = false))
      catch { case NonFatal(_) => () } // the same op fails again, counted, when timed
    }
    Ledger.tag(sc, None)
    val primeS = (System.nanoTime() - primeStart) / 1e9

    val records = mutable.ArrayBuffer[OpRecord]()
    def runOp(section: String, name: String, tr: Tracer): Unit = {
      val id = records.size
      val t0 = System.nanoTime()
      val (err, extra) =
        try (None, tr.op(id, name)(ops.run(spark, name, id, tr)))
        catch { case NonFatal(e) => (Some(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, Any]) }
      val t1 = System.nanoTime()
      val storage = if (tr.enabled) sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum else 0L
      records += OpRecord(id, name, section, t0, t1, err, extra, storage)
    }
    /** Whole passes over the workload's ops until `secs` have passed and
      * the passes have gone through `cycle` a whole number of times; pass
      * i runs under tracer i mod the cycle's length, and its ops are filed
      * under that tracer's section. */
    def timedSection(secs: Double, cycle: Seq[(String, Tracer)]): Unit = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i % (pass.size * cycle.size) != 0) {
        val (section, tr) = cycle(i / pass.size % cycle.size)
        runOp(section, pass(i % pass.size), tr)
        i += 1
      }
    }

    // The end-to-end section. A traced run instead runs untraced and
    // traced passes in the order untraced, traced, traced, untraced, for
    // at least twice as long, so that a steady JIT warm-up weighs on both
    // alike in the tracing overhead; then it runs each op the workload
    // does not run, once and traced, so that every layer is measured.
    val plain = "plain" -> new Tracer(sc, enabled = false)
    val tracer = new Tracer(sc, enabled = true)
    if (traced) {
      val withTrace = "traced" -> tracer
      timedSection(2 * seconds, Seq(plain, withTrace, withTrace, plain))
      names("foreign").foreach(runOp("foreign", _, tracer))
    } else timedSection(seconds, Seq(plain))

    // the context cleaner frees shuffle and broadcast blocks only after a
    // GC has cleared their weak references, so collect, wait, collect
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val groups = ledger.snapshot(sc)
    val finish = ops.finish(spark, records.toSeq)
    spark.stop()

    val result = Map(
      "entry_ms" -> entryMs,
      "setup_rounds_s" -> setups,
      "prime_s" -> primeS,
      "cores" -> Cores,
      "ops_per_pass" -> pass.size,
      "ops" -> records.map(o => Map(
        "id" -> o.id, "name" -> o.name, "section" -> o.section,
        "start_ns" -> o.startNs, "end_ns" -> o.endNs, "error" -> o.error,
        "extra" -> o.extra, "storage_after" -> o.storageAfter)),
      "spans" -> tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> (if (s.parent < 0) None else Some(s.parent)), "op" -> s.op,
        "name" -> s.name, "start" -> s.startNs, "end" -> s.endNs)),
      "groups" -> groups,
      "retained_heap_mb" -> heapMb,
      "finish" -> finish)
    Files.write(Paths.get(s"$out/result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
  }
}
