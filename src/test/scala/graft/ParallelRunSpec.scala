package graft

import graft.config.ConfigParser
import graft.exec.{Parallel, Runner}
import graft.report.JsonReport
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** `Main.run` opens each table's source once, runs the tables at once,
  * and inside a table runs the uniqueCheck passes beside the scan passes.
  * A listener on a 3-table config checks what that may not change: the
  * jobs (one schema inference per table, otherwise the sequential run's),
  * the report, the caller's local properties on every job, and the
  * failure a caller sees. */
class ParallelRunSpec extends SparkSuite {

  private val Tag = "graft.spec.caller"

  /** name of the first stage of each job started, and its caller tag */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(String, Option[String])]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add((e.stageInfos.headOption.fold("")(_.name),
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))))
  }

  /** Runs `f` with the calling thread's jobs tagged `tag`; returns its
    * result and every job started meanwhile. */
  private def logged[T](tag: String)(f: => T): (T, Seq[(String, Option[String])]) = {
    val sc = spark.sparkContext
    ListenerBusAccess.drain(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = f
      ListenerBusAccess.drain(sc)
      (r, log.jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(log)
    }
  }

  private def poolThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-parallel-")).toSet

  private def writeConfig(tables: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_par").toFile
    val cfg = new java.io.File(dir, "conf.yaml")
    java.nio.file.Files.writeString(cfg.toPath,
      s"""numKeyCols: 2
         |numErrorsToReport: 1000
         |detailedErrors: true
         |tables:
         |$tables""".stripMargin)
    cfg.getPath
  }

  private val threeTables = writeConfig(
    s"""  - parquetFile: $sf0001/customer.parquet
       |    keyColumns: [c_custkey]
       |    checks:
       |      - { type: rowCount, minNumRows: 1 }
       |      - { type: negativeCheck, column: c_acctbal }
       |      - { type: nullCheck, column: c_name }
       |  - parquetFile: $sf0001/orders.parquet
       |    checks:
       |      - { type: colstats, column: o_totalprice }
       |      - { type: uniqueCheck, columns: [o_orderkey] }
       |      - { type: uniqueCheck, columns: [o_custkey] }
       |  - parquetFile: $sf0001/lineitem.parquet
       |    condition: "l_quantity <= 50"
       |    checks:
       |      - { type: rowCount, minNumRows: 100 }
       |      - { type: stringRegexCheck, column: l_returnflag, regex: "^[AR]$$" }
       |      - { type: uniqueCheck, columns: [l_orderkey, l_linenumber] }
       |""".stripMargin)

  private def normalized(report: String): String =
    report.replaceAll("\"durationNs\":\\d+", "\"durationNs\":0")

  test("Main.run: one schema inference per table, the sequential run's jobs and report") {
    val cfg = ConfigParser.parseFile(threeTables, Map.empty, Some(spark))
      .fold(e => fail(e.mkString("; ")), identity)
    val tables = cfg.tables.map(_.toTableSpec)
    val (sequential, seqJobs) = logged("sequential") {
      tables.map(t => Runner.run(spark, t, cfg.detailedErrors, cfg.numErrorsToReport, cfg.numKeyCols))
    }
    val ((fatal, validatorFail, report), jobs) = logged("main") {
      Main.run(spark, Main.Cli(config = threeTables))
    }
    assert(!fatal)
    assert(validatorFail) // c_acctbal has negatives, o_custkey repeats

    val inference = jobs.count(_._1.startsWith("parquet at"))
    assert(inference == tables.size, jobs.map(_._1).mkString("; "))
    assert(seqJobs.count(_._1.startsWith("parquet at")) == tables.size)
    // configCheck used to open every source a second time
    assert(jobs.size == seqJobs.size, s"Main.run ${jobs.map(_._1)} vs sequential ${seqJobs.map(_._1)}")

    // the report is the sequential run's, plus each table's configCheck timer
    val withTimer = sequential.map(r => r.copy(timings = r.timings + ("configCheck" -> 0L)))
    val expected = JsonReport.fullReport(withTimer, cfg.numKeyCols, cfg.numErrorsToReport,
      cfg.detailedErrors, cfg.resolvedVars, master = spark.sparkContext.master)
    assert(normalized(report.getOrElse(fail("no report"))) == normalized(expected))
    val timers = "\"type\":\"timer\",\"label\":\"configCheck\"".r.findAllIn(report.get).size
    assert(timers == tables.size)
  }

  test("a caller's local property reaches every job of Main.run, pool threads included") {
    val ((fatal, _, _), jobs) = logged("caller-x") {
      Main.run(spark, Main.Cli(config = threeTables))
    }
    assert(!fatal)
    // 3 schema inferences + 3 quick passes + 4 uniqueChecks at the least
    assert(jobs.size >= 10)
    assert(jobs.forall(_._2.contains("caller-x")),
      jobs.filterNot(_._2.contains("caller-x")).map(_._1).mkString("untagged: ", "; ", ""))
  }

  test("a failing table: the first failure in config order, after every table finished") {
    val failing = writeConfig(
      s"""  - parquetFile: $sf0001/customer.parquet
         |    checks: [{ type: rowCount, minNumRows: 1 }]
         |  - parquetFile: $sf0001/orders.parquet
         |    condition: "assert_true(o_orderkey < 0, 'boom-second') IS NULL"
         |    checks: [{ type: rowCount, minNumRows: 1 }]
         |  - parquetFile: $sf0001/nation.parquet
         |    condition: "assert_true(n_nationkey < 0, 'boom-third') IS NULL"
         |    checks: [{ type: rowCount, minNumRows: 1 }]
         |""".stripMargin)
    val before = poolThreads()
    val e = intercept[Exception](Main.run(spark, Main.Cli(config = failing)))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(e.getMessage.contains("boom-second"), e.getMessage)
    assert(!e.getMessage.contains("boom-third"), e.getMessage)
    assert(poolThreads() -- before == Set.empty)
  }

  test("Parallel.map: item order, every item runs, first failure rethrown as thrown") {
    val ran = new AtomicInteger()
    val before = poolThreads()
    val second = new IllegalStateException("second")
    val e = intercept[IllegalStateException] {
      Parallel.map(spark, 0 until 6) { i =>
        if (i == 1) { Thread.sleep(200); ran.incrementAndGet(); throw second }
        if (i == 4) { ran.incrementAndGet(); throw new IllegalStateException("fifth") }
        ran.incrementAndGet(); i
      }
    }
    assert(e eq second)
    assert(ran.get == 6)
    assert(Parallel.map(spark, (0 until 9).reverse)(i => { Thread.sleep(i * 5L); i * 2 }) ==
      (0 until 9).reverse.map(_ * 2))
    assert(poolThreads() -- before == Set.empty)
  }
}
