package graft

import org.apache.spark.{AccumulatorAccess, ListenerBusAccess}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The operator package returns plans that Spark recomputes from lineage
  * and leaves the caller's session as it found it: no block-store copy
  * of a result, no session-wide conf write, no job run merely to decide
  * a plan's shape. */
class LineagePathSpec extends SparkSuite {

  test("graft.functions holds no localCheckpoint, persist, cache, unpersist or conf write") {
    val banned = """\.localCheckpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(|conf\.set\(""".r
    val files = new File("src/main/scala/graft/functions").listFiles()
      .filter(_.getName.endsWith(".scala"))
    assert(files.length > 10, s"operator sources not found from ${new File(".").getAbsolutePath}")
    val hits = files.sortBy(_.getName).toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("bitext cut: top-k aggregate never falls back to sort, session conf untouched") {
    import spark.implicits._
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(key)
    def vecs(n: Int, salt: Int) = (0 until n).map { i =>
      (i.toLong, (0 until 8).map(j => math.sin(i * 7.0 + j * 3.0 + salt).toFloat))
    }
    // every task of the cut's partial aggregate sees all 300 y ids
    // (role 1) plus its share of the x ids: well over the 128 groups
    // after which ObjectHashAggregate falls back to sort by default
    val xs = vecs(300, 0).toDF("xid", "xv")
    val ys = vecs(300, 1).toDF("yid", "yv")
    val (mined, metrics) = AccumulatorAccess.registeredDuring {
      graft.functions.Similarity.marginBitextPairs(xs, "xid", "xv", ys, "yid", "yv",
        k = 4, minMargin = 0.0, annPairThreshold = 0)
    }
    assert(mined.count() > 0)
    val fallbacks = metrics.filter(_.name.contains("number of sort fallback tasks"))
      .map(_.value.toString.toLong)
    assert(fallbacks.nonEmpty, "the cut's ObjectHashAggregate reported no fallback metric")
    assert(fallbacks.forall(_ == 0L), s"sort-based fallback tasks: $fallbacks")
    assert(spark.conf.getOption(key) == before)
  }

  test("rougeN and chrF over an aggregated input run no job before the first action") {
    import graft.functions.{TextFunctions => TF}
    val words = Seq("the", "cat", "sat", "on", "a", "mat", "dog", "ran")
    val pairs = spark.range(0, 400).select((col("id") % 40).as("id"),
        element_at(typedLit(words), (col("id") % 8 + 1).cast("int")).as("w"))
      .groupBy("id").agg(concat_ws(" ", sort_array(collect_list(col("w")))).as("ref"))
      .select(col("id"), col("ref"), reverse(col("ref")).as("cand"))
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    val (rouge, chrf) =
      try {
        val built = (TF.rougeN(pairs, "id", "cand", "ref"),
          TF.chrF(pairs, "id", "cand", "ref"))
        ListenerBusAccess.drain(sc)
        built
      } finally sc.removeSparkListener(l)
    assert(jobs.isEmpty, s"jobs run while building the plans: ${jobs.asScala.mkString(", ")}")
    assert(rouge.count() == 2 && chrf.count() == 1)
  }
}
