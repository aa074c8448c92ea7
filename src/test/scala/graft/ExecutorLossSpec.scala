package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor loss between building an operator's result and reading it must
  * not change the answer: each operator's result is a plan that Spark can
  * recompute from lineage. A result that truncates lineage (an eager
  * `localCheckpoint`) keeps its only copy in the executors' block stores,
  * and losing one of them fails the next read with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  *
  * Each case runs [[ExecutorLossMain]] in a JVM of its own on a
  * `local-cluster[2,1,1024]` master (two executor processes), because the
  * other suites share one local SparkContext. The executors load graft
  * from this JVM's classpath; the Spark jars come from `SPARK_HOME`, or
  * from the directory that holds spark-core when it is unset. */
class ExecutorLossSpec extends SparkSuite {

  private def runChild(op: String): Unit = {
    val classPath = System.getProperty("java.class.path")
    val sparkJars = sys.env.get("SPARK_HOME").map(h => new File(h, "jars"))
      .getOrElse(new File(classOf[SparkContext].getProtectionDomain.getCodeSource
        .getLocation.toURI).getParentFile)
    // the workers keep their executor directories under SPARK_HOME/work:
    // point SPARK_HOME at a scratch directory whose jars are Spark's
    val home = Files.createTempDirectory("graft-executor-loss")
    try {
      Files.createSymbolicLink(home.resolve("jars"), sparkJars.toPath)
      val log = home.resolve("child.log").toFile
      val java = new File(System.getProperty("java.home"), "bin/java").getPath
      val cmd = Seq(java, "-Xmx1g") ++
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq ++
        Seq("-cp", classPath, "graft.ExecutorLossMain", op, sf0001)
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
      pb.environment().put("SPARK_HOME", home.toString)
      // outside a Spark source tree, the launcher that builds the executor
      // command reads the Scala version from here (spark-submit's scripts
      // set it the same way)
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      val p = pb.start()
      if (!p.waitFor(240, TimeUnit.SECONDS)) {
        p.destroyForcibly().waitFor()
        fail(s"$op: child JVM timed out\n${tail(log)}")
      }
      assert(p.exitValue() == 0, s"$op: child JVM exited ${p.exitValue()}\n${tail(log)}")
      assert(scala.io.Source.fromFile(log).getLines().exists(_.startsWith(s"$op same answer")),
        tail(log))
    } finally deleteTree(home)
  }

  private def tail(f: File): String = {
    val lines = scala.io.Source.fromFile(f).getLines().toVector
    val errs = lines.filter(l => l.contains("Exception") || l.contains("NOT_FOUND"))
    (errs.take(5) ++ Seq("…") ++ lines.takeRight(20)).mkString("\n")
  }

  private def deleteTree(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory && !Files.isSymbolicLink(p))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(c => deleteTree(c.toPath))
    Files.deleteIfExists(p)
  }

  test("jaccardNearDupPairs gives the same answer after losing an executor") {
    runChild("jaccard")
  }

  test("minhashNearDupPairs gives the same answer after losing an executor") {
    runChild("minhash")
  }

  test("ivfKnn gives the same answer after losing an executor") {
    runChild("ivf")
  }
}

/** Child-JVM body of [[ExecutorLossSpec]]:
  * `ExecutorLossMain <jaccard|minhash|ivf> <fixture dir>`. Builds the
  * operator's result, reads it once, kills executor 0, waits until the
  * status tracker no longer lists it, reads the result again and prints
  * `<op> same answer …` when both reads agree. */
object ExecutorLossMain {

  def main(args: Array[String]): Unit = {
    val Array(op, dir) = args
    val spark = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName(s"graft-executor-loss-$op")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.sql.shuffle.partitions", "4")
      // with coalescing on, a small result can land in ONE partition on
      // whichever executor survives, and a lineage fault goes unseen
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      awaitExecutors(spark.sparkContext, 2)
      val result = build(spark, op, dir)
      val before = answer(result)
      require(before._1 > 0, s"$op: empty result, the check would be vacuous")
      require(spark.sparkContext.killExecutor("0"), "executor 0 was not killed")
      awaitExecutors(spark.sparkContext, 1)
      val after = answer(result)
      require(after == before, s"$op: answer changed after executor loss: $before vs $after")
      println(s"$op same answer (rows, checksum) = $before")
    } finally spark.stop()
  }

  private def build(spark: SparkSession, op: String, dir: String): DataFrame = op match {
    case "jaccard" =>
      graft.functions.Dedup.jaccardNearDupPairs(docs(spark, dir), "doc_id", "text")
    case "minhash" =>
      graft.functions.Dedup.minhashNearDupPairs(docs(spark, dir), "doc_id", "text")
    case "ivf" =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      val q = emb.where(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.functions.Ivf.ivfKnn(emb, "vec_id", "embedding", q, "qid", "qvec", k = 5)
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")

  /** (rows, order-independent checksum) of a result, in one action. */
  private def answer(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1L)), coalesce(sum(hash(df.columns.map(col): _*).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Waits until exactly `n` executors are registered (the status tracker
    * lists the driver too). */
  private def awaitExecutors(sc: SparkContext, n: Int): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (sc.statusTracker.getExecutorInfos.length != n + 1) {
      require(System.nanoTime() < deadline,
        s"expected $n executors, have ${sc.statusTracker.getExecutorInfos.length - 1}")
      Thread.sleep(200)
    }
  }
}
