package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import java.nio.file.{Files, Paths}

/** For each query of a list: seconds to build it and run `count()` on it
  * against seconds to build it and write it to the `noop` sink, plus the
  * node counts of the two optimized plans. `count()` lets the optimizer
  * prune every column it does not need; the noop write computes all of
  * them. Each time is the median of three runs, after one untimed
  * write. Prints one tab-separated line per query.
  *
  * Args: <data dir> <work dir> <query list file>. */
object CountVsNoop {
  val Reps = 3

  private def nodes(p: LogicalPlan): Int = p.collect { case n => n }.size

  def main(args: Array[String]): Unit = {
    val Array(data, work, list) = args
    val spark = Harness.session(work)
    spark.sparkContext.setLogLevel("ERROR")
    val names = Files.readAllLines(Paths.get(list)).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println("query\tcount_s\tnoop_s\tcount_plan_nodes\tfull_plan_nodes")
    try names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def build(): DataFrame = fn(spark, data)
      build().write.format("noop").mode("overwrite").save() // warm-up
      val runs = (0 until Reps).map { _ =>
        (secs(build().count()), secs(build().write.format("noop").mode("overwrite").save()))
      }
      val df = build()
      val countPlan = nodes(df.groupBy().count().queryExecution.optimizedPlan)
      val fullPlan = nodes(df.queryExecution.optimizedPlan)
      println(f"$n\t${median(runs.map(_._1))}%.3f\t${median(runs.map(_._2))}%.3f\t$countPlan\t$fullPlan")
    } finally spark.stop()
  }
}
