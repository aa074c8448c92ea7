package perfbench

import org.apache.spark.sql.SparkSession

/** Checks that the [[Ledger]] files each job under the span that was
  * innermost when the job was submitted, including jobs submitted from a
  * thread the span's thread started and a broadcast exchange's collect,
  * which Spark runs under a job group of its own. Prints `ok` and exits
  * 0, or throws. */
object SelfTest {
  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = Harness.session(args(0))
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try {
      val ledger = Ledger.attach(sc)
      val tr = new Tracer(sc, enabled = true)
      // each RDD count is exactly one job with `parts` tasks
      def job(parts: Int): Long = sc.parallelize(1 to 100, parts).count()
      job(1) // untagged
      tr.op(0, "outer") {
        job(3); job(2)
        tr("inner") {
          job(1)
          val t = new Thread(() => { job(4); () }) // inherits the inner span
          t.start(); t.join()
        }
        job(1) // back in the outer span
      }
      tr.op(2, "broadcast") {
        import org.apache.spark.sql.functions.broadcast
        spark.range(1000).join(broadcast(spark.range(10)), "id").write.format("noop").mode("overwrite").save()
      }
      val plain = new Tracer(sc, enabled = false)
      plain.op(1, "plain")(job(2))
      val g = ledger.snapshot(sc)
      def jobs(group: String): Any = g.get(group).map(_("jobs")).getOrElse(0L)
      expect("spans", tr.spans.map(s => (s.id, s.parent, s.name)),
        Seq((0, -1, "outer"), (1, 0, "inner"), (2, -1, "broadcast")))
      expect("groups", g.keySet, Set(Ledger.Unattributed, Tracer.group(0), Tracer.group(1),
        Tracer.group(2), Tracer.opGroup(1)))
      if (jobs(Tracer.group(2)) == 0L) throw new AssertionError("broadcast op: no jobs")
      expect("untagged jobs", jobs(Ledger.Unattributed), 1L)
      expect("outer jobs", jobs(Tracer.group(0)), 3L)
      expect("inner jobs", jobs(Tracer.group(1)), 2L)
      expect("untraced op jobs", jobs(Tracer.opGroup(1)), 1L)
      expect("outer tasks", g(Tracer.group(0))("tasks"), 6L)
      expect("inner tasks", g(Tracer.group(1))("tasks"), 5L)
      println("ok")
    } finally spark.stop()
  }
}
