package graft.tools

/** Writes `.explain("formatted")` for named `SparkEntry.queries` entries
  * to `<outDir>/<name>.txt` — the optimization-round plan artifacts
  * (`plans/rNN/<query>_before.txt` / `_after.txt`). Opens the Bench
  * session ([[graft.SparkEntry.localSession]]) so the captured plans are
  * the ones the bench actually runs.
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> [suffix] [names...]
  * With no names, dumps every query (slow — builds each frame).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <sfDir> <outDir> [suffix] [names...]")
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    outDir.mkdirs()
    val suffix = if (args.length >= 3) args(2) else ""
    val names = args.drop(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.SparkEntry.localSession(cpus)
    try graft.queries.CheckQueries.materializeFixtures(spark, sfDir)
    catch { case _: Throwable => () }
    val selected =
      if (names.isEmpty) graft.SparkEntry.queries
      else graft.SparkEntry.queries.view.filterKeys(names.toSet).toMap
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // SPARK_GRAFT_EXEC_PLANS=1: execute THIS frame's own plan first
        // (collect — every declared query returns a verdict-sized
        // result) so its AdaptiveSparkPlan finalizes and the formatted
        // plan carries `[codegen id : n]` whole-stage spans — the
        // evidence the fallback-vs-bridged comparison needs. (A noop
        // sink would wrap the plan in a NEW write command and leave
        // this QueryExecution un-finalized.)
        if (sys.env.get("SPARK_GRAFT_EXEC_PLANS").contains("1"))
          df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.File(outDir, s"$name$suffix.txt")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.write(plan) finally w.close()
        System.err.println(s"[plans] wrote ${f.getPath}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
