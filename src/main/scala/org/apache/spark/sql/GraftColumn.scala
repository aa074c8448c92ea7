package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API.
  *
  * Spark 4 `Column`s wrap `ColumnNode`s, and the Expression⇄Column
  * converters live behind `private[sql]` — so this one-file shim sits in
  * the `org.apache.spark.sql` package (the established pattern for Spark
  * extension libraries that ship custom expressions). Everything else in
  * graft stays in its own namespace and uses only these two hooks.
  *
  * This removes the previous requirement that callers run
  * `GraftFunctions.register(spark)` before using graft's Column builders:
  * a Column built here is self-contained — no session-global function
  * registry mutation, no undefined-function analysis errors on sessions
  * that never registered. (SQL-text usage still goes through
  * `GraftFunctions.register` / `GraftExtensions`.)
  */
object GraftColumn {
  /** Wrap a Catalyst expression as a public Column. */
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Pin a DataFrame to ONE physical instantiation: compile the plan to
    * its InternalRow RDD once and rewrap that RDD as a leaf relation.
    *
    * Why this exists (graft.ops.Windows, VERDICT r14 #4): a DataFrame
    * consumed by two downstream plans is physically planned TWICE, and
    * any non-deterministic planning choice — RangePartitioner's sample
    * seed derives from the rddId, so a `repartitionByRange` can sample
    * DIFFERENT boundaries per instantiation — silently diverges between
    * the consumers. Pinning shares one RDD object, hence one
    * ShuffleDependency and one set of range boundaries, WITHOUT the
    * costs of the materializing alternatives: no `localCheckpoint`
    * (which truncates lineage — unrecoverable on executor loss — and
    * writes every partition to block storage), no `persist` (whose
    * CacheManager entry outlives the call). Downstream jobs re-use the
    * pinned RDD's shuffle map outputs (DAGScheduler stage reuse) and
    * recompute only the post-shuffle narrow stages; executor loss
    * recovers through ordinary lineage, and the fixed partitioner
    * object keeps recomputed partitions boundary-consistent.
    *
    * Note `toRdd` on an AQE plan finalizes eagerly (intermediate query
    * stages run at call time), so pin AFTER the frame is fully built.
    *
    * Built on `LogicalRDD.fromDataset` — NOT `internalCreateDataFrame`
    * — so the leaf keeps the origin plan's statistics, partitioning and
    * ordering. A stats-less RDD leaf defaults to "huge", which silently
    * demotes every downstream equi-join from broadcast to sort-merge
    * (measured r15 in-session: q_corr 2.3s → 5.2s with the stats-less
    * variant, back under the checkpoint-era time with stats). */
  def pinned(df: DataFrame): DataFrame = pin(df, df)

  /** [[pinned]], with `planConf` set for this frame's own plan only. The
    * frame is planned and compiled to its RDD in a clone of the session
    * that carries the settings; the caller's session conf is never
    * written, so queries running beside it on the same session never see
    * them. A physical operator reads its settings from the session that
    * was active when it was planned (`SparkPlan.conf`), and the pinned RDD
    * keeps that plan for every later read. The plans that read the
    * pinned frame are planned in the caller's session, without them. */
  def pinned(df: DataFrame, planConf: Map[String, String]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val scoped = ds.sparkSession.cloneSession()
    planConf.foreach { case (k, v) => scoped.sessionState.conf.setConfString(k, v) }
    pin(classic.Dataset.ofRows(scoped, ds.logicalPlan), df)
  }

  /** Compiles `planned` to its RDD and rewraps it in `home`'s session. */
  private def pin(planned: DataFrame, home: DataFrame): DataFrame = {
    val ds = planned.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd // finalizes AQE; one RDD instance
    classic.Dataset.ofRows(home.asInstanceOf[classic.Dataset[Row]].sparkSession,
      execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
