package graft.exec

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Callable, ExecutionException, LinkedBlockingQueue, ThreadFactory,
  ThreadPoolExecutor, TimeUnit}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs independent driver-side units of work at once, so that their Spark
  * jobs share the cluster instead of queueing one behind another. The
  * validator uses it at two levels: a config's tables, and inside one
  * table the scan passes beside its uniqueCheck passes.
  *
  * Each call makes a fresh fixed pool of min(#items, defaultParallelism)
  * threads and joins them before it returns. The calling thread starts
  * every pool thread, so they inherit its Spark local properties (job
  * group, job description, scheduler pool, any caller-set tag) and every
  * job they submit carries them. */
private[graft] object Parallel {

  /** `f` over `items`, results in item order. Every item runs to the end
    * even if another fails; then the first failure in item order is
    * rethrown as it was thrown. */
  def map[A, B](spark: SparkSession, items: Seq[A])(f: A => B): Seq[B] = {
    val width = math.min(items.size, spark.sparkContext.defaultParallelism)
    val outcomes: Seq[Either[Throwable, B]] =
      if (width <= 1) items.map(a => try Right(f(a)) catch { case NonFatal(e) => Left(e) })
      else {
        val threads = mutable.ArrayBuffer[Thread]()
        val pool = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
          new LinkedBlockingQueue[Runnable](), new ThreadFactory {
            def newThread(r: Runnable): Thread = {
              val t = new Thread(r, s"graft-parallel-${threads.size}")
              t.setDaemon(true)
              threads += t
              t
            }
          })
        try {
          pool.prestartAllCoreThreads()
          val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
          futures.map { fu =>
            try Right(fu.get())
            catch { case e: ExecutionException => Left(e.getCause) }
          }
        } finally {
          pool.shutdownNow()
          threads.foreach(_.join())
        }
      }
    outcomes.collectFirst { case Left(e) => throw e }
    outcomes.collect { case Right(b) => b }
  }
}
