package org.apache.spark

import org.apache.spark.util.{AccumulatorContext, AccumulatorV2}

import scala.util.Try

/** The accumulator registry is package-private. SQL metrics are
  * accumulators, and a frame pinned to its RDD no longer exposes the plan
  * that owns them, so specs that read such a metric look it up here. */
object AccumulatorAccess {
  /** `f`'s result and every accumulator registered while it ran that is
    * still reachable. */
  def registeredDuring[T](f: => T): (T, Seq[AccumulatorV2[_, _]]) = {
    val first = AccumulatorContext.newId() + 1
    val r = f
    val last = AccumulatorContext.newId()
    (r, (first until last).flatMap(id => Try(AccumulatorContext.get(id)).toOption.flatten))
  }
}
