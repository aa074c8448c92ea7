package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable

final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, var endNs: Long)

/** Spans around calls into the program, kept in memory. Each span tags
  * its jobs with its own [[Ledger]] group, so the ledger files a job under
  * the innermost span that was open when it was submitted.
  *
  * Disabled, the tracer records nothing and tags only whole ops, which is
  * what the untimed ledger of the end-to-end run needs. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var op = -1

  private def tag(s: Option[Span]): Unit = Ledger.tag(sc, s.map(p => Tracer.group(p.id)))

  /** Runs one op. Untraced, its jobs are grouped under [[Tracer.opGroup]]. */
  def op[T](id: Int, name: String)(f: => T): T = {
    op = id
    if (enabled) span(name)(f)
    else {
      Ledger.tag(sc, Some(Tracer.opGroup(id)))
      try f finally Ledger.tag(sc, None)
    }
  }

  def apply[T](name: String)(f: => T): T = if (enabled) span(name)(f) else f

  private def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), op, name, System.nanoTime(), 0L)
    spans += s
    stack = s :: stack
    tag(Some(s))
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      tag(stack.headOption)
    }
  }
}

object Tracer {
  def group(spanId: Int): String = s"span-$spanId"
  def opGroup(opId: Int): String = s"op-$opId"
}
