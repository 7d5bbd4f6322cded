package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer: `parent` is the id of the enclosing span
  * on the same thread (0 at the root), times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, run: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans are kept in a
  * lock-free queue and written out once, at exit, so recording costs one
  * `nanoTime` pair and one allocation per call. When tracing is off,
  * [[span]] is a plain call of its body.
  */
object Trace {
  @volatile var enabled: Boolean = false
  @volatile var runId: String = ""

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), layer, name, t0, t1, runId))
      }
    }

  /** Record a span measured elsewhere (a micro-batch phase from Spark's
    * progress report); returns its id so children can name it as parent.
    */
  def record(layer: String, name: String, startNs: Long, endNs: Long,
             parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, layer, name, startNs, endNs, runId))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per layer: total span time minus the time of direct children, in ms. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupMapReduce(_.parent)(_.ms)(_ + _)
    ss.groupMapReduce(_.layer)(s => s.ms - childMs.getOrElse(s.id, 0.0))(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Json.str(s.run)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
