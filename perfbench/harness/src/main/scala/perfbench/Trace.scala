package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch nanoseconds
  * so that spans taken from Spark listener events (epoch milliseconds)
  * and spans taken around calls (`System.nanoTime`) share one clock.
  * `parent` is 0 for a root span; `run` ties the spans of one timed
  * operation together. */
final case class Span(id: Long, parent: Long, run: Long, name: String,
                      start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span and counter store for the traced run.
  *
  * It is a JVM-global object on purpose: the hook wrappers are
  * serialized into Spark tasks, and in `local[n]` the executors run in
  * the application's own JVM, so a wrapper running inside a task records
  * into the same store as the code that starts the jobs. Nothing is
  * written out until the run ends. */
object Trace {
  @volatile private var on = false
  @volatile private var runId = 0L
  // the span of the operation being timed; spans opened on threads that
  // have no open span of their own (task threads, the Migrator's pools)
  // hang under it
  @volatile private var rootSpan = 0L
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, LongAdder]
  private val open = new ThreadLocal[java.lang.Long]

  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  /** Start recording; spans recorded until [[stop]] carry run id `run`. */
  def start(run: Long): Unit = { runId = run; on = true }
  def stop(): Unit = { on = false; rootSpan = 0L }

  def reset(): Unit = { spans.clear(); counters.clear() }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum).getOrElse(0L)

  /** Record an interval measured elsewhere (listener events). */
  def record(name: String, start: Long, end: Long, parent: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, runId, name, start, end))

  /** Time `f` as a span named `name`, child of the span open on this
    * thread, else of the operation's root span. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val prev = open.get()
      val parent = if (prev != null) prev.longValue else rootSpan
      if (parent == 0L) rootSpan = id
      open.set(id)
      val t0 = now()
      try f
      finally {
        val t1 = now()
        spans.add(Span(id, parent, runId, name, t0, t1))
        if (prev == null) open.remove() else open.set(prev)
        if (parent == 0L) rootSpan = 0L
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Give the spans named `name` that were recorded without a parent
    * (listener events arrive on another thread, after the fact) the
    * root span whose interval holds their midpoint. */
  def adopt(all: Seq[Span], name: String): Seq[Span] = {
    val roots = all.filter(_.parent == 0L)
    all.map { s =>
      if (s.parent != -1L || s.name != name) s
      else {
        val mid = s.start + (s.end - s.start) / 2
        roots.find(r => mid >= r.start && mid < r.end)
          .fold(s)(r => s.copy(parent = r.id))
      }
    }
  }

  /** Nanoseconds of `[start, end)` covered by the union of `parts`,
    * each clipped to that window. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    val clipped = parts.iterator
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name: each span's duration minus the part of
    * its interval that its child spans cover (overlapping children are
    * counted once). */
  def selfNanos(all: Seq[Span]): Map[String, Long] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.iterator.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        s.nanos - covered(s.start, s.end, kids)
      }.sum
    }
  }
}
