package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary. `parent` is the enclosing span on the
  * same thread (0 for none); `job` is shared by one job's store calls,
  * handler and operator spans. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, job: String, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span and counter recorder. When disabled, `span` only runs its
  * body and `count` does nothing, so untraced runs pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans   = new ConcurrentLinkedQueue[Span]()
  private val counts  = new ConcurrentHashMap[String, LongAdder]()
  private val stack   = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val current = ThreadLocal.withInitial[String](() => "")

  def span[A](name: String, job: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val id     = Tracer.nextId.getAndIncrement()
      val outer  = stack.get()
      val parent = if (outer.isEmpty) 0L else outer.head
      val jobId  = if (job != null) job else current.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, parent, name, jobId, t0, t1))
      }
    }

  /** Run `body` with `job` as the job id of spans that name none. */
  def withJob[A](job: String)(body: => A): A =
    if (!enabled) body
    else {
      val before = current.get()
      current.set(job)
      try body finally current.set(before)
    }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new LongAdder).add(n)

  /** Everything recorded since the last call, which starts a new interval. */
  def take(): (Vector[Span], Map[String, Long]) = {
    val out = Vector.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    val c = counts.asScala.map { case (k, v) => k -> v.sumThenReset() }.toMap
    (out.result(), c)
  }
}

object Tracer {
  /** Span ids are unique across tracers, so spans of several passes merge. */
  private val nextId = new AtomicLong(1L)
}

object Spans {

  /** Self time of each span: its duration minus the parts covered by its
    * direct children (children run on the same thread, so never overlap). */
  def selfNanos(spans: Seq[Span]): Map[Long, Long] = {
    val childSum = spans.groupMapReduce(_.parent)(_.nanos)(_ + _)
    spans.iterator.map(s => s.id -> (s.nanos - childSum.getOrElse(s.id, 0L))).toMap
  }

  def writeTsv(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id\tparent\tname\tjob\tstart_ns\tend_ns\n")
      spans.sortBy(_.start).foreach { s =>
        w.write(s"${s.id}\t${s.parent}\t${s.name}\t${s.job}\t${s.start}\t${s.end}\n")
      }
    } finally w.close()
  }
}
