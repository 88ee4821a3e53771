package perfbench

import graft.engine.{Dep, Job, JobGraph, JobStore}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicIntegerArray, AtomicLong, AtomicLongArray}

/** What one drain's store calls did, per job: the timestamps the dispatch
  * metric needs and the counts the exactly-once checks need. Written from
  * every pool thread; read once the drain is over. */
final class DrainLog(plan: DagPlan) {
  private val n = plan.size
  val MaxAttempts = 3
  /** successful reserves, and the FSM transitions that close an attempt */
  val reserves  = new AtomicIntegerArray(n)
  val closings  = new AtomicIntegerArray(n)
  val finishes  = new AtomicIntegerArray(n)
  /** nanoTime of each successful reserve (attempt-major), of the finish
    * call's return, and of the reset that re-readied a faulted job */
  val reservedAt = new AtomicLongArray(n * MaxAttempts)
  val finishedAt = new AtomicLongArray(n)
  val resetAt    = new AtomicLongArray(n)
  @volatile var transactedAt = 0L
  val lastTerminalAt = new AtomicLong(0L)
  val inflight  = new AtomicInteger(0)
  val earlyReserves = new AtomicInteger(0) // reserved before every parent finished
  val storeErrors   = new AtomicInteger(0)
  val lostReserves  = new AtomicInteger(0)
  val messages = new ConcurrentLinkedQueue[String]()
  private val injected = new AtomicBoolean(false)

  def idx(id: String): Int = plan.index.getOrElse(id, -1)

  def note(msg: String): Unit = if (messages.size < 20) messages.add(msg)

  /** True exactly once per drain: the double-finish fault's trigger. */
  def injectNow(): Boolean = injected.compareAndSet(false, true)

  def reserved(id: String, at: Long): Unit = {
    val i = idx(id)
    val attempt = reserves.incrementAndGet(i)
    if (attempt <= MaxAttempts) reservedAt.set(i * MaxAttempts + attempt - 1, at)
    inflight.incrementAndGet()
    if (plan.parents(i).exists(p => finishes.get(p) == 0)) {
      earlyReserves.incrementAndGet()
      note(s"$id reserved before all of its parents finished")
    }
  }

  /** Called before the store sees a finish, so a child reserved in the gap
    * between the store's commit and the call's return still counts as
    * correctly ordered. */
  def finishing(id: String): Unit = { val i = idx(id); finishes.incrementAndGet(i); closings.incrementAndGet(i) }
  def finished(id: String, at: Long): Unit = { finishedAt.compareAndSet(idx(id), 0L, at); terminal(at) }
  def closed(id: String): Unit = closings.incrementAndGet(idx(id))
  def reset(id: String, at: Long): Unit = resetAt.set(idx(id), at)
  def terminal(at: Long): Unit = lastTerminalAt.accumulateAndGet(at, math.max)
}

/** The benchmark's [[JobStore]] decorator: times every call into the engine's
  * store layer (spans when tracing), feeds the [[DrainLog]], and counts any
  * call that throws. Pure delegation otherwise. */
final class BenchStore(inner: JobStore, log: DrainLog, tr: Tracer, injectDoubleFinish: Boolean)
    extends JobStore {

  private def call[A](name: String, job: String)(body: => A): A =
    try tr.span(name, job)(body)
    catch {
      case e: Throwable =>
        log.storeErrors.incrementAndGet()
        log.note(s"$name($job) threw $e")
        throw e
    }

  override def install(): String = call("store.install", "")(inner.install())

  override def transactGraph(g: JobGraph): JobGraph = {
    val r = call("store.transact", "")(inner.transactGraph(g))
    log.transactedAt = System.nanoTime()
    r
  }

  override def jobInfo(id: String): Option[Job] = call("store.info", id)(inner.jobInfo(id))

  override def reserveJob(id: String): Option[Job] = {
    val r = call("store.reserve", id)(inner.reserveJob(id))
    if (r.isDefined) log.reserved(id, System.nanoTime()) else log.lostReserves.incrementAndGet()
    r
  }

  override def finishJob(id: String): Unit = {
    log.finishing(id)
    call("store.finish", id)(inner.finishJob(id))
    log.finished(id, System.nanoTime())
    if (injectDoubleFinish && log.injectNow()) {
      // planted engine bug: finalize the same attempt twice
      log.finishing(id)
      try call("store.finish", id)(inner.finishJob(id)) catch { case _: IllegalStateException => () }
    }
  }

  override def failJob(id: String, failure: Option[String]): Unit = {
    log.closed(id)
    call("store.fail", id)(inner.failJob(id, failure))
    log.terminal(System.nanoTime())
  }

  override def heartbeatJob(id: String): Unit = call("store.heartbeat", id)(inner.heartbeatJob(id))

  override def abortJob(id: String): Unit = {
    log.closed(id)
    call("store.abort", id)(inner.abortJob(id))
    log.terminal(System.nanoTime())
  }

  override def resetJob(id: String): Option[Job] = {
    log.closed(id)
    val r = call("store.reset", id)(inner.resetJob(id))
    if (r.isDefined) log.reset(id, System.nanoTime())
    r
  }

  override def jobsReady(limit: Int): Set[String] = {
    val r = call("store.ready", "")(inner.jobsReady(limit))
    tr.count("store.ready.rows", r.size.toLong)
    r
  }

  override def readyJobs(limit: Int): Seq[Job] = {
    val r = call("store.ready", "")(inner.readyJobs(limit))
    tr.count("store.ready.rows", r.size.toLong)
    r
  }

  override def jobsDead(threshold: Long, limit: Int): Set[String] =
    call("store.dead", "")(inner.jobsDead(threshold, limit))

  override def jobsWithStatus(status: String): Set[String] =
    call("store.status", "")(inner.jobsWithStatus(status))

  override def updateJob(id: String, pred: Job => Boolean, f: Job => Job): Option[Job] =
    call("store.update", id)(inner.updateJob(id, pred, f))

  override def snapshotJobs: Seq[Job] = call("store.snapshot", "")(inner.snapshotJobs)
  override def snapshotDeps: Seq[Dep] = call("store.snapshot", "")(inner.snapshotDeps)
}
