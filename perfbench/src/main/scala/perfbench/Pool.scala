package perfbench

import graft.engine.{Handler, Job, JobStore, Worker, WorkerConfig}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** The installed store one drain uses, shared by every worker of the pool,
  * and how to release it once the checks have read it. */
final case class StoreSetup(store: JobStore, close: () => Unit = () => ())

/** Outcome of one drain, with its correctness verdict. */
final case class DrainResult(
    makespanNs: Long,
    dispatchMs: Array[Double],
    jobs: Int,
    wrongJobs: Int,
    storeErrors: Int,
    messages: Seq[String],
    ticks: Long,
    idleTicks: Long,
    reserveCalls: Long,
    lostReserves: Long) {
  def errors: Int = wrongJobs + storeErrors
}

/** A closed-loop pool: `threads` driver threads, each one [[Worker]] calling
  * `detectOnce` then `tick` back to back with no cadence sleeps, draining one
  * job graph. A thread that finds nothing ready while jobs are in flight
  * parks for 1 ms rather than spin on the store's lock; the thread that
  * finishes a job polls again at once, so it dispatches that job's children. */
final class Pool(threads: Int, tr: Tracer, monitorEvery: Int = 0) {

  private val deadlineMs = 90000L

  /** Drain `plan` through `setup`, whose store feeds `log`. `work(job, worker)`
    * is the handler body; throwing from it is how planned faults, fails and
    * aborts happen. */
  def drain(plan: DagPlan, log: DrainLog, setup: StoreSetup,
            work: (Job, Worker) => Unit, seed: Long): DrainResult =
    try run(plan, log, setup, work, seed) finally setup.close()

  private def run(plan: DagPlan, log: DrainLog, setup: StoreSetup,
                  work: (Job, Worker) => Unit, seed: Long): DrainResult = {
    val submitted = new AtomicBoolean(false)
    val ticks    = new AtomicLong(0L)
    val idle     = new AtomicLong(0L)
    val timedOut = new AtomicInteger(0)
    val crashed  = new AtomicInteger(0)
    val types    = plan.types.distinct
    val deadline = System.nanoTime() + deadlineMs * 1000000L

    val pool = (0 until threads).map { t =>
      val store = setup.store
      var self: Worker = null
      val handler = Handler { (job: Job) =>
        tr.span("handler", job.id)(tr.withJob(job.id)(work(job, self)))
      }
      self = new Worker(store, types.map(_ -> handler).toMap, WorkerConfig(seed = Some(seed * 131 + t)))
      val worker = self
      new Thread(() => {
        var done = false
        var iter = 0L
        while (!done) {
          iter += 1
          try {
            if (System.nanoTime() > deadline) { timedOut.set(1); done = true }
            else {
              if (monitorEvery > 0 && iter % monitorEvery == 0)
                tr.span("worker.monitor")(worker.monitorOnce())
              val quiet = submitted.get() && log.inflight.get() == 0
              val ready = tr.span("worker.detect")(worker.detectOnce())
              val ran = tr.span("worker.tick")(worker.tick())
              ticks.incrementAndGet()
              if (ran.isDefined) log.inflight.decrementAndGet()
              else if (ready.isEmpty) {
                idle.incrementAndGet()
                // nothing was in flight before an empty detect: the drain is over
                if (quiet) done = true else LockSupport.parkNanos(1000000L)
              }
            }
          } catch {
            case e: Throwable =>
              crashed.incrementAndGet()
              log.note(s"pool thread $t: $e")
              done = true
          }
        }
      }, s"perfbench-worker-$t")
    }
    // workers are already polling the empty store when the graph arrives
    pool.foreach(_.start())
    val t0 = System.nanoTime()
    setup.store.transactGraph(plan.graph)
    submitted.set(true)
    pool.foreach(_.join())
    val makespan = log.lastTerminalAt.get() - t0

    val (expStatus, expAttempts) = plan.expected
    val status = setup.store.snapshotJobs.map(j => j.id -> j.status).toMap
    val dispatch = Array.newBuilder[Double]
    var wrong = 0
    for (i <- 0 until plan.size) {
      val id = plan.ids(i)
      val got = status.getOrElse(id, "missing")
      val reserves = log.reserves.get(i)
      val ok = got == expStatus(i) && reserves == expAttempts(i) && log.closings.get(i) == reserves
      if (!ok) {
        wrong += 1
        log.note(s"$id: status $got (expected ${expStatus(i)}), reserved $reserves " +
          s"(expected ${expAttempts(i)}), closed ${log.closings.get(i)} times")
      }
      for (a <- 0 until math.min(reserves, log.MaxAttempts)) {
        val readyAt =
          if (a > 0) log.resetAt.get(i)
          else plan.parents(i).foldLeft(log.transactedAt)((m, p) => math.max(m, log.finishedAt.get(p)))
        val at = log.reservedAt.get(i * log.MaxAttempts + a)
        dispatch += math.max(0L, at - readyAt) / 1e6
      }
    }
    if (timedOut.get() > 0) log.note(s"drain did not end within $deadlineMs ms")
    val early = log.earlyReserves.get()
    DrainResult(
      makespanNs = makespan,
      dispatchMs = dispatch.result(),
      jobs = plan.size,
      wrongJobs = wrong + early + timedOut.get() + crashed.get(),
      storeErrors = log.storeErrors.get(),
      messages = log.messages.asScala.toSeq,
      ticks = ticks.get(),
      idleTicks = idle.get(),
      reserveCalls = ticks.get() - idle.get(),
      lostReserves = log.lostReserves.get())
  }
}
