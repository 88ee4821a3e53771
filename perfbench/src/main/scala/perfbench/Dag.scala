package perfbench

import graft.engine.{Dep, Job, JobGraph, JobStatus}
import scala.util.Random

/** What a job's handler does on its first attempt. */
sealed trait Fate
object Fate {
  case object Ok        extends Fate // returns normally
  case object FaultOnce extends Fate // transient fault, succeeds on retry
  case object Fail      extends Fate // throws: the job ends `failed`
  case object Abort     extends Fate // aborts itself and its descendants
}

/** A job graph plus the outcome the benchmark expects for every job.
  * Jobs are addressed by index; `ids(i)` is the store id, `types(i)` the
  * handler type and `parents(i)` the indices job i depends on. */
final case class DagPlan(ids: Array[String], types: Array[String],
                         parents: Array[Array[Int]], fates: Array[Fate]) {
  val size: Int = ids.length
  val index: Map[String, Int] = ids.iterator.zipWithIndex.toMap

  def graph: JobGraph = JobGraph(
    ids.indices.map(i => Job(id = ids(i), jobType = types(i))),
    for (i <- ids.indices; p <- parents(i).toSeq) yield Dep(jobId = ids(i), depId = ids(p)))

  /** Expected terminal status and successful reserves per job. Indices are
    * topologically ordered (parents before children), so one pass works:
    * a job runs only if every parent finished; an aborted job takes its
    * whole subtree with it; a failed job's descendants stay unstarted. */
  lazy val expected: (Array[String], Array[Int]) = {
    val status   = new Array[String](size)
    val attempts = new Array[Int](size)
    for (i <- 0 until size) {
      val ps = parents(i)
      if (ps.exists(p => status(p) == JobStatus.Aborted)) status(i) = JobStatus.Aborted
      else if (ps.forall(p => status(p) == JobStatus.Finished)) {
        fates(i) match {
          case Fate.Ok        => status(i) = JobStatus.Finished; attempts(i) = 1
          case Fate.FaultOnce => status(i) = JobStatus.Finished; attempts(i) = 2
          case Fate.Fail      => status(i) = JobStatus.Failed; attempts(i) = 1
          case Fate.Abort     => status(i) = JobStatus.Aborted; attempts(i) = 1
        }
      } else status(i) = JobStatus.Unstarted
    }
    (status, attempts)
  }
}

object Dag {

  /** A layered random DAG of `n` no-op jobs: about sqrt(n)/3 layers of equal
    * width; every job below the first layer depends on 3 distinct jobs of the
    * layer above, drawn from a window around its own position so that
    * subtrees stay local and an abort's blast radius is bounded. */
  def layered(n: Int, rnd: Random, jobType: String = "noop"): DagPlan = {
    val layers = math.max(3, math.round(math.sqrt(n.toDouble) / 3).toInt)
    val bounds = (0 to layers).map(l => l * n / layers) // layer l = [bounds(l), bounds(l+1))
    val parents = Array.fill(n)(Array.emptyIntArray)
    for (l <- 1 until layers; i <- bounds(l) until bounds(l + 1)) {
      val (lo, hi) = (bounds(l - 1), bounds(l))
      val width  = hi - lo
      val center = lo + (i - bounds(l)).toLong * width / (bounds(l + 1) - bounds(l))
      val radius = math.max(3, width / 8)
      val window = (math.max(lo, center.toInt - radius) until math.min(hi, center.toInt + radius + 1)).toArray
      parents(i) = rnd.shuffle(window.toSeq).take(3).sorted.toArray
    }
    DagPlan(Array.tabulate(n)(i => f"job-$i%05d"), Array.fill(n)(jobType), parents,
      Array.fill[Fate](n)(Fate.Ok))
  }

  /** The DAG workloads' failure mix on top of [[layered]]: one abort near the roots
    * (the job of the first two layers whose subtree is closest to 10% of the
    * DAG, so its size barely varies by seed), ~2% fails in the next-to-last
    * layer (their children stay unstarted) and ~5% transient faults. */
  def withFailureMix(plan: DagPlan, rnd: Random): DagPlan = {
    val n = plan.size
    val children = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n; p <- plan.parents(i)) children(p) = i :: children(p)
    def subtree(root: Int): Set[Int] = {
      var seen = Set(root); var frontier = List(root)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(children).filterNot(seen)
        seen ++= next; frontier = next.distinct
      }
      seen
    }
    val depth = new Array[Int](n)
    for (i <- 0 until n; p <- plan.parents(i)) depth(i) = math.max(depth(i), depth(p) + 1)
    val maxDepth = depth.max
    val abort = (0 until n).filter(depth(_) <= 1)
      .minBy(i => (math.abs(subtree(i).size - n / 10), i))
    val blast = subtree(abort)
    val fates = Array.fill[Fate](n)(Fate.Ok)
    fates(abort) = Fate.Abort
    val failPool = rnd.shuffle((0 until n).filter(i => depth(i) == maxDepth - 1 && !blast(i)))
    failPool.take(math.max(1, math.round(n * 0.02).toInt)).foreach(fates(_) = Fate.Fail)
    val faultPool = rnd.shuffle((0 until n).filter(fates(_) == Fate.Ok))
    faultPool.take(math.max(1, math.round(n * 0.05).toInt)).foreach(fates(_) = Fate.FaultOnce)
    plan.copy(fates = fates)
  }
}
