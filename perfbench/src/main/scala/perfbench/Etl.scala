package perfbench

import graft.SparkEntry
import graft.engine.{Job, JobStatus}
import graft.sources.Sources
import graft.streaming.FsmStream
import graft.streaming.FsmStream.{JobEvent, JobState}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Order-independent fingerprint of a query result: row count, XOR and
  * modular sum of a per-row hash. Floating-point values are hashed at six
  * significant digits so that summation order inside Spark cannot change
  * the fingerprint. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.5e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _)       => transform(c, x => norm(x, et))
    case st: StructType         => struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _: MapType             => to_json(c)
    case _                      => c
  }

  def of(df: DataFrame): String = {
    val cols = df.columns.indices.map(i => s"c$i")
    val pos  = df.toDF(cols: _*)
    val h    = xxhash64(pos.schema.fields.map(f => norm(col(f.name), f.dataType)).toIndexedSeq: _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(2147483647L))))
      .head()
    if (r.getLong(0) == 0L) "0:0:0"
    else s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}:${r.getLong(2)}"
  }
}

/** The etl_sf001 pipeline: 16 jobs in four dependent branches joined by a
  * report job. Each query job runs one registered operator query and
  * fingerprints its output; `fsm` folds a seeded batch of transition events
  * through [[FsmStream.transitions]]; `report` writes every job's result with
  * [[Sources.idempotentWrite]] and reads it back. */
object Etl {
  /** Short name (the job type and metric name) -> registered query. */
  val queries: Seq[(String, String)] = Seq(
    "q01" -> "q01_pricing_summary", "q03" -> "q03_revenue_by_nation",
    "q04" -> "q04_semi_join", "q08" -> "q08_window_rank",
    "q26" -> "q26_exact_dedup", "q28" -> "q28_minhash_lsh", "q57" -> "q57_corpus_pipeline",
    "q101" -> "q101_pagerank", "q102" -> "q102_critical_path",
    "q118" -> "q118_asof_native", "q501" -> "q501_datalog_dependents",
    "q33" -> "q33_jobs_ready", "q358" -> "q358_kmv_distinct", "q471" -> "q471_store_ready")
}

final class Etl(spark: SparkSession, workDir: String,
                pinned: Map[String, Map[String, String]], corruptFingerprint: Boolean) {

  /** relational; functions (dedup, MinHash, corpus); plans (graph, as-of,
    * Datalog); engine views and a distinct-count sketch, ending in the
    * streaming fold. q358's KMV sketch stands in for q35, whose full result
    * (its HyperLogLog columns, not just its row count) takes minutes at
    * sf0.1 on a 3 GB heap. */
  private val branches: Seq[Seq[String]] = Seq(
    Seq("q01", "q03", "q04", "q08"),
    Seq("q26", "q28", "q57"),
    Seq("q101", "q102", "q118", "q501"),
    Seq("q33", "q358", "q471", "fsm"))

  val plan: DagPlan = {
    val names = branches.flatten :+ "report"
    val at = names.zipWithIndex.toMap
    val parents = names.map {
      case "report" => branches.map(b => at(b.last)).toArray
      case n        => branches.find(_.contains(n)).get.takeWhile(_ != n).lastOption.map(at).toArray
    }
    DagPlan(names.map(n => s"etl-$n").toArray, names.toArray, parents.toArray,
      Array.fill[Fate](names.size)(Fate.Ok))
  }

  private val fullName = Etl.queries.toMap
  private val results  = new ConcurrentHashMap[String, String]()
  private val problems = new ConcurrentHashMap[String, String]()
  @volatile private var dir = ""
  @volatile private var scale = ""
  @volatile private var fsmEvents: Seq[JobEvent] = Nil

  /** Seeded transition events for `jobs` jobs: every job is reserved and
    * heartbeats, then finishes, fails, is reset and re-run, or is aborted;
    * one in ten also gets an illegal event the fold must ignore. Times are
    * strictly increasing per job, so the fold's order is fixed. */
  def events(jobs: Int, rnd: Random): Seq[JobEvent] =
    (0 until jobs).flatMap { j =>
      val id = f"fsm-$j%06d"
      var t = 1000L + rnd.nextInt(1000)
      def ev(kind: String): JobEvent = { t += 1 + rnd.nextInt(30); JobEvent(id, kind, t) }
      val head = Seq(ev("reserve"), ev("heartbeat"))
      val tail = rnd.nextInt(10) match {
        case 0 => Seq(ev("fail"))
        case 1 => Seq(ev("reset"), ev("reserve"), ev("finish"))
        case 2 => Seq(ev("abort"))
        case _ => Seq(ev("heartbeat"), ev("finish"))
      }
      val illegal = if (rnd.nextInt(10) == 0) Seq(ev("reserve")) else Nil
      head ++ tail ++ illegal
    }

  /** Set up one pass over `dataDir` (scale label `sf`). */
  def prepare(dataDir: String, sf: String, fsmJobs: Int, rnd: Random): Unit = {
    dir = dataDir; scale = sf
    fsmEvents = events(fsmJobs, rnd)
    results.clear(); problems.clear()
  }

  def work(tr: Tracer)(job: Job): Unit = job.jobType match {
    case "fsm"    => results.put("fsm", tr.span("streaming.fsm_fold")(fsmFold()))
    case "report" => report(tr)
    case q =>
      val fp = tr.span(s"ops.$q")(Fingerprint.of(SparkEntry.queries(fullName(q))(spark, dir)))
      results.put(q, fp)
      val want = pinned.getOrElse(scale, Map.empty).get(q)
      val expect = if (corruptFingerprint && q == "q01") want.map(_ + "x") else want
      if (!expect.contains(fp))
        problems.put(q, s"$q fingerprint $fp at $scale, pinned ${expect.getOrElse("none")}")
  }

  private def fsmFold(): String = {
    import spark.implicits._
    val got = FsmStream.transitions(fsmEvents.toDS()).collect().map(s => s.jobId -> s).toMap
    val want = fsmEvents.groupBy(_.jobId).map { case (id, evs) =>
      id -> evs.sortBy(_.atSec).foldLeft(JobState(id, JobStatus.Unstarted, 0L, 0))(FsmStream.step)
    }
    if (got != want) problems.put("fsm", s"fsm fold differs from the reference fold on " +
      s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} jobs")
    val byStatus = got.values.groupBy(_.status).view.mapValues(_.size).toSeq.sorted
    byStatus.map { case (s, n) => s"$s=$n" }.mkString(",")
  }

  private def report(tr: Tracer): Unit = {
    import spark.implicits._
    val rows = results.asScala.toSeq.sorted
    val path = s"$workDir/report"
    tr.span("sources.write")(Sources.idempotentWrite(rows.toDF("job", "result"), path))
    tr.count("sources.write.bytes", du(new java.io.File(path)))
    val back = spark.read.parquet(path).as[(String, String)].collect().toSeq.sorted
    if (back != rows) problems.put("report", s"report read back ${back.size} rows, wrote ${rows.size}")
  }

  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length

  /** Problems found in the last pass: job name -> message. */
  def issues: Map[String, String] = problems.asScala.toMap
}
