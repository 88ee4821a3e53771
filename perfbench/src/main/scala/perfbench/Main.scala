package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.engine.{Graft, InMemoryJobStore, Job, JdbcJobStore, Worker}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths
import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Command-line options; run.py fills in everything but the first four. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: String, data: String, threads: Int, heap: String, commit: String,
    fingerprints: String, outDir: String, launchedAtUs: Long,
    smoke: Boolean, inject: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val flags = Set("--smoke")
    val kv = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"missing value for ${args(i)}"); kv(args(i)) = args(i + 1); i += 2 }
    }
    def get(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toInt, get("--trace") == "1",
      get("--workdir"), get("--data"), get("--threads").toInt, get("--heap"), get("--commit"),
      get("--fingerprints"), get("--out"), get("--launched-at-us").toLong,
      kv.contains("--smoke"), kv.get("--inject"))
  }
}

/** One measured drain or pass: its engine result, the problems the
  * workload's own checks found, and what the tracer and Spark recorded. */
final case class Pass(drain: DrainResult, problems: Seq[String], traced: Boolean,
                      spans: Vector[Span], counts: Map[String, Long], spark: Map[String, Double]) {
  def errors: Int = drain.errors + problems.size
}

/** A workload: a one-off set-up (charged to setup_s), then passes. */
trait Workload {
  def sizes: Map[String, Any]
  def warmUp(): Seq[Pass]
  /** Measured passes in a run of `seconds`, or None to repeat passes until
    * the time is up. */
  def passCount(seconds: Int): Option[Int] = None
  def pass(i: Int, tr: Tracer): Pass
  def close(): Unit
}

/** dag_memory and dag_jdbc: seeded layered DAGs drained by the pool. */
final class DagWorkload(o: Opts, jdbc: Boolean) extends Workload {
  private val jobs = (jdbc, o.smoke) match {
    case (_, true)  => 50
    case (false, _) => 1000
    case (true, _)  => 60
  }
  private val warmPasses = if (jdbc) 10 else 25
  def sizes: Map[String, Any] = Map("jobs" -> jobs, "fan_in" -> 3, "threads" -> o.threads,
    "store" -> (if (jdbc) "jdbc (embedded Derby, on disk)" else "memory"))

  private val inject = o.inject.contains("double-finish")

  private def planFor(stream: Long): DagPlan = {
    val rnd = new Random(o.seed * 1000003L + stream)
    Dag.withFailureMix(Dag.layered(jobs, rnd), rnd)
  }

  private var dbCount = 0
  private def setupFor(tr: Tracer, log: DrainLog): StoreSetup =
    if (!jdbc) Main.memoryStore(log, tr, inject)
    else {
      dbCount += 1
      val path = s"${o.workDir}/derby-$dbCount"
      val url  = s"jdbc:derby:$path;create=true"
      // One store instance (one connection) shared by the in-process pool:
      // the engine's unit of deployment is one JdbcJobStore per process, and
      // several embedded-Derby connections racing in one JVM make Derby's
      // statement cache throw ClassCastException on the readiness query.
      val raw = new JdbcJobStore(url)
      val s   = new BenchStore(raw, log, tr, inject)
      s.install()
      StoreSetup(s, () => {
        raw.close()
        try DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true")
        catch { case _: SQLException => () } // Derby signals a clean shutdown by throwing
        Main.deleteTree(new File(path))
      })
    }

  private def work(plan: DagPlan)(job: Job, w: Worker): Unit = {
    val i = plan.index(job.id)
    if (i % 4 == 0) w.heartbeatOnce()
    plan.fates(i) match {
      case Fate.Ok        => ()
      case Fate.FaultOnce => if (firstTry.add(job.id)) Graft.fault("planned transient fault")
      case Fate.Fail      => throw new RuntimeException("planned failure")
      case Fate.Abort     => Graft.abort("planned abort")
    }
  }
  private val firstTry = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def run(stream: Long, tr: Tracer): Pass = {
    val plan = planFor(stream)
    firstTry.clear()
    val log = new DrainLog(plan)
    val p = new Pool(o.threads, tr, monitorEvery = 8)
    val d = p.drain(plan, log, setupFor(tr, log), work(plan), o.seed + stream)
    val (spans, counts) = tr.take()
    Pass(d, Nil, tr.enabled, spans, counts, Map.empty)
  }

  def warmUp(): Seq[Pass] = (1 to warmPasses).map(i => run(-i.toLong, new Tracer(false)))
  def pass(i: Int, tr: Tracer): Pass = run(i.toLong, tr)
  def close(): Unit = ()
}

/** etl_sf001: the operator pipeline on a Spark session. */
final class EtlWorkload(o: Opts) extends Workload {
  private val sf = if (o.smoke) "sf0.001" else "sf0.01"
  private val fsmJobs = if (o.smoke) 500 else 4000
  def sizes: Map[String, Any] = Map("jobs" -> 16, "scale" -> sf,
    "fsm_jobs" -> fsmJobs, "threads" -> o.threads, "store" -> "memory")

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${o.threads}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", o.threads.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${o.workDir}/spark-local")
    .config("spark.sql.warehouse.dir", s"${o.workDir}/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val probe = if (o.trace) Some(new SparkProbe(spark)) else None

  private val pinned: Map[String, Map[String, String]] =
    new ObjectMapper().readTree(new File(o.fingerprints)).properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map(q => q.getKey -> q.getValue.asText()).toMap
    }.toMap
  private val etl = new Etl(spark, o.workDir, pinned, o.inject.contains("corrupt-fingerprint"))

  private def run(scale: String, stream: Long, tr: Tracer): Pass = {
    etl.prepare(s"${o.data}/$scale", scale, fsmJobs, new Random(o.seed * 1000003L + stream))
    probe.foreach(_.take())
    val log = new DrainLog(etl.plan)
    val pool = new Pool(o.threads, tr)
    val d = pool.drain(etl.plan, log, Main.memoryStore(log, tr, o.inject.contains("double-finish")),
      (j, _) => etl.work(tr)(j), o.seed + stream)
    // checkpointed blocks of this pass's queries must not crowd the next pass
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val sparkCounts = if (tr.enabled) probe.map(_.take()).getOrElse(Map.empty) else Map.empty[String, Double]
    val (spans, counts) = tr.take()
    Pass(d, etl.issues.values.toSeq.sorted, tr.enabled, spans, counts, sparkCounts)
  }

  /** The first pass is twice as slow as the next (Spark's codegen cache),
    * and passes keep getting faster for a few more (JIT), so the warm-up
    * takes five; a smoke run takes one. */
  def warmUp(): Seq[Pass] = {
    spark.range(1000).selectExpr("sum(id)").collect()
    (1 to (if (o.smoke) 1 else 5)).map(i => run(sf, -i.toLong, new Tracer(false)))
  }
  /** One pass per 5 s of the run: the count must not depend on how fast a
    * pass is, or a faster pass would move the median along the warm-up curve. */
  override def passCount(seconds: Int): Option[Int] = Some(math.max(1, math.round(seconds / 5.0).toInt))
  def pass(i: Int, tr: Tracer): Pass = run(sf, i.toLong, tr)
  def close(): Unit = spark.stop()
}

object Main {

  def memoryStore(log: DrainLog, tr: Tracer, injectDoubleFinish: Boolean): StoreSetup = {
    val s = new BenchStore(new InMemoryJobStore, log, tr, injectDoubleFinish)
    s.install()
    StoreSetup(s)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val ok = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        false
    }
    System.out.flush()
    // Spark and Derby leave non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  private def run(o: Opts): Boolean = {
    val wl: Workload = o.workload match {
      case "dag_memory" => new DagWorkload(o, jdbc = false)
      case "dag_jdbc"   => new DagWorkload(o, jdbc = true)
      case "etl_sf001"  => new EtlWorkload(o)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warm = wl.warmUp()
    val now = java.time.Instant.now()
    val setupS = (now.getEpochSecond * 1000000L + now.getNano / 1000 - o.launchedAtUs) / 1e6

    // Untraced run: every pass untraced. Traced run: passes go untraced,
    // traced, traced, untraced (repeating), so the tracing overhead is
    // measured in the same JVM without favouring either side with warm-up.
    val passes = Vector.newBuilder[Pass]
    val minPasses = if (o.trace) 4 else 1
    val fixed = wl.passCount(o.seconds).map(math.max(_, minPasses))
    val t0 = System.nanoTime()
    var i = 0
    def more: Boolean = fixed match {
      case Some(n) => i < n
      case None    => i < minPasses || System.nanoTime() - t0 < o.seconds * 1000000000L
    }
    while (more) {
      val traced = o.trace && (i % 4 == 1 || i % 4 == 2)
      passes += wl.pass(i, new Tracer(traced))
      i += 1
    }
    val measured = passes.result()
    val heapMb = liveHeapMb()
    wl.close()

    val all = warm ++ measured
    val attempted = all.map(_.drain.jobs).sum
    val failed = all.map(_.errors).sum
    val problems = all.flatMap(p => p.drain.messages ++ p.problems).distinct
    val untraced = measured.filterNot(_.traced)
    val makespans = untraced.map(_.drain.makespanNs / 1e9)
    val dispatch = untraced.flatMap(_.drain.dispatchMs.toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("makespan_s", Stats.median(makespans), "s"),
        ("dispatch_ms_p50", Stats.quantile(dispatch, 0.50), "ms"),
        ("setup_s", setupS, "s"),
        ("heap_live_mb", heapMb, "MB"))
      else Layers.metrics(measured.filter(_.traced), Stats.median(makespans)) :+
        (("pool.dispatch_ms_p95", Stats.quantile(dispatch, 0.95), "ms"))

    val meta = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "smoke" -> o.smoke, "inject" -> o.inject.getOrElse(""), "nproc" -> o.threads,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024), "heap_flag" -> o.heap,
      "jdk" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
      "commit" -> o.commit, "sizes" -> wl.sizes, "warm_passes" -> warm.size,
      "makespans_s" -> untraced.map(_.drain.makespanNs / 1e9),
      "passes" -> measured.size, "untraced_passes" -> untraced.size,
      "dispatch_samples" -> dispatch.size, "error_ratio" -> failed.toDouble / math.max(1, attempted),
      "problems" -> problems.take(20))
    val correct = failed == 0

    println(s"[perfbench] ${o.workload} seed=${o.seed} passes=${measured.size} " +
      s"(untraced ${untraced.size}, makespan samples ${makespans.size}, dispatch samples ${dispatch.size}) " +
      s"makespans_s=${makespans.map(m => f"$m%.3f").mkString(",")} " +
      s"warm_s=${warm.map(p => f"${p.drain.makespanNs / 1e9}%.3f").mkString(",")}")
    problems.take(20).foreach(p => println(s"[perfbench] check failed: $p"))
    println(s"[perfbench] error_ratio=${failed}/${attempted}")
    println(f"[perfbench] dispatch_ms_p95 ${Stats.quantile(dispatch, 0.95)}%.6f ms over ${dispatch.size} samples")
    metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-28s $v%14.6f $u") }
    if (o.trace) writeTrace(o, measured.filter(_.traced))
    val line = resultNode(correct, attempted, failed, metrics)
    writeResult(o, json.valueToTree[ObjectNode](meta).set[ObjectNode]("result", line))
    println(json.writeValueAsString(line))
    correct
  }

  /** Heap in use after full GCs, once Spark's cleaner has had time to drop
    * what the first collection released. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def writeTrace(o: Opts, traced: Seq[Pass]): Unit = {
    val dir = new File(o.outDir); dir.mkdirs()
    Spans.writeTsv(traced.flatMap(_.spans), Paths.get(dir.getPath, s"trace-${o.workload}-seed${o.seed}.tsv"))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The result line: `correct`, `attempted`, `failed` and the metrics. */
  private def resultNode(correct: Boolean, attempted: Int, failed: Int,
                         metrics: Seq[(String, Double, String)]): ObjectNode = {
    val r = json.createObjectNode().put("correct", correct).put("attempted", attempted).put("failed", failed)
    val m = r.putObject("metrics")
    metrics.foreach { case (n, v, u) => m.putObject(n).put("value", v).put("unit", u) }
    r
  }

  private def writeResult(o: Opts, node: ObjectNode): Unit = {
    val dir = new File(o.outDir); dir.mkdirs()
    val name = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}${if (o.smoke) "-smoke" else ""}.json"
    json.writeValue(new File(dir, name), node)
  }
}
