package perfbench

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Per-layer metrics from the traced passes. Totals are per pass (one drain
  * of a DAG, or one run of the ETL pipeline), averaged over traced passes. */
object Layers {

  def metrics(traced: Seq[Pass], untracedMakespanS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    val spans = traced.flatMap(_.spans)
    val self = Spans.selfNanos(spans)
    def named(name: String) = spans.filter(_.name == name)
    def totalMs(name: String): Double = named(name).map(_.nanos).sum / 1e6 / n
    def selfMs(pred: String => Boolean): Double =
      spans.filter(s => pred(s.name)).map(s => self(s.id)).sum / 1e6 / n
    def calls(name: String): Double = named(name).size / n
    def counted(name: String): Double = traced.map(_.counts.getOrElse(name, 0L)).sum / n
    def sparkSum(name: String): Double = traced.map(_.spark.getOrElse(name, 0.0)).sum / n
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

    val ready = named("store.ready")
    val tracedMakespanS = Stats.median(traced.map(_.drain.makespanNs / 1e9))
    // store calls made from the pool's loop, against the loop's own time
    // (install, transact and the checks' snapshots run outside the pool)
    val loopMs = spans.filter(_.name.startsWith("worker.")).map(_.nanos).sum / 1e6 / n
    val storeMs = spans.filter(s => s.name.startsWith("store.") &&
      !Set("store.install", "store.transact", "store.snapshot")(s.name)).map(_.nanos).sum / 1e6 / n
    val d = traced.map(_.drain)

    Seq(
      ("store.ready.calls", calls("store.ready"), "count"),
      ("store.ready.ms", totalMs("store.ready"), "ms"),
      ("store.ready.ms_p50", if (ready.isEmpty) 0.0 else Stats.median(ready.map(_.nanos / 1e6)), "ms"),
      ("store.ready.rows_per_call", ratio(counted("store.ready.rows"), calls("store.ready")), "rows/call"),
      ("store.reserve.ms", totalMs("store.reserve"), "ms"),
      ("store.finish.ms", totalMs("store.finish"), "ms"),
      ("store.heartbeat.ms", totalMs("store.heartbeat"), "ms"),
      ("store.dead.ms", totalMs("store.dead"), "ms"),
      ("store.abort.ms", totalMs("store.abort"), "ms"),
      ("store.transact.ms", totalMs("store.transact"), "ms"),
      ("store.fail.calls", calls("store.fail"), "count"),
      ("store.reset.calls", calls("store.reset"), "count"),
      ("store.busy_share", ratio(storeMs, loopMs), "ratio"),
      ("worker.reserve.lost_ratio", ratio(d.map(_.lostReserves).sum, d.map(_.reserveCalls).sum), "ratio"),
      ("worker.tick.idle_ratio", ratio(d.map(_.idleTicks).sum, d.map(_.ticks).sum), "ratio"),
      ("worker.detect.self_ms", selfMs(_ == "worker.detect"), "ms"),
      ("worker.self_ms", selfMs(_.startsWith("worker.")), "ms"),
      ("handler.ms", totalMs("handler"), "ms"),
      ("handler.runs", calls("handler"), "count"),
      ("handler.self_ms", selfMs(_ == "handler"), "ms")) ++
    Etl.queries.map { case (q, _) => (s"ops.$q.s", totalMs(s"ops.$q") / 1e3, "s") } ++
    Seq(
      ("streaming.fsm_fold.s", totalMs("streaming.fsm_fold") / 1e3, "s"),
      ("sources.write.s", totalMs("sources.write") / 1e3, "s"),
      ("sources.write.bytes", counted("sources.write.bytes"), "bytes"),
      ("spark.tasks", sparkSum("spark.tasks"), "count"),
      ("spark.task_cpu_s", sparkSum("spark.task_cpu_s"), "s"),
      ("spark.task_gc_s", sparkSum("spark.task_gc_s"), "s"),
      ("spark.shuffle_read_bytes", sparkSum("spark.shuffle_read_bytes"), "bytes"),
      ("spark.shuffle_write_bytes", sparkSum("spark.shuffle_write_bytes"), "bytes"),
      ("spark.spill_bytes", sparkSum("spark.spill_bytes"), "bytes"),
      ("trace.makespan_s", tracedMakespanS, "s"),
      ("trace.overhead_s", tracedMakespanS - untracedMakespanS, "s"))
  }
}
