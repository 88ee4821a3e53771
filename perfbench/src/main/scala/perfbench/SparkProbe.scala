package perfbench

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task-level execution counters for the traced run, summed over every task
  * Spark finishes. */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new LongAdder
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counters since the last call, once every queued event is delivered. */
  def take(): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    Map(
      "spark.tasks" -> tasks.sumThenReset().toDouble,
      "spark.task_cpu_s" -> cpuNs.sumThenReset() / 1e9,
      "spark.task_gc_s" -> gcMs.sumThenReset() / 1e3,
      "spark.shuffle_read_bytes" -> shuffleRead.sumThenReset().toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.sumThenReset().toDouble,
      "spark.spill_bytes" -> spill.sumThenReset().toDouble)
  }
}
