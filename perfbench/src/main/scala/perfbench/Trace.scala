package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent,
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Engine-wide counters from Spark's public `SparkListener` events. A
  * snapshot is a plain map, so a caller attributes work to a span by
  * differencing two snapshots.
  */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks = new AtomicLong
  private val shuffleWrite, shuffleRead, spill, result = new AtomicLong
  private val gcMs, cpuNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      result.addAndGet(m.resultSize)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "shuffle_write_mb" -> shuffleWrite.get / 1e6, "shuffle_read_mb" -> shuffleRead.get / 1e6,
    "spill_mb" -> spill.get / 1e6, "result_mb" -> result.get / 1e6,
    "gc_ms" -> gcMs.get.toDouble, "executor_cpu_s" -> cpuNs.get / 1e9)
}

object SparkCounters {
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Per-trigger progress of every streaming query, from the public
  * `StreamingQueryListener`: the reporting contract Structured Streaming
  * already offers, so the pipeline needs no tracing of its own.
  */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = q.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Triggers that processed data, with their phase durations (ms). */
  def triggers: Seq[(Long, Map[String, Long])] =
    q.asScala.toSeq.filter(_.numInputRows > 0).map { p =>
      p.numInputRows -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    }
}
