package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Engine counters read through Spark's public listener APIs. The
  * benchmark registers both listeners itself; the program is unchanged.
  * Counters are cumulative; [[SparkCounters.snapshot]] and `minus` give
  * the delta over a timed window. */
final class SparkCounters extends SparkListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private val stageSubmit =
    new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    add("stages", 1)
    stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      java.lang.Long.valueOf(
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.reason != org.apache.spark.Success) add("failed_tasks", 1)
    val info = e.taskInfo
    // time the task waited for an executor slot after its stage was
    // submitted: the queueing the FAIR pools arbitrate
    Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach(t =>
      add("scheduler_delay_ms", math.max(0L, info.launchTime - t)))
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ms", m.executorCpuTime / 1000000L)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_rows", m.outputMetrics.recordsWritten)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Long] =
    c.asScala.map { case (k, v) => k -> v.get }.toMap
}

object SparkCounters {
  def minus(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) - b.getOrElse(k, 0L))).toMap
}

/** Micro-batch progress of every streaming query, from
  * `StreamingQueryListener.onQueryProgress`. */
final case class Batch(query: String, rows: Long,
                       durations: Map[String, Long])

final class StreamCounters extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.synchronized {
      batches += Batch(p.id.toString, p.numInputRows, d)
    }
  }

  def of(query: String): Seq[Batch] =
    batches.synchronized(batches.filter(_.query == query).toList)

  /** Wait until the listener bus has delivered `n` progress events for
    * `query` (events arrive asynchronously after the query ends). */
  def await(query: String, n: Int, timeoutMs: Long = 10000L): Seq[Batch] = {
    val end = System.currentTimeMillis() + timeoutMs
    while (of(query).size < n && System.currentTimeMillis() < end)
      Thread.sleep(5)
    of(query)
  }

  def all: Seq[Batch] = batches.synchronized(batches.toList)
}

/** Process-level readings outside Spark's listeners. */
object Proc {
  /** High-water resident set size of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total garbage-collection pause time so far, in ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
