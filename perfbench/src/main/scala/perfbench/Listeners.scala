package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One finished task as the listener bus reports it (times in epoch ms,
  * run/cpu as Spark measures them inside the executor). */
final case class TaskSample(stageId: Int, index: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, records: Long, shuffleWriteBytes: Long,
    spillBytes: Long, tag: String)

/** Collects task, stage and job facts from Spark's public listener bus.
  * Jobs carry the `perfbench.tag` local property of the thread that
  * submitted them, which is how the query_mix ledger charges each job
  * to its query. */
final class TaskLedger extends SparkListener {
  @volatile var enabled = true
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val tasks = new ConcurrentLinkedQueue[TaskSample]()
  val jobs = new ConcurrentLinkedQueue[(String, Int)]() // (tag, stage count)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TaskLedger.TagKey)))
      .getOrElse("")
    e.stageIds.foreach(stageTag.put(_, tag))
    jobs.add(tag -> e.stageIds.length)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    val m = e.taskMetrics
    tasks.add(TaskSample(e.stageId, e.taskInfo.index, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      stageTag.getOrDefault(e.stageId, "")))
  }

  def clear(): Unit = { tasks.clear(); jobs.clear() }
}

object TaskLedger {
  val TagKey = "perfbench.tag"
}

/** Every progress event of every streaming query, kept in order. The
  * query's `recentProgress` keeps only the last 100, and a live run makes
  * more triggers than that. */
final class ProgressLog extends StreamingQueryListener {
  private val log = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    log.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId)

  /** Progress of one query run, waiting for the bus to deliver its
    * termination first (events are delivered asynchronously). */
  def of(runId: java.util.UUID): Vector[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 10000000000L
    while (!terminated.contains(runId) && System.nanoTime() < deadline) Thread.sleep(5)
    events.filter(_.runId == runId)
  }

  def events: Vector[StreamingQueryProgress] = log.asScala.toVector

}
