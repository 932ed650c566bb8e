package graft.run

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Progress/stats listener (SURVEY.md §2.10 #87).
  *
  * The reference tracks statementIndex / processedBatches and logs % +
  * ETA every 100 batches (typescript/src/2_database_load.ts:104-113,
  * stats.ts:1-16). The Spark-native equivalent is a `SparkListener`:
  * records and bytes come from task metrics — no instrumentation inside
  * operators, no driver-side counting loops. Alongside the run totals
  * it keeps one [[StatsListener.Stage]] per completed stage, the
  * "where do the seconds go" view `explain` can't give.
  */
final class StatsListener(totalRecordsHint: Option[Long] = None) extends SparkListener {
  val recordsRead = new AtomicLong(0)
  val bytesRead = new AtomicLong(0)
  val recordsWritten = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val tasksCompleted = new AtomicLong(0)
  val lastStage = new AtomicReference[String]("")
  private val completed = new ConcurrentLinkedQueue[StatsListener.Stage]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      tasksCompleted.incrementAndGet()
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    lastStage.set(i.name)
    val m = i.taskMetrics
    completed.add(StatsListener.Stage(i.stageId, i.name.takeWhile(_ != '\n'),
      (for (end <- i.completionTime; start <- i.submissionTime)
        yield end - start).getOrElse(0L),
      m.executorRunTime,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
  }

  /** Completed stages, in completion order. */
  def stages: Seq[StatsListener.Stage] = completed.asScala.toSeq

  /** Progress fraction against the hint, when one was provided —
    * mirrors statementIndex ÷ numberOfStatements (stats.ts:9-11). */
  def progress: Option[Double] =
    totalRecordsHint.filter(_ > 0).map(t => recordsRead.get.toDouble / t)

  def summary: String =
    s"records_read=${recordsRead.get} bytes_read=${bytesRead.get} " +
      s"records_written=${recordsWritten.get} shuffle_bytes=${shuffleBytes.get} " +
      s"tasks=${tasksCompleted.get}" +
      progress.map(p => f" progress=${p * 100}%.1f%%").getOrElse("")
}

object StatsListener {

  /** One completed stage: wall from submission to completion, summed
    * task run time, and records read from files and shuffles. */
  final case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long,
                         recordsRead: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)
}
