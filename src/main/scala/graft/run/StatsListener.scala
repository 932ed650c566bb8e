package graft.run

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage stats listener (SURVEY.md §2.10 #87).
  *
  * The reference tracks statementIndex / processedBatches and logs % +
  * ETA every 100 batches (typescript/src/2_database_load.ts:104-113,
  * stats.ts:1-16). The Spark-native equivalent is a `SparkListener`:
  * records and bytes come from stage metrics — no instrumentation
  * inside operators, no driver-side counting loops. It keeps one
  * [[StatsListener.Stage]] per completed stage, the "where do the
  * seconds go" view `explain` can't give (`Inspect profile`).
  */
final class StatsListener extends SparkListener {
  private val completed = new ConcurrentLinkedQueue[StatsListener.Stage]()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
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
}

object StatsListener {

  /** One completed stage: wall from submission to completion, summed
    * task run time, and records read from files and shuffles. */
  final case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long,
                         recordsRead: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)
}
