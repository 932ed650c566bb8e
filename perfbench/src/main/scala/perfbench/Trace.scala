package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around a call into an engine layer: wall-clock interval,
  * parent span, and the Hadoop-FS bytes written while it was open. */
final class Span(val id: Int, val name: String, val detail: String,
                 val parent: Int, val runId: String, val startMs: Long) {
  var endMs: Long = -1L
  var bytesWritten: Long = 0L
}

/** Task/stage/job/planning counters attributed to one span. */
final class LayerStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var emptyTasks = 0
  var taskCpuNs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var firstJobMs = Long.MaxValue
  var planMs = 0L
  var rowsOut = 0L
  var reusedExchanges = 0
}

/** Spans recorded from the benchmark's own code, around every call into
  * a layer. With `listen` on, a SparkListener / QueryExecutionListener /
  * StreamingQueryListener attribute jobs, stages, tasks, task metrics and
  * planning phases to spans: jobs through the job group each span sets,
  * planning phases by their timestamps. Streaming progress is recorded in
  * both modes, since batch latency is an end-to-end metric. Everything
  * stays in memory until [[Tracer.stats]]. */
final class Tracer(spark: SparkSession, runId: String, listen: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byGroup = mutable.Map.empty[String, Int]

  private final case class TaskRec(group: String, launchMs: Long, cpuNs: Long, records: Long,
                                   shuffleWrite: Long, spill: Long, peak: Long,
                                   schedMs: Long)
  private final case class QeRec(startMs: Long, planMs: Long, rows: Long,
                                 reused: Int)
  private val jobGroups = new ConcurrentLinkedQueue[(String, Long, Int)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageFirstLaunch = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  /** Bytes written through Hadoop file systems since process start. */
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  /** Runs `body` inside a span named after its layer; `detail` names the
    * call (a table, a batch). */
  def span[T](name: String, detail: String = "")(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, detail, parent.map(_.id).getOrElse(-1), runId,
      System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val group = s"span-${s.id}"
    if (listen) {
      byGroup(group) = s.id
      sc.setJobGroup(group, name, interruptOnCancel = false)
    }
    val w0 = bytesWritten()
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      s.bytesWritten = bytesWritten() - w0
      stack = stack.tail
      if (listen) parent match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Attribute jobs of another job group (a streaming query's run id,
    * set by its own thread) to the latest span with this name. */
  def alias(group: String, spanName: String): Unit =
    spans.reverseIterator.find(_.name == spanName).foreach(s => byGroup(group) = s.id)

  /** Adaptive plans hide their executed tree behind a wrapper and leaf
    * query stages; look through both. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec        => unwrap(s.plan)
    case other                    => other
  }

  private def topRows(plan: SparkPlan): Long = {
    def find(p: SparkPlan): Option[Long] = {
      val q = unwrap(p)
      q.metrics.get("numOutputRows").map(_.value)
        .orElse(q.children.iterator.map(find).collectFirst { case Some(v) => v })
    }
    find(plan).getOrElse(0L)
  }

  private def reusedExchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = unwrap(p) match {
      case _: ReusedExchangeExec => 1
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        jobGroups.add((g, e.time, e.stageInfos.size))
        e.stageIds.foreach(id => stageGroup.put(id, g))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageFirstLaunch.merge(e.stageId, java.lang.Long.valueOf(e.taskInfo.launchTime),
        (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.min(a, b)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val info = e.taskInfo
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        tasks.add(TaskRec(g, info.launchTime, m.executorCpuTime,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory, sched))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
                  else phases.map(_.startTimeMs).min
      qes.add(QeRec(start, phases.map(_.durationMs).sum,
        topRows(qe.executedPlan), reusedExchanges(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (listen) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Innermost span open at time t (spans nest; later-started wins). */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.startMs).lastOption

  /** Per-span counters. Call after the listener bus has drained (after
    * `SparkContext.stop`, which flushes it). */
  def stats(): Map[Int, LayerStats] = {
    val out = mutable.Map.empty[Int, LayerStats]
    def of(id: Int) = out.getOrElseUpdate(id, new LayerStats)
    // a group may outlive its span (a streaming query's run id): count
    // only events inside the span's interval
    def inSpan(g: String, t: Long): Option[Int] =
      byGroup.get(g).filter(id => t >= spans(id).startMs && t <= spans(id).endMs)
    jobGroups.asScala.foreach { case (g, t, nStages) =>
      inSpan(g, t).foreach { id =>
        val st = of(id); st.jobs += 1; st.stages += nStages
        st.firstJobMs = math.min(st.firstJobMs, t)
      }
    }
    tasks.asScala.foreach { r =>
      inSpan(r.group, r.launchMs).foreach { id =>
        val st = of(id)
        st.tasks += 1
        if (r.records == 0) st.emptyTasks += 1
        st.taskCpuNs += r.cpuNs
        st.schedWaitMs += r.schedMs
        st.shuffleWriteBytes += r.shuffleWrite
        st.spillBytes += r.spill
        st.peakExecBytes = math.max(st.peakExecBytes, r.peak)
      }
    }
    stageGroup.asScala.foreach { case (stage, g) =>
      for (sub <- Option(stageSubmit.get(stage)); id <- inSpan(g, sub);
           first <- Option(stageFirstLaunch.get(stage)))
        of(id).schedWaitMs += math.max(0L, first - sub)
    }
    qes.asScala.foreach { q =>
      spanAt(q.startMs).foreach { s =>
        val st = of(s.id)
        st.planMs += q.planMs; st.rowsOut += q.rows; st.reusedExchanges += q.reused
      }
    }
    out.toMap
  }

  /** Spans as JSON lines (name, start, end, parent, run id, self ms). */
  def spansJson(): String = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.endMs - c.startMs).sum
      val self = (s.endMs - s.startMs) - covered
      s"""{"id":${s.id},"name":"${s.name}","detail":"${s.detail}","parent":${s.parent},""" +
        s""""run_id":"${s.runId}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":$self,""" +
        s""""bytes_written":${s.bytesWritten}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
