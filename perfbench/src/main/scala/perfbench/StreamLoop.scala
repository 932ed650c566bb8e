package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamingSync

final case class StreamResult(files: Int, latencies: Seq[Double], firstDueMs: Long,
                              lastCommitMs: Long, extra: Map[String, Double])

/** Open loop over the engine's continuous sync. One generator thread only
  * renames pre-written view-shaped quad parquet files into the feed
  * directory on a fixed schedule; `StreamingSync.start` merges them into
  * the bucketed targets, one micro-batch per trigger interval. Arrivals
  * are spread evenly inside each interval, so while a micro-batch takes
  * less than the interval every batch holds the same files; a slower one
  * delays the next trigger and every file queued behind it. A file's
  * latency runs from its due time to the commit of the micro-batch that
  * holds it. The first staged file is the warm-up file. */
final class StreamLoop(spark: SparkSession, tr: Tracer, a: Map[String, String],
                       work: File, targetDir: String, buckets: Int) {
  private val files = Option(new File(a("stream_staging")).listFiles())
    .getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
    .sortBy(_.getName).toSeq
  private val intervalMs = (a("interval_s").toDouble * 1000).toLong
  private val perInterval = a("files_per_interval").toInt
  private val warmRows = a("warm_rows").toLong
  private val totalRows = a("stream_rows").toLong
  private val feed = new File(work, "feed")
  private val ckpt = new File(work, "checkpoint")
  private var query: StreamingQuery = _

  private def rowsDone = tr.progress.asScala.map(_.progress.numInputRows).sum

  private def feedFile(f: File): Unit =
    Files.move(f.toPath, new File(feed, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)

  private def awaitRows(n: Long, deadlineMs: Long): Unit = {
    while (rowsDone < n && System.currentTimeMillis() < deadlineMs &&
      query.exception.isEmpty) Thread.sleep(20)
    query.exception.foreach(e => throw e)
    require(rowsDone >= n, s"stream did not finish: $rowsDone of $n rows")
  }

  def startAndWarm(): Unit = {
    feed.mkdirs()
    feedFile(files.head)
    query = tr.span("streaming", "start") {
      StreamingSync.start(StreamingSync.fromParquetDir(spark, feed.getPath),
        Specs.docTables, targetDir, ckpt.getPath, Trigger.ProcessingTime(intervalMs), buckets)
    }
    awaitRows(warmRows, System.currentTimeMillis() + 120000L)
  }

  def run(): StreamResult = {
    val timed = files.tail
    val due = new Array[Long](timed.size)
    val moved = new Array[Long](timed.size)
    // triggers fire at multiples of the interval; start at the next one
    val now = System.currentTimeMillis()
    val t0 = now - now % intervalMs + intervalMs
    val gap = intervalMs.toDouble / perInterval
    val gen = new Thread(() => timed.indices.foreach { i =>
      due(i) = t0 + ((i + 0.5) * gap).toLong
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      feedFile(timed(i))
      moved(i) = System.currentTimeMillis()
    })
    tr.span("streaming", "open loop") {
      tr.alias(query.runId.toString, "streaming")
      gen.start()
      gen.join()
      awaitRows(warmRows + totalRows, System.currentTimeMillis() + 120000L)
    }
    query.stop()

    // micro-batch of each file, from the file source's log in the checkpoint
    val fileBatch = mutable.Map.empty[String, Long]
    Option(new File(ckpt, "sources/0").listFiles()).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith("."))
      .foreach { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().drop(1).foreach { line =>
          val path = """"path":"([^"]+)"""".r.findFirstMatchIn(line).map(_.group(1))
          val batch = """"batchId":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
          for (p <- path; b <- batch) fileBatch(p.substring(p.lastIndexOf('/') + 1)) = b
        } finally src.close()
      }
    val progress = tr.progress.asScala.map(_.progress).toSeq
    val startOf = progress.map(p =>
      p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    val commitOf = progress.map { p =>
      p.batchId -> (startOf(p.batchId) +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L))
    }.toMap
    val batchOf = timed.map(f => fileBatch(f.getName))
    val commits = batchOf.map(commitOf)
    val lat = timed.indices.map(i => (commits(i) - due(i)) / 1000.0)
    val waits = timed.indices.map(i => math.max(0L, startOf(batchOf(i)) - due(i)) / 1000.0)
    // backlog: files due but not yet committed, sampled at each due time
    val backlog = due.map(d => due.indices.count(j => due(j) <= d && commits(j) > d)).max
    val timedBatches = progress.filter(p => p.numInputRows > 0 && batchOf.contains(p.batchId))
    def dur(k: String) = Main.median(timedBatches.map(p =>
      p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)))
    StreamResult(timed.size, lat, due.head, commits.max, Map(
      "streaming.batches" -> timedBatches.size.toDouble,
      "streaming.queue_wait_s" -> Main.median(waits),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.backlog_max_files" -> backlog.toDouble,
      "bench.generator_lag_s" -> timed.indices.map(i => (moved(i) - due(i)) / 1000.0).max))
  }
}
