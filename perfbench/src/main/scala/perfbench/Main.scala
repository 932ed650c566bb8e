package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.run.Tuning
import graft.sink.Upsert

/** One benchmark process: builds the session, sets up (several times,
  * where set-up can repeat), runs one workload's timed part, and writes
  * a JSON result with the metrics the runner prints. Arguments are
  * `key=value` pairs; see `perfbench/run.py` for the set it passes.
  *
  * Workloads: `full_sync`, `incremental`, `streaming`, plus `base`, which
  * builds the full-synced state that `incremental` and `streaming`
  * restore in their set-up. */
object Main {

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  private def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(c => copyTree(c, new File(dst, c.getName))))
    } else Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, with that
    * percentile; None when that would be the median or below. */
  private def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n < 21) None
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      val s = xs.sorted
      Some(pct -> s(math.min(n - 1, math.ceil(pct / 100.0 * n).toInt - 1)))
    }
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = new File(a("work")).getAbsoluteFile
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val reps = a.getOrElse("setup_reps", "3").toInt
    val inputDir = a("inputs")
    val targetDir = new File(work, "targets").getPath
    val docsDir = new File(work, "docs").getPath

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Tuning.initialPartitions(inputDir).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tr = new Tracer(spark, a.getOrElse("run_id", "run"), listen = traced)
    val buckets = Upsert.bucketsFor(Tuning.inputBytes(inputDir))
    val job = new Job(spark, tr, traced, targetDir, docsDir, buckets)
    val m = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failed = 0
    val latencies = mutable.ArrayBuffer.empty[Double]

    // ---- set-up: repeated; the median is reported
    val base = a.get("base").map(new File(_))
    def restore(): Unit = {
      Seq("targets", "docs", "feed", "checkpoint").foreach(d => rmrf(new File(work, d)))
      base.foreach { b =>
        val tables = if (workload == "streaming") Specs.docTables.map(_.name)
                     else Specs.all.map(_.name)
        tables.foreach { t =>
          val n = t.replace('.', '_')
          copyTree(new File(b, s"targets/$n"), new File(targetDir, n))
        }
        if (workload != "streaming") copyTree(new File(b, "docs"), new File(docsDir))
      }
    }
    val setupTimes = (1 to math.max(1, reps)).map { _ =>
      val t0 = System.nanoTime(); restore(); (System.nanoTime() - t0) / 1e9
    }
    // a streaming service is long-lived: its query starts and merges one
    // warm-up file during set-up, before the open loop begins
    val stream = if (workload == "streaming") Some(new StreamLoop(spark, tr, a, work,
      targetDir, buckets)) else None
    val warmS = stream.map { sl =>
      val w0 = System.nanoTime(); sl.startAndWarm(); (System.nanoTime() - w0) / 1e9
    }.getOrElse(0.0)
    m("setup_s") = sessionS + median(setupTimes) + warmS

    // ---- timed part, after a full collection of set-up garbage
    System.gc()
    val cpu0 = cpuNs(); val gc0 = gcMs(); val w0 = tr.bytesWritten()
    val t0 = System.currentTimeMillis()
    var runEndMs = 0L
    var runStartMs = t0
    var streamExtra = Map.empty[String, Double]
    try workload match {
      case "full_sync" | "base" =>
        attempted += 1
        job.fullSync(s"$inputDir/kg", s"$inputDir/views/tables.nt")
        latencies += (System.currentTimeMillis() - t0) / 1000.0
        runEndMs = System.currentTimeMillis()
        if (workload == "base") {
          val out = new File(a("base_out"))
          rmrf(out)
          copyTree(new File(targetDir), new File(out, "targets"))
          copyTree(new File(docsDir), new File(out, "docs"))
        }
      case "incremental" =>
        val k = a("batches").toInt
        (0 until k).foreach { i =>
          attempted += 1
          val b0 = System.currentTimeMillis()
          job.incremental(s"$inputDir/batch-$i/kg", s"$inputDir/batch-$i/views/tables.nt",
            a(s"since_$i"))
          latencies += (System.currentTimeMillis() - b0) / 1000.0
        }
        runEndMs = System.currentTimeMillis()
      case "streaming" =>
        val r = stream.get.run()
        attempted += r.files
        latencies ++= r.latencies
        runStartMs = r.firstDueMs
        runEndMs = r.lastCommitMs
        streamExtra = r.extra
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        failed = attempted
        runEndMs = System.currentTimeMillis()
    }
    val runS = (runEndMs - runStartMs) / 1000.0
    val cpuS = (cpuNs() - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1000.0
    val written = tr.bytesWritten() - w0
    val sc = spark.sparkContext
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val persisted = sc.getPersistentRDDs.size
    val inputBytes = a("input_bytes").toDouble

    m("run_s") = runS
    m("batch_p50_s") = median(latencies.toSeq)
    tail(latencies.toSeq).foreach { case (pct, v) =>
      m("batch_tail_s") = v; m("batch_tail_pct") = pct
    }
    m("batch_n") = latencies.size
    m("cpu_s") = cpuS
    m("peak_rss_mb") = vmHwmMb()
    m("cached_mb_after") = cachedMb
    m("bytes_written_per_input_byte") = written / math.max(1.0, inputBytes)
    m("session_s") = sessionS
    m("setup_restore_s") = median(setupTimes)
    m("setup_warmup_s") = warmS
    m("buckets") = buckets

    val codeCache = codeCacheMb()
    spark.stop() // drains the listener bus before the counters are read

    if (traced) {
      val stats = tr.stats()
      val spans = tr.all.filter(s => s.startMs >= t0)
      val byId = spans.map(s => s.id -> s).toMap
      // a layer call is a root span: one whose parent belongs to another
      // layer; same-layer children (per table) fold into their root, and
      // other-layer children (docs inside delete) are not its self time
      def root(s: Span): Span = byId.get(s.parent) match {
        case Some(p) if p.name == s.name => root(p)
        case _                            => s
      }
      val roots = spans.filter(s => root(s) eq s)
      val group = spans.groupBy(root)
      def dur(s: Span) = s.endMs - s.startMs
      def self(r: Span) = dur(r) - roots.filter(c => byId.get(c.parent).exists(root(_) eq r))
        .map(dur).sum
      def statsOf(r: Span) = group(r).flatMap(s => stats.get(s.id))
      var taskCpuAll = 0.0
      for (layer <- Seq("source", "view", "pivot", "sink", "docs", "delete", "streaming")) {
        val rs = roots.filter(_.name == layer)
        val st = rs.flatMap(statsOf)
        val tasks = st.map(_.tasks).sum
        val cpu = st.map(_.taskCpuNs).sum / 1e9
        taskCpuAll += cpu
        if (layer != "streaming") {
          m(s"$layer.wall_s") = rs.map(self).sum / 1000.0
          m(s"$layer.build_ms") = rs.map { r =>
            val first = statsOf(r).map(_.firstJobMs).filter(_ != Long.MaxValue)
            if (first.isEmpty) dur(r) else first.min - r.startMs
          }.sum.toDouble
          m(s"$layer.plan_ms") = st.map(_.planMs).sum.toDouble
          m(s"$layer.jobs") = st.map(_.jobs).sum
          m(s"$layer.stages") = st.map(_.stages).sum
          m(s"$layer.tasks") = tasks
          m(s"$layer.empty_task_ratio") =
            if (tasks == 0) 0.0 else st.map(_.emptyTasks).sum.toDouble / tasks
          m(s"$layer.task_cpu_s") = cpu
          m(s"$layer.sched_wait_s") = st.map(_.schedWaitMs).sum / 1000.0
          m(s"$layer.shuffle_write_mb") = st.map(_.shuffleWriteBytes).sum / 1048576.0
          m(s"$layer.spill_mb") = st.map(_.spillBytes).sum / 1048576.0
          m(s"$layer.peak_exec_mb") =
            (if (st.isEmpty) 0L else st.map(_.peakExecBytes).max) / 1048576.0
          m(s"$layer.rows_out") = st.map(_.rowsOut).sum.toDouble
          m(s"$layer.written_mb") = rs.map(_.bytesWritten).sum / 1048576.0
        }
      }
      val viewStats = roots.filter(_.name == "view").flatMap(statsOf)
      m("view.reused_exchanges") = viewStats.map(_.reusedExchanges).sum
      m("view.input_cache_mb") = job.viewInputCacheMb
      m("sink.buckets_rewritten_ratio") =
        if (job.bucketsTotal == 0) 0.0 else job.bucketsTouched.toDouble / job.bucketsTotal
      m("docs.partitions_rewritten_ratio") =
        if (job.partitionsTotal == 0) 0.0 else job.partitionsTouched.toDouble / job.partitionsTotal
      m("delete.flagged_rows") = job.flaggedRows.toDouble
      m("spark.cpu_util") = taskCpuAll / math.max(1e-9, runS * cores)
      m("spark.persisted_rdds_after") = persisted
      m("jvm.gc_s") = gcS
      m("jvm.code_cache_mb") = codeCache
      streamExtra.foreach { case (k, v) => m(k) = v }
    } else {
      streamExtra.foreach { case (k, v) => m(k) = v }
      m("jvm.gc_s") = gcS
    }

    a.get("spans").foreach(p => Files.write(Paths.get(p), tr.spansJson().getBytes("UTF-8")))
    val metrics = m.map { case (k, v) => s""""$k":${jsonNum(v)}""" }.mkString(",")
    val lat = latencies.map(jsonNum).mkString(",")
    val json = s"""{"attempted":$attempted,"failed":$failed,"metrics":{$metrics},"latencies":[$lat]}"""
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
    if (failed > 0) sys.exit(3)
  }
}
