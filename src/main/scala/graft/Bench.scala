package graft

import org.apache.spark.sql.SparkSession

import graft.run.LocalSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Methodology (round-2/3 advice): each query is forced through a
  * `noop`-format write — `count()` lets Catalyst prune unreferenced
  * projections, so scalar-heavy queries would benchmark a column-pruned
  * scan instead of the operator. One warm-up pass precedes measurement
  * (JIT + parquet footer cache), then the median of the timed runs is
  * reported, with the per-query MIN alongside so the artifact
  * self-adjudicates contention (a real regression moves the min; ambient
  * load moves the spread). Failed queries are reported with ok:false and
  * excluded from the total so a broken query can never masquerade as a
  * fast one.
  *
  * Robustness (round-10 postmortem — the official run was SIGKILLed with
  * zero numbers recorded): every artifact is rewritten incrementally
  * after EACH query, so a killed run still lands numbers for everything
  * it completed; and the battery's storage footprint is released
  * eagerly between queries and before every timed iteration (cache +
  * persistent RDDs + memory-sink temp views) instead of waiting for
  * GC-driven cleaning — which also bounds the RAM-backed shuffle dir
  * (see spark.local.dir below) to one query's footprint instead of an
  * unreclaimable tmpfs ratchet.
  */
object Bench {
  /** System MemAvailable in bytes (kernel's estimate of allocatable RAM
    * WITHOUT swapping — counts reclaimable page cache but NOT tmpfs
    * pages, which are unreclaimable RAM). This, not tmpfs mount free
    * space, is the right shm gate: the round-11 official bench saw
    * 30 GB "free" on the /dev/shm mount while the box had 26 GB of
    * real memory left, because 98 GB of orphaned shuffle blocks were
    * pinned in tmpfs. -1 when /proc/meminfo is unreadable (non-Linux).
    */
  private def memAvailableBytes: Long =
    try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong * 1024L }
        .getOrElse(-1L)
    } catch { case _: Exception => -1L }

  /** Bytes currently used under a directory tree (0 if absent). */
  private def dirBytes(root: java.io.File): Long =
    if (!root.exists()) 0L
    else if (root.isFile) root.length()
    else Option(root.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private def deleteTree(root: java.io.File): Unit = {
    if (root.isDirectory)
      Option(root.listFiles()).foreach(_.foreach(deleteTree))
    root.delete(): Unit
  }

  /** Sweep local dirs orphaned by a SIGKILLed predecessor JVM.
    *
    * SIGKILL skips shutdown hooks, so Spark never removes its
    * blockmgr-* / spark-* dirs; on a tmpfs local dir those blocks stay
    * pinned in RAM forever and poison every later run on the box
    * (round-11 postmortem: one killed scale experiment left 98 GB in
    * /dev/shm/graft-spark, which first demoted and then OOM-killed the
    * official bench 40 minutes later). A process cannot clean up after
    * its own SIGKILL — the NEXT process must. We use a dedicated
    * subdir (graft-spark) under each candidate root.
    *
    * "Anything present is orphaned" is NOT safe when two Bench JVMs
    * coexist (this repo's workflow runs detached scale experiments):
    * a second bench starting mid-run would delete the live run's
    * shuffle blocks and fail it with missing-block errors. Each Bench
    * therefore records its pid in its own `<root>/OWNER.<pid>` file —
    * PER-PROCESS, not last-writer-wins (r13 advice: with a single
    * OWNER.pid, bench B starting and dying — the exact SIGKILL case
    * this mechanism exists for — would mask live bench A's claim, and
    * bench C's sweep would then delete A's live shuffle blocks). The
    * sweep skips a root while ANY recorded owner is alive and prunes
    * dead owners' files as it checks them, so a dead claim can never
    * wedge the sweep. The legacy single `OWNER.pid` name is honored
    * as one more claim file for cross-version safety.
    */
  private val localDirRoots = Seq(
    new java.io.File("/dev/shm/graft-spark"),
    new java.io.File(System.getProperty("java.io.tmpdir"), "graft-spark"))

  /** Pids of still-live owners recorded under `root`; each dead
    * owner's claim file is deleted as it is checked. */
  private def liveOwners(root: java.io.File): Seq[Long] =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.isFile && f.getName.startsWith("OWNER."))
      .flatMap { f =>
        val pid = try {
          val suffix = f.getName.stripPrefix("OWNER.")
          if (suffix.nonEmpty && suffix.forall(_.isDigit)) suffix.toLong
          else new String( // legacy OWNER.pid carries the pid as content
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong
        } catch { case _: Exception => -1L }
        val alive = pid > 0 &&
          ProcessHandle.of(pid)
            .map[java.lang.Boolean](_.isAlive)
            .orElse(java.lang.Boolean.FALSE)
            .booleanValue()
        if (alive) Some(pid) else { f.delete(); None }
      }

  private def sweepStaleLocalDirs(): Unit =
    localDirRoots.foreach { d =>
      if (d.exists()) {
        val owners = liveOwners(d)
        if (owners.nonEmpty)
          System.err.println(
            s"[bench] $d owned by live bench pid(s) ${owners.mkString(",")} — not sweeping")
        else {
          val stale = dirBytes(d)
          if (stale > 0)
            System.err.println(
              f"[bench] sweeping ${stale / 1e9}%.1f GB of orphaned local-dir blocks from $d")
          deleteTree(d)
        }
      }
    }

  /** Claim a local-dir root for this JVM (see sweepStaleLocalDirs). */
  private def writeOwnerPid(root: String): Unit =
    try {
      val d = new java.io.File(root)
      d.mkdirs()
      val pid = ProcessHandle.current().pid()
      java.nio.file.Files.write(
        new java.io.File(d, s"OWNER.$pid").toPath,
        pid.toString.getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write owner file under $root: ${e.getMessage}")
    }

  /** Bumped whenever the measured workload of any query changes (e.g.
    * the round-11 gate-corpus subsampling: orders 1/3–1/9, events and
    * documents 1/3, entity melt 1/4). Adjudication must not compare
    * min/median across different workload versions — the r10→r11
    * "improvements" on the trimmed queries were partly the trim.
    * v1 = rounds ≤10 (full corpora), v2 = round-11 subsampled corpora,
    * v3 = round-13/14 data-derived dispatch: contaminationAuto (adds a
    * test-shingle estimate scan and can switch exact/Bloom),
    * embeddingNearDup's corpus-count plane derivation, adaptive
    * persist levels, the derived IVF cells/nprobe geometry and the
    * native L2-normalize kernel (q_ann_pq 90×: 16.1 → 4.7 s),
    * v4 = round-15: three new gates (q_neardup_minhash_delta,
    * q_minhash_persist, q_span_clip), feed-derived multisync merge
    * buckets, and the narrow-row bulk ANN search shape,
    * v5 = round-16: new q_stream_ingest_dedup gate, q_span_clip
    * semantics changed to raw-text clipping (native ClipRunsExpr),
    * build-side dropDuplicates + rebuild-trigger counts in the
    * IVF/PQ/MinHash builds and extends,
    * v6 = round-17: new q_stream_ingest_rebuild and q_stream_ingest_ann
    * gates (mid-stream index rebuild + decision-invariance twin;
    * IVF-rebuild recall preservation), Unicode-exact clip
    * scanner + native token_run_count replacing the regex n_tok,
    * exact cross-collision exclusion in both ingest truths,
    * delta-bound extend bookkeeping in ivfExtend/pqExtend.
    *
    * v7 (round 17, late): + q_neardup_minhash_spanning (133 queries;
    * duplicate-group-collapsed near-dup under a closure-equality
    * oracle) and the round's bulk-ANN kernelization — the ANN bulk
    * gates' implementations changed (per-cell kernels, skew chunking),
    * so their mins are not v6-comparable either.
    */
  // v8 (r18): + q_neardup_simhash_spanning, q_neardup_ngram_spanning;
  // degenerate-group guards in the spanning variants (NULL-text /
  // zero-norm singletons) and the NaN skip in the bulk top-k kernel.
  // v9 (r18): + q_text_dedup (packaged textDedup API); the minhash
  // spanning gate swapped to the one-CC closure check.
  // v10 (r19): + q_corpus_prep_neardup (prepare's spanning near-dup
  // composition under a recursive-closure oracle); the simhash/ngram
  // spanning gates re-shaped around independent DuckDB truths — they
  // no longer run the full engine in-gate (mins roughly halve, a gate
  // shape change, not an engine speedup); prepare composes the
  // spanning variant.
  // v11: storage is released before every timed iteration, so a gate
  // that read a cache leaked by its warm-up now times a cold call.
  private val WorkloadVersion = 11

  def main(args: Array[String]): Unit = {
    // All f"" interpolations below format JSON: pin the locale so a
    // comma-decimal default can never emit invalid artifacts.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    sweepStaleLocalDirs()
    val sfDir = LocalSession.defaultSfDir
    // median-of-3 + reported min: three timed runs (plus warm-up) keep
    // the battery's wall-clock inside the driver's envelope at 108
    // queries; the min column is the contention-robust signal the
    // adjudication actually uses, and it converges faster than the
    // median does.
    // Malformed env values fall back to the default with a warning
    // instead of crashing the run (r13 advice).
    def envOr[T](name: String, dflt: T)(parse: String => T): T =
      sys.env.get(name).map { s =>
        try parse(s) catch { case _: Exception =>
          System.err.println(
            s"[bench] malformed $name='$s' — using default $dflt")
          dflt
        }
      }.getOrElse(dflt)
    val iters = envOr("SPARK_GRAFT_BENCH_ITERS", 3)(_.toInt)
    val localDir = {
      val shm = new java.io.File("/dev/shm")
      if (!sys.env.contains("SPARK_GRAFT_NO_SHM") && shm.canWrite &&
        memAvailableBytes > (64L << 30)) "/dev/shm/graft-spark"
      else new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-spark").getPath
    }
    writeOwnerPid(localDir)
    // Environment probe, embedded in both artifacts and echoed to
    // stderr (round-11 advice: the OOM-kill would have been diagnosable
    // from the artifact alone had it recorded that the box started with
    // 26 GB available and 104 GB of tmpfs pinned). pgscan_kswapd rides
    // along because the CPU-only canary is blind to page-cache RECLAIM
    // stalls (round-12: load1 spiked to 12 mid-battery with flat canary
    // seconds after a day of 90× runs churned the cache) — a large
    // start→end delta in this counter says "discount this battery's
    // spreads: the box was reclaiming, not just busy".
    def kswapdScans: Long =
      try {
        scala.io.Source.fromFile("/proc/vmstat").getLines()
          .collectFirst { case l if l.startsWith("pgscan_kswapd") =>
            l.split("\\s+")(1).toLong }
          .getOrElse(-1L)
      } catch { case _: Exception => -1L }
    def load1Now: Double = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    } catch { case _: Exception => -1.0 }
    def envNow(): String = {
      val memGb = memAvailableBytes / 1e9
      // Whole-mount tmpfs usage from the filesystem stats (O(1), no
      // tree walk): a recursive walk of /dev/shm stalls on another
      // tenant's millions of files and races concurrent deletion
      // (round-12 advice). totalSpace-usableSpace is exactly the
      // pinned-page figure the probe is after.
      val shm = new java.io.File("/dev/shm")
      val shmUsedGb = (shm.getTotalSpace - shm.getUsableSpace) / 1e9
      f"""{"mem_available_gb":$memGb%.1f,"shm_used_gb":$shmUsedGb%.1f,"load1":$load1Now%.2f,"pgscan_kswapd":$kswapdScans,"local_dir":"$localDir"}"""
    }
    // Ambient-load gate (round-12 verdict task 2): the official r12
    // single-run artifact shipped q_entity_families at 13.98 s (clean
    // min 6.59) because the battery started at load1 7.89 — the canary
    // is CPU-only and blind to reclaim/IO stalls, so the artifact
    // carried ambient noise as if it were code. Wait for the box to be
    // quiet (load1 below threshold, sustained) before the first timed
    // work; if it never quiets within the bounded wait, proceed but
    // stamp the artifact degraded so adjudication discounts it.
    val gateThreshold = envOr("GRAFT_LOAD_GATE", 2.0)(_.toDouble)
    val gateMaxWaitSec = envOr("GRAFT_LOAD_GATE_MAX_WAIT", 600)(_.toInt)
    val gate: String = {
      // A co-resident graft bench (live owner file on either root,
      // other than this JVM) keeps load1 elevated for its whole run —
      // waiting for quiet would silently burn the full max wait and
      // stamp the artifact degraded (r13 advice). Skip the wait and
      // record the co-residency instead: the artifact then says WHY
      // its numbers carry ambient load.
      val self = ProcessHandle.current().pid()
      val coResident = localDirRoots.flatMap(liveOwners).filter(_ != self)
      val t0 = System.nanoTime()
      var degraded = false
      if (coResident.nonEmpty)
        System.err.println(
          s"[bench] co-resident bench pid(s) ${coResident.mkString(",")} live — skipping load gate (their load never quiets)")
      else if (gateThreshold > 0) {
        while (load1Now >= gateThreshold && !degraded) {
          if ((System.nanoTime() - t0) / 1e9 > gateMaxWaitSec) degraded = true
          else Thread.sleep(5000)
        }
      }
      val waited = (System.nanoTime() - t0) / 1e9
      if (degraded)
        System.err.println(
          f"[bench] load gate TIMED OUT after $waited%.0f s (load1=$load1Now%.2f >= $gateThreshold%.1f) — artifact flagged degraded")
      else if (waited >= 5)
        System.err.println(f"[bench] load gate waited $waited%.0f s for a quiet box")
      val co = if (coResident.nonEmpty) s""","co_resident_pids":[${coResident.mkString(",")}]""" else ""
      f"""{"threshold":$gateThreshold%.1f,"waited_sec":$waited%.0f,"degraded":$degraded$co}"""
    }
    val envProbe: String = envNow()
    System.err.println(s"[bench] env $envProbe gate $gate")
    // RAM-backed shuffle dir when the SYSTEM has real headroom: a
    // disk-backed local dir was measured to cost 1.5-2× on every
    // shuffle-heavy query (r11 A/B, BENCH_NOTES). Gate on
    // /proc/meminfo MemAvailable ≥64 GB, NOT tmpfs mount free space —
    // tmpfs pages are RAM, so a mount can report plenty of "free"
    // space on a memory-starved box (round-11: mount showed 30 GB
    // free while MemAvailable was 26 GB; the old guard picked disk
    // AND the battery still OOM-killed). The tmpfs OOM-ratchet
    // hazard is bounded two ways: per-query storage release below
    // caps the live session's footprint, and sweepStaleLocalDirs()
    // at startup removes any SIGKILLed predecessor's orphans. The
    // disk fallback also lands in a graft-spark subdir so the sweep
    // invariant covers both roots. SPARK_GRAFT_NO_SHM=1 opts out;
    // a real cluster sizes spark.local.dir per node.
    val spark = LocalSession.build(32, sfDir, Map("spark.local.dir" -> localDir))

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      LocalSession.force(fn(spark, sfDir))

    // Local-dev filter: bench only the named queries (comma-separated).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    // JVM-pool occupancy (code cache + metaspace), read per query: the
    // late-battery drift signature is "queries slow down in battery
    // order" — if code-cache occupancy approaches the reserve as the
    // battery progresses, the JIT is the cause (it silently stops
    // compiling near the cap); if occupancy is flat, look elsewhere.
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    def poolMb(fragment: String): Double =
      pools.filter(_.getName.toLowerCase.contains(fragment))
        .map(_.getUsage.getUsed).sum / 1e6
    def jvmStats: String =
      f"codecache=${poolMb("codeheap") + poolMb("code cache")}%.0fMB metaspace=${poolMb("metaspace")}%.0fMB"

    // Reverse alphabetical order flips which queries sit "late" in the
    // battery: a query that is slow only when late (same number in both
    // orders' tails, fast in both heads) indicts battery position (JIT /
    // accumulated JVM state), not the query.
    val reverse = sys.env.contains("SPARK_GRAFT_BENCH_REVERSE")
    val ordered0 = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = if (reverse) ordered0.reverse else ordered0

    // Environment canary (round-9 advice): a FIXED single-stage query —
    // parquet scan + one map-side sum, no shuffle, no codegen growth
    // across the battery — re-timed at intervals, plus /proc/loadavg,
    // separates code regressions from machine contention in one read:
    // canary flat ⇒ swings are code; canary drifting ⇒ ambient
    // contention, discount the round's comparisons.
    def loadavg: (Double, Double, Double) =
      try {
        val p = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")
        (p(0).toDouble, p(1).toDouble, p(2).toDouble)
      } catch { case _: Exception => (-1.0, -1.0, -1.0) }
    def canaryOnce(): Double =
      LocalSession.force(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.sum("l_extendedprice")))
    // Shuffle canary: same scan but grouped on the high-cardinality
    // order key, so real shuffle bytes flow through spark.local.dir.
    // The CPU canary above is shuffle-free BY DESIGN and therefore
    // blind to local-dir/disk-stall contention (r11 A/B: a disk-backed
    // local dir cost 1.5-2× on every shuffle-heavy query while the CPU
    // canary stayed flat) — this one closes that adjudication blind
    // spot: CPU flat + shuffle drifting ⇒ the local dir, not the CPUs.
    def canaryShuffleOnce(): Double =
      LocalSession.force(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity")))
    val canaries = scala.collection.mutable.ListBuffer.empty[String]
    def recordCanary(at: String): Unit = {
      val sec = canaryOnce()
      val shuffleSec = canaryShuffleOnce()
      val (l1, l5, _) = loadavg
      canaries += f"""{"at":"$at","sec":$sec%.3f,"shuffle_sec":$shuffleSec%.3f,"load1":$l1%.2f,"load5":$l5%.2f}"""
    }
    recordCanary("start")

    case class R(name: String, sec: Double, ok: Boolean,
        raw: Seq[Double] = Nil)

    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    val statsFile = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_QUERIES_OUT", "bench_queries_last.json")
    // Rewritten after EVERY query (complete=false until the battery
    // finishes): a run killed mid-battery still lands numbers for all
    // completed queries instead of the round-10 empty artifact.
    // Atomic replace (round-11 advice): the artifacts are rewritten
    // after every query, so a SIGKILL landing inside a plain
    // truncate-then-write window would leave an unparseable file —
    // write a sibling temp file and ATOMIC_MOVE it into place so the
    // artifact on disk is always a complete JSON document.
    def atomicWrite(path: String, content: String): Unit = {
      val target = java.nio.file.Paths.get(path)
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def writeArtifacts(results: Seq[R], complete: Boolean): Unit = {
      val qs = results
        .map(r => s""""${r.name}":${if (r.ok) f"${r.sec}%.3f" else s"""{"sec":${f"${r.sec}%.3f"},"ok":false}"""}""")
        .mkString("{", ",", "}")
      val total = results.filter(_.ok).map(_.sec).sum
      val nFail = results.count(!_.ok)
      try {
        atomicWrite(outFile,
          s"""{"total":${f"$total%.3f"},"failed":$nFail,"complete":$complete,"sf":"$sfDir","workload_version":$WorkloadVersion,"order":"${if (reverse) "reverse" else "forward"}","env":$envProbe,"load_gate":$gate${if (complete) s""","env_end":${envNow()}""" else ""},"queries":$qs}""")
      } catch { case e: Exception => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
      // Per-query dispersion artifact: {median,min,max,spread,raw} per
      // query + the canary timeline. The verdict reads THIS (not the
      // single-number map) to adjudicate regressions: a real regression
      // moves the min; contention moves the spread.
      try {
        val perQ = results.map { r =>
          if (!r.ok) s""""${r.name}":{"ok":false}"""
          else {
            val med = r.sec
            val (mn, mx) = (r.raw.min, r.raw.max)
            val rawS = r.raw.map(t => f"$t%.3f").mkString("[", ",", "]")
            f""""${r.name}":{"median":$med%.3f,"min":$mn%.3f,"max":$mx%.3f,"spread":${mx - mn}%.3f,"raw":$rawS}"""
          }
        }.mkString("{", ",", "}")
        atomicWrite(statsFile,
          s"""{"sf":"$sfDir","workload_version":$WorkloadVersion,"iters":$iters,"complete":$complete,"order":"${if (reverse) "reverse" else "forward"}","env":$envProbe,"load_gate":$gate${if (complete) s""","env_end":${envNow()}""" else ""},"canary":${canaries.mkString("[", ",", "]")},"queries":$perQ}""")
      } catch { case e: Exception => System.err.println(s"[bench] could not write $statsFile: ${e.getMessage}") }
    }

    var sinceCanary = 0
    val acc = scala.collection.mutable.ListBuffer.empty[R]
    ordered
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      sinceCanary += 1
      if (sinceCanary >= 20) { sinceCanary = 0; recordCanary("mid") }
      val r = try {
        // Release storage before every timed iteration: a cache the
        // warm-up (or iteration N-1) leaves behind would otherwise be
        // timed as a hit, and its checkpoint blocks freed only on GC
        // would be timed as eviction (observed 4.7s → 16.7s within one
        // query's runs). `release` ends in a GC; the ContextCleaner
        // drains its reference queue asynchronously after it — give it
        // a beat, or the next run still races the frees.
        def settle(): Unit = { LocalSession.release(spark); Thread.sleep(200) }
        val warm = once(fn) // warm-up, untimed
        val raw = Seq.fill(iters) { settle(); once(fn) }
        if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
          System.err.println(f"[bench-debug] $name warm=$warm%.2f runs=" +
            raw.map(t => f"$t%.2f").mkString(",") + s" $jvmStats")
        val times = raw.sorted
        R(name, times(times.size / 2), ok = true, raw = raw)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG")) {
            e.printStackTrace()
            // SQLExceptions chain the real cause via getNextException,
            // not getCause — walk both.
            var sq = e match { case s: java.sql.SQLException => s.getNextException; case _ => null }
            while (sq != null) { sq.printStackTrace(); sq = sq.getNextException }
          }
          R(name, 0.0, ok = false)
      } finally {
        // Release THIS query's storage before the next one is timed so
        // the battery's footprint cannot ratchet. In a finally so a
        // FAILED query cannot leak its cached blocks and memory-sink
        // rows into every subsequent query's timings — the failure
        // path is exactly where clean numbers matter most.
        try LocalSession.release(spark)
        catch { case e: Exception =>
          System.err.println(s"[bench] post-$name release failed: ${e.getMessage}")
        }
      }
      acc += r
      writeArtifacts(acc.toSeq, complete = false)
      System.err.println(
        if (r.ok) f"[bench] ${acc.size}%3d $name median=${r.sec}%.3f min=${r.raw.min}%.3f"
        else s"[bench] ${acc.size} $name FAILED")
    }
    recordCanary("end")
    val results = acc.toSeq
    writeArtifacts(results, complete = true)
    val qs = results
      .map(r => s""""${r.name}":${if (r.ok) f"${r.sec}%.3f" else s"""{"sec":${f"${r.sec}%.3f"},"ok":false}"""}""")
      .mkString("{", ",", "}")
    // Per-query MIN in the official line (round-10 advice): the driver
    // artifact self-adjudicates q_since_filter-style false regressions
    // without needing the side-channel stats file.
    val qsMin = results
      .map(r => s""""${r.name}":${if (r.ok) f"${r.raw.min}%.3f" else "null"}""")
      .mkString("{", ",", "}")
    val total = results.filter(_.ok).map(_.sec).sum
    val nFail = results.count(!_.ok)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"failed":$nFail,"sf":"$sfDir","workload_version":$WorkloadVersion,"env":$envProbe,"load_gate":$gate}""")
    // Compact per-query-mins repeat line (r19 verdict item 3): the
    // wide line above lost its HEAD to tail-capture truncation in r18
    // and the round comparison degraded to totals (PERF n_common: 0).
    // This line carries ONLY the mins map (~1/2 the width), so a tail
    // capture that keeps the short total_tail line below almost always
    // keeps all of this one too — and a diff can then always
    // reconstruct per-query state. Additions-only: the official line
    // above and the stats artifact are unchanged; distinct metric name
    // so no parser double-counts.
    println(s"""{"metric":"queries_min_tail","unit":"sec","sf":"$sfDir","workload_version":$WorkloadVersion,"failed":$nFail,"queries_min":$qsMin}""")
    // The wide line above can lose its head to log-capture truncation;
    // repeat the headline numbers on a short final line that always
    // survives a tail capture. Distinct metric name so a parser keying
    // on metric=="total" never double-counts the two lines.
    println(f"""{"metric":"total_tail","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failed":$nFail,"sf":"$sfDir"}""")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
