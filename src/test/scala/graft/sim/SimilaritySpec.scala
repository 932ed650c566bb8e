package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.CartesianProductExec

import graft.SparkSuite

/** Planted-neighbor checks for brute-force and LSH cosine top-k. */
class SimilaritySpec extends SparkSuite {

  // 8-dim fixture: 100 is a planted exact duplicate of 1; 101 a slightly
  // perturbed near-neighbor of 2; the rest point elsewhere.
  private def vecs: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f)),
      (4L, Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)),
      (100L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (101L, Array(0.1f, 1f, 0f, 0f, 0f, 1f, 0.1f, 0f)),
      (102L, Array(-1f, 0f, 0f, 0f, -1f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
  }

  test("derived IVF geometry: √n/2 cells above the 16-cell floor, √cells probes above 8") {
    // The floor holds small corpora (incl. the sf0.01 oracle's 500
    // rows) on the calibrated fixed geometry; beyond it, cells grows
    // Θ(√n) so the per-probe scanned fraction SHRINKS with n instead
    // of staying a constant half the corpus.
    assert(Similarity.derivedCells(500L) === 16) // sf0.01 — bit-unchanged gate
    assert(Similarity.derivedCells(1024L) === 16)
    assert(Similarity.derivedCells(2000L) === 23) // sf0.1
    assert(Similarity.derivedCells(180000L) === 213) // 90×
    assert(Similarity.derivedCells(20L * 1000 * 1000 * 1000) === (1 << 16)) // cap
    assert(Similarity.derivedNprobe(16) === 8) // floor: sf0.01 regime
    assert(Similarity.derivedNprobe(213) === 15) // 90×: 7% scanned, not 50%
    assert(Similarity.derivedNprobe(4) === 4) // never exceeds cells
    // The scanned fraction is monotonically non-increasing in n.
    val fracs = Seq(500L, 2000L, 60000L, 180000L, 10000000L).map { n =>
      val c = Similarity.derivedCells(n)
      Similarity.derivedNprobe(c).toDouble / c
    }
    assert(fracs.zip(fracs.tail).forall { case (a, b) => b <= a + 1e-12 })
  }

  test("brute-force top-1 finds the planted duplicate") {
    val out = Similarity.bruteTopK(vecs, vecs.filter("vec_id IN (1, 2)"), k = 1,
      idCol = "vec_id", vecCol = "embedding")
      .collect().map(r => r.getAs[Long]("probe_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toMap
    assert(out(1L)._1 == 100L)
    assert(math.abs(out(1L)._2 - 1.0) < 1e-12)
    assert(out(2L)._1 == 101L)
  }

  test("LSH finds the planted duplicate through bucket candidates") {
    val out = Similarity.lshTopK(vecs, vecs.filter("vec_id IN (1, 2)"), k = 1,
      planes = 8, dim = 8)
      .collect().map(r => r.getAs[Long]("probe_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(out(1L) == 100L)
    assert(out(2L) == 101L)
  }

  test("bulk-probe (non-broadcast) LSH search returns identical results: " +
    "per-group top-k + cross-table dedup = the window form") {
    // Full corpus as probes and a k spanning multi-table collisions —
    // the cross-table duplicate-candidate path is exercised for every
    // probe (a planted duplicate collides with its twin in EVERY
    // table).
    def run(bc: Boolean) =
      Similarity.lshTopK(vecs, vecs, k = 2, planes = 4, dim = 8,
        broadcastProbes = bc)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"),
          r.getAs[Int]("rank"))).toSet
    assert(run(bc = false) === run(bc = true))
  }

  test("bulk LSH on a duplicate-heavy corpus: hot buckets chunk, " +
    "results stay identical to broadcast") {
    val s = spark
    import s.implicits._
    // 40 exact copies of one vector (they share EVERY table's bucket
    // — the atomic-hot-bucket shape) + the regular fixture.
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val dups = (200L until 240L).map(i => (i, v.toSeq)).toDF("vec_id", "embedding")
    val f = vecs.unionByName(dups)
    def run(bc: Boolean) =
      Similarity.lshTopK(f, f, k = 2, planes = 4, dim = 8,
        broadcastProbes = bc)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    assert(run(bc = false) === run(bc = true))
  }

  test("LSH plan contains no CartesianProduct") {
    val plan = Similarity.lshTopK(vecs, vecs.filter("vec_id = 1"), k = 3,
      planes = 8, dim = 8).queryExecution.executedPlan
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "candidate generation must be a bucket equi-join")
  }

  test("embedding near-dup finds planted duplicate via bucket join") {
    val pairs = graft.dedup.Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      dim = 8, minCosine = 0.95, planes = 6)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 100L))) // exact duplicate, cosine 1.0
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(102L) }) // opposite
  }

  test("IVF finds the planted duplicate through its own cell") {
    val out = Similarity.ivfSearch(Similarity.ivfBuild(vecs, k = 3, nprobe = 2),
      vecs.filter("vec_id IN (1, 2)"), topK = 1)
      .collect().map(r => r.getAs[Long]("probe_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(out(1L) == 100L) // identical vectors share a cell by construction
  }

  test("opposite vector ranks last in brute force") {
    val ranked = Similarity.bruteTopK(vecs, vecs.filter("vec_id = 1"), k = 6)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(ranked.head.getAs[Long]("neighbor_id") == 100L)
    assert(ranked.last.getAs[Long]("neighbor_id") == 102L)
  }

  test("IVF-PQ finds the planted duplicate; exhaustive probe + full " +
    "shortlist matches brute top-1 on every probe") {
    // m=4 subspaces of 2 dims over the 8-dim fixture, exhaustive
    // nprobe and a shortlist covering the corpus: ADC ranking plus the
    // exact re-rank must then agree with brute force exactly — this
    // validates the encode → ADC → re-rank mechanism, not recall luck.
    val probes = vecs.filter("vec_id IN (1, 2)")
    val pq = Similarity.ivfSearch(Similarity.pqBuild(vecs,
      cells = 3, nprobe = 3, m = 4, k = 4, shortlist = 10), probes, topK = 1)
      .collect().map(r => r.getAs[Long]("probe_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    val brute = Similarity.bruteTopK(vecs, probes, k = 1)
      .collect().map(r => r.getAs[Long]("probe_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(pq === brute)
    assert(pq(1L) == 100L) // the planted duplicate
  }

  test("PQ index build-once/search-many is stable across searches") {
    val model = Similarity.pqBuild(vecs, cells = 3, nprobe = 3, m = 4, k = 4,
      shortlist = 10)
    def run(probes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearch(model, probes, topK = 1)
        .collect().map(r => r.getAs[Long]("probe_id") ->
          r.getAs[Long]("neighbor_id")).toMap
    val first = run(vecs.filter("vec_id IN (1, 2)"))
    assert(run(vecs.filter("vec_id IN (1, 2)")) === first) // idempotent reuse
    // a different probe batch against the SAME build — no retraining
    val third = run(vecs.filter("vec_id = 3"))
    assert(third.contains(3L))
  }

  test("PQ index survives save/load: searches on the loaded index equal the original") {
    val model = Similarity.pqBuild(vecs, cells = 3, nprobe = 3, m = 4, k = 4,
      shortlist = 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    Similarity.ivfSave(model, dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.cells === model.cells &&
      loaded.pq.get.shortlist === model.pq.get.shortlist)
    assert(loaded.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
    def run(m: Similarity.IvfIndexModel) =
      Similarity.ivfSearch(m, vecs.filter("vec_id IN (1, 2)"), topK = 1)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    assert(run(loaded) === run(model)) // exact, cos included
  }

  test("bulk-probe (non-broadcast) PQ search returns identical results") {
    val model = Similarity.pqBuild(vecs, cells = 3, nprobe = 3, m = 4, k = 4,
      shortlist = 10)
    def run(bc: Boolean) =
      Similarity.ivfSearch(model, vecs.filter("vec_id IN (1, 2)"), topK = 1,
        broadcastProbes = bc)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    assert(run(bc = false) === run(bc = true))
  }

  test("IVF index build-once/search-many is stable; " +
    "bulk (non-broadcast) and loaded searches are identical") {
    val model = Similarity.ivfBuild(vecs, k = 3, nprobe = 2)
    def run(m: Similarity.IvfIndexModel, bc: Boolean = true) =
      Similarity.ivfSearch(m, vecs.filter("vec_id IN (1, 2)"), topK = 1,
        broadcastProbes = bc)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    val first = run(model)
    assert(run(model) === first) // idempotent reuse, no retraining
    assert(run(model, bc = false) === first) // strategy split, same rows
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Similarity.ivfSave(model, dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.cells === model.cells && loaded.nprobe === model.nprobe)
    assert(loaded.centroids.map(_.toSeq).toSeq ===
      model.centroids.map(_.toSeq).toSeq)
    assert(run(loaded) === first) // exact, cos included
  }

  test("ivfExtend: no-retrain add finds delta neighbors, is idempotent, " +
    "and never duplicates an id") {
    // Build WITHOUT the planted duplicate (100) or the near-neighbor
    // (101); extend with them under the frozen centroids.
    val base = vecs.filter("vec_id < 100")
    val delta = vecs.filter("vec_id >= 100")
    val extended = Similarity.ivfExtend(
      Similarity.ivfBuild(base, k = 3, nprobe = 3), delta)
    // Each id indexed exactly once — including after a re-extend with
    // overlapping ids (the anti-join contract).
    val again = Similarity.ivfExtend(extended, delta)
    for (m <- Seq(extended, again)) {
      assert(m.indexed.count() === vecs.count())
      assert(m.indexed.select("neighbor_id").distinct().count() === vecs.count())
    }
    def top(m: Similarity.IvfIndexModel, probe: String) =
      Similarity.ivfSearch(m, vecs.filter(s"vec_id = $probe"), topK = 1)
        .collect().map(r => r.getAs[Long]("neighbor_id")).toSet
    assert(top(extended, "1") === Set(100L)) // built region finds delta
    assert(top(extended, "101") === Set(2L)) // delta region finds built
    assert(top(again, "1") === Set(100L)) // re-extend changed nothing
  }

  test("pqExtend: no-retrain add grows both the compressed index and " +
    "the re-rank corpus; frozen codebooks encode the delta") {
    val base = vecs.filter("vec_id < 100")
    val delta = vecs.filter("vec_id >= 100")
    val extended = Similarity.ivfExtend(
      Similarity.pqBuild(base, cells = 3, nprobe = 3, m = 4, k = 4,
        shortlist = 10), delta)
    val again = Similarity.ivfExtend(extended, delta)
    for (m <- Seq(extended, again)) {
      assert(m.indexed.count() === vecs.count())
      assert(m.pq.get.corpus2.count() === vecs.count()) // exact re-rank side grew too
      assert(m.indexed.select("neighbor_id").distinct().count() === vecs.count())
    }
    def top(m: Similarity.IvfIndexModel, probe: String) =
      Similarity.ivfSearch(m, vecs.filter(s"vec_id = $probe"), topK = 1)
        .collect().map(r => r.getAs[Long]("neighbor_id")).toSet
    assert(top(extended, "1") === Set(100L))
    assert(top(again, "1") === Set(100L))
    // The extended index round-trips save/load like any built index.
    graft.ops.Scratch.withDir("graft_pq_ext_idx") { dir =>
      Similarity.ivfSave(extended, dir)
      val got = Similarity.ivfSearch(Similarity.ivfLoad(spark, dir),
        vecs.filter("vec_id = 1"), topK = 1)
        .collect().map(r => r.getAs[Long]("neighbor_id")).toSet
      assert(got === Set(100L))
    }
  }

  test("incrementally merged cellMatrix across extends equals a fresh " +
    "re-group: bulk searches identical, per-cell content identical") {
    import org.apache.spark.sql.functions._
    val base = vecs.filter("vec_id < 100")
    val delta = vecs.filter("vec_id >= 100")
    def bulk(m: Similarity.IvfIndexModel) =
      Similarity.ivfSearch(m, vecs.filter("vec_id IN (1, 2, 101)"),
        topK = 2, broadcastProbes = false)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    // Arm A: force the matrix BEFORE extending → extend merges it.
    val mA0 = Similarity.ivfBuild(base, k = 3, nprobe = 3)
    bulk(mA0) // forces mA0.cellMatrix
    val mA = Similarity.ivfExtend(mA0, delta)
    // Arm B: never force pre-extend → the extended model re-groups.
    val mB = Similarity.ivfExtend(
      Similarity.ivfBuild(base, k = 3, nprobe = 3), delta)
    assert(bulk(mA) === bulk(mB))
    // Matrix content equal as (cell → id multiset): the merge appends
    // the delta per cell, never drops, duplicates, or re-cells a row.
    def matIds(m: Similarity.IvfIndexModel) =
      m.chunkedMatrix._2.select(col("cell"),
          explode(col("mat.neighbor_id")).as("id"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(matIds(mA) === matIds(mB))
    // Chained extends keep merging (second extend over the merged seed).
    val mA2 = Similarity.ivfExtend(mA,
      vecs.filter("vec_id >= 100")
        .select((col("vec_id") + 500).as("vec_id"), col("embedding")))
    assert(mA2.indexed.count() === mA.indexed.count() + 3)
    assert(matIds(mA2).values.map(_.size).sum === mA2.indexed.count())
    // PQ sibling: same contract through ivfExtend on a PQ index.
    val pA0 = Similarity.pqBuild(base, cells = 3, nprobe = 3, m = 4, k = 4,
      shortlist = 10)
    def pqBulk(m: Similarity.IvfIndexModel) =
      Similarity.ivfSearch(m, vecs.filter("vec_id IN (1, 2)"), topK = 1,
        broadcastProbes = false)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"))).toSet
    pqBulk(pA0) // force
    val pA = Similarity.ivfExtend(pA0, delta)
    val pB = Similarity.ivfExtend(pA0.copy(), delta) // fresh lazy val, unforced
    assert(pqBulk(pA) === pqBulk(pB))
    assert(pqBulk(pA).contains(1L -> 100L)) // planted duplicate survives the merge
  }

  test("mergeCellMatrix fills previously-empty (cell, chunk) slots and " +
    "leaves untouched cells intact") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // Old matrix: cell 0 only. Delta: one entry re-hitting cell 0 and
    // one landing in brand-new cell 5 — the full-outer's fmat-only
    // branch.
    val om = Seq((0, 0, Seq((1L, Seq(1.0f, 0f)))))
      .toDF("cell", "chunk", "mat")
      .withColumn("mat", col("mat").cast(
        "array<struct<neighbor_id: bigint, cv: array<float>>>"))
    val fresh = Seq((2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0f, 1f), 5))
      .toDF("neighbor_id", "cv", "cell")
      .withColumn("cv", col("cv").cast("array<float>"))
    val (n, merged) = Similarity.mergeCellMatrix((1, om), fresh, "cv")
    assert(n === 1) // modulus frozen, not re-derived
    val byCell = merged.select(col("cell"), col("mat.neighbor_id").as("ids"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(byCell(0).sorted === Seq(1L, 2L)) // concat branch
    assert(byCell(5) === Seq(3L)) // fmat-only branch
    assert(byCell.size === 2)
  }

  test("skewed cell occupancy derives a chunk modulus > 1 and bulk " +
    "results stay identical to broadcast; balanced stays at 1") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // 60 vectors packed around one direction (one hot cell) + 12
    // spread across others: max occupancy far above 2x mean.
    val r = new scala.util.Random(7)
    val skewed = (Seq.tabulate(60) { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == 0) 10f else 0f) + r.nextFloat() * 0.1f))
    } ++ Seq.tabulate(12) { i =>
      (1000L + i, Array.tabulate(8)(d =>
        if (d == i % 8) -5f else r.nextFloat()))
    }).toDF("vec_id", "embedding")
    val m = Similarity.ivfBuild(skewed, k = 6, nprobe = 6)
    def run(bc: Boolean) =
      Similarity.ivfSearch(m, skewed.filter("vec_id IN (0, 1, 1000)"),
        topK = 3, broadcastProbes = bc)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    val bulk = run(bc = false) // forces the chunked matrix
    assert(m.chunkedMatrix._1 > 1, "hot cell must split into chunks")
    assert(bulk === run(bc = true))
    // Chunks partition the index: per-(cell,chunk) sizes sum to n.
    assert(m.chunkedMatrix._2.select(explode(col("mat"))).count() ===
      skewed.count())
    // The balanced fixture derives modulus 1 (zero chunk overhead).
    val balanced = Similarity.ivfBuild(vecs, k = 3, nprobe = 3)
    balanced.chunkedMatrix
    assert(balanced.chunkedMatrix._1 === 1)
  }

  test("NaN-component corpus vectors are dropped by BOTH search " +
    "strategies identically, never ranked first") {
    val s = spark
    import s.implicits._
    val poisoned = vecs.unionByName(
      Seq((666L, Array(Float.NaN, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"))
    // Brute force: the raw window would rank the NaN cosine ABOVE the
    // exact duplicate; dropNanCos must keep the finite top-k only.
    val brute = Similarity.bruteTopK(poisoned,
        poisoned.filter("vec_id = 1"), k = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(!brute.contains(666L), s"NaN vector ranked: $brute")
    assert(brute.contains(100L)) // the exact duplicate survives at rank 1
    // IVF: broadcast (window) and bulk (kernel) must agree on the
    // poisoned corpus — the NaN skip is applied on both strategies.
    val m = Similarity.ivfBuild(poisoned, k = 4, nprobe = 4)
    def run(bc: Boolean) =
      Similarity.ivfSearch(m, poisoned.filter("vec_id IN (1, 2)"),
        topK = 3, broadcastProbes = bc)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    val bc = run(bc = true)
    assert(bc === run(bc = false))
    assert(!bc.exists(_._2 == 666L))
    assert(bc.forall(e => !e._3.isNaN))
  }

  test("chunkModulus derives the chunk count from cell occupancy skew") {
    // One cell of 8 rows + 8 singleton cells -> max 8, mean 16/9,
    // ceil(8/(2*16/9)) = 3.
    val s = spark
    import s.implicits._
    val occ = (Seq.fill(8)(0L) ++ (1L to 8L)).toDF("cell")
    assert(Similarity.chunkModulus(occ, Seq("cell")) === 3)
  }

  test("needsRebuild flips once extends outgrow the build; a fresh " +
    "build re-derives geometry; builds dedupe ids; baseline survives " +
    "save/load") {
    import org.apache.spark.sql.functions._
    def synth(lo: Long, n: Long): DataFrame =
      spark.range(lo, lo + n).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          (pmod(xxhash64(col("id"), lit(j)), lit(1000)).cast("double")
            / 500.0 - 1.0).cast("float")): _*).as("embedding"))
    // build dedupes duplicate ids (the extend contract holds at build)
    assert(Similarity.ivfBuild(
      synth(0, 100).unionByName(synth(0, 100))).builtN === 100L)

    val m0 = Similarity.ivfBuild(synth(0, 1200))
    assert(m0.builtN === 1200L && m0.extendedN === 0L && !m0.needsRebuild)
    val m1 = Similarity.ivfExtend(m0, synth(5000, 1000))
    assert(m1.extendedN === 1000L && !m1.needsRebuild) // 1000 ≤ 1200
    val m2 = Similarity.ivfExtend(m1, synth(10000, 400))
    assert(m2.extendedN === 1400L && m2.needsRebuild) // 1400 > 1200
    // A fresh build over the grown corpus resets the trigger AND
    // re-derives geometry from the new n (√2600/2 > √1200/2).
    val m3 = Similarity.ivfBuild(
      synth(0, 1200).unionByName(synth(5000, 1000))
        .unionByName(synth(10000, 400)))
    assert(m3.cells > m0.cells && !m3.needsRebuild && m3.extendedN === 0L)
    // The baseline is part of the at-rest index.
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild")
    try {
      Similarity.ivfSave(m2, dir.toString)
      val loaded = Similarity.ivfLoad(spark, dir.toString)
      assert(loaded.builtN === 1200L && loaded.extendedN === 1400L &&
        loaded.needsRebuild)
    } finally {
      import java.nio.file.{Files, Path}
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally st.close()
    }
    // Same trigger on the PQ lifecycle.
    val p0 = Similarity.pqBuild(synth(0, 60), cells = 4, nprobe = 4,
      m = 2, k = 8, shortlist = 16)
    assert(p0.builtN === 60L && !p0.needsRebuild)
    val p1 = Similarity.ivfExtend(p0, synth(200, 61))
    assert(p1.extendedN === 61L && p1.needsRebuild)
  }

  test("IVF-PQ plan contains no CartesianProduct") {
    val plan = Similarity.ivfSearch(Similarity.pqBuild(vecs, cells = 3,
        nprobe = 2, m = 4, k = 4, shortlist = 5),
      vecs.filter("vec_id IN (1, 2)"), topK = 1)
      .queryExecution.executedPlan
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "PQ candidate generation must stay a cell equi-join")
  }
}
