package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.run.Checkpoints

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, as a training-data pipeline needs them:
  *  - `bruteTopK` — exact cosine top-k of a *small probe set* against
  *    the corpus. The probe side is broadcast, so the "cross" is a
  *    broadcast nested-loop over one corpus scan: no shuffle of the big
  *    side, cost = |corpus| × |probes| dot products. The right baseline,
  *    and the right tool whenever |probes| is bounded.
  *  - `lshTopK` — random-hyperplane LSH: deterministic ±1 hyperplanes
  *    (seeded driver-side, embedded as literals), bucket = sign bits;
  *    candidates via bucket equi-join (plus optional single-bit
  *    multi-probe for recall), exact re-rank inside buckets. This is the
  *    scale path: shuffle ∝ corpus, never all-pairs.
  *
  * The hot vector math (pair cosine re-rank, per-row bucket/cell
  * assignment against constant plane/centroid matrices) runs on the
  * native codegen kernels in [[graft.functions.NativeVector]] — Spark
  * evaluates higher-order functions *interpreted*, and these paths
  * execute 16-32 dot products per corpus row. The kernels are
  * bit-identical to the composed `zip_with`/`aggregate` forms (same
  * accumulation order, same float→double widening — asserted in
  * NativeVectorSpec), which remain here as the definitional reference
  * and for cold paths.
  */
object Similarity {

  /** `Σ aᵢ·bᵢ` in double precision — composed HOF form (interpreted;
    * fine off the hot path, and the definitional twin of the native
    * kernels). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused native cosine (codegen) — see [[graft.functions.CosineSimExpr]]. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimExpr(a, b)

  /** Composed HOF cosine — the definitional form the native kernel is
    * asserted bit-identical to. */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Keeps NULL cosines (zero-norm degenerates, ranked NULLS LAST by
    * the merge windows — the documented filler contract) but drops
    * NaN (a NaN vector component): under Spark's ordering a NaN
    * cosine would rank ABOVE every finite candidate, while the bulk
    * kernels skip NaN ([[graft.functions.NativeTopK]]) — this filter
    * keeps the broadcast and bulk strategies result-identical on
    * NaN-poisoned corpora instead of diverging by strategy flag. */
  private def dropNanCos(df: DataFrame): DataFrame =
    df.filter(col("cos").isNull || !isnan(col("cos")))

  /** Exact cosine top-k per probe. `probes` must be small (it is
    * broadcast). Returns (probe_id, neighbor_id, cos, rank). */
  def bruteTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // Deliberate broadcast cross: |probes| bounded ⇒ BroadcastNestedLoop
    // over one corpus scan, no shuffle of the big side.
    val scored = dropNanCos(c.crossJoin(p)
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("pv"), col("cv"))))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Deterministic Gaussian hyperplanes: `planes × dim`, fixed seed — no
    * runtime randomness, so plans and results are reproducible. Gaussian
    * (not ±1) so sparse/one-hot vectors don't land exactly on a
    * hyperplane (a zero dot product makes the sign bit degenerate). */
  private def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** Sign-bit LSH bucket id of a vector under the given hyperplanes —
    * one native pass over all planes (codegen). */
  private def bucketOf(vec: Column, hp: Array[Array[Double]]): Column =
    graft.functions.HyperplaneBucketExpr(vec, hp)

  /** Public bucket expression for callers composing their own LSH joins
    * (e.g. embedding near-dup in [[graft.dedup.Dedup]]). */
  def lshBucket(vec: Column, planes: Int, dim: Int, seed: Long = 42L): Column =
    bucketOf(vec, hyperplanes(planes, dim, seed))

  /** IVF (inverted-file) cosine top-k — the second scale path beside
    * LSH: a coarse quantizer of `k` centroids partitions the corpus into
    * cells; probes search only their `nprobe` nearest cells, with exact
    * re-rank inside.
    *
    * Centroids are trained with one deterministic k-means refinement:
    * seeds = the `k` hash-smallest corpus vectors (content-derived, no
    * runtime randomness), one assign+mean step over the corpus. The
    * driver holds only `k × dim` doubles; assignment is an expression
    * over centroid literals (higher-order fns — interpreted, like all
    * vector math here), cell search is a bucket equi-join — shuffle ∝
    * corpus, never all-pairs. */
  private def unitRows(cs: Array[Array[Double]]): Array[Array[Double]] =
    cs.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }

  /** Cosine-nearest coarse cell of a vector — ONE native codegen pass
    * over all k centroids per row (ArgMaxDotExpr). Centroids are
    * unit-normalized DRIVER-side: argmax of cosine = argmax of
    * dot(v, ĉ) — the row's own norm is a positive scalar and drops out
    * of the argmax, and the centroid norm folds into the constant
    * matrix. */
  private def nearestCell(vec: Column, cs: Array[Array[Double]]): Column =
    graft.functions.ArgMaxDotExpr(vec, unitRows(cs))

  /** The `k` hash-smallest vectors of an (id, vector) projection, as
    * doubles: the content-derived seeds both quantizers train from (no
    * runtime randomness). */
  private def hashSmallest(corpus2: DataFrame, k: Int,
                           idCol: String): Array[Array[Double]] =
    corpus2
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Any](1).iterator.map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: java.lang.Number => n.doubleValue()
      }.toArray)

  /** Deterministic coarse quantizer shared by IVF and IVF-PQ: seeds =
    * the `k` hash-smallest corpus vectors (content-derived, no runtime
    * randomness), then one Lloyd assign+mean refinement over the
    * corpus. The driver holds only `k × dim` doubles. */
  private def coarseCentroids(corpus2: DataFrame, k: Int,
                              idCol: String, vecCol: String): Array[Array[Double]] = {
    val seeds = hashSmallest(corpus2, k, idCol)
    val assigned = corpus2.select(col(vecCol).as("v"),
      nearestCell(col(vecCol), seeds).as("cell"))
    assigned
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }.toMap match {
        case m => (0 until k).map(i => m.getOrElse(i, seeds(i))).toArray
      }
  }

  /** Data-derived IVF geometry — the same doctrine as the LSH plane
    * rule in [[graft.dedup.Dedup.embeddingNearDup]] and the ADC
    * shortlist below: a fixed-width bucketing saturates at scale.
    *
    *  - `cells = max(16, ⌈√n / 2⌉)` (capped at 2¹⁶): the classic IVF
    *    balance — the centroid table (√n/2) and the per-cell
    *    population (2√n) both stay Θ(√n), so a probe's candidate scan
    *    shrinks as the corpus grows instead of visiting a constant
    *    *fraction* of it. A fixed `cells = 16` means `nprobe/16` of
    *    the corpus per probe at ANY n — a linear scan in disguise at
    *    100×. The floor keeps small corpora (n ≤ ~1000, including the
    *    sf0.01 oracle's 500 rows) on the long-measured 16-cell regime
    *    the recall floor was calibrated against; the cap bounds the
    *    driver-held centroid matrix (2¹⁶ × dim doubles ≈ 33 MB at
    *    dim 64) and the O(n·cells·dim) flat assignment pass — beyond
    *    that a hierarchical coarse quantizer is the right tool.
    *  - `nprobe = max(8, ⌈√cells⌉)` (≤ cells): per-probe candidates
    *    = n·nprobe/cells ≈ n^¾ — sublinear, with the floor holding the
    *    sf-scale recall regime the oracle was calibrated on. Uniform
    *    embeddings (the oracle's worst case) still see recall track
    *    the scanned fraction — that is inherent to ANN, measured and
    *    documented in BENCH_NOTES; clustered corpora (the
    *    realistic regime) concentrate recall into few cells.
    */
  private[graft] def derivedCells(n: Long): Int =
    math.min(1 << 16, math.max(16L, math.ceil(math.sqrt(n.toDouble) / 2.0).toLong)).toInt

  private[graft] def derivedNprobe(cells: Int): Int =
    math.min(cells, math.max(8, math.ceil(math.sqrt(cells.toDouble)).toInt))

  def ivfTopK(corpus: DataFrame, probes: DataFrame, topK: Int,
              k: Int = -1, nprobe: Int = -1, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSearch(ivfBuild(corpus, k, nprobe, dim, idCol, vecCol),
      probes, topK, idCol, vecCol)

  /** A built IVF index: the driver-held coarse centroids plus the
    * cell-indexed corpus (full vectors — IVF is the uncompressed
    * member of the family; [[PqIndexModel]] is the 32×-compressed
    * one). Build ONCE, [[ivfSearch]] many times: training and the
    * O(n·cells·dim) assignment pass are the dominant cost of a single
    * [[ivfTopK]] call, and a real deployment amortizes them across
    * every probe batch the way Faiss persists an IndexIVFFlat.
    *
    * `needsRebuild` flips once [[ivfExtend]] adds outgrow the build:
    * cells/nprobe are then sized for half the corpus and the centroids
    * never saw most of it. A fresh [[ivfBuild]] re-derives the
    * geometry; recall degrades gradually as cells fill. */
  final case class IvfIndexModel(
      cells: Int, nprobe: Int, dim: Int,
      centroids: Array[Array[Double]],
      indexed: DataFrame, idCol: String, vecCol: String,
      builtN: Long = -1L, extendedN: Long = 0L,
      private val seedMatrix: (Int, DataFrame) = null)
      extends ExtendableIndex {
    @transient private[sim] lazy val matrix =
      new CellMatrix(indexed, "cv", seedMatrix)

    /** Chunked per-cell matrix view of the index — (chunk modulus,
      * frame of one row per (cell, chunk) carrying its (neighbor_id,
      * cv) entries as an array-of-structs) — the input the bulk
      * search's [[graft.functions.TopKCellCosExpr]] kernel scans.
      * Lazily built and checkpointed once per model INSTANCE:
      * [[ivfExtend]]/[[ivfBuild]] return new instances, so the matrix
      * always reflects the index it belongs to and repeated bulk
      * batches reuse the materialized blocks instead of re-grouping
      * the index per batch.
      *
      * The chunk modulus is DATA-DERIVED from occupancy skew (see
      * [[Similarity.chunkedCellMatrix]]): balanced corpora get 1 (one
      * row per cell, ~n/cells ≈ 2·√n entries under derived geometry);
      * clustered corpora split hot cells so no single row — the
      * kernel's atomic work unit, which AQE's skew splitter cannot
      * divide — exceeds ~2× the mean occupancy. Like cells/nprobe the
      * modulus is FROZEN across extends and re-derived by a rebuild.
      *
      * [[ivfExtend]] maintains the matrix INCREMENTALLY: when the
      * pre-extend model had materialized it (a long-running ingest
      * loop bulk-searching every batch), the extended model is seeded
      * with a shuffle-free merge of the checkpointed matrix and the
      * grouped delta (both sides already hash-partitioned by (cell,
      * chunk)) — without this, every batch of the loop would pay a
      * full O(index) re-group shuffle, re-introducing the
      * linear-per-batch cost the rebuild trigger exists to prevent. */
    def chunkedMatrix: (Int, DataFrame) = matrix.value
  }

  /** The chunked cell matrix of one index instance: the matrix an
    * extend seeded it with, else built from `indexed` on first use.
    * [[extended]] merges a delta only into a matrix that already
    * exists, so an extend never FORCES a matrix on models whose
    * callers use the broadcast path and would otherwise never build
    * one. */
  private[sim] final class CellMatrix(indexed: DataFrame, payload: String,
                                      seed: (Int, DataFrame)) {
    private var forced = false
    lazy val value: (Int, DataFrame) = {
      forced = true
      if (seed != null) seed else chunkedCellMatrix(indexed, payload)
    }
    /** The seed for the model that admits `fresh` (null if this
      * matrix was never materialized). */
    def extended(fresh: DataFrame): (Int, DataFrame) =
      if (forced || seed != null) mergeCellMatrix(value, fresh, payload)
      else null
  }

  /** Skew-derived sub-group chunk modulus for a bucketed index:
    * ⌈max-occupancy / (2 × mean)⌉ over `keys` groups, floor 1, cap 64. */
  private[sim] def chunkModulus(df: DataFrame, keys: Seq[String]): Int = {
    val occ = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), avg(col("c")).as("mean")).head()
    if (occ.isNullAt(0)) 1
    else math.min(64, math.max(1,
      math.ceil(occ.getLong(0) / (2.0 * occ.getDouble(1))).toInt))
  }

  /** Chunked per-cell matrix shared by the three bulk kernels' build
    * side: entries hash-partitioned into `nChunks` sub-cell chunks by
    * id, grouped per (cell, chunk). The modulus derives from skew —
    * ⌈max-occupancy / (2 × mean-occupancy)⌉, floor 1, cap 64 — so a
    * balanced index keeps one row per cell (zero overhead, the plan
    * the uniform-corpus measurements were taken on) while a clustered
    * index (the REALISTIC regime) bounds the kernel's atomic work
    * unit near 2× the mean: a dominant cluster's cell would otherwise
    * ride one row to one task, and AQE's skew splitter cannot divide
    * a single row. Chunks partition each cell disjointly, so per-chunk
    * top-k/-s remains exact by the same subset argument as per-cell
    * (a globally kept candidate has < k beaters in any chunk that
    * contains it). Costs one small occupancy aggregation at first
    * materialization; the probe fan explodes × nChunks (bounded by
    * the cap). */
  private[sim] def chunkedCellMatrix(indexed: DataFrame,
                                     payload: String): (Int, DataFrame) = {
    val nChunks = chunkModulus(indexed, Seq("cell"))
    val df = indexed
      .withColumn("chunk",
        pmod(xxhash64(col("neighbor_id")), lit(nChunks.toLong)).cast("int"))
      .groupBy(col("cell"), col("chunk"))
      .agg(collect_list(struct(col("neighbor_id"), col(payload))).as("mat"))
      .localCheckpoint()
    (nChunks, df)
  }

  /** Delta-bound incremental maintenance of a [[chunkedCellMatrix]]:
    * the admitted delta is chunked under the FROZEN modulus and merged
    * into the checkpointed matrix with a shuffle-free full-outer
    * concat (both sides hash-partitioned by (cell, chunk)). */
  private[sim] def mergeCellMatrix(old: (Int, DataFrame), fresh: DataFrame,
                                   payload: String): (Int, DataFrame) = {
    val (nChunks, om) = old
    val fg = fresh
      .withColumn("chunk",
        pmod(xxhash64(col("neighbor_id")), lit(nChunks.toLong)).cast("int"))
      .groupBy(col("cell"), col("chunk"))
      .agg(collect_list(struct(col("neighbor_id"), col(payload))).as("fmat"))
    val df = om.join(fg, Seq("cell", "chunk"), "full_outer")
      .select(col("cell"), col("chunk"),
        when(col("mat").isNull, col("fmat"))
          .when(col("fmat").isNull, col("mat"))
          .otherwise(concat(col("mat"), col("fmat"))).as("mat"))
      .localCheckpoint()
    (nChunks, df)
  }

  /** Train the coarse quantizer and cell-index the corpus (see
    * [[ivfTopK]] for parameter semantics; ≤ 0 values derive from
    * corpus size). The index is checkpointed so repeated
    * [[ivfSearch]] calls touch neither the upstream plan nor the
    * assignment expressions again. */
  def ivfBuild(corpus: DataFrame,
               k: Int = -1, nprobe: Int = -1, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndexModel = {
    // Training + indexing read the corpus 3× (seed pick, one Lloyd
    // step, cell index) — materialize the 2-column projection once;
    // localCheckpoint so repeated invocations are ContextCleaner-safe
    // (same rationale as graft.view.Patterns.ensurePersisted).
    // dropDuplicates(id): build shares extend's id-uniqueness contract
    // ([[ivfExtend]] anti-joins, so a duplicate id can only enter at
    // build) — a doubled id would occupy multiple topK slots with the
    // same neighbor since each vector lives in exactly one cell.
    val corpus2 = corpus.select(col(idCol), col(vecCol))
      .dropDuplicates(idCol).localCheckpoint()
    // k/nprobe ≤ 0 derive from corpus size (count is on the
    // checkpoint, not the upstream tree — one cheap job). The count
    // also pins builtN, the rebuild-trigger baseline.
    val n = corpus2.count()
    val cells = if (k > 0) k else derivedCells(n)
    val effNprobe = if (nprobe > 0) math.min(nprobe, cells) else derivedNprobe(cells)
    val refined = coarseCentroids(corpus2, cells, idCol, vecCol)
    // Index the corpus by refined cell; probes visit nprobe cells.
    val indexed = corpus2.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestCell(col(vecCol), refined).as("cell"))
      .localCheckpoint()
    IvfIndexModel(cells, effNprobe, dim, refined, indexed, idCol, vecCol,
      builtN = n)
  }

  /** Query a built IVF index (see [[ivfTopK]] for semantics).
    * `broadcastProbes` carries the same interactive-vs-bulk strategy
    * split as [[pqSearch]]: true replicates the bounded probe batch
    * and scans the index shuffle-free; false makes the candidate join
    * a plain (cell) equi-join for probe batches too big to broadcast,
    * scanning each visited cell inside one vectorized top-k kernel
    * ([[graft.functions.TopKCellCosExpr]]). Results are identical
    * either way (spec-pinned), with two bulk-path caveats: the id
    * column must be BIGINT (the kernel's self-exclusion compares
    * longs — analysis fails loudly otherwise), and zero-norm
    * degenerate vectors are omitted rather than ranked NULLS-LAST,
    * so only probes with fewer than topK finite candidates can see
    * fewer (never different) rows. */
  def ivfSearch(model: IvfIndexModel, probes: DataFrame, topK: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                broadcastProbes: Boolean = true): DataFrame = {
    // Same argmax-invariance as training: cells rank by dot with unit
    // centroids.
    val probeSims = graft.functions.MatVecDotsExpr(col("pv"), unitRows(model.centroids))
    // pv rides the (probe_id, cell) fan INTO the cell join (≤ nprobe
    // copies per probe — bounded). In the BROADCAST branch that means
    // the cosine is computed inside the join stage itself and
    // candidate-cardinality rows shuffle NARROW (probe_id,
    // neighbor_id, cos) to the top-k window; in the bulk branch the
    // same fan feeds the per-cell kernel, which needs pv once per
    // (probe, cell) row anyway. Unlike
    // pqSearch there is no cheap ADC prune between the cell join and
    // the exact scores, so a join-back of pv at candidate cardinality
    // would re-shuffle |probes| × nprobe × occupancy rows carrying the
    // dim-wide cv — the exact wide-payload shape the bulk split
    // exists to avoid (see the pqSearch note; there the pv join-back
    // is at SHORTLIST cardinality, which is what makes it cheap).
    val probeCells = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      .withColumn("__sims", probeSims)
      .withColumn("__ranked", reverse(array_sort(col("__sims"))))
      .select(col("probe_id"), col("pv"), col("__sims"),
        explode(slice(col("__ranked"), 1, model.nprobe)).as("__target"))
      .withColumn("cell", (array_position(col("__sims"), col("__target")) - 1).cast("int"))
      // Dedup at probe fan-out size — see the pqSearch note: unique
      // (probe, cell) ⇒ unique (probe, neighbor), each indexed vector
      // lives in exactly one cell.
      .select(col("probe_id"), col("pv"), col("cell"))
      .dropDuplicates("probe_id", "cell")
    val width =
      model.indexed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    if (broadcastProbes) {
      dropNanCos(model.indexed.join(broadcast(probeCells), Seq("cell"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          cosine(col("pv"), col("cv")).as("cos")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
    } else {
      // Bulk (r17 rework): the r15 row-per-candidate cell join was
      // measured CPU-bound once the index outgrew the broadcast
      // threshold — 90×/18k probes: 228M candidate rows × ~2.8 µs of
      // join/row machinery ≈ 630 CPU-s per batch, with the stacked
      // EnsureRequirements exchange (the (cell, id) repartition never
      // satisfied the join's clustering requirement) AQE-coalesced by
      // input bytes, blind to the in-stage expansion, and sort-
      // spilling 0.6–2.4 GB (BENCH_NOTES r17). Now the ~cells-row
      // per-cell MATRIX joins the probe fan and the whole candidate
      // scan runs inside one kernel per (probe, cell) row
      // ([[graft.functions.TopKCellCosExpr]], reusing the very same
      // fused cosine — values bit-identical, and global top-k is
      // preserved because each vector lives in exactly one cell), so
      // only probes × nprobe × topK rows reach the merge window.
      // Both sides pin width by repartitioning on the JOIN KEYS
      // (HashPartitioning(cell, chunk) satisfies the requirement
      // directly; REPARTITION_BY_NUM is not AQE-coalescible). The
      // chunk key spreads skew-split hot cells across tasks — see
      // [[chunkedCellMatrix]]; modulus 1 (balanced corpora) makes it
      // a constant column, same plan as unchunked. Bulk requires a
      // LONG id column (the kernel's self-exclusion compares longs);
      // degenerate zero-norm vectors are skipped rather than ranked
      // NULLS-LAST — see the kernel scaladoc.
      val (nChunks, mat0) = model.chunkedMatrix
      val probeFan = probeCells
        .withColumn("chunk", explode(array((0 until nChunks).map(lit): _*)))
        .repartition(width, col("cell"), col("chunk"))
      val mat = mat0.repartition(width, col("cell"), col("chunk"))
      probeFan.join(mat, Seq("cell", "chunk"))
        .select(col("probe_id"),
          explode(graft.functions.TopKCellCosExpr(
            col("probe_id"), col("pv"), col("mat"), topK)).as("e"))
        .select(col("probe_id"), col("e.neighbor_id").as("neighbor_id"),
          col("e.cos").as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
    }
  }

  /** Add vectors to a built IVF index WITHOUT retraining — the Faiss
    * `IndexIVF.add` operation, completing the build-once lifecycle for
    * growing corpora: new vectors are assigned to cells under the
    * model's FROZEN centroids and unioned into the cell index, so the
    * extend costs one assignment pass over the delta (never the
    * corpus). Ids already present in the index are anti-joined away —
    * extend is idempotent and re-extends cannot duplicate candidate
    * rows (the same contract as `Dedup.minhashExtend`).
    *
    * Frozen-geometry caveat (inherent to no-retrain adds, same as
    * Faiss): cells/nprobe stay sized for the BUILD-time corpus, and a
    * delta whose distribution drifts from the training corpus lands in
    * centroids that never saw it. Recall on the extended region
    * degrades gracefully (cells only get fuller), but a corpus that
    * doubles or drifts deserves a fresh [[ivfBuild]] — which is cheap
    * relative to any search batch and restores derived geometry. */
  def ivfExtend(model: IvfIndexModel, delta: DataFrame): IvfIndexModel = {
    // Checkpoint the (delta-sized) admitted frame so both the union
    // below and the bookkeeping count touch materialized blocks.
    val fresh = delta
      .select(col(model.idCol).as("neighbor_id"), col(model.vecCol).as("cv"))
      .join(model.indexed.select(col("neighbor_id")), Seq("neighbor_id"), "left_anti")
      .select(col("neighbor_id"), col("cv"),
        nearestCell(col("cv"), model.centroids).as("cell"))
      .localCheckpoint()
    val indexed = Checkpoints.union(model.indexed, fresh)
    val extended = ExtendableIndex.extendedAfter("ivfExtend", model,
      fresh.count(), "frozen cells/nprobe/centroids are now sized for a " +
        "minority of the corpus; schedule a fresh ivfBuild")
    // Matrix merge — delta-bound shuffle, O(index) local read; see
    // [[IvfIndexModel.chunkedMatrix]] / [[mergeCellMatrix]] for its
    // contract.
    model.copy(indexed = indexed, extendedN = extended,
      seedMatrix = model.matrix.extended(fresh))
  }

  /** Persist a built IVF index to `path`: the cell-indexed corpus as
    * parquet plus the driver-held geometry and centroid matrix as a
    * 1-row nested-array parquet — the same at-rest shape as
    * [[pqSave]], minus the codebooks (IVF carries full vectors, so
    * there is no separate corpus table to save). */
  def ivfSave(model: IvfIndexModel, path: String): Unit = {
    model.indexed.write.mode("overwrite").parquet(s"$path/index")
    val s = model.indexed.sparkSession
    import s.implicits._
    Seq((model.cells, model.nprobe, model.dim,
        model.centroids.map(_.toSeq).toSeq,
        model.idCol, model.vecCol, model.builtN, model.extendedN))
      .toDF("cells", "nprobe", "dim", "centroids", "id_col", "vec_col",
        "built_n", "extended_n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load an [[ivfSave]]d index; [[ivfSearch]] over it matches
    * searches on the original build exactly (spec-pinned). */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndexModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (builtN, extendedN) = ExtendableIndex.sizesOf(meta)
    IvfIndexModel(
      cells = meta.getAs[Int]("cells"),
      nprobe = meta.getAs[Int]("nprobe"),
      dim = meta.getAs[Int]("dim"),
      centroids = meta.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("centroids")
        .map(_.toArray).toArray,
      indexed = spark.read.parquet(s"$path/index"),
      idCol = meta.getAs[String]("id_col"),
      vecCol = meta.getAs[String]("vec_col"),
      builtN = builtN, extendedN = extendedN)
  }

  /** LSH-bucketed cosine top-k: `tables` independent hyperplane sets
    * (the classic L-table OR-construction — a neighbor is a candidate if
    * it collides in ANY table), each probed at the probe's own bucket
    * plus every single-bit flip (multi-probe), exact cosine re-rank over
    * the candidate union. Never a cross product — the candidate join is
    * an equi-join on (table, bucket).
    *
    * Scale shape: the corpus index is `tables`× the corpus (one bucket
    * row per table) — the standard LSH memory-for-recall trade; shuffle
    * stays ∝ corpus × tables, never all-pairs. Few short hyperplane
    * tables beat one long one on weakly-clustered embeddings: collision
    * probability per table is pᵖˡᵃⁿᵉˢ, and OR-ing tables drives recall
    * toward 1 without fattening any single bucket.
    *
    * `broadcastProbes` carries the same interactive-vs-bulk strategy
    * split as [[ivfSearch]]/[[pqSearch]]: true replicates the bounded
    * probe fan; false groups the bucketed corpus per (table, bucket)
    * and scans each group inside the vectorized
    * [[graft.functions.TopKCellCosExpr]] kernel — results identical
    * (spec-pinned), BIGINT ids required in bulk. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              planes: Int = 4, tables: Int = 8, seed: Long = 42L, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              broadcastProbes: Boolean = true): DataFrame = {
    val hps = (0 until tables).map(t => hyperplanes(planes, dim, seed + t))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      posexplode(array(hps.map(hp => bucketOf(col(vecCol), hp)): _*)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    val probeBuckets = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      posexplode(array(hps.map(hp => bucketOf(col(vecCol), hp)): _*)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "b0"))
      .select(col("probe_id"), col("pv"), col("table"),
        explode(array(lit(0L) +: (0 until planes).map(i => lit(1L << i)): _*)).as("flip"),
        col("b0"))
      .select(col("probe_id"), col("pv"), col("table"),
        col("b0").bitwiseXOR(col("flip")).as("bucket"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    if (broadcastProbes) {
      dropNanCos(c.join(broadcast(probeBuckets), Seq("table", "bucket"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .dropDuplicates("probe_id", "neighbor_id")
        .withColumn("cos", cosine(col("pv"), col("cv"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
    } else {
      // Bulk probes (same strategy split as ivfSearch/pqSearch): the
      // corpus grouped per (table, bucket, chunk) feeds the same
      // per-group top-k kernel as IVF's bulk path, with the same
      // skew-derived sub-group chunking — identical docs share every
      // bucket, so a duplicate-heavy corpus would otherwise ride one
      // atomic hot-bucket row to one task (the measured IVF failure,
      // BENCH_NOTES r17). Unlike IVF, a candidate can collide with a
      // probe in SEVERAL tables (and now chunks), so the kernel
      // output dedups on (probe, neighbor) BEFORE the merge window —
      // at probes × tables × (planes+1) × chunks × k cardinality, not
      // candidate cardinality. Per-group top-k + global dedup is
      // EXACT: a globally top-k distinct candidate has < k distinct
      // candidates beating it, so in every group that contains it at
      // most k−1 locals rank above it and it survives that group's
      // top-k. Same bulk caveats as ivfSearch: BIGINT ids, zero-norm
      // candidates omitted rather than ranked NULLS-LAST.
      val width =
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      // Two consumers of the bucketed corpus in bulk mode (the
      // modulus derivation and the matrix group-by) — materialize it
      // once; the broadcast branch keeps its single-consumer lazy plan.
      val cc = c.localCheckpoint()
      val nChunks = chunkModulus(cc, Seq("table", "bucket"))
      val mat = cc
        .withColumn("chunk",
          pmod(xxhash64(col("neighbor_id")), lit(nChunks.toLong)).cast("int"))
        .groupBy(col("table"), col("bucket"), col("chunk"))
        .agg(collect_list(struct(col("neighbor_id"), col("cv"))).as("mat"))
        .repartition(width, col("table"), col("bucket"), col("chunk"))
      val probeFan = probeBuckets
        .withColumn("chunk", explode(array((0 until nChunks).map(lit): _*)))
        .repartition(width, col("table"), col("bucket"), col("chunk"))
      probeFan.join(mat, Seq("table", "bucket", "chunk"))
        .select(col("probe_id"),
          explode(graft.functions.TopKCellCosExpr(
            col("probe_id"), col("pv"), col("mat"), k)).as("e"))
        .select(col("probe_id"), col("e.neighbor_id").as("neighbor_id"),
          col("e.cos").as("cos"))
        .dropDuplicates("probe_id", "neighbor_id")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
    }
  }

  /** Argmin-L2 of a (sub)vector against `k` constant centroids via the
    * augmented-coordinate trick: argmin ‖v−c‖² = argmax (v·c − ‖c‖²/2),
    * and appending a constant 1.0 coordinate to v and −‖c‖²/2 to each
    * centroid row turns that into a plain argmax-dot — so the existing
    * native [[graft.functions.ArgMaxDotExpr]] kernel does PQ encoding
    * with no new expression. */
  private def argminL2(vec: Column, cs: Array[Array[Double]]): Column = {
    val augmented = cs.map(c => c :+ (-c.map(x => x * x).sum / 2.0))
    graft.functions.ArgMaxDotExpr(
      concat(vec, array(lit(1.0))), augmented)
  }

  /** PQ code of a vector: per subspace, the index of the L2-nearest
    * codebook entry (`books` is `[m][k][dim/m]`). */
  private def pqCodes(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val sub = books.head.head.length
    array(books.indices.map(j =>
      argminL2(slice(vec, j * sub + 1, sub), books(j))): _*)
  }

  /** Per-subspace product-quantization codebooks: `[m][k][dim/m]`,
    * trained exactly like the coarse quantizer (hash-smallest seeds +
    * one Lloyd refinement) but per subspace, with the refinement's
    * assign pass for ALL m subspaces fused into one corpus scan. The
    * driver holds `m × k × dim/m = k × dim` doubles — same bound as
    * the coarse centroids. */
  private def pqCodebooks(corpus2: DataFrame, m: Int, k: Int, dim: Int,
                          idCol: String, vecCol: String): Array[Array[Array[Double]]] = {
    val sub = dim / m
    require(m * sub == dim, s"dim $dim must be divisible by m $m")
    val seedRows = hashSmallest(corpus2, k, idCol)
    val seedBooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seedRows.map(v => v.slice(j * sub, (j + 1) * sub)))
    def subvec(vec: Column, j: Int): Column =
      slice(vec, j * sub + 1, sub)
    // One corpus pass assigns every subspace; two chained generators
    // (codes → positions) feed the per-(subspace, code, pos) means.
    val withCodes = corpus2.select(col(vecCol).as("v"),
      array((0 until m).map(j =>
        argminL2(subvec(col("v"), j), seedBooks(j))): _*).as("codes"))
    val means = withCodes
      .select(col("v"), posexplode(col("codes")))
      .select(col("pos").as("j"), col("col").as("code"),
        posexplode(slice(col("v"), col("pos") * sub + 1, lit(sub))))
      .groupBy(col("j"), col("code"), col("pos"))
      .agg(avg(col("col")).as("mv"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (jc, rows) =>
        jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
      }
    Array.tabulate(m, k)((j, c) => means.getOrElse((j, c), seedBooks(j)(c)))
  }

  /** IVF-PQ cosine top-k — the compressed scale path: the coarse
    * quantizer prunes to `nprobe` of `cells` cells (exactly as
    * [[ivfTopK]]), and INSIDE the visited cells candidates are ranked
    * by asymmetric-distance (ADC) over `m`-byte PQ codes instead of
    * full vectors: the probe precomputes one m×k dot-product table
    * against the codebooks, and each candidate costs m table lookups
    * instead of `dim` multiplies. The ADC shortlist (`shortlist` per
    * probe) is then exact-cosine re-ranked by joining the ORIGINAL
    * vectors back by id — an equi-join that moves only
    * probes × shortlist rows.
    *
    * Scale shape (the point of PQ): the candidate scan carries
    * `(cell, id, m codes)` ≈ m bytes per vector instead of dim×4 —
    * a 32× index-size cut at dim=64/m=8 — and full vectors are touched
    * only for the shortlist. All vectors are L2-normalized before
    * encoding so ADC's dot approximation ranks by cosine (cosine is
    * scale-invariant, so the exact re-rank over raw vectors is
    * unchanged). Everything is deterministic: hash-seeded codebooks,
    * argmax tie-break by first index, rank ties by neighbor id.
    *
    * When to choose PQ over [[ivfTopK]] — measured, not assumed
    * (BENCH_NOTES r16; 30×/60k clustered corpus, 6k bulk probes):
    * PQ-bulk 4.9 s vs IVF-bulk 6.5 s at dim 64, but 17.3 s vs 8.6 s
    * at dim 512 — raising dim hurt the PQ path MORE (its dim-scaled
    * stages are the dtable build and the shortlist re-rank join's
    * full-vector payload, plus heavy JIT/GC warm-in variance on wide
    * rows), while IVF's fused per-candidate cosine grew only ~30%.
    * On a compute-rich executor whose full-precision index fits
    * storage, IVF-flat is the default bulk engine at ANY of these
    * dims; PQ is the INDEX-SIZE lever — ~m bytes/vector at rest vs
    * dim×4 — for when the full-vector index can't fit the
    * storage/broadcast/bandwidth budget (the 100 TB regime), not a
    * local-throughput lever. */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, topK: Int,
                cells: Int = -1, nprobe: Int = -1, m: Int = 8, k: Int = 16,
                shortlist: Int = -1, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqSearch(pqBuild(corpus, cells, nprobe, m, k, shortlist, dim, idCol, vecCol),
      probes, topK, idCol, vecCol)

  /** A built IVF-PQ index: the driver-held quantizers plus the
    * materialized compressed index and the normalized corpus (for the
    * exact re-rank). Build ONCE, [[pqSearch]] many times — training
    * and encoding are the dominant cost of a single [[ivfPqTopK]]
    * call, and a real deployment amortizes them across every query
    * batch the way Faiss persists an index.
    *
    * `needsRebuild` bites harder here than for IVF: the frozen
    * shortlist stays ~1% of the BUILD corpus and the PQ codebooks
    * never saw the delta, so ADC precision drifts with the data. A
    * fresh [[pqBuild]] re-derives cells/nprobe/shortlist and retrains
    * both quantizer levels. */
  final case class PqIndexModel(
      cells: Int, nprobe: Int, m: Int, k: Int, dim: Int, shortlist: Int,
      coarse: Array[Array[Double]], books: Array[Array[Array[Double]]],
      corpus2: DataFrame, indexed: DataFrame, idCol: String, vecCol: String,
      builtN: Long = -1L, extendedN: Long = 0L,
      private val seedMatrix: (Int, DataFrame) = null)
      extends ExtendableIndex {
    @transient private[sim] lazy val matrix =
      new CellMatrix(indexed, "codes", seedMatrix)

    /** Chunked per-cell matrix view of the compressed index — the
      * input to the bulk search's [[graft.functions.AdcTopSExpr]]
      * kernel. Same lifecycle and skew contract as
      * [[IvfIndexModel.chunkedMatrix]] (data-derived chunk modulus,
      * frozen across extends, incrementally maintained when already
      * materialized); per-entry width is 8 + m bytes — the compressed
      * codes, NOT full vectors. */
    def chunkedMatrix: (Int, DataFrame) = matrix.value
  }

  /** Train quantizers and encode the corpus (see [[ivfPqTopK]] for
    * the parameter semantics; ≤ 0 values derive from corpus size).
    * Both the normalized corpus and the compressed index are
    * checkpointed, so repeated [[pqSearch]] calls touch neither the
    * upstream plan nor the encode expressions again. */
  def pqBuild(corpus: DataFrame,
              cells: Int = -1, nprobe: Int = -1, m: Int = 8, k: Int = 16,
              shortlist: Int = -1, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqIndexModel = {
    val sub = dim / m
    require(m * sub == dim, s"dim $dim must be divisible by m $m")
    // Normalized 2-column projection, read by training (2×), indexing,
    // and the shortlist re-rank — materialize once.
    // dropDuplicates(id): build shares extend's id-uniqueness contract
    // ([[pqExtend]] anti-joins, so a duplicate id can only enter at
    // build) — a doubled id would occupy multiple topK slots.
    val corpus2 = graft.sim.Embeddings
      .withL2Normalized(corpus.select(col(idCol), col(vecCol))
        .dropDuplicates(idCol), vecCol)
      .filter(col("unit").isNotNull)
      .select(col(idCol), col("unit").as(vecCol))
      .localCheckpoint()
    // One cheap count on the checkpoint feeds every data-derived
    // parameter below (cells, nprobe, shortlist) and pins builtN,
    // the rebuild-trigger baseline.
    val n = corpus2.count()
    // cells/nprobe ≤ 0 derive from corpus size — see derivedCells /
    // derivedNprobe: a fixed cells=16 scanned a constant nprobe/16 of
    // the corpus per probe at any n (the r13 q_ann_pq 30→90× exponent
    // of 1.37 was exactly this — a linear scan in disguise).
    val effCells = if (cells > 0) cells else derivedCells(n)
    val effNprobe = if (nprobe > 0) math.min(nprobe, effCells) else derivedNprobe(effCells)
    // shortlist ≤ 0 derives from corpus size: max(32, n/100), i.e.
    // ~1% of the corpus survives ADC into the exact re-rank. A FIXED
    // shortlist saturates exactly like a fixed LSH plane count — at
    // 90× data, 32 of ~70k ADC candidates (0.05%) starved the re-rank
    // to recall 0 (r13, BENCH_NOTES). The r14 width: n/200 capped recall at
    // 0.60 on the CLUSTERED 90× corpus — inside a tight cluster the
    // 4-bit ADC rank is noisy enough that true neighbors fall below
    // n/200, while n/100 (≈ one home cluster at K=100) measures
    // recall 1.00 at the same 7% scanned fraction. The re-rank join
    // still moves only probes × 1% of n rows — trivial next to the
    // candidate scan. (k=256 codebooks were measured as an
    // alternative ADC-precision lever and REJECTED: single-refinement
    // training undertrains 256 codes/subspace — recall 0.47, slower.)
    val effShortlist =
      if (shortlist > 0) shortlist
      else math.max(32L, n / 100L).toInt
    val coarse = coarseCentroids(corpus2, effCells, idCol, vecCol)
    val books = pqCodebooks(corpus2, m, k, dim, idCol, vecCol)
    // The index: only (cell, id, codes) — m small ints per vector.
    // Checkpointed so the n × m × k encode runs once per BUILD, not
    // once per search.
    val indexed = corpus2.select(col(idCol).as("neighbor_id"),
      nearestCell(col(vecCol), coarse).as("cell"),
      pqCodes(col(vecCol), books).as("codes"))
      .localCheckpoint()
    PqIndexModel(effCells, effNprobe, m, k, dim, effShortlist,
      coarse, books, corpus2, indexed, idCol, vecCol, builtN = n)
  }

  /** Add vectors to a built IVF-PQ index WITHOUT retraining — the
    * Faiss `IndexIVFPQ.add` operation: the delta is L2-normalized,
    * anti-joined against ids already indexed (idempotent re-extends,
    * same contract as [[ivfExtend]] / `Dedup.minhashExtend`), then
    * cell-assigned and PQ-encoded under the model's FROZEN coarse
    * centroids and codebooks. Both the compressed index and the
    * normalized corpus (the exact re-rank side) grow; the extend
    * costs one assign+encode pass over the delta only.
    *
    * Frozen-geometry caveat: cells/nprobe/shortlist keep their
    * build-time sizes (shortlist in particular stays ~1% of the
    * BUILD corpus), and codebooks never saw the delta — fine for
    * steady growth, but a doubled or drifted corpus deserves a fresh
    * [[pqBuild]], which restores derived geometry and retrains the
    * quantizers. */
  def pqExtend(model: PqIndexModel, delta: DataFrame): PqIndexModel = {
    val fresh = graft.sim.Embeddings
      .withL2Normalized(delta.select(col(model.idCol), col(model.vecCol)),
        model.vecCol)
      .filter(col("unit").isNotNull)
      .select(col(model.idCol), col("unit").as(model.vecCol))
      .join(model.corpus2.select(col(model.idCol)), Seq(model.idCol), "left_anti")
      .localCheckpoint()
    val freshIndexed = fresh.select(col(model.idCol).as("neighbor_id"),
      nearestCell(col(model.vecCol), model.coarse).as("cell"),
      pqCodes(col(model.vecCol), model.books).as("codes"))
    val indexed = Checkpoints.union(model.indexed, freshIndexed)
    val corpus2 = Checkpoints.union(model.corpus2, fresh)
    val extended = ExtendableIndex.extendedAfter("pqExtend", model,
      fresh.count(), "frozen cells/nprobe/shortlist/codebooks are now " +
        "sized and trained for a minority of the corpus; schedule a " +
        "fresh pqBuild")
    // Matrix maintenance — see [[ivfExtend]].
    model.copy(corpus2 = corpus2, indexed = indexed, extendedN = extended,
      seedMatrix = model.matrix.extended(freshIndexed))
  }

  /** Persist a built index to `path`: the compressed index and the
    * normalized corpus as parquet, the driver-held geometry and
    * quantizer matrices as a 1-row parquet (nested arrays — no
    * side-format parser). With [[pqLoad]] this is the deployment
    * shape: build on the full corpus once, serve probe batches from
    * any later session without retraining or re-encoding — the
    * at-rest index is ~m bytes/vector — measured (BENCH_NOTES r17,
    * 60k vectors): 9.6–9.8 bytes/vector at ANY dim vs the flat
    * index's dim×4 (27.6× smaller at dim 64, 210× at dim 512) — the
    * cut that makes a 100 TB corpus's scan-hot index tier fit fast
    * storage, with the exact re-rank corpus (touched only at
    * shortlist cardinality) relegated to cold storage. */
  def pqSave(model: PqIndexModel, path: String): Unit = {
    model.indexed.write.mode("overwrite").parquet(s"$path/index")
    model.corpus2.write.mode("overwrite").parquet(s"$path/corpus")
    val s = model.indexed.sparkSession
    import s.implicits._
    Seq((model.cells, model.nprobe, model.m, model.k, model.dim,
        model.shortlist,
        model.coarse.map(_.toSeq).toSeq,
        model.books.map(_.map(_.toSeq).toSeq).toSeq,
        model.idCol, model.vecCol, model.builtN, model.extendedN))
      .toDF("cells", "nprobe", "m", "k", "dim", "shortlist",
        "coarse", "books", "id_col", "vec_col", "built_n", "extended_n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[pqSave]]d index; [[pqSearch]] over it matches searches
    * on the original build exactly (spec-pinned). */
  def pqLoad(spark: org.apache.spark.sql.SparkSession, path: String): PqIndexModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (builtN, extendedN) = ExtendableIndex.sizesOf(meta)
    def d2(v: Any): Array[Array[Double]] =
      v.asInstanceOf[scala.collection.Seq[scala.collection.Seq[Double]]]
        .map(_.toArray).toArray
    PqIndexModel(
      cells = meta.getAs[Int]("cells"),
      nprobe = meta.getAs[Int]("nprobe"),
      m = meta.getAs[Int]("m"),
      k = meta.getAs[Int]("k"),
      dim = meta.getAs[Int]("dim"),
      shortlist = meta.getAs[Int]("shortlist"),
      coarse = d2(meta.getAs[Any]("coarse")),
      books = meta.getAs[scala.collection.Seq[Any]]("books").map(d2).toArray,
      corpus2 = spark.read.parquet(s"$path/corpus"),
      indexed = spark.read.parquet(s"$path/index"),
      idCol = meta.getAs[String]("id_col"),
      vecCol = meta.getAs[String]("vec_col"),
      builtN = builtN, extendedN = extendedN)
  }

  /** Query a built IVF-PQ index (see [[ivfPqTopK]] for semantics).
    *
    * `broadcastProbes` (default true) fits the interactive shape — a
    * bounded probe batch replicated to every executor, the index
    * scanned once with no shuffle of the big side. For BULK probe
    * batches (batch ANN over a whole dataset — millions of probes ×
    * (pv + ADC table) rows outgrow any broadcast), pass false: the
    * candidate join becomes a plain (cell) equi-join — both sides
    * shuffle by cell, volume ∝ index + probes×nprobe, still never
    * all-pairs. Results are identical either way (spec-pinned); only
    * the physical join strategy moves. */
  def pqSearch(model: PqIndexModel, probes: DataFrame, topK: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               broadcastProbes: Boolean = true): DataFrame = {
    import model.{books, coarse, m}
    val sub = model.dim / m
    def subvec(vec: Column, j: Int): Column = slice(vec, j * sub + 1, sub)
    // Probes: nprobe coarse cells (same ranking as ivfTopK) + the ADC
    // table — m arrays of k dots of the probe subvector against each
    // codebook (native MatVecDots per subspace).
    val probeSims = graft.functions.MatVecDotsExpr(col("pv"), unitRows(coarse))
    val dtable = array((0 until m).map(j =>
      graft.functions.MatVecDotsExpr(subvec(col("pv"), j), books(j))): _*)
    // Per-probe frame: unit vector + ADC table, ONE row per probe.
    // Everything probe-derived that is wide (pv: dim doubles; dtable:
    // m×k doubles) lives here and joins back by probe_id only where
    // needed — candidate-cardinality rows stay NARROW. The first cut
    // of the bulk path carried pv+dtable on every (probe, cell) row
    // into the candidate join, so the dedup and shortlist-window
    // shuffles moved ~1 KB × |candidates| (measured at 30×/6k probes:
    // 230 s; this shape: see BENCH_NOTES r15).
    val probeMeta = graft.sim.Embeddings
      .withL2Normalized(probes.select(col(idCol), col(vecCol)), vecCol)
      .filter(col("unit").isNotNull)
      .select(col(idCol).as("probe_id"), col("unit").as("pv"))
      .withColumn("dtable", dtable.as("dtable"))
    val probeCells = probeMeta
      .withColumn("__sims", probeSims)
      .withColumn("__ranked", reverse(array_sort(col("__sims"))))
      .select(col("probe_id"), col("__sims"),
        explode(slice(col("__ranked"), 1, model.nprobe)).as("__target"))
      .withColumn("cell", (array_position(col("__sims"), col("__target")) - 1).cast("int"))
      // Distinct at PROBE fan-out size, not candidate size: duplicate
      // (probe, cell) rows (possible only on exact sim ties — the
      // ranked slice maps tied entries to one array_position) are the
      // SOLE source of duplicate (probe, neighbor) candidates, because
      // every indexed vector lives in exactly one cell. A candidate-
      // level dropDuplicates re-shuffled |probes|×nprobe×occupancy
      // rows to kill duplicates this distinct kills in |probes|×nprobe.
      .select(col("probe_id"), col("cell"))
      .distinct()

    // ADC score = Σ_j dtable[j][code_j] ≈ cos(probe, candidate): m
    // element lookups per candidate, no vector math. Native codegen
    // kernel — the composed aggregate∘zip_with form runs interpreted
    // per element and dominated the bulk path at candidate
    // cardinality (spec-pinned identical in NativeVectorSpec).
    val adc = graft.functions.AdcSumExpr(col("codes"), col("dtable"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    // Interactive: broadcast BOTH probe frames (bounded batch) — the
    // index is scanned once with no shuffle, the ADC table rides the
    // (probe_id, cell) fan-out INTO the cell join (≤ nprobe copies
    // per probe), and the shortlist window prunes map-side.
    def probeSide(df: DataFrame): DataFrame =
      if (broadcastProbes) broadcast(df) else df
    val width =
      model.indexed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val probeFan0 = probeCells
      .join(probeMeta.select(col("probe_id"), col("dtable")), Seq("probe_id"))
    val short = if (broadcastProbes) {
      model.indexed
        .join(broadcast(probeFan0), Seq("cell"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"), adc.as("adc"))
        .withColumn("adc_rank", row_number().over(wAdc))
        .filter(col("adc_rank") <= model.shortlist)
        .select(col("probe_id"), col("neighbor_id"))
    } else {
      // Bulk (r17 rework, same disease and cure as ivfSearch): the
      // row-per-candidate cell join shuffled EVERY ADC-scored
      // candidate to the shortlist window — the derived shortlist
      // (n/100) exceeds both cell occupancy (~2·√n past n ≈ 40k) and
      // the per-map-partition per-probe candidate count, so
      // WindowGroupLimit's map-side prune kept everything and the
      // probe_id exchange moved the full candidate cardinality
      // (measured 90×/18k probes: 228M rows shuffled, 557–1822 CPU-s
      // in the window stage — BENCH_NOTES r17). The shortlist CANNOT
      // be cut per cell (occupancy < shortlist ⇒ per-cell truncation
      // is a no-op), so the fix changes row SHAPE instead of row
      // count: [[graft.functions.AdcTopSExpr]] scores a whole cell
      // per row (bit-identical [[graft.functions.NativeVector.adcSum]]
      // — ADC boundaries cannot move) and leaves it as ONE sorted
      // compact array, the probe_id shuffle moves |probes| × nprobe
      // ARRAY rows of (8+m)-byte entries, and
      // [[graft.functions.MergeTopSExpr]] k-way-merges the ≤ nprobe
      // sorted arrays into the global shortlist — exact by the
      // one-cell-per-vector argument, ties matching the window's
      // (adc desc, neighbor_id asc). Both cell-join inputs pin width
      // by repartitioning on the JOIN KEYS (HashPartitioning(cell,
      // chunk) satisfies the join's clustering requirement directly —
      // the old (cell, id) repartition did not, stacking a second
      // AQE-coalescible exchange; REPARTITION_BY_NUM is not
      // coalescible). The chunk key spreads skew-split hot cells
      // across tasks — see [[chunkedCellMatrix]]. Bulk requires a
      // BIGINT id (analysis fails loudly otherwise); malformed-code
      // NULL-ADC entries are omitted rather than ranked NULLS-LAST —
      // kernel scaladoc.
      val (nChunks, mat0) = model.chunkedMatrix
      val probeFan = probeFan0
        .withColumn("chunk", explode(array((0 until nChunks).map(lit): _*)))
        .repartition(width, col("cell"), col("chunk"))
      val mat = mat0.repartition(width, col("cell"), col("chunk"))
      probeFan.join(mat, Seq("cell", "chunk"))
        .select(col("probe_id"),
          graft.functions.AdcTopSExpr(
            col("probe_id"), col("dtable"), col("mat"),
            model.shortlist).as("arr"))
        .groupBy(col("probe_id"))
        .agg(collect_list(col("arr")).as("arrs"))
        .select(col("probe_id"),
          explode(graft.functions.MergeTopSExpr(
            col("arrs"), model.shortlist)).as("neighbor_id"))
    }

    // Exact re-rank touches full vectors ONLY for the shortlist.
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    short
      .join(probeSide(probeMeta.select(col("probe_id"), col("pv"))),
        Seq("probe_id"))
      .join(model.corpus2.select(
          col(model.idCol).as("neighbor_id"), col(model.vecCol).as("cv")),
        Seq("neighbor_id"))
      .withColumn("cos", cosine(col("pv"), col("cv")))
      .transform(dropNanCos)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
  }
}
