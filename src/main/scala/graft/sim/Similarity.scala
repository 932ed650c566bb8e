package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.run.Checkpoints

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Four cosine top-k paths, as a training-data pipeline needs them:
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
  *  - one IVF cell index ([[IvfIndexModel]]) with two payloads: IVF-flat
  *    (`ivfBuild`, full vectors, cosine inside the cell scan) and
  *    IVF-PQ (`pqBuild`, PQ codes, ADC shortlist then exact re-rank).
  *    Both share build, `ivfSearch`'s probe routing, `ivfExtend`,
  *    `ivfSave`/`ivfLoad` and the rebuild trigger.
  *
  * Every path ends in one top-k window ([[rankTopK]]); the three bulk
  * (non-broadcast) paths share one chunked cell matrix and one cell
  * scan ([[chunkedCellMatrix]], [[cellScan]]).
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

  /** The `k` best candidates per probe by (`score` desc, neighbor_id):
    * (probe_id, neighbor_id, score, rank) — the one merge window every
    * search path ends in. */
  private def rankTopK(scored: DataFrame, k: Int, score: String = "cos"): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col(score).desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col(score), col("rank"))

  /** L2-normalized (id, vector) rows; zero vectors are dropped. */
  private def normalized(rows: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.sim.Embeddings.withL2Normalized(rows, vecCol)
      .filter(col("unit").isNotNull)
      .select(col(idCol), col("unit").as(vecCol))

  /** Exact cosine top-k per probe. `probes` must be small (it is
    * broadcast). Returns (probe_id, neighbor_id, cos, rank). */
  def bruteTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // Deliberate broadcast cross: |probes| bounded ⇒ BroadcastNestedLoop
    // over one corpus scan, no shuffle of the big side.
    rankTopK(dropNanCos(c.crossJoin(p)
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("pv"), col("cv")))), k)
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

  /** The product-quantization part of an IVF-PQ index: `m` subspace
    * codebooks of `k` entries (`books` is `[m][k][dim/m]`), the ADC
    * `shortlist` width, and `corpus2`, the L2-normalized (id, vector)
    * corpus the shortlist is exactly re-ranked against. */
  final case class PqPart(m: Int, k: Int, shortlist: Int,
                          books: Array[Array[Array[Double]]], corpus2: DataFrame)

  /** A built IVF index: the driver-held coarse centroids plus the
    * checkpointed cell index — one `(neighbor_id, cell, payload)` row
    * per vector. The payload is the vector itself (`cv`, IVF-flat) or
    * its PQ codes (`codes`, IVF-PQ, when `pq` is set — ~m bytes per
    * vector instead of dim×4). Build ONCE, [[ivfSearch]] many times:
    * training and the O(n·cells·dim) assignment pass are the dominant
    * cost of a single search, and a real deployment amortizes them
    * across every probe batch the way Faiss persists an IndexIVFFlat
    * or IndexIVFPQ.
    *
    * `needsRebuild` flips once [[ivfExtend]] adds outgrow the build:
    * cells/nprobe (and PQ's shortlist, ~1% of the BUILD corpus) are
    * then sized for half the corpus and the centroids (and PQ
    * codebooks) never saw most of it. A fresh build re-derives the
    * geometry and retrains the quantizers; recall degrades gradually
    * as cells fill. */
  final case class IvfIndexModel(
      cells: Int, nprobe: Int,
      centroids: Array[Array[Double]],
      indexed: DataFrame, idCol: String, vecCol: String,
      pq: Option[PqPart] = None,
      builtN: Long = -1L, extendedN: Long = 0L,
      private val seedMatrix: (Int, DataFrame) = null)
      extends ExtendableIndex {
    private[sim] def payload: String = if (pq.isEmpty) "cv" else "codes"

    @transient private[sim] lazy val matrix =
      new CellMatrix(indexed, payload, seedMatrix)

    /** Chunked per-cell matrix view of the index — (chunk modulus,
      * frame of one row per (cell, chunk) carrying its (neighbor_id,
      * payload) entries as an array-of-structs) — the input the bulk
      * search's kernel scans ([[graft.functions.TopKCellCosExpr]] for
      * flat, [[graft.functions.AdcTopSExpr]] for PQ, whose entries are
      * 8 + m bytes). Lazily built and checkpointed once per model
      * INSTANCE: [[ivfExtend]] and the builds return new instances, so
      * the matrix always reflects the index it belongs to and repeated
      * bulk batches reuse the materialized blocks instead of
      * re-grouping the index per batch.
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
      if (seed != null) seed
      else {
        val (nChunks, mat) = chunkedCellMatrix(indexed, Seq("cell"), payload)
        (nChunks, mat.localCheckpoint())
      }
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

  /** `entries` grouped per (`keys`, chunk) into one `name` array of
    * (neighbor_id, payload) structs, each entry in chunk
    * hash(neighbor_id) mod `nChunks`. */
  private def groupChunks(entries: DataFrame, keys: Seq[String], nChunks: Int,
                          payload: String, name: String): DataFrame =
    entries
      .withColumn("chunk",
        pmod(xxhash64(col("neighbor_id")), lit(nChunks.toLong)).cast("int"))
      .groupBy((keys :+ "chunk").map(col): _*)
      .agg(collect_list(struct(col("neighbor_id"), col(payload))).as(name))

  /** Chunked group matrix shared by the three bulk kernels' build
    * side: entries hash-partitioned into `nChunks` sub-group chunks by
    * id, grouped per (`keys`, chunk) — the IVF cell, or LSH's (table,
    * bucket). The modulus derives from skew — ⌈max-occupancy / (2 ×
    * mean-occupancy)⌉, floor 1, cap 64 — so a balanced index keeps
    * one row per group (zero overhead, the plan the uniform-corpus
    * measurements were taken on) while a clustered index (the
    * REALISTIC regime) bounds the kernel's atomic work unit near 2×
    * the mean: a dominant cluster's cell would otherwise ride one row
    * to one task, and AQE's skew splitter cannot divide a single row.
    * Chunks partition each group disjointly, so per-chunk top-k/-s
    * remains exact by the same subset argument as per-group (a
    * globally kept candidate has < k beaters in any chunk that
    * contains it). Costs one small occupancy aggregation; the probe
    * fan explodes × nChunks (bounded by the cap). `indexed` is read
    * twice, so it should be materialized. */
  private[sim] def chunkedCellMatrix(indexed: DataFrame, keys: Seq[String],
                                     payload: String): (Int, DataFrame) = {
    val nChunks = chunkModulus(indexed, keys)
    (nChunks, groupChunks(indexed, keys, nChunks, payload, "mat"))
  }

  /** Delta-bound incremental maintenance of a [[chunkedCellMatrix]]:
    * the admitted delta is chunked under the FROZEN modulus and merged
    * into the checkpointed matrix with a shuffle-free full-outer
    * concat (both sides hash-partitioned by (cell, chunk)). */
  private[sim] def mergeCellMatrix(old: (Int, DataFrame), fresh: DataFrame,
                                   payload: String): (Int, DataFrame) = {
    val (nChunks, om) = old
    val fg = groupChunks(fresh, Seq("cell"), nChunks, payload, "fmat")
    val df = om.join(fg, Seq("cell", "chunk"), "full_outer")
      .select(col("cell"), col("chunk"),
        when(col("mat").isNull, col("fmat"))
          .when(col("fmat").isNull, col("mat"))
          .otherwise(concat(col("mat"), col("fmat"))).as("mat"))
      .localCheckpoint()
    (nChunks, df)
  }

  /** The bulk probe-side join: `fan` (one row per probe and group
    * key) fanned out over the matrix's chunks and joined to it on
    * (`keys`, chunk). Both sides pin width by repartitioning on the
    * JOIN KEYS at `spark.sql.shuffle.partitions`: HashPartitioning on
    * the keys satisfies the join's clustering requirement directly
    * (an (id)-based repartition did not, stacking a second
    * AQE-coalescible exchange), and REPARTITION_BY_NUM is not
    * AQE-coalescible — AQE sizes by input bytes, blind to the
    * in-kernel expansion. The chunk key spreads skew-split hot groups
    * across tasks; modulus 1 (balanced corpora) makes it a constant
    * column, the same plan as unchunked. */
  private def cellScan(fan: DataFrame, matrix: (Int, DataFrame),
                       keys: Seq[String]): DataFrame = {
    val (nChunks, mat) = matrix
    val width = mat.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val on = keys :+ "chunk"
    fan.withColumn("chunk", explode(array((0 until nChunks).map(lit): _*)))
      .repartition(width, on.map(col): _*)
      .join(mat.repartition(width, on.map(col): _*), on)
  }

  /** Per-group exact cosine top-`k` of each (probe, pv) row of `fan`
    * inside one vectorized kernel per joined matrix row
    * ([[graft.functions.TopKCellCosExpr]], the very same fused cosine
    * as the broadcast path): (probe_id, neighbor_id, cos) rows, at
    * most `k` per probe and group. Requires a BIGINT id (the kernel's
    * self-exclusion compares longs — analysis fails loudly otherwise);
    * zero-norm degenerate vectors are skipped rather than ranked
    * NULLS-LAST — see the kernel scaladoc. */
  private def cellCosTopK(fan: DataFrame, matrix: (Int, DataFrame),
                          keys: Seq[String], k: Int): DataFrame =
    cellScan(fan, matrix, keys)
      .select(col("probe_id"),
        explode(graft.functions.TopKCellCosExpr(
          col("probe_id"), col("pv"), col("mat"), k)).as("e"))
      .select(col("probe_id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.cos").as("cos"))

  /** The cell entries of (id, vector) `rows` under fixed centroids
    * (and codebooks): (neighbor_id, cell, payload). */
  private def cellEntries(rows: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[Array[Double]],
                          pq: Option[PqPart]): DataFrame =
    rows.select(col(idCol).as("neighbor_id"),
      nearestCell(col(vecCol), centroids).as("cell"),
      pq.fold(col(vecCol).as("cv"))(p => pqCodes(col(vecCol), p.books).as("codes")))

  /** Train the coarse quantizer and cell-index the corpus — IVF-flat
    * (`k` cells, `nprobe` probed per query; ≤ 0 values derive from
    * corpus size, see [[derivedCells]]/[[derivedNprobe]]). The index is
    * checkpointed so repeated [[ivfSearch]] calls touch neither the
    * upstream plan nor the assignment expressions again. */
  def ivfBuild(corpus: DataFrame, k: Int = -1, nprobe: Int = -1,
               idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndexModel =
    build(corpus, k, nprobe, None, idCol, vecCol)

  /** IVF-PQ build — the compressed scale path: the coarse quantizer
    * prunes to `nprobe` of `cells` cells (exactly as [[ivfBuild]]),
    * and INSIDE the visited cells candidates are ranked by
    * asymmetric-distance (ADC) over `m`-byte PQ codes (`k` codebook
    * entries per subspace) instead of full vectors: the probe
    * precomputes one m×k dot-product table against the codebooks, and
    * each candidate costs m table lookups instead of `dim` multiplies.
    * The ADC shortlist (`shortlist` per probe) is then exact-cosine
    * re-ranked by joining the ORIGINAL vectors back by id — an
    * equi-join that moves only probes × shortlist rows. The vector
    * dimension is the corpus's, and must be divisible by `m`.
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
    * shortlist ≤ 0 derives from corpus size: max(32, n/100), i.e.
    * ~1% of the corpus survives ADC into the exact re-rank. A FIXED
    * shortlist saturates exactly like a fixed LSH plane count — at
    * 90× data, 32 of ~70k ADC candidates (0.05%) starved the re-rank
    * to recall 0 (r13, BENCH_NOTES). The r14 width: n/200 capped
    * recall at 0.60 on the CLUSTERED 90× corpus — inside a tight
    * cluster the 4-bit ADC rank is noisy enough that true neighbors
    * fall below n/200, while n/100 (≈ one home cluster at K=100)
    * measures recall 1.00 at the same 7% scanned fraction. The
    * re-rank join still moves only probes × 1% of n rows — trivial
    * next to the candidate scan. (k=256 codebooks were measured as an
    * alternative ADC-precision lever and REJECTED: single-refinement
    * training undertrains 256 codes/subspace — recall 0.47, slower.)
    *
    * When to choose PQ over IVF-flat — measured, not assumed
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
  def pqBuild(corpus: DataFrame,
              cells: Int = -1, nprobe: Int = -1, m: Int = 8, k: Int = 16,
              shortlist: Int = -1,
              idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndexModel =
    build(corpus, cells, nprobe, Some((m, k, shortlist)), idCol, vecCol)

  /** The one build behind [[ivfBuild]] and [[pqBuild]] (`pqShape` =
    * (m, k, shortlist) for PQ). */
  private def build(corpus: DataFrame, cells: Int, nprobe: Int,
                    pqShape: Option[(Int, Int, Int)],
                    idCol: String, vecCol: String): IvfIndexModel = {
    // Training + indexing read the corpus 3× or more (seed pick, one
    // Lloyd step, cell index; PQ adds its codebooks and keeps the
    // normalized corpus for the re-rank) — materialize the 2-column
    // projection once; localCheckpoint so repeated invocations are
    // ContextCleaner-safe (same rationale as
    // graft.view.Patterns.ensurePersisted).
    // dropDuplicates(id): build shares extend's id-uniqueness contract
    // ([[ivfExtend]] anti-joins, so a duplicate id can only enter at
    // build) — a doubled id would occupy multiple topK slots with the
    // same neighbor since each vector lives in exactly one cell.
    val rows = corpus.select(col(idCol), col(vecCol)).dropDuplicates(idCol)
    val corpus2 =
      (if (pqShape.isEmpty) rows else normalized(rows, idCol, vecCol)).localCheckpoint()
    // One cheap count on the checkpoint feeds every data-derived
    // parameter (cells, nprobe, shortlist) and pins builtN, the
    // rebuild-trigger baseline.
    val n = corpus2.count()
    val effCells = if (cells > 0) cells else derivedCells(n)
    val effNprobe = if (nprobe > 0) math.min(nprobe, effCells) else derivedNprobe(effCells)
    val centroids = coarseCentroids(corpus2, effCells, idCol, vecCol)
    val pq = pqShape.map { case (m, k, shortlist) =>
      PqPart(m, k, if (shortlist > 0) shortlist else math.max(32L, n / 100L).toInt,
        pqCodebooks(corpus2, m, k, idCol, vecCol), corpus2)
    }
    // Checkpointed so the assignment (and the n × m × k encode) runs
    // once per BUILD, not once per search.
    val indexed = cellEntries(corpus2, idCol, vecCol, centroids, pq).localCheckpoint()
    IvfIndexModel(effCells, effNprobe, centroids, indexed, idCol, vecCol, pq,
      builtN = n)
  }

  /** Each probe's `nprobe` nearest cells: one row per distinct
    * (probe_id, cell), carrying `probes`' `carry` columns. `probes`
    * holds probe_id and the probe vector `pv`. Cells rank by dot with
    * the unit centroids — the same argmax-invariance as training.
    * Distinct at PROBE fan-out size, not candidate size: duplicate
    * (probe, cell) rows (possible only on exact sim ties — the ranked
    * slice maps tied entries to one array_position) are the SOLE
    * source of duplicate (probe, neighbor) candidates, because every
    * indexed vector lives in exactly one cell. A candidate-level
    * dropDuplicates re-shuffled |probes|×nprobe×occupancy rows to kill
    * duplicates this one kills in |probes|×nprobe. */
  private def probeCells(model: IvfIndexModel, probes: DataFrame,
                         carry: String*): DataFrame = {
    val keep = ("probe_id" +: carry).map(col)
    probes
      .withColumn("__sims",
        graft.functions.MatVecDotsExpr(col("pv"), unitRows(model.centroids)))
      .withColumn("__ranked", reverse(array_sort(col("__sims"))))
      .select(keep :+ col("__sims") :+
        explode(slice(col("__ranked"), 1, model.nprobe)).as("__target"): _*)
      .withColumn("cell", (array_position(col("__sims"), col("__target")) - 1).cast("int"))
      .select(keep :+ col("cell"): _*)
      .dropDuplicates("probe_id", "cell")
  }

  /** Query a built IVF index: (probe_id, neighbor_id, cos, rank), the
    * `topK` cosine neighbors of each probe among its `nprobe` cells.
    *
    * `broadcastProbes` (default true) fits the interactive shape — a
    * bounded probe batch replicated to every executor, the index
    * scanned once with no shuffle of the big side. For BULK probe
    * batches (batch ANN over a whole dataset — millions of probes ×
    * (pv + ADC table) rows outgrow any broadcast), pass false: each
    * visited cell is scanned inside one vectorized kernel per (probe,
    * cell) row over the chunked cell matrix ([[cellScan]]) — volume ∝
    * index + probes×nprobe, still never all-pairs. Results are
    * identical either way (spec-pinned), with two bulk-path caveats:
    * the id column must be BIGINT (the kernels' self-exclusion
    * compares longs — analysis fails loudly otherwise), and zero-norm
    * degenerate vectors (or malformed-code NULL-ADC entries) are
    * omitted rather than ranked NULLS-LAST, so only probes with fewer
    * than topK finite candidates can see fewer (never different)
    * rows. */
  def ivfSearch(model: IvfIndexModel, probes: DataFrame, topK: Int,
                broadcastProbes: Boolean = true): DataFrame =
    model.pq match {
      case None => flatSearch(model, probes, topK, broadcastProbes)
      case Some(pq) => pqSearch(model, pq, probes, topK, broadcastProbes)
    }

  /** IVF-flat scoring: cosine inside the cell scan. */
  private def flatSearch(model: IvfIndexModel, probes: DataFrame, topK: Int,
                         broadcastProbes: Boolean): DataFrame = {
    // pv rides the (probe_id, cell) fan INTO the cell join (≤ nprobe
    // copies per probe — bounded). In the BROADCAST branch that means
    // the cosine is computed inside the join stage itself and
    // candidate-cardinality rows shuffle NARROW (probe_id,
    // neighbor_id, cos) to the top-k window; in the bulk branch the
    // same fan feeds the per-cell kernel, which needs pv once per
    // (probe, cell) row anyway. Unlike PQ there is no cheap ADC prune
    // between the cell join and the exact scores, so a join-back of pv
    // at candidate cardinality would re-shuffle |probes| × nprobe ×
    // occupancy rows carrying the dim-wide cv — the exact wide-payload
    // shape the bulk split exists to avoid (PQ's pv join-back is at
    // SHORTLIST cardinality, which is what makes it cheap).
    val fan = probeCells(model, probes.select(col(model.idCol).as("probe_id"),
      col(model.vecCol).as("pv")), "pv")
    if (broadcastProbes)
      rankTopK(dropNanCos(model.indexed.join(broadcast(fan), Seq("cell"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          cosine(col("pv"), col("cv")).as("cos"))), topK)
    else
      // Bulk (r17 rework): the r15 row-per-candidate cell join was
      // measured CPU-bound once the index outgrew the broadcast
      // threshold — 90×/18k probes: 228M candidate rows × ~2.8 µs of
      // join/row machinery ≈ 630 CPU-s per batch, with the stacked
      // EnsureRequirements exchange AQE-coalesced by input bytes,
      // blind to the in-stage expansion, and sort-spilling 0.6–2.4 GB
      // (BENCH_NOTES r17). Now the ~cells-row per-cell MATRIX joins
      // the probe fan and the whole candidate scan runs inside one
      // kernel per (probe, cell) row — global top-k is preserved
      // because each vector lives in exactly one cell — so only
      // probes × nprobe × topK rows reach the merge window.
      rankTopK(cellCosTopK(fan, model.chunkedMatrix, Seq("cell"), topK), topK)
  }

  /** IVF-PQ scoring: an ADC shortlist inside the cells, then an exact
    * re-rank against the normalized corpus. */
  private def pqSearch(model: IvfIndexModel, pq: PqPart, probes: DataFrame,
                       topK: Int, broadcastProbes: Boolean): DataFrame = {
    import pq.{books, m}
    val sub = books.head.head.length
    // The ADC table — m arrays of k dots of the probe subvector
    // against each codebook (native MatVecDots per subspace).
    val dtable = array((0 until m).map(j =>
      graft.functions.MatVecDotsExpr(slice(col("pv"), j * sub + 1, sub), books(j))): _*)
    // Per-probe frame: unit vector + ADC table, ONE row per probe.
    // Everything probe-derived that is wide (pv: dim doubles; dtable:
    // m×k doubles) lives here and joins back by probe_id only where
    // needed — candidate-cardinality rows stay NARROW. The first cut
    // of the bulk path carried pv+dtable on every (probe, cell) row
    // into the candidate join, so the dedup and shortlist-window
    // shuffles moved ~1 KB × |candidates| (measured at 30×/6k probes:
    // 230 s; this shape: see BENCH_NOTES r15).
    val probeMeta = normalized(probes.select(col(model.idCol), col(model.vecCol)),
        model.idCol, model.vecCol)
      .select(col(model.idCol).as("probe_id"), col(model.vecCol).as("pv"))
      .withColumn("dtable", dtable.as("dtable"))
    // ADC score = Σ_j dtable[j][code_j] ≈ cos(probe, candidate): m
    // element lookups per candidate, no vector math. Native codegen
    // kernel — the composed aggregate∘zip_with form runs interpreted
    // per element and dominated the bulk path at candidate
    // cardinality (spec-pinned identical in NativeVectorSpec).
    val adc = graft.functions.AdcSumExpr(col("codes"), col("dtable"))
    // Interactive: broadcast BOTH probe frames (bounded batch) — the
    // index is scanned once with no shuffle, the ADC table rides the
    // (probe_id, cell) fan-out INTO the cell join (≤ nprobe copies
    // per probe), and the shortlist window prunes map-side.
    def probeSide(df: DataFrame): DataFrame =
      if (broadcastProbes) broadcast(df) else df
    val fan = probeCells(model, probeMeta)
      .join(probeMeta.select(col("probe_id"), col("dtable")), Seq("probe_id"))
    val short = if (broadcastProbes) {
      rankTopK(model.indexed
        .join(broadcast(fan), Seq("cell"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"), adc.as("adc")),
        pq.shortlist, "adc")
        .select(col("probe_id"), col("neighbor_id"))
    } else {
      // Bulk (r17 rework, same disease and cure as flat): the
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
      // (adc desc, neighbor_id asc).
      cellScan(fan, model.chunkedMatrix, Seq("cell"))
        .select(col("probe_id"),
          graft.functions.AdcTopSExpr(
            col("probe_id"), col("dtable"), col("mat"),
            pq.shortlist).as("arr"))
        .groupBy(col("probe_id"))
        .agg(collect_list(col("arr")).as("arrs"))
        .select(col("probe_id"),
          explode(graft.functions.MergeTopSExpr(
            col("arrs"), pq.shortlist)).as("neighbor_id"))
    }

    // Exact re-rank touches full vectors ONLY for the shortlist.
    rankTopK(short
      .join(probeSide(probeMeta.select(col("probe_id"), col("pv"))),
        Seq("probe_id"))
      .join(pq.corpus2.select(
          col(model.idCol).as("neighbor_id"), col(model.vecCol).as("cv")),
        Seq("neighbor_id"))
      .withColumn("cos", cosine(col("pv"), col("cv")))
      .transform(dropNanCos)
      .select(col("probe_id"), col("neighbor_id"), col("cos")), topK)
  }

  /** Add vectors to a built IVF index WITHOUT retraining — the Faiss
    * `IndexIVF.add` operation, completing the build-once lifecycle for
    * growing corpora: new vectors (L2-normalized first for PQ) are
    * assigned to cells under the model's FROZEN centroids (and
    * PQ-encoded under its frozen codebooks) and unioned into the cell
    * index — and, for PQ, into the re-rank corpus — so the extend
    * costs one assign (+encode) pass over the delta, never the corpus.
    * Ids already present in the index are anti-joined away — extend
    * is idempotent and re-extends cannot duplicate candidate rows (the
    * same contract as `Dedup.minhashExtend`).
    *
    * Frozen-geometry caveat (inherent to no-retrain adds, same as
    * Faiss): cells/nprobe (and shortlist) stay sized for the
    * BUILD-time corpus, and a delta whose distribution drifts from the
    * training corpus lands in centroids (and codebooks) that never saw
    * it. Recall on the extended region degrades gracefully (cells
    * only get fuller), but a corpus that doubles or drifts deserves a
    * fresh build — which is cheap relative to any search batch and
    * restores derived geometry. */
  def ivfExtend(model: IvfIndexModel, delta: DataFrame): IvfIndexModel = {
    import model.{idCol, vecCol}
    val rows = delta.select(col(idCol), col(vecCol))
    // Checkpoint the (delta-sized) admitted frame so the unions, the
    // matrix merge and the bookkeeping count touch materialized blocks.
    val admitted = (if (model.pq.isEmpty) rows else normalized(rows, idCol, vecCol))
      .join(model.indexed.select(col("neighbor_id").as(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    val fresh = cellEntries(admitted, idCol, vecCol, model.centroids, model.pq)
    val pq = model.pq.map(p => p.copy(corpus2 = Checkpoints.union(p.corpus2, admitted)))
    val extended = ExtendableIndex.extendedAfter("ivfExtend", model,
      admitted.count(), "frozen cells/nprobe/centroids (and PQ shortlist and " +
        "codebooks) are now sized for a minority of the corpus; schedule a " +
        "fresh build")
    // Matrix merge — delta-bound shuffle, O(index) local read; see
    // [[IvfIndexModel.chunkedMatrix]] / [[mergeCellMatrix]] for its
    // contract.
    model.copy(indexed = Checkpoints.union(model.indexed, fresh), pq = pq,
      extendedN = extended, seedMatrix = model.matrix.extended(fresh))
  }

  /** Persist a built IVF index to `path` in the shared at-rest layout
    * ([[ExtendableIndex.save]]): the cell index as parquet (`index`)
    * plus, for PQ, the normalized re-rank corpus (`corpus`); the
    * driver-held geometry, centroids and codebooks as one nested-array
    * meta row. With [[ivfLoad]] this is the deployment shape: build on
    * the full corpus once, serve probe batches from any later session
    * without retraining or re-encoding. The at-rest PQ index is
    * ~m bytes/vector — measured (BENCH_NOTES r17, 60k vectors):
    * 9.6–9.8 bytes/vector at ANY dim vs the flat index's dim×4 (27.6×
    * smaller at dim 64, 210× at dim 512) — the cut that makes a
    * 100 TB corpus's scan-hot index tier fit fast storage, with the
    * exact re-rank corpus (touched only at shortlist cardinality)
    * relegated to cold storage. */
  def ivfSave(model: IvfIndexModel, path: String): Unit =
    ExtendableIndex.save(path, model,
      ("index" -> model.indexed) +: model.pq.map("corpus" -> _.corpus2).toSeq,
      Seq(lit(model.cells).as("cells"), lit(model.nprobe).as("nprobe"),
        typedLit(model.centroids.map(_.toSeq).toSeq).as("centroids"),
        lit(model.idCol).as("id_col"), lit(model.vecCol).as("vec_col")) ++
        model.pq.toSeq.flatMap(p => Seq(lit(p.m).as("m"), lit(p.k).as("k"),
          lit(p.shortlist).as("shortlist"),
          typedLit(p.books.map(_.map(_.toSeq).toSeq).toSeq).as("books"))): _*)

  /** Load an [[ivfSave]]d index; [[ivfSearch]] over it matches
    * searches on the original build exactly (spec-pinned). A meta row
    * with `books` is an IVF-PQ index. Older saves carry a `dim` column
    * (ignored) and name the PQ centroids `coarse`. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndexModel = {
    val saved = ExtendableIndex.load(spark, path)
    def d2(v: Any): Array[Array[Double]] =
      v.asInstanceOf[scala.collection.Seq[scala.collection.Seq[Double]]]
        .map(_.toArray).toArray
    IvfIndexModel(
      cells = saved[Int]("cells"),
      nprobe = saved[Int]("nprobe"),
      centroids = d2(saved[Any](if (saved.has("centroids")) "centroids" else "coarse")),
      indexed = saved.frame("index"),
      idCol = saved[String]("id_col"),
      vecCol = saved[String]("vec_col"),
      pq = if (!saved.has("books")) None
        else Some(PqPart(saved[Int]("m"), saved[Int]("k"), saved[Int]("shortlist"),
          saved[scala.collection.Seq[Any]]("books").map(d2).toArray,
          saved.frame("corpus"))),
      builtN = saved.builtN, extendedN = saved.extendedN)
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
    * split as [[ivfSearch]]: true replicates the bounded probe fan;
    * false groups the bucketed corpus per (table, bucket) with
    * [[chunkedCellMatrix]] and scans each group inside the vectorized
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
    if (broadcastProbes)
      rankTopK(dropNanCos(c.join(broadcast(probeBuckets), Seq("table", "bucket"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .dropDuplicates("probe_id", "neighbor_id")
        .withColumn("cos", cosine(col("pv"), col("cv")))), k)
    else {
      // Bulk probes: the corpus grouped per (table, bucket, chunk)
      // feeds the same per-group top-k kernel as IVF's bulk path, with
      // the same skew-derived sub-group chunking — identical docs
      // share every bucket, so a duplicate-heavy corpus would
      // otherwise ride one atomic hot-bucket row to one task (the
      // measured IVF failure, BENCH_NOTES r17). Unlike IVF, a
      // candidate can collide with a probe in SEVERAL tables (and
      // chunks), so the kernel output dedups on (probe, neighbor)
      // BEFORE the merge window — at probes × tables × (planes+1) ×
      // chunks × k cardinality, not candidate cardinality. Per-group
      // top-k + global dedup is EXACT: a globally top-k distinct
      // candidate has < k distinct candidates beating it, so in every
      // group that contains it at most k−1 locals rank above it and it
      // survives that group's top-k. The bucketed corpus is
      // materialized once for the matrix's two reads (modulus and
      // group-by); the broadcast branch keeps its single-consumer lazy
      // plan.
      val keys = Seq("table", "bucket")
      rankTopK(cellCosTopK(probeBuckets,
        chunkedCellMatrix(c.localCheckpoint(), keys, "cv"), keys, k)
        .dropDuplicates("probe_id", "neighbor_id"), k)
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
    * the coarse centroids. `dim` is the seed vectors'. */
  private def pqCodebooks(corpus2: DataFrame, m: Int, k: Int,
                          idCol: String, vecCol: String): Array[Array[Array[Double]]] = {
    val seedRows = hashSmallest(corpus2, k, idCol)
    val dim = seedRows.head.length
    val sub = dim / m
    require(m * sub == dim, s"dim $dim must be divisible by m $m")
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
}
