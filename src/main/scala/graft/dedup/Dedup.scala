package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions
import graft.run.Checkpoints
import graft.sim.ExtendableIndex

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash + banded LSH near-dup, and SimHash.
  *
  * Design-for-100-TB notes:
  *  - Nothing here is all-pairs. Candidate generation is always an
  *    equi-join on a bucket key (LSH band hash / SimHash chunk), so the
  *    shuffle is proportional to corpus size, and exact verification
  *    runs only inside buckets.
  *  - Band count r×b trades recall vs bucket width independently of
  *    corpus size; skewed buckets (boilerplate shingles) are the one
  *    hazard — AQE skew-join handles moderate skew. The exact SSJoin
  *    has no posting cap: on a skewed corpus its Σ|posting|² grows
  *    without bound, so the operator-choice rule at
  *    [[ngramJaccardNearDup]] sends such corpora to MinHash-LSH.
  *  - Signatures are computed with codegen'd higher-order functions in
  *    one scan; the only wide stages are the bucket join and the
  *    pair-verify join on doc id.
  */
object Dedup {

  /** Exact dedup on normalized content hash: one row per distinct hash
    * with the keeper (min id) and the duplicate count. A map-side
    * partial-aggregate groupBy — the cheapest possible full-corpus op.
    *
    * NULL-text docs are NOT grouped with each other: each comes back
    * as its own singleton keeper (content_hash NULL, dup_cnt 1) — the
    * same pairless-singleton contract every near-dup/spanning variant
    * in this family pins for NULL text, so a pipeline composing
    * exact + near-dup treats NULL docs identically per stage. (A
    * groupBy alone would fold all NULL hashes into ONE key and
    * silently drop all but one NULL doc.) The id-valued secondary key
    * keeps this a single map-side-combining shuffle and — bonus —
    * means NULL-text volume can never skew one reducer. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(TextFunctions.normalize(col(textCol)))
    df.groupBy(h.as("content_hash"),
        when(h.isNull, col(idCol)).as("__nullk"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_cnt"))
      .drop("__nullk")
  }

  /** MinHash signature from an *already materialized* column of base
    * shingle hashes (longs): member i of the hash family is
    * `xxhash64(i, baseHash)` — fixed-width long hashing, so the string
    * shingle is hashed exactly once however many family members there
    * are.
    *
    * Perf shapes that matter (each cost a 60-300× slowdown when wrong):
    *  - hash the shingle *strings* once (`baseHashes`), derive the H
    *    family members from the longs — H× fewer string hashes;
    *  - callers pass plain column references, never the tokenize→shingle
    *    expression tree: higher-order functions run interpreted, and
    *    re-expanding the tree per family member multiplies row cost by H
    *    (observed: 1k docs from ~1 s to minutes). */
  def baseShingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => xxhash64(s))

  /** One-pass native kernel (codegen'd Catalyst expression) — replaces
    * H interpreted `array_min(transform(...))` lambdas with one
    * primitive loop. Bit-identical to [[minhashSignatureComposed]]
    * (asserted in `NativeMinHashSpec`). */
  def minhashSignature(baseHashCol: Column, numHashes: Int): Column =
    graft.functions.MinHashSignatureExpr(baseHashCol, numHashes)

  /** The composed higher-order-function form the kernel replaces — kept
    * as the reference implementation for the equality spec. */
  def minhashSignatureComposed(baseHashCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(baseHashCol, h => xxhash64(lit(seed), h)))
    }: _*)

  /** (id, hs) projection — the scan side of every shingle-set operator
    * here: normalize (codegen'd regex) → one-pass native
    * distinct-shingle hashes, bit-identical to the staged HOF chain
    * (NativeShingleSpec) without the per-element interpreted lambda
    * dispatch. */
  private def shingleProjection(df: DataFrame, idCol: String,
                                textCol: String, shingleK: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.ShingleHashesExpr(
        TextFunctions.normalize(col(textCol)), shingleK).as("hs"))

  /** [[shingleProjection]] materialized once: the SSJoin reads each
    * side from its dfreq pass, its prefix rebuild and the verify. */
  private def persistedShingles(df: DataFrame, idCol: String,
                                textCol: String, shingleK: Int): DataFrame =
    graft.view.Patterns.ensurePersisted(
      shingleProjection(df, idCol, textCol, shingleK),
      graft.view.Patterns.TextInflation)

  /** (id, hs, sig) projection — the shared scan-side kernel chain of
    * [[minhashNearDup]] and [[minhashBuild]]: [[shingleProjection]] →
    * one-pass native signature (NativeMinHashSpec). */
  private def sigProjection(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int, shingleK: Int): DataFrame =
    shingleProjection(df, idCol, textCol, shingleK)
      .withColumn("sig", minhashSignature(col("hs"), numHashes))

  /** Exact-Jaccard verify of candidate `pairs` (id columns `a`, `b`)
    * against each side's (id, hs) sets — the one verify of every
    * shingle-set operator here. The sets join in by id (never shuffled
    * through the candidate stage) and move 8-byte longs, not strings;
    * Jaccard over the 64-bit hash sets equals Jaccard over the shingle
    * sets up to hash collisions. The sets are distinct
    * ([[shingleProjection]]), so the union size is na + nb − o and one
    * array op per pair suffices. A NULL set (NULL text) gives a NULL
    * jaccard, which the threshold drops. Returns (a, b, jaccard). */
  private def verifyJaccard(pairs: DataFrame, a: String, b: String,
                            setsA: DataFrame, setsB: DataFrame,
                            minJaccard: Double): DataFrame =
    pairs
      .join(setsA.select(col("id").as(a), col("hs").as("sh_a")), Seq(a))
      .join(setsB.select(col("id").as(b), col("hs").as("sh_b")), Seq(b))
      .withColumn("o", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("o").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("o")))
      .filter(col("jaccard") >= minJaccard)
      .select(col(a), col(b), col("jaccard"))

  /** Exact-group ("spanning") collapse shared by the four
    * `*NearDupSpanning` variants. `rows` is (id, payload…) with the
    * caller's degenerate rows already filtered out; rows with equal
    * `fingerprint` form one group whose min id is its representative.
    * One shuffle keys the rows by fingerprint, materialized once by
    * `materialize` — the consumers are the star emission and the
    * representative side. Returns `engine` over the representatives
    * (the `rows` columns) ∪ one (rep, member) star pair per
    * non-representative member, carrying the caller's constant `star`
    * column (the engine's value for an identical pair). */
  private def collapse(rows: DataFrame, fingerprint: Column, star: Column,
                       materialize: DataFrame => DataFrame =
                         graft.view.Patterns.ensurePersisted(
                           _, graft.view.Patterns.TextInflation))(
      engine: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = materialize(rows.withColumn("rep",
      min(col("id")).over(Window.partitionBy(fingerprint))))
    val stars = keyed.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"), star)
    engine(keyed.filter(col("id") === col("rep")).drop("rep"))
      .unionByName(stars)
  }

  /** (id, band, band_hash) LSH bucket rows from a [[sigProjection]]
    * frame. Bucket rows carry ONLY the id: a pair colliding in all
    * `bands` buckets (exact duplicates do) would otherwise drag its
    * shingle arrays through the shuffle `bands` times before the
    * distinct. */
  private def bandBuckets(withSig: DataFrame, numHashes: Int,
                          bands: Int): DataFrame = {
    val r = numHashes / bands
    withSig.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, r)))
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Banded-LSH candidate pairs with exact Jaccard verification.
    *
    * signature(H) split into `bands` rows of r = H/bands values; docs
    * sharing any (band index, band hash) bucket become candidates;
    * candidates are verified with exact Jaccard over distinct shingle
    * sets and filtered at `minJaccard`. Returns (id_a, id_b, jaccard)
    * with id_a < id_b.
    *
    * SCALE CAVEAT — duplicate groups: the every-pair contract is
    * quadratic in a duplicate group's size (d byte-identical docs ⇒
    * d²/2 output pairs — measured in BENCH_NOTES r17), and no
    * partitioning fix shrinks a join's product. Clustering consumers
    * should use [[minhashNearDupSpanning]], whose output is
    * transitive-closure-equal and linear in group size.
    */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
                     minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Three consumers (banding + both verify sides) — materialize the
    // signature frame once instead of re-running the shingle+signature
    // scan per consumer.
    val withSig = graft.view.Patterns.ensurePersisted(
      sigProjection(df, idCol, textCol, numHashes, shingleK),
      graft.view.Patterns.TextInflation)
    nearDupFromSig(withSig, numHashes, bands, minJaccard)
  }

  /** Banding + exact-verify pipeline over a MATERIALIZED (id, hs, sig)
    * frame — the shared core of [[minhashNearDup]] and
    * [[minhashNearDupSpanning]]. */
  private def nearDupFromSig(withSig: DataFrame, numHashes: Int,
                             bands: Int, minJaccard: Double): DataFrame = {
    val banded = bandBuckets(withSig, numHashes, bands)

    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyJaccard(candidates, "id_a", "id_b", withSig, withSig, minJaccard)
  }

  /** Duplicate-group-collapsed ("spanning") variant of
    * [[minhashNearDup]] for duplicate-heavy corpora — boilerplate,
    * empty, and template documents, the common case in web-scale
    * training data. The full variant's contract (every qualifying
    * pair) is inherently quadratic in a duplicate group's size: d
    * byte-identical docs share every band bucket, so candidates,
    * verify rows, and the OUTPUT itself are d²/2 — at d = 1M that is
    * 5·10¹¹ pairs, and no partitioning trick saves the job because
    * the answer itself is the explosion (AQE can split the bucket
    * join, not shrink its product). Dedup pipelines never need every
    * literal pair: clustering consumers
    * ([[graft.graph.ConnectedComponents]] → keep-best, B7–B9) only
    * need a pair set with the same TRANSITIVE CLOSURE.
    *
    * This variant groups docs by their sorted distinct shingle-hash
    * set (array equality — exact, no hash-collision false grouping),
    * emits min-id STAR pairs inside each group at jaccard = 1.0
    * (identical sets — provably 1.0, no verification join needed),
    * and runs banding + verification over ONE representative per
    * group. Candidate volume drops from Σᵢ dᵢ² to Σᵢ dᵢ + the pairs
    * among distinct contents.
    *
    * Closure equality with [[minhashNearDup]] (spec-pinned and gated
    * via component-label comparison): an in-group pair connects
    * through its stars; a cross-group pair (x, y) has J(x, y) =
    * J(rep_x, rep_y) because members carry identical sets, so the rep
    * pair survives the same banding-and-verify and x–rep_x–rep_y–y
    * connects; conversely every emitted pair is a true ≥-threshold
    * pair. Literal pair consumers (audit trails) should use the full
    * variant — on corpora where it is feasible, which is exactly the
    * corpora without giant duplicate groups. */
  def minhashNearDupSpanning(df: DataFrame, idCol: String, textCol: String,
                             numHashes: Int = 64, bands: Int = 16,
                             shingleK: Int = 3,
                             minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // The exact content fingerprint is the sorted shingle-hash set.
    //
    // NULL-text docs have a NULL shingle set (ShingleHashesExpr
    // null-propagates). The full variant emits NO pairs for them —
    // its verify jaccard is NULL and fails the >= threshold filter —
    // but the WINDOW groups all NULLs into one partition, so without
    // the guard below every null-text doc would collapse into ONE
    // star component at J=1.0, a closure the full variant does not
    // have. `size(NULL) > 0` is NULL → filtered: they pass through as
    // pairless singletons. (Short docs are NOT a degenerate case
    // here: NativeShingle falls back to one whole-text shingle below
    // k tokens, so distinct short docs carry distinct singleton sets,
    // and empty-normalized docs share {hash("")} — a group the full
    // variant also pairs at exactly 1/1 = 1.0. Verified empirically;
    // see the short-doc/null fixture in DedupSpec.)
    collapse(
      sigProjection(df, idCol, textCol, numHashes, shingleK)
        .filter(size(col("hs")) > 0),
      array_sort(col("hs")), lit(1.0).as("jaccard"))(
      nearDupFromSig(_, numHashes, bands, minJaccard))
  }

  /** A built MinHash-LSH dedup index: the banded bucket table (one row
    * per doc per band — the candidate-generation side) plus the
    * shingle-hash sets (the exact-verify side), with the geometry that
    * produced them. The incremental-dedup sibling of
    * [[graft.sim.Similarity.IvfIndexModel]]: build ONCE over the
    * corpus, then [[minhashDeltaPairs]] dedups each arriving batch
    * against it WITHOUT rescanning corpus text — at 100 TB the corpus
    * shingle scan is the dominant cost of [[minhashNearDup]], and a
    * real ingestion pipeline amortizes it across every delta the way
    * it amortizes ANN index training across probe batches.
    *
    * At-rest size: `buckets` is bands × one (long, int, long) row per
    * doc — trivial beside the corpus; `sets` is ~8 bytes per distinct
    * shingle occurrence, the irreducible verify state.
    *
    * MinHash geometry (numHashes/bands/shingleK) is data-independent,
    * so unlike the ANN indexes recall does NOT drift past the rebuild
    * point: `needsRebuild` here is about index hygiene (band-bucket
    * posting lengths and the sets table growing from deltas that were
    * never quality-gated as a corpus). */
  final case class MinHashIndexModel(
      numHashes: Int, bands: Int, shingleK: Int,
      buckets: DataFrame, sets: DataFrame, idCol: String,
      builtN: Long = -1L, extendedN: Long = 0L)
      extends ExtendableIndex

  /** Build a [[MinHashIndexModel]] over `df`. Both frames are
    * localCheckpoint'd (same rationale as `ivfBuild`): repeated
    * [[minhashDeltaPairs]] / [[minhashExtend]] calls must touch
    * neither the upstream plan nor the shingle/signature expressions
    * again. */
  def minhashBuild(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleK: Int = 3): MinHashIndexModel = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // dropDuplicates(id): build shares extend's id-uniqueness contract
    // ([[minhashExtend]] anti-joins, so a duplicate id can only enter
    // at build) — a doubled id would double its bucket/set rows and
    // fan out every later delta verify join on that id.
    val withSig = sigProjection(df, idCol, textCol, numHashes, shingleK)
      .dropDuplicates("id")
      .localCheckpoint()
    val buckets = bandBuckets(withSig, numHashes, bands).localCheckpoint()
    val sets = withSig.select(col("id"), col("hs")).localCheckpoint()
    MinHashIndexModel(numHashes, bands, shingleK,
      buckets = buckets, sets = sets, idCol = idCol, builtN = withSig.count())
  }

  /** Near-dup pairs between a `delta` batch and an indexed corpus:
    * (delta_id, corpus_id, jaccard), jaccard ≥ `minJaccard`, computed
    * WITHOUT touching corpus text. The delta is signed with the
    * model's own geometry, its band buckets equi-join the index's
    * bucket table (candidates only where a band collides — never
    * delta × corpus), and survivors verify exactly against the stored
    * shingle sets. Rows where delta_id = corpus_id are dropped, so
    * re-feeding an already-indexed doc doesn't report a self-match.
    *
    * Within-delta duplicates are deliberately out of scope — run
    * [[minhashNearDup]] on the (bounded) batch for that — and a found
    * delta doc is typically either dropped or [[minhashExtend]]ed in. */
  def minhashDeltaPairs(model: MinHashIndexModel, delta: DataFrame,
                        idCol: String, textCol: String,
                        minJaccard: Double = 0.8): DataFrame = {
    // Banding + verify read the delta projection twice; persist the
    // (small) batch side, not the index.
    val dSig = graft.view.Patterns.ensurePersisted(
      sigProjection(delta, idCol, textCol, model.numHashes, model.shingleK),
      graft.view.Patterns.TextInflation)
    val dBand = bandBuckets(dSig, model.numHashes, model.bands)
      .select(col("band"), col("band_hash"), col("id").as("delta_id"))
    val candidates = dBand
      .join(model.buckets
        .select(col("band"), col("band_hash"), col("id").as("corpus_id")),
        Seq("band", "band_hash"))
      .filter(col("delta_id") =!= col("corpus_id"))
      .select(col("delta_id"), col("corpus_id"))
      .distinct()
    verifyJaccard(candidates, "delta_id", "corpus_id", dSig, model.sets,
      minJaccard)
  }

  /** Fold a batch into the index: the delta is signed with the model's
    * geometry and unioned into both tables — the post-dedup "admit the
    * novel docs" step of an ingestion loop. The unions are
    * localCheckpoint'd so chained extends don't deepen the plan.
    *
    * Ids already present in the index are dropped (anti-join against
    * `sets` before the union): admitting a duplicate id would double
    * its bucket/set rows, fan out every later [[minhashDeltaPairs]]
    * verify join on that id, and compound across re-extends — so
    * re-feeding an already-indexed doc is a no-op, the idempotence an
    * at-least-once ingestion loop needs. */
  def minhashExtend(model: MinHashIndexModel, delta: DataFrame,
                    idCol: String, textCol: String): MinHashIndexModel = {
    val dSig = sigProjection(delta, idCol, textCol,
      model.numHashes, model.shingleK)
      .join(model.sets.select(col("id")), Seq("id"), "left_anti")
      .localCheckpoint()
    val buckets = Checkpoints.union(model.buckets,
      bandBuckets(dSig, model.numHashes, model.bands))
    val sets = Checkpoints.union(model.sets, dSig.select(col("id"), col("hs")))
    val extended = ExtendableIndex.extendedAfter("minhashExtend", model,
      dSig.count(), "schedule a fresh minhashBuild")
    model.copy(buckets = buckets, sets = sets, extendedN = extended)
  }

  /** Persist a built index: both tables as parquet plus the geometry
    * in the meta row of the shared at-rest layout
    * ([[graft.sim.ExtendableIndex.save]]). */
  def minhashSave(model: MinHashIndexModel, path: String): Unit =
    ExtendableIndex.save(path, model,
      Seq("buckets" -> model.buckets, "sets" -> model.sets),
      lit(model.numHashes).as("num_hashes"), lit(model.bands).as("bands"),
      lit(model.shingleK).as("shingle_k"), lit(model.idCol).as("id_col"))

  /** Load a [[minhashSave]]d index; [[minhashDeltaPairs]] over it
    * matches the original build exactly (spec-pinned). */
  def minhashLoad(spark: org.apache.spark.sql.SparkSession,
                  path: String): MinHashIndexModel = {
    val saved = ExtendableIndex.load(spark, path)
    MinHashIndexModel(saved[Int]("num_hashes"), saved[Int]("bands"),
      saved[Int]("shingle_k"), buckets = saved.frame("buckets"),
      sets = saved.frame("sets"), idCol = saved[String]("id_col"),
      builtN = saved.builtN, extendedN = saved.extendedN)
  }

  /** Exact n-gram Jaccard near-dup via the prefix-filter set-similarity
    * join (the public SSJoin / parallel set-similarity-join family,
    * Vernica-Carey-Li SIGMOD'10): unlike the probabilistic MinHash and
    * SimHash entries this has **100% recall at the threshold** — any
    * pair with J(a,b) ≥ t must share at least one token in the
    * rare-first prefix of length |d| − ceil(t·|d|) + 1 under a
    * consistent global token order.
    *
    * Scale shape: candidates come from an inverted-index equi-join on
    * prefix tokens only — never all-pairs — and ordering each doc's
    * tokens rarest-first (by global document frequency) keeps the
    * postings per index token short: ubiquitous boilerplate shingles
    * sort last and rarely enter a prefix. The doc-frequency pass, the
    * prefix rebuild, and the candidate join all shuffle longs; shingle
    * arrays join in only for the exact verify of surviving pairs.
    *
    * == Exact-vs-LSH operator choice (measured, BENCH_NOTES.md r8) ==
    * On the ScaleUp corpus family (vocabulary growing with corpus),
    * exact SSJoin costs 2.6× banded-LSH [[minhashNearDup]] at 5k docs
    * and the gap WIDENS with scale (5.2× at 50k, 6.6× at 75k; exact's
    * local scaling exponent rises 1.0 → 1.6 while LSH stays ≤ 1.0) —
    * there is no size at which exact becomes cheaper. Rule: reach for
    * this operator only when 100%-recall-at-threshold is a hard
    * requirement and the Σ|posting|² budget fits; default to
    * MinHash-LSH for corpus-scale dedup, and treat its banding
    * (b, r) as the recall/cost dial. (The measured 90× host-OOM,
    * BENCH_NOTES.md r10, was that Σ|posting|² blow-up from hot
    * boilerplate shingles landing in many prefixes.) */
  def ngramJaccardNearDup(df: DataFrame, idCol: String, textCol: String,
                          shingleK: Int = 3, minJaccard: Double = 0.8): DataFrame =
    ssJoin(persistedShingles(df, idCol, textCol, shingleK), None, minJaccard)

  /** SSJoin core shared by [[ngramJaccardNearDup]], its spanning
    * variant and [[crossJaccardJoin]]: the prefix-filter /
    * positional-filter / exact-verify machinery over materialized
    * (id, hs) frames. `r = None` is the self-join of `l` (pairs
    * id_a < id_b); `Some(r)` joins every `l` doc against every `r` doc.
    * Returns (id_a, id_b, jaccard), id_a from `l`. */
  private def ssJoin(l: DataFrame, r: Option[DataFrame],
                     minJaccard: Double): DataFrame = {
    val t = minJaccard
    val sides = l +: r.toSeq
    // Global rare-first order: (document frequency asc, token asc) over
    // every side — any consistent total order preserves the
    // prefix-filter guarantee; rare-first keeps the postings short.
    def toks(s: DataFrame) = s.select(col("id"), explode(col("hs")).as("tok"))
    val dfreq = sides.map(toks(_).select(col("tok"))).reduce(_ unionByName _)
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // ceil(t·n) in doubles can overshoot the exact integer grid
    // (t=0.84, n=50: 42.000000000000004 → ceil 43), shortening the
    // prefix by one token and silently losing an at-threshold pair —
    // the same double-rounding hazard as the α filter below, so the
    // same epsilon-below-the-grid discipline applies. Positions ride
    // along for the positional filter.
    def prefix(s: DataFrame) = toks(s).join(dfreq, Seq("tok"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"), size(col("ord")).as("n"),
        posexplode(slice(col("ord"), lit(1),
          greatest(lit(1),
            size(col("ord")) -
              ceil(lit(t) * size(col("ord")) - lit(1e-9)).cast("int") + 1))))
      .select(col("id"), col("n"), col("pos").as("p"),
        col("col").getField("tok").as("tok"))
    val pt = sides.map(prefix)
    // Candidate pruning, in increasing strength (all standard prunes of
    // the set-similarity-join literature):
    //  - length filter: J ≥ t forces t·max(na,nb) ≤ min(na,nb);
    //  - positional filter: the collisions of a pair appear in the SAME
    //    relative order in both docs (one consistent global order), so
    //    the earliest collision (i, j) bounds total overlap by
    //    min(na−i, nb−j) (0-based) — keep a pair only when the max of
    //    that bound over its collision rows reaches the required
    //    overlap α = ceil(t/(1+t)·(na+nb)). This kills the long tail
    //    of pairs sharing only a few late (common) prefix tokens
    //    without touching recall.
    val a = pt.head.select(col("tok"), col("id").as("id_a"),
      col("n").as("na"), col("p").as("pa"))
    val b = pt.last.select(col("tok"), col("id").as("id_b"),
      col("n").as("nb"), col("p").as("pb"))
    val lengthOk = greatest(col("na"), col("nb")) * t <= least(col("na"), col("nb"))
    val candidates = a.join(b, Seq("tok"))
      .filter(if (r.isEmpty) col("id_a") < col("id_b") && lengthOk else lengthOk)
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(max(least(col("na") - col("pa"), col("nb") - col("pb"))).as("ub"))
      // α = ceil(t/(1+t)·(na+nb)) — but computing that ceil in doubles
      // can land one ABOVE the exact rational (t=0.84, na+nb=138:
      // exact 63, double 63.000000000000007 → ceil 64) and silently
      // drop an at-threshold pair. Integer ub ≥ ceil(x) ⇔ ub ≥ x, so
      // compare against the raw expression with an epsilon margin
      // below the integer grid: recall is preserved and any
      // slightly-under pair admitted is rejected by the exact verify.
      .filter(col("ub") >=
        lit(t) * (col("na") + col("nb")) / lit(1 + t) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
    verifyJaccard(candidates, "id_a", "id_b", l, r.getOrElse(l), minJaccard)
  }

  /** Duplicate-group-collapsed variant of [[ngramJaccardNearDup]] —
    * the exact-SSJoin sibling of [[minhashNearDupSpanning]], and the
    * variant that matters MOST at scale for this engine: duplicate
    * groups hurt the SSJoin twice. The output is d²/2 per group (the
    * shared quadratic-pair contract), AND d identical docs put d
    * entries into EVERY posting of their shingles, inflating the
    * candidate join's Σ|posting|² — the measured 90× host-OOM driver
    * (BENCH_NOTES r10) — before a single pair is emitted. Collapsing
    * exact groups first shrinks both at once.
    *
    * Grouping key: the sorted shingle-hash array (multiset equality —
    * exact, no hash-collision false grouping). Set-equal docs have
    * J = n/(2n−n) = 1.0 exactly, so stars are emitted at 1.0 without a
    * verify; cross-group pairs have J(x, y) = J(rep_x, rep_y) and the
    * rep pair is found by the full engine (100%-recall at threshold),
    * so the transitive closure equals the full variant's. NULL-text docs
    * (NULL shingle set) pass through as pairless singletons, matching
    * the full variant's no-pair behavior (same guard as the MinHash
    * sibling). The representatives derive from the materialized
    * collapse, so the engine reads them without a second persist. */
  def ngramJaccardNearDupSpanning(df: DataFrame, idCol: String,
                                  textCol: String, shingleK: Int = 3,
                                  minJaccard: Double = 0.8): DataFrame =
    collapse(
      shingleProjection(df, idCol, textCol, shingleK)
        .filter(size(col("hs")) > 0),
      array_sort(col("hs")), lit(1.0).as("jaccard"))(
      ssJoin(_, None, minJaccard))

  /** Cross-table fuzzy join (record linkage): every (left, right) pair
    * whose shingle Jaccard clears `minJaccard` — the two-table sibling
    * of [[ngramJaccardNearDup]], for linking a new batch against a
    * reference corpus, near-duplicate lookup across sources, or entity
    * resolution on names. Returns (id_l, id_r, jaccard).
    *
    * Same prefix-filter machinery, cross-table: both sides order their
    * shingle hashes under the SAME total order — global rare-first by
    * document frequency over the UNION of both corpora (any consistent
    * order preserves the guarantee; rare-first keeps the inverted-index
    * postings short, which matters doubly here because a hot token in
    * both sides' prefixes multiplies candidates). Each side keeps a
    * prefix of `n - ceil(t·n) + 1` tokens; candidates are the
    * prefix-token equi-join refined by the length filter and the
    * positional filter (earliest collision (i, j) bounds the overlap by
    * min(na−i, nb−j), as in the self-join version), then verified
    * exactly. If J(a,b) ≥ t the prefixes must share a token under any
    * shared total order, so recall is 100% — never all-pairs, shuffle
    * ∝ sum of prefix lengths. */
  def crossJaccardJoin(left: DataFrame, right: DataFrame,
                       leftId: String, leftText: String,
                       rightId: String, rightText: String,
                       shingleK: Int = 3, minJaccard: Double = 0.8): DataFrame =
    ssJoin(persistedShingles(left, leftId, leftText, shingleK),
      Some(persistedShingles(right, rightId, rightText, shingleK)), minJaccard)
      .select(col("id_a").as("id_l"), col("id_b").as("id_r"), col("jaccard"))

  /** Embedding-cosine near-dup: semantic duplicates via random-hyperplane
    * buckets (candidates = same sign-bit bucket, an equi-join) verified
    * with exact cosine. The embedding-space sibling of MinHash: same
    * bucket-join shape, so the same 100 TB story. Recall is tunable with
    * `planes` (fewer planes → bigger buckets → higher recall, more
    * verify work).
    *
    * Every probe also covers each single-bit flip of one side's
    * bucket — the same trick as
    * [[graft.sim.Similarity.lshTopK]] — so a near-boundary pair whose
    * vectors straddle exactly one hyperplane still becomes a candidate.
    * Cost: the probe side fans out ×(planes+1), but rows carry only
    * (bucket, id), so the widened shuffle moves longs, and the exact
    * vectors join in afterwards by id.
    *
    * `planes` ≤ 0 (the default) derives the plane count from the
    * corpus size: `max(12, ceil(log2(n)))`, i.e. ~1 row per bucket in
    * expectation. A FIXED plane count saturates as the corpus grows —
    * candidate pairs scale as n²/2^planes, and the 90× corpus measured
    * 151 s under pinned 12 planes (34 rows/bucket × 13 probe flips)
    * where the derived 18 planes keep the candidate volume ∝ n.
    * Identical duplicates co-bucket under ANY plane count (equal sign
    * bits), so planted-truth recall is invariant; near-boundary recall
    * trades against the multi-probe flips exactly as the scaladoc
    * above describes. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, minCosine: Double = 0.95,
                       planes: Int = -1, seed: Long = 42L): DataFrame = {
    import graft.sim.Similarity
    val proj0 = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // The derived-plane path counts the projection AND scans it again
    // for bucketing (plus both verify-side joins) — localCheckpoint it
    // so the count doesn't recompute the whole upstream tree once and
    // the bucketing scan again (r13 advice; mirrors ivfBuild's corpus2
    // handling). An explicit plane count keeps the plan fully lazy.
    val proj = if (planes > 0) proj0 else proj0.localCheckpoint()
    val nPlanes =
      if (planes > 0) planes
      else {
        val n = proj.count()
        math.min(48,
          math.max(12, math.ceil(math.log(math.max(n, 2L).toDouble) /
            math.log(2.0)).toInt))
      }
    val bucketed = proj.select(col("id"), col("v"),
      Similarity.lshBucket(col("v"), nPlanes, dim, seed).as("bucket"))
    // Probe side: base bucket plus each 1-bit flip; ids only, so the
    // fan-out shuffles 16 bytes per probe row.
    val flips = array(lit(0L) +: (0 until nPlanes).map(i => lit(1L << i)): _*)
    val a = bucketed
      .select(col("id").as("id_a"),
        explode(flips).as("flip"), col("bucket"))
      .select(col("id_a"), col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val vecOf = bucketed.select(col("id"), col("v"))
    candidates
      .join(vecOf.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecOf.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", Similarity.cosine(col("v_a"), col("v_b")))
      // !isnan is load-bearing: Spark's nan-safe ordering makes
      // NaN >= t TRUE, so without it one NaN-component vector (a
      // routine upstream-embedding failure) would pair with EVERY
      // co-bucketed vector at cos = NaN and a clustering consumer
      // would merge — then keeper-drop — unrelated documents. NULL
      // (zero-norm) cosines fail >= on their own.
      .filter(!isnan(col("cos")) && col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Duplicate-group-collapsed variant of [[embeddingNearDup]] — the
    * embedding-space sibling of [[minhashNearDupSpanning]], for the
    * same reason: d byte-identical vectors (default embeddings for
    * empty/boilerplate docs are routine) co-bucket under EVERY plane
    * count, so candidates, verify rows, and the pair output are d²/2
    * and no plane tuning helps. Groups rows by exact vector equality,
    * emits min-id star pairs at cos = 1.0 (identical vectors — by
    * definition; note the full variant computes cos(v, v) in floating
    * point, so star values are the exact 1.0 the semantic claim
    * means, not the kernel's last-ulp), and runs the bucket join over
    * one representative per group — the derived plane count then
    * sizes itself to the COLLAPSED corpus, as it should. Transitive
    * closure equals the full variant's by the same argument as the
    * MinHash sibling (spec-pinned); clustering consumers
    * (`q_semantic_dedup`'s components → keepers) get identical
    * results. */
  def embeddingNearDupSpanning(df: DataFrame, idCol: String, vecCol: String,
                               dim: Int, minCosine: Double = 0.95,
                               planes: Int = -1, seed: Long = 42L)
      : DataFrame = {
    // The fingerprint is the raw vector. Degenerate vectors are
    // excluded up front, matching the full variant's no-pair behavior
    // (the MinHash sibling's empty-set rule, in embedding space): a
    // zero-norm vector's cosine is NULL
    // (kernel contract), a NaN-component vector's cosine is NaN
    // (dropped by the full variant's explicit !isnan verify), and a
    // NULL vector never survives the bucket equi-join — the full
    // variant emits no pairs for any of them, so grouping them here
    // (byte-identical zero/NULL/NaN vectors compare equal — Spark
    // GROUPS NaN as equal to NaN) would mint cos=1.0 star pairs the
    // full closure does not have. The sum-of-squares below is NULL
    // for a NULL vector and 0 for zero-norm (both fail `> 0`), but
    // NaN needs its own test (Spark's nan-safe ordering makes
    // NaN > 0 TRUE) and so does Infinity: an Inf-component (or
    // overflowing) vector has sq = Inf, and the full variant computes
    // cos = Inf/Inf = NaN for it and drops the pair — grouping
    // byte-identical Inf vectors here would mint cos=1.0 stars the
    // full closure does not have. Only finite positive norms group.
    //
    // Checkpointed, not persisted: AQE cannot coalesce a cached plan's
    // output, so a persisted window keeps every initial shuffle
    // partition, and each stage of the derived-plane engine below then
    // runs one task per partition (measured on q_semantic_dedup: 2.5×
    // the checkpointed form's wall). The checkpoint runs under AQE.
    val sq = aggregate(col("v"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    collapse(
      df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .filter(!isnan(sq) && sq > 0 && sq < lit(Double.PositiveInfinity)),
      col("v"), lit(1.0).as("cos"), _.localCheckpoint())(
      embeddingNearDup(_, "id", "v", dim, minCosine, planes, seed))
  }

  /** One-call SemDeDup-shaped semantic dedup: spanning embedding
    * near-dup → connected components → quality-keyed keeper per
    * cluster. Returns one row per CLUSTER: (idCol = the keeper,
    * "component" = the cluster's min id, scoreCol = the keeper's
    * score); singleton docs are their own keeper. The composition a
    * 100 TB dedup run should copy, packaged: the spanning collapse
    * keeps duplicate groups linear, the components see a
    * closure-equal graph (provably the same clusters as the full
    * pair contract), and the keeper window depends only on clusters.
    * Gated end-to-end against a DuckDB recursive-closure oracle as
    * `q_semantic_dedup`. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    scores: DataFrame, scoreCol: String, dim: Int,
                    minCosine: Double = 0.95, planes: Int = -1,
                    seed: Long = 42L): DataFrame =
    keepers(df, idCol, scores, scoreCol,
      embeddingNearDupSpanning(df, idCol, vecCol, dim, minCosine, planes, seed))

  /** One-call TEXT near-dedup with quality keepers — the MinHash-LSH
    * sibling of [[semanticDedup]], and the composition a 100 TB text
    * dedup run should copy: spanning near-dup
    * ([[minhashNearDupSpanning]], so duplicate groups cost Σd not Σd²
    * pairs) → [[graft.graph.ConnectedComponents]] → highest-score
    * keeper per cluster. Returns one row per CLUSTER (idCol = the
    * keeper, "component" = the cluster's min id, scoreCol = the
    * keeper's score); singleton docs — including NULL-text docs, the
    * pairless singletons of the spanning contract — keep themselves.
    * `scores` may have gaps: unscored docs rank lowest within their
    * cluster and an all-unscored cluster still keeps its min id with
    * a NULL score ([[graft.graph.ConnectedComponents.keepersBy]]'s
    * left-join contract), so partial score coverage never drops docs.
    *
    * Threshold guidance: keep `minJaccard` well above the banding
    * curve's waterline for the geometry (default 16 bands × 4 rows:
    * per-pair recall 1−(1−J⁴)¹⁶ is ≥ 1−4·10⁻⁸ at J ≥ 0.9 but only
    * ~0.65 at J = 0.5), or widen the banding — LSH recall, not the
    * closure algebra, is what bounds this composition's completeness.
    * Gated end-to-end against a DuckDB recursive-closure oracle over
    * exact shingle-set Jaccard as `q_text_dedup`. */
  def textDedup(df: DataFrame, idCol: String, textCol: String,
                scores: DataFrame, scoreCol: String,
                numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
                minJaccard: Double = 0.9): DataFrame =
    keepers(df, idCol, scores, scoreCol,
      minhashNearDupSpanning(df, idCol, textCol, numHashes, bands, shingleK, minJaccard))

  /** The composition [[semanticDedup]] and [[textDedup]] share: the
    * (id_a, id_b) pairs → connected components over every `df` id →
    * the highest-`scoreCol` keeper per component. */
  private def keepers(df: DataFrame, idCol: String, scores: DataFrame,
                      scoreCol: String, pairs: DataFrame): DataFrame = {
    val comps = graft.graph.ConnectedComponents.run(
      df.select(col(idCol).as("id")), pairs, srcCol = "id_a", dstCol = "id_b")
    graft.graph.ConnectedComponents.keepersBy(
      comps, scores.select(col(idCol).as("id"), col(scoreCol).as("score")))
      .select(col("id").as(idCol), col("component"),
        col("score").as(scoreCol))
  }

  /** Engine-neutral 64-bit token hash: the md5 digest's first 16 hex
    * chars as a long (bits 63..32 = hex chars 1-8, bits 31..0 = chars
    * 9-16). ~20× slower than the default xxhash64 but EXACTLY
    * reproducible in any engine with md5 — which is what lets the
    * `q_neardup_simhash_spanning` gate hold the SimHash family to an
    * independent DuckDB ground truth (the oracle recomputes the
    * signatures, the hamming pair graph, and its recursive closure
    * from scratch). Production callers keep the xxhash64 default. */
  def md5Hash64(c: Column): Column = {
    val hex = md5(c)
    shiftleft(conv(substring(hex, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(hex, 9, 8), 16, 10).cast("long"))
  }

  /** 64-bit SimHash: explode tokens, hash each, and for every bit sum
    * +1/-1 across the doc; bit j of the result is 1 iff the sum is
    * positive. Single explode + one groupBy shuffle, 64 cheap aggs.
    * `tokenHash` swaps the token-hash family (default xxhash64; the
    * oracle gate passes [[md5Hash64]]) — every member of the SimHash
    * family is a pure function of the hashed token stream, so the
    * choice only re-seeds the signature space. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    // Spread a narrow input before the tokenize+explode+bit-sum chain:
    // the explode multiplies each doc into its token stream and the 64
    // per-bit partial aggregations run map-side IN the scan stage, so a
    // few-split input leaves that heavy stage on a few cores. Shuffling
    // the raw (id, text) rows first is cheap relative to the work it
    // parallelizes — measured 0.81× at 30× (B/A, BENCH_NOTES r19; the
    // same spread on the minhash/ngram shingle paths and the pipeline
    // melts was a wash-to-regression and is NOT applied there: their
    // expansion happens after an existing shuffle or the exchange
    // itself outweighs the kernel). No-op once the scan is wide
    // (spreadWidth derives from leaf bytes vs core count).
    val tok = graft.view.Patterns.spreadNarrow(df,
        graft.view.Patterns.TextInflation)
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
    val bitSums = (0 until 64).map { j =>
      sum(when((shiftright(col("h"), j).bitwiseAND(1)) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val bits = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    bits.select(col("id"), hash.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` (< 16): candidates via
    * the pigeonhole chunk trick — split the 64-bit hash into 4 16-bit
    * chunks; any pair within hamming ≤ 3 shares at least one exact
    * chunk, so the candidate join is an equi-join on (chunk idx, chunk
    * value), never a cross product. Same duplicate-group scale caveat
    * as [[minhashNearDup]]: identical docs share the whole hash, so
    * the every-pair output is d²/2 per group — clustering consumers on
    * duplicate-heavy corpora should use [[simhashNearDupSpanning]],
    * which collapses exact groups first. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3,
                     tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    // The signature aggregation feeds both sides of the chunk join —
    // materialize it once (same policy as minhashNearDup).
    val sh = graft.view.Patterns.ensurePersisted(
      simhash(df, idCol, textCol, tokenHash),
      graft.view.Patterns.TextInflation)
    val chunked = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map { j =>
        shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL)
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("simhash").as("h_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Duplicate-group-collapsed variant of [[simhashNearDup]] — the
    * SimHash sibling of [[minhashNearDupSpanning]], same contract:
    * stars replace each exact-duplicate group's d²/2 in-group pairs,
    * the full engine runs over one representative per group, and the
    * transitive closure equals the full variant's.
    *
    * Grouping key: the NORMALIZED TEXT itself (exact equality, no
    * hash-collision false grouping). SimHash is a pure function of
    * the normalized token sequence — unlike the set-keyed MinHash/
    * ngram siblings it weights token MULTIPLICITY, so two docs with
    * equal shingle SETS can hash apart and only full text equality
    * guarantees hamming(x, ·) ≡ hamming(rep_x, ·). In-group pairs get
    * hamming = 0 (identical text ⇒ identical hash — the full variant
    * emits exactly these rows); cross-group pairs survive through
    * their reps by the pigeonhole guarantee unchanged. NULL-text docs
    * pass through as pairless singletons (the full variant's token
    * explode drops them before the signature aggregation, so it emits
    * no pairs for them; the rep window would otherwise collapse all
    * NULLs into one hamming-0 star component). Empty-normalized docs
    * (punct-only text) are NOT degenerate here: they tokenize to [""]
    * and carry the signature of the empty token, so both variants
    * pair them at hamming 0 — one group like any other. */
  def simhashNearDupSpanning(df: DataFrame, idCol: String, textCol: String,
                             maxHamming: Int = 3,
                             tokenHash: Column => Column = xxhash64(_))
      : DataFrame =
    // normalize() is idempotent, so the rep side feeds the normalized
    // text back through the full engine without a second regex pass
    // changing anything.
    collapse(
      df.select(col(idCol).as("id"),
        TextFunctions.normalize(col(textCol)).as("ntext"))
        .filter(col("ntext").isNotNull),
      col("ntext"), lit(0).as("hamming"))(
      simhashNearDup(_, "id", "ntext", maxHamming, tokenHash))

  /** Cross-document repeated-span detection — substring-level dedup in
    * the sense of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): find every maximal token span whose
    * k-gram windows ALL occur in at least `minDocs` distinct documents,
    * i.e. the boilerplate/quoted/copied runs that document-level dedup
    * (which only drops whole near-identical docs) cannot see. Returns
    * one row per merged span: (id, span_start, span_end, n_grams) in
    * 0-based token coordinates over the normalized tokenization,
    * `n_grams` = how many duplicated k-gram windows the span merged. A
    * caller clips [span_start, span_end] from the token stream (or
    * drops docs whose spans cover too much — the usual policy knobs).
    *
    * Scale shape — no suffix array, no all-pairs, three bounded wide
    * stages over an inverted index, each a standard shuffle:
    *  1. per-doc window (partitioned by id) turns the token posexplode
    *     into positioned k-gram hashes — docs are bounded, so the
    *     window state is;
    *  2. the duplicated-gram set is a (hash, id)-distinct then
    *     count-per-hash aggregation — map-side partial aggs, volume ∝
    *     corpus tokens, 8-byte keys;
    *  3. hits come back via a (hash) semi-join (AQE broadcasts the dup
    *     set when small) and merge into spans under the SAME
    *     (id, pos) window shape as stage 1.
    * k trades sensitivity against index selectivity exactly as in the
    * paper (they use 50 BPE tokens; the default 8 whitespace tokens is
    * proportionally similar at this corpus' doc length). Gram identity
    * is the xxhash64 of the space-joined window — grouping by hash
    * equals grouping by the gram string up to 2⁻⁶⁴ collisions.
    *
    * Spans merge when overlapping OR exactly adjacent (next window
    * starts ≤ k past the previous), so covered-token runs stay
    * contiguous and maximal. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Positioned k-grams from the one-pass native kernel (ordered,
    // non-distinct; empty for docs shorter than k tokens):
    // posexplode's pos IS the 0-based window start, so gram extraction
    // is pure scan-side codegen — no per-doc window-lead shuffle (a
    // lag/lead formulation shuffles every token row by id first;
    // measured 24 s vs 15 s at the 30× corpus) and no interpreted-HOF
    // lambda (the re-eval trap documented on
    // TextFunctions.shinglesFromTokens).
    // The gram rows feed BOTH the dup-set aggregation (shuffled by
    // (h, id)) and the hit semi-join (shuffled by h) — different
    // partitionings, so no exchange reuse; materialize the projection
    // once so the normalize-regex + gram-hash scan doesn't run twice
    // (profiled: the two recomputing scans were 21 s of the 29 s
    // 30×-corpus wall).
    val grams = graft.view.Patterns.ensurePersisted(
      df.select(col(idCol).as("id"),
        posexplode(graft.functions.GramHashesExpr(
          TextFunctions.normalize(col(textCol)), k)))
        .withColumnsRenamed(Map("col" -> "h")),
      graft.view.Patterns.TextInflation)
    // Duplicated-gram set: grams present in ≥ minDocs DISTINCT docs.
    val dup = grams.select(col("h"), col("id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val hits = grams.join(dup, Seq("h"), "left_semi")
      .select(col("id"), col("pos"))
    // Gaps-and-islands merge: a new span starts when this window's
    // start is more than k past the previous start (i.e. the covered
    // token runs neither overlap nor touch).
    val wOrd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val brk = when(lag(col("pos"), 1).over(wOrd).isNull
      .or(col("pos") > lag(col("pos"), 1).over(wOrd) + k), 1).otherwise(0)
    hits.select(col("id"), col("pos"), brk.as("brk"))
      .withColumn("island",
        sum(col("brk")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** The policy step [[repeatedSpans]] feeds: apply span coordinates to
    * the corpus — clip the covered tokens out of each doc's ORIGINAL
    * text and flag docs whose span coverage exceeds `maxCoverage` for
    * dropping (the two knobs of Lee et al. 2022-style substring dedup:
    * remove the boilerplate, drop the docs that are mostly boilerplate).
    *
    * Returns (id, n_tok, n_cov, coverage, kept, text_clipped) — one row
    * per input doc, `kept = coverage ≤ maxCoverage`. `text_clipped` is
    * the RAW text with each covered token's run (and its trailing
    * separator) removed — see [[graft.functions.NativeClip]] for the
    * run↔token alignment contract: spans index the normalized token
    * stream, and the raw scanner segments runs by each code point's
    * `lower()`-image pattern, so alignment holds for mixed-script text
    * too (not just ASCII). Docs with no spans pass through byte-identical (substring
    * dedup must not rewrite untouched documents), so casing and
    * punctuation survive everywhere except inside removed spans.
    *
    * Edges pinned by spec: an empty / whitespace-only / null-text doc
    * has n_tok = 0 and coverage DEFINED AS 0.0 (not 0/0), so kept is
    * true and the row survives a downstream `filter(kept)` instead of
    * silently dropping on a null boolean.
    *
    * Scale shape: the spans table is tiny next to the corpus (one row
    * per merged span), so the join is the cheap side; the clip itself
    * is one scan-side codegen pass over the raw text — no token
    * explode, no per-element interpreted HOF lambda. Each heavy
    * expression (the run-count kernel, the clip kernel) appears exactly
    * once in the projection; coverage/kept are attribute arithmetic on
    * top (the CollapseProject multi-reference trap documented on
    * TextFunctions.shinglesFromTokens). */
  def clipSpans(df: DataFrame, spans: DataFrame, idCol: String,
                textCol: String, maxCoverage: Double = 0.5): DataFrame = {
    val spansAgg = spans.groupBy(col("id"))
      .agg(collect_list(struct(
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))).as("sp"),
        sum(col("span_end") - col("span_start") + 1).cast("long").as("n_cov"))
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(spansAgg, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(graft.functions.TokenRunCountExpr(col("__text"))
          .cast("long"), lit(0L)).as("n_tok"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"),
        graft.functions.ClipRunsExpr(col("__text"), col("sp"))
          .as("text_clipped"))
      .withColumn("coverage",
        when(col("n_tok") === 0L, lit(0.0))
          .otherwise(col("n_cov").cast("double") / col("n_tok")))
      .withColumn("kept", col("coverage") <= lit(maxCoverage))
      .select(col("id"), col("n_tok"), col("n_cov"), col("coverage"),
        col("kept"), col("text_clipped"))
  }
}
