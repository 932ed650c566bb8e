package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{MediaSynth, Multimodal}
import graft.sim.Similarity

/** Similarity-search and multimodal operator families over the
  * `embeddings` / `documents` tables.
  */
object SimBattery {

  /** Oracle of every recall-floor gate: DuckDB states the five probes
    * with `recall_ok = true`, so a regression flips rows AND hash. */
  private val ProbeRecallOracle = Some(
    "SELECT vec_id AS probe_id, true AS recall_ok FROM embeddings " +
      "WHERE vec_id < 5 ORDER BY 1")

  /** One deterministic (probe_id, recall_ok) row per probe: `search`,
    * an approximate top-3 (probe_id, neighbor_id), must recover at
    * least `floor` of the probe's exact top-3 (the brute path, itself
    * rank-validated by `q_ann_cosine`). */
  private def probeRecall(emb: DataFrame, probes: DataFrame, floor: Int)(
      search: => DataFrame): DataFrame = {
    val found = search
    val brute = Similarity.bruteTopK(emb, probes, k = 3)
    val hits = found.join(brute.select(col("probe_id"), col("neighbor_id")),
      Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    probes.select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        (coalesce(col("n_hits"), lit(0L)) >= floor).as("recall_ok"))
      .orderBy(col("probe_id"))
  }

  /** One synthesized PNG per document. The 8-byte id rows are spread
    * before the synth+codec mapPartitions pass: a one-row-group scan
    * would otherwise run the whole encode+decode chain in ONE task
    * (r19; no-op once the scan is wide — see Patterns.spreadWidth). */
  private def pngMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    graft.view.Patterns.spreadNarrow(
        Td(s, dir, "documents").select(col("doc_id")),
        graft.view.Patterns.TextInflation).as[Long]
      .mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, MediaSynth.synthPng(id), "image/png")))
  }

  /** The embeddings ∪ a planted exact copy (id + 1e6) of the first 50. */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = Td(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    emb.unionByName(
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
  }

  /** A recall-floor gate: [[probeRecall]] of `search` over the first
    * five embeddings as probes. */
  private def recallGate(name: String, floor: Int = 1)(
      search: (DataFrame, DataFrame) => DataFrame): Q =
    Q(name, ProbeRecallOracle, (s, dir) => {
      val emb = Td(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      probeRecall(emb, probes, floor)(search(emb, probes))
    })

  /** Exact cosine top-3 for a 5-probe set — the brute-force baseline.
    * Output is rank-only (probe, rank → neighbor): cosine *values*
    * float-diverge between engines, but with 64-dim random embeddings
    * the top-3 *ordering* is stable, so ranks compare exactly. The
    * DuckDB oracle recomputes cosine in SQL from the same lists. */
  val annBrute = Q(
    "q_ann_cosine",
    Some(
      "SELECT probe_id, neighbor_id, rnk AS \"rank\" FROM (" +
        "SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, row_number() OVER (" +
        "PARTITION BY p.vec_id ORDER BY list_cosine_similarity(p.embedding, e.embedding) DESC, e.vec_id" +
        ") AS rnk FROM embeddings p, embeddings e " +
        "WHERE p.vec_id < 5 AND e.vec_id <> p.vec_id) " +
        "WHERE rnk <= 3 ORDER BY 1, 3"),
    (s, dir) => {
      val emb = Td(s, dir, "embeddings")
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .select(col("probe_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("probe_id"), col("rank"))
    }
  )

  /** LSH-bucketed ANN under a recall-floor oracle: the approximate
    * result itself is not SQL-expressible, but its *quality contract*
    * is — every probe must recover ≥2 of its exact top-3 (the exact
    * truth is the brute path, itself rank-validated by `q_ann_cosine`).
    * The gate emits one deterministic boolean row per probe; DuckDB
    * states the expected probe list with `recall_ok = true`, so an LSH
    * regression (lost bucket, broken multi-probe, bad hyperplane seed)
    * flips rows AND hash. Multi-table LSH measures 3/3 on every probe
    * at sf0.01; the floor of 2 leaves slack for data drift, not bugs. */
  val annLsh = recallGate("q_ann_lsh", floor = 2) { (emb, probes) =>
    Similarity.lshTopK(emb, probes, k = 3)
  }

  /** Multimodal metadata path: text bytes as the opaque binary payload,
    * frame-sampled into fixed windows — byte length and frame count are
    * oracle-checked through the real binary expressions; the stubbed
    * decode is covered by MultimodalSpec. */
  val multimodalMeta = Q(
    "q_multimodal_meta",
    Some(
      "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, " +
        "CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS INT) AS n_frames " +
        "FROM documents ORDER BY 1"),
    (s, dir) => {
      val media = Td(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.frameSample(media, "media", frameLen = 256, stride = 256)
        .select(col("doc_id"), octet_length(col("media")).as("n_bytes"),
          col("n_frames"))
        .orderBy(col("doc_id"))
    }
  )

  /** Embedding-cosine near-dup over the corpus ∪ a planted duplicate
    * slice — under a FULL exact oracle: at 0.99 the ground truth is
    * computable all-pairs in DuckDB (`list_cosine_similarity`), and on
    * this corpus it is exactly the planted identical pairs (max natural
    * cosine ≈ 0.51), which always co-bucket (identical sign bits) and
    * always pass the exact-cosine verify — so found == truth, checking
    * precision AND recall, while the Spark side stays the bucket
    * equi-join that scales. */
  val neardupEmbedding = Q(
    "q_neardup_embedding",
    Some(
      "WITH av AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM av a JOIN av b " +
        "ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99 ORDER BY 1, 2"),
    (s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      graft.dedup.Dedup.embeddingNearDup(planted, "vec_id", "embedding",
        dim = 64, minCosine = 0.99)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }
  )

  /** IVF-bucketed ANN under a recall-floor oracle (same contract shape
    * as `q_ann_lsh`): every probe recovers ≥1 of its exact top-3 under
    * the corpus-derived geometry (cells = max(16, ⌈√n/2⌉), nprobe =
    * max(8, ⌈√cells⌉) — sf0.01's 500 rows derive the calibrated
    * 16 cells / nprobe 8, so the gate is bit-identical to the fixed
    * geometry it replaced).
    * Uniform-random embeddings are IVF's worst case — no cluster
    * structure, so recall ≈ the corpus fraction scanned (exhaustive
    * nprobe=cells equals brute exactly, validating the mechanism). On
    * real clustered embeddings the same operator concentrates recall
    * into few cells; the floor here gates the machinery, not the
    * data. */
  val annIvf = recallGate("q_ann_ivf") { (emb, probes) =>
    Similarity.ivfSearch(Similarity.ivfBuild(emb), probes, topK = 3)
  }

  /** Int8 scalar quantization + L2 normalization under an exact oracle:
    * quantization is defined as floor(x·scale + 0.5) (engine-neutral,
    * unlike round()'s tie-breaking), so the per-vector quantized sums /
    * extremes and the norm-validity flag compare exactly. Integer
    * outputs only — the float path is covered by the cosine oracles. */
  val embedQuantize = Q(
    "q_embed_quantize",
    Some(
      "SELECT vec_id, " +
        "CAST(list_sum(list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * (127.0 / " +
        "list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT))) AS BIGINT) AS q_sum, " +
        "CAST(list_min(list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * (127.0 / " +
        "list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT))) AS BIGINT) AS q_min, " +
        "127 AS q_absmax, len(embedding) AS n_dims " +
        "FROM embeddings ORDER BY 1"),
    (s, dir) => {
      val q = graft.sim.Embeddings.withInt8Quantized(
        Td(s, dir, "embeddings"), "embedding")
      val unit = graft.sim.Embeddings.withL2Normalized(q, "embedding")
      unit.select(col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("q")).cast("long").as("q_min"),
        // |q| peaks at exactly 127 on the max-magnitude component, and
        // the unit vector must exist (no zero vectors in the corpus)
        when(col("unit").isNotNull,
          array_max(transform(col("q"), x => abs(x))).cast("int")).as("q_absmax"),
        size(col("embedding")).cast("long").as("n_dims"))
        .orderBy(col("vec_id"))
    }
  )

  /** Real image decode under the gate: one deterministic two-tone PNG
    * per document (every pixel an integer function of doc_id,
    * [[graft.multimodal.MediaSynth.synthPng]]) is synthesized, encoded,
    * and decoded back through `javax.imageio` in one mapPartitions pass
    * — no shuffle, no driver collect. PNG is lossless, so DuckDB can
    * restate the decoded width/height and the left-half / right-half /
    * overall pixel means in closed form from doc_id alone; a decoder
    * that misread dimensions, channels, or pixel PLACEMENT (transpose,
    * mirror, channel swap) breaks a column. */
  val multimodalDecode = Q(
    "q_multimodal_decode",
    Some(
      "SELECT doc_id, 8 + 2 * (doc_id % 13) AS width, " +
        "8 + (doc_id * 7) % 25 AS height, " +
        "CAST((doc_id * 31) % 256 AS DOUBLE) AS mean_left, " +
        "CAST((doc_id * 57) % 256 AS DOUBLE) AS mean_right, " +
        "CAST((doc_id * 31) % 256 + (doc_id * 57) % 256 AS DOUBLE) / 2 AS mean_luma " +
        "FROM documents ORDER BY doc_id"),
    (s, dir) => {
      val media = pngMedia(s, dir)
      val half = (col("width") / 2).cast("int")
      def arrMean(a: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        aggregate(a, lit(0.0), (acc, x) => acc + x) / n
      Multimodal.decodeImages(media)
        .select(col("id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          arrMean(slice(col("col_luma"), lit(1), half), half).as("mean_left"),
          arrMean(slice(col("col_luma"), half + 1, half), half).as("mean_right"),
          arrMean(col("col_luma"), col("width")).as("mean_luma"))
        .orderBy(col("doc_id"))
    }
  )

  /** Decode + nearest-neighbor resize under the gate (the
    * normalize-resolution stage; [[graft.multimodal.Multimodal
    * .decodeResizeImages]] fuses it into the decode's mapPartitions
    * pass). Resizing the two-tone fixture to a FIXED ODD width makes
    * the NN column mapping exactly restatable: for every source width
    * w ∈ {8,10,…,32}, output columns 0-3 sample the left tone `a` and
    * columns 4-6 the right tone `b` (⌊x·w/7⌋ < w/2 ⟺ x ≤ 3), so the
    * left-3 mean is `a`, the right-4 mean is (a+3b)/4, and the overall
    * mean is (4a+3b)/7 — all integer-exact or single-IEEE-division
    * forms both engines compute bit-identically. A resize that
    * mirrored, transposed, or rounded instead of flooring breaks a
    * column. */
  val multimodalResize = Q(
    "q_multimodal_resize",
    Some(
      "SELECT doc_id, 7 AS width, 5 AS height, " +
        "CAST((doc_id * 31) % 256 AS DOUBLE) AS mean_left, " +
        "CAST((doc_id * 31) % 256 + 3 * ((doc_id * 57) % 256) AS DOUBLE) / 4 AS mean_right, " +
        "CAST(4 * ((doc_id * 31) % 256) + 3 * ((doc_id * 57) % 256) AS DOUBLE) / 7 AS mean_all " +
        "FROM documents ORDER BY doc_id"),
    (s, dir) => {
      val media = pngMedia(s, dir)
      def arrMean(a: org.apache.spark.sql.Column, n: Int) =
        aggregate(a, lit(0.0), (acc, x) => acc + x) / n
      Multimodal.decodeResizeImages(media, outW = 7, outH = 5)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          arrMean(slice(col("col_luma"), 1, 3), 3).as("mean_left"),
          arrMean(slice(col("col_luma"), 4, 4), 4).as("mean_right"),
          arrMean(col("col_luma"), 7).as("mean_all"))
        .orderBy(col("doc_id"))
    }
  )

  /** Real audio decode under the gate: a deterministic square-wave WAV
    * per document ([[graft.multimodal.MediaSynth.synthWav]]) decoded
    * back through `javax.sound.sampled`; 16-bit PCM is exact, so header
    * fields and amplitude stats have closed forms in doc_id. */
  val audioDecode = Q(
    "q_audio_decode",
    Some(
      "SELECT doc_id, 8000 AS sample_rate, 1 AS channels, " +
        "160 + doc_id % 100 AS n_samples, " +
        "CAST(1000 + (doc_id % 1000) * 10 AS DOUBLE) AS mean_abs, " +
        "1000 + (doc_id % 1000) * 10 AS peak_abs " +
        "FROM documents ORDER BY doc_id"),
    (s, dir) => {
      import s.implicits._
      // Deliberately NOT spread (unlike the image gates), re-confirmed
      // r20: r19 measured the spread 3.5× WORSE and blamed the per-row
      // AudioSystem SPI registry walk; r20 hoisted BOTH global walks
      // (reader SPI in Multimodal.audioFileReaders, WAVE-writer SPI in
      // MediaSynth.wavWriter) and re-ran the ABAB — the spread STILL
      // measured ~2.4× worse (2.87-2.95 s vs 1.16-1.31 s serial, 4-arm
      // paired), so the convoy sits deeper inside javax.sound's decode
      // path and the gate stays serial. The hoists are kept: they
      // remove two per-row global registry walks at no cost. The
      // javax.imageio gates improve ~0.6× under the identical spread
      // (OPTIMIZATION_r19.md).
      val media = Td(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.MediaRow(id, MediaSynth.synthWav(id), "audio/wav")))
      Multimodal.decodeAudios(media)
        .select(col("id").as("doc_id"),
          col("sample_rate").cast("int").as("sample_rate"),
          col("channels").cast("int").as("channels"),
          col("n_samples").cast("long").as("n_samples"),
          col("mean_abs"),
          col("peak_abs").cast("long").as("peak_abs"))
        .orderBy(col("doc_id"))
    }
  )

  /** IVF-PQ ANN under the recall-floor contract of `q_ann_lsh` /
    * `q_ann_ivf`: coarse cells prune the corpus, PQ codes (m=8 bytes
    * per vector — a 32× index cut at dim 64) rank candidates by
    * asymmetric distance, and only the ADC shortlist touches full
    * vectors for the exact re-rank. Uniform-random embeddings are the
    * worst case for both stages (no cluster structure for the coarse
    * quantizer, codebooks reduce to a coarse grid); the floor of ≥1 of
    * the exact top-3 under the corpus-derived geometry (cells/nprobe/
    * shortlist all derive from n — sf0.01 derives 16/8/32, the
    * calibrated fixed values) gates the
    * machinery (measured: every probe recovers its full reachable
    * truth — the ADC shortlist does not lose cell-reachable true
    * neighbors). */
  val annPq = recallGate("q_ann_pq") { (emb, probes) =>
    Similarity.ivfSearch(Similarity.pqBuild(emb), probes, topK = 3)
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    * "SemDeDup": embedding-space duplicate CLUSTERS, keep one
    * representative per cluster) composed from the engine's own
    * operators: sign-bit-LSH embedding near-dup pairs → connected
    * components → quality-keyed keeper (`keepersBy`; the synthetic
    * quality `vec_id % 97` makes the planted high-id copy outscore the
    * original in most clusters, so the max-score rule — not min-id —
    * is what the hash pins). Full exact oracle, as in
    * `q_neardup_embedding`: at cosine ≥ 0.99 the ground-truth pair set
    * is the planted identical copies, so DuckDB restates pairs
    * all-pairs, components recursively, and the same window pick. */
  val semanticDedup = Q(
    "q_semantic_dedup",
    Some(
      "WITH RECURSIVE av AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50), " +
        "e AS (SELECT a.vec_id AS src, b.vec_id AS dst FROM av a JOIN av b " +
        "ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99), " +
        "und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
        "reach(a, b) AS (SELECT a, b FROM und " +
        "UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a), " +
        "comp AS (SELECT v.vec_id, " +
        "least(v.vec_id, coalesce(min(r.b), v.vec_id)) AS component " +
        "FROM av v LEFT JOIN reach r ON r.a = v.vec_id GROUP BY v.vec_id), " +
        "rk AS (SELECT vec_id, component, vec_id % 97 AS quality, " +
        "row_number() OVER (PARTITION BY component " +
        "ORDER BY vec_id % 97 DESC, vec_id) AS rn FROM comp) " +
        "SELECT vec_id, component, quality FROM rk WHERE rn = 1 ORDER BY 1"),
    (s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      // The packaged library composition (spanning near-dup → CC →
      // keepers): its pair graph is transitive-closure-equal to the
      // full contract's (spec-pinned), so clusters — and therefore
      // keepers — are identical, while duplicate groups cost Σd
      // instead of Σd² pairs.
      graft.dedup.Dedup.semanticDedup(planted, "vec_id", "embedding",
          scores = planted.select(col("vec_id"),
            (col("vec_id") % 97).as("quality")),
          scoreCol = "quality", dim = 64, minCosine = 0.99)
        .select(col("vec_id"), col("component"), col("quality"))
        .orderBy(col("vec_id"))
    }
  )

  /** The bulk-probe (non-broadcast) PQ search path under the same
    * recall-floor oracle as `q_ann_pq`: identical semantics, different
    * physical join (a plain (cell) equi-join — both sides shuffle by
    * cell), which is the shape batch ANN over a whole dataset needs
    * when millions of probes × (pv + ADC table) rows outgrow any
    * broadcast. Gating it separately keeps the strategy split honest:
    * a regression that silently forces the broadcast (or breaks the
    * shuffle path's dedup/rank determinism) fails here, not in a
    * user's 100 TB run. */
  val annPqBulk = recallGate("q_ann_pq_bulk") { (emb, probes) =>
    Similarity.ivfSearch(Similarity.pqBuild(emb), probes, topK = 3,
      broadcastProbes = false)
  }

  /** The bulk-probe (non-broadcast) IVF search path under the same
    * recall-floor oracle as `q_ann_ivf` — the full-precision twin of
    * `q_ann_pq_bulk`. The bulk split differs physically from PQ's
    * (no ADC prune exists, so the probe vector rides the (probe,
    * cell) fan and the cosine computes inside the cell join; the
    * rank ≤ topK window prunes map-side via WindowGroupLimit), so it
    * needs its own gate: a regression that re-widens the candidate
    * rows or forces the broadcast fails here. */
  val annIvfBulk = recallGate("q_ann_ivf_bulk") { (emb, probes) =>
    Similarity.ivfSearch(Similarity.ivfBuild(emb), probes, topK = 3,
      broadcastProbes = false)
  }

  /** No-retrain index growth under the oracle: build the IVF index on
    * HALF the corpus (even vec_ids), `ivfExtend` with the other half,
    * then search the extended index and hold the recall floor against
    * brute force over the FULL corpus. A broken extend (dropped ids,
    * mis-assigned cells, duplicated rows fanning out the top-k
    * window) fails the floor; the probes themselves are split across
    * both halves so the gate exercises built AND extended regions. */
  val annIvfExtend = recallGate("q_ann_ivf_extend") { (emb, probes) =>
    val model = Similarity.ivfBuild(emb.filter(col("vec_id") % 2 === 0))
    val extended = Similarity.ivfExtend(model,
      emb.filter(col("vec_id") % 2 === 1))
    Similarity.ivfSearch(extended, probes, topK = 3)
  }

  /** [[annIvfExtend]]'s IVF-PQ twin: half-corpus `pqBuild`, `ivfExtend`
    * with the other half (frozen codebooks encode the delta), recall
    * floor vs full-corpus brute force through the extended index —
    * both the compressed candidate side and the exact re-rank side
    * must have grown correctly for the floor to hold. */
  val annPqExtend = recallGate("q_ann_pq_extend") { (emb, probes) =>
    val model = Similarity.pqBuild(emb.filter(col("vec_id") % 2 === 0))
    val extended = Similarity.ivfExtend(model,
      emb.filter(col("vec_id") % 2 === 1))
    Similarity.ivfSearch(extended, probes, topK = 3)
  }

  /** PQ index persistence under the oracle: `pqBuild` → `ivfSave` →
    * `ivfLoad` in the same session, search the LOADED index, and hold
    * the `q_ann_pq` recall floor. The round trip exercises the full
    * at-rest shape (compressed index + normalized corpus + 1-row
    * nested-array quantizer parquet), so a serialization change that
    * loses precision or geometry fails an oracle, not just a spec. */
  val annPqPersist = Q(
    "q_pq_persist",
    ProbeRecallOracle,
    (s, dir) => {
      val emb = Td(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      // Scoped scratch: the result is eagerly checkpointed before the
      // saved index is deleted — nothing lazy may still read idxDir.
      Scratch.withDir("graft_pq_persist") { idxDir =>
        Similarity.ivfSave(Similarity.pqBuild(emb), idxDir)
        probeRecall(emb, probes, floor = 1)(
          Similarity.ivfSearch(Similarity.ivfLoad(s, idxDir), probes, topK = 3))
          .localCheckpoint()
      }
    }
  )

  /** IVF index persistence under the oracle, mirroring
    * [[annPqPersist]]: build → `ivfSave` → `ivfLoad`, search the
    * LOADED index via the bulk (non-broadcast) path, and hold the
    * `q_ann_ivf` recall floor — one gate covers both the at-rest
    * round trip and the strategy split for the uncompressed index. */
  val annIvfPersist = Q(
    "q_ivf_persist",
    ProbeRecallOracle,
    (s, dir) => {
      val emb = Td(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      Scratch.withDir("graft_ivf_persist") { idxDir =>
        Similarity.ivfSave(Similarity.ivfBuild(emb), idxDir)
        probeRecall(emb, probes, floor = 1)(
          Similarity.ivfSearch(Similarity.ivfLoad(s, idxDir), probes,
            topK = 3, broadcastProbes = false))
          .localCheckpoint()
      }
    }
  )

  val all: Seq[Q] = Seq(annBrute, annLsh, multimodalMeta, neardupEmbedding,
    annIvf, embedQuantize, multimodalDecode, multimodalResize, audioDecode,
    annPq, semanticDedup, annPqBulk, annIvfBulk, annPqPersist,
    annIvfPersist, annIvfExtend, annPqExtend)
}
