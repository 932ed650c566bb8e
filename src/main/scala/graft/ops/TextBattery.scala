package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextFunctions

/** LLM training-data operators over the `documents` table: exact dedup,
  * text analysis (token counting, quality stats, language-ID,
  * fingerprinting) with DuckDB oracles, and MinHash/SimHash near-dup as
  * structurally-checked entries (the LSH internals are not expressible
  * in portable SQL; their semantics are covered by DedupSpec fixtures).
  */
object TextBattery {

  // DuckDB needs the 'g' flag for replace-all; Spark replaces all by
  // default. Both must produce byte-identical normalized text.
  private[ops] def normSqlOf(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
  private val normSql = normSqlOf("text")

  /** DuckDB mirror of the Spark normalize→tokenize→3-shingle→distinct
    * chain (the same correspondence `q_doc_fingerprint` proves
    * element-for-element). */
  private[ops] def shinglesSqlOf(e: String): String = {
    val n = normSqlOf(e)
    val toks = s"string_split($n, ' ')"
    s"list_distinct(CASE WHEN len($toks) >= 3 " +
      s"THEN list_transform(range(1, len($toks) - 1), i -> array_to_string($toks[i:i+2], ' ')) " +
      s"ELSE [$n] END)"
  }

  /** Closed-form planted-pair ground truth: every (doc, mutated-doc)
    * pair whose exact shingle Jaccard clears `minJ`, counted by BOTH
    * engines independently — a 1:1 equi-join, cheap at any scale. */
  private def truthSql(minJ: Double): String =
    s"WITH sh AS (SELECT doc_id, ${shinglesSqlOf("text")} AS sh_o, " +
      s"${shinglesSqlOf("text[12:]")} AS sh_m FROM documents), " +
      "tr AS (SELECT doc_id FROM sh WHERE " +
      "CAST(len(list_intersect(sh_o, sh_m)) AS DOUBLE) / " +
      s"len(list_distinct(list_concat(sh_o, sh_m))) >= $minJ) " +
      "SELECT count(*) AS n_truth, true AS recall_ok FROM tr"

  /** Planted near-duplicates: the gates plant a mutated copy of each
    * document and check that the operator finds the pair. */
  private[ops] object Planted {
    /** The planted mutation of a text: from the 12th character on
      * (DuckDB: `text[12:]`). */
    def text(c: Column): Column = substring(c, 12, 1000000)

    /** The planted copies of `docs` (doc_id, text): ids shifted by
      * `offset`, texts mutated. */
    def copies(docs: DataFrame, offset: Long = 1000000L): DataFrame =
      docs.select((col("doc_id") + offset).as("doc_id"), text(col("text")).as("text"))

    /** `docs` ∪ their planted copies: planted near-duplicates so the LSH
      * entries return non-empty, verifiable candidate sets on any scale
      * factor. */
    def withCopies(docs: DataFrame): DataFrame = docs.unionByName(copies(docs))

    /** Spark side of the planted truth: the ids of `docs` whose planted
      * copy keeps an exact shingle Jaccard ≥ `minJ`. Shingle sets are
      * carried as 64-bit hashes (one-pass native kernel): set ops over
      * longs instead of ~200-char strings, and Jaccard over the hash
      * sets equals the oracle's string-set Jaccard up to 2^-64
      * collisions. */
    def truth(docs: DataFrame, minJ: Double): DataFrame = {
      def sh(c: Column) = graft.functions.ShingleHashesExpr(TextFunctions.normalize(c), 3)
      docs.select(col("doc_id"), sh(col("text")).as("sh_o"),
          sh(text(col("text"))).as("sh_m"))
        .filter(size(array_intersect(col("sh_o"), col("sh_m"))).cast("double") /
          size(array_union(col("sh_o"), col("sh_m"))) >= minJ)
        .select(col("doc_id"))
    }
  }
  import Planted.{withCopies, truth => plantedTruth}

  /** The (doc_id, text) columns of the testdata `documents` table. */
  private def documents(s: SparkSession, dir: String): DataFrame =
    Td(s, dir, "documents").select(col("doc_id"), col("text"))

  /** (n_truth, recall_ok): n_truth is computed independently by both
    * engines (a real cross-engine check of the whole shingle/Jaccard
    * chain); recall_ok asserts the near-dup operator recovered at least
    * `floor` of the planted truth — deterministic, so a seed/bucketing
    * regression flips it. */
  private def recallStats(truth: DataFrame,
                          found: DataFrame,
                          floor: Double): DataFrame = {
    val foundPlanted = found
      .filter(col("id_a") < 1000000 && col("id_b") === col("id_a") + 1000000)
      .select(col("id_a").as("doc_id"), lit(1).as("f"))
    truth.join(foundPlanted, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("f")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found") >= col("n_truth") * floor).as("recall_ok"))
  }

  /** Exact content dedup: hash-groupBy over normalized text — keeper id
    * + duplicate count per distinct content hash. The secondary
    * grouping term mirrors the engine's NULL contract (each NULL-text
    * doc is its own singleton keeper, never one collapsed group);
    * testdata has no NULL text, so it is value-neutral here, but the
    * oracle states the contract the engine actually has. */
  val dedupExact = Q(
    "q_dedup_exact",
    Some(
      s"SELECT md5($normSql) AS content_hash, min(doc_id) AS keeper_id, " +
        "count(*) AS dup_cnt FROM documents " +
        s"GROUP BY md5($normSql), " +
        s"CASE WHEN md5($normSql) IS NULL THEN doc_id END ORDER BY 1, 2"),
    (s, dir) =>
      Dedup.exact(Td(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("content_hash"), col("keeper_id"))
  )

  /** Quality stats: char/token/punct/stopword counts per document — the
    * cheap pre-filters of a pretraining pipeline. Integer counts only so
    * the oracle compare is exact. */
  val textStats = Q(
    "q_text_stats",
    Some(
      "SELECT doc_id, n_chars, length(text) AS len, " +
        raw"len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) AS n_tok, " +
        raw"len(regexp_extract_all(text, '[^\w\s]')) AS n_punct, " +
        raw"len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|that)\b')) AS n_stop " +
        "FROM documents ORDER BY 1"),
    (s, dir) =>
      Td(s, dir, "documents")
        .select(
          col("doc_id"), col("n_chars"),
          length(col("text")).as("len"),
          size(TextFunctions.regexTokens(col("text"))).as("n_tok"),
          TextFunctions.punctCount(col("text")).as("n_punct"),
          TextFunctions.stopwordCount(col("text")).as("n_stop"))
        .orderBy(col("doc_id"))
  )

  /** Language-ID heuristic: stopword-profile argmax per doc, aggregated
    * to a distribution. The oracle restates the same scoring in SQL. */
  val langIdQ = Q(
    "q_lang_id",
    Some {
      def h(words: String) = raw"len(regexp_extract_all(lower(text), '\b($words)\b'))"
      val en = h("the|and|of|to|is"); val de = h("der|die|das|und|ist")
      val fr = h("le|la|les|et|est"); val nl = h("de|het|een|en|is")
      "SELECT pred_lang, count(*) AS cnt FROM (SELECT CASE " +
        s"WHEN greatest($en,$de,$fr,$nl) = 0 THEN 'und' " +
        s"WHEN $en = greatest($en,$de,$fr,$nl) THEN 'en' " +
        s"WHEN $nl = greatest($en,$de,$fr,$nl) THEN 'nl' " +
        s"WHEN $de = greatest($en,$de,$fr,$nl) THEN 'de' " +
        "ELSE 'fr' END AS pred_lang FROM documents) GROUP BY 1 ORDER BY 1"
    },
    (s, dir) =>
      Td(s, dir, "documents")
        .select(TextFunctions.langId(col("text")).as("pred_lang"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("pred_lang"))
  )

  /** Winnowing-style fingerprint: min shingle-hash per document —
    * rebuilt shingle-for-shingle in DuckDB list comprehensions so the
    * whole normalize→shingle→hash→min chain is oracle-checked. */
  val fingerprintQ = Q(
    "q_doc_fingerprint",
    Some(
      s"SELECT doc_id, list_min(list_transform(CASE WHEN len(string_split($normSql, ' ')) >= 3 " +
        s"THEN list_transform(range(1, len(string_split($normSql, ' ')) - 1), " +
        s"i -> array_to_string(string_split($normSql, ' ')[i:i+2], ' ')) " +
        s"ELSE [$normSql] END, s -> md5(s))) AS fp FROM documents ORDER BY 1"),
    (s, dir) =>
      Td(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("sh", TextFunctions.shinglesFromTokens(col("toks"), 3))
        .select(col("doc_id"),
          TextFunctions.fingerprintFromShingles(col("sh")).as("fp"))
        .orderBy(col("doc_id"))
  )

  /** MinHash + banded LSH near-dup: candidates via band-bucket equi-join
    * (never all-pairs), exact Jaccard verify inside buckets — under a
    * recall-floor oracle: both engines count the planted J≥0.5 truth
    * pairs (n_truth, exact cross-engine compare), and recall_ok asserts
    * the LSH recovered ≥95% of them (measured 499/499 at sf0.01; 16
    * bands × 4 rows puts per-pair recall at J≈0.9 above 1−4e-8). */
  val neardupMinhash = Q(
    "q_neardup_minhash",
    Some(truthSql(0.5)),
    (s, dir) => {
      val docs = documents(s, dir)
      val found = Dedup.minhashNearDup(withCopies(docs), "doc_id", "text",
        numHashes = 64, bands = 16, shingleK = 3, minJaccard = 0.5)
      recallStats(plantedTruth(docs, 0.5), found, floor = 0.95)
    }
  )

  /** Duplicate-group-collapsed near-dup
    * ([[graft.dedup.Dedup.minhashNearDupSpanning]]): on a fixture
    * where every document exists twice (an exact copy band) plus a
    * mutated copy — the duplicate-heavy shape whose full pair
    * contract is quadratic-per-group — the spanning variant must
    * produce a pair set whose TRANSITIVE CLOSURE equals the full
    * variant's. The gate checks that claim via the one-CC
    * [[spanningClosureOk]] equivalence (r18: swapped from the two-label
    * compare — same deterministic guarantee, since both directions of
    * the check are exact even under LSH: a rep pair's band signature
    * is identical to its members', so span ⊆ full and every full pair
    * connects through stars; measured ~1.4 s cheaper). The
    * copy–mutation connection exists only TRANSITIVELY in the
    * spanning output (copy → rep → mutation), so a dropped star or
    * lost rep pair flips a label; exact star/rep shape is spec-pinned
    * on a d = 4 group in DedupSpec (CC labels are insensitive to rep
    * choice by design, so the gate gates closure, the spec gates
    * shape). */
  val neardupMinhashSpanning = Q(
    "q_neardup_minhash_spanning",
    Some(
      "SELECT doc_id, true AS closure_ok FROM (" +
        "SELECT doc_id FROM documents UNION ALL " +
        "SELECT doc_id + 1000000 FROM documents UNION ALL " +
        "SELECT doc_id + 2000000 FROM documents) ORDER BY 1"),
    (s, dir) => {
      val docs = documents(s, dir)
      val f = withCopies(docs).unionByName(
        docs.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      spanningClosureOk(f,
        Dedup.minhashNearDup(f, "doc_id", "text",
          numHashes = 64, bands = 16, shingleK = 3, minJaccard = 0.5),
        Dedup.minhashNearDupSpanning(f, "doc_id", "text",
          numHashes = 64, bands = 16, shingleK = 3, minJaccard = 0.5))
    }
  )

  /** Incremental MinHash dedup ([[graft.dedup.Dedup.minhashBuild]] /
    * [[graft.dedup.Dedup.minhashDeltaPairs]]): the index is built ONCE
    * over the base corpus, then the mutated batch dedups against it
    * via the band-bucket equi-join WITHOUT rescanning corpus text —
    * the ingestion-loop shape where the corpus scan is amortized
    * across every arriving delta. Same planted-pair oracle and recall
    * floor as q_neardup_minhash: both engines count the J≥0.5 planted
    * truth, and the delta path must recover ≥95% of it — so a drift
    * between build-side and delta-side signing (geometry, banding,
    * shingle chain) flips the gate. */
  val neardupMinhashDelta = Q(
    "q_neardup_minhash_delta",
    Some(truthSql(0.5)),
    (s, dir) => {
      val docs = documents(s, dir)
      val delta = Planted.copies(docs)
      val model = Dedup.minhashBuild(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleK = 3)
      val found = Dedup.minhashDeltaPairs(model, delta, "doc_id", "text",
        minJaccard = 0.5)
        .select(col("corpus_id").as("id_a"), col("delta_id").as("id_b"))
      recallStats(plantedTruth(docs, 0.5), found, floor = 0.95)
    }
  )

  /** MinHash index persistence under the oracle, mirroring
    * q_pq_persist: build → `minhashSave` → `minhashLoad`, dedup the
    * delta against the LOADED index, and hold the recall floor —
    * PLUS `roundtrip_ok`: the loaded index's pair set must equal the
    * in-memory build's exactly (symmetric difference empty), so a
    * serialization change that loses geometry or rows fails the
    * oracle, not just a spec. */
  val minhashPersist = Q(
    "q_minhash_persist",
    Some(s"SELECT n_truth, recall_ok, true AS roundtrip_ok FROM (${truthSql(0.5)})"),
    (s, dir) => {
      val docs = documents(s, dir)
      val delta = Planted.copies(docs)
      val model = Dedup.minhashBuild(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleK = 3)
      // Pairs from the loaded index are eagerly checkpointed inside
      // the scratch scope — nothing lazy may still read idxDir.
      val (pairsLoaded, pairsBuilt) =
        Scratch.withDir("graft_minhash_persist") { idxDir =>
          Dedup.minhashSave(model, idxDir)
          val loaded = Dedup.minhashLoad(s, idxDir)
          (Dedup.minhashDeltaPairs(loaded, delta, "doc_id", "text",
            minJaccard = 0.5).localCheckpoint(),
            Dedup.minhashDeltaPairs(model, delta, "doc_id", "text",
              minJaccard = 0.5))
        }
      val rt = pairsBuilt.exceptAll(pairsLoaded)
        .unionByName(pairsLoaded.exceptAll(pairsBuilt))
        .agg((count(lit(1)) === 0).as("roundtrip_ok"))
      recallStats(plantedTruth(docs, 0.5),
        pairsLoaded.select(col("corpus_id").as("id_a"),
          col("delta_id").as("id_b")),
        floor = 0.95)
        .crossJoin(rt)
    }
  )

  /** SimHash near-dup: 64-bit signatures, pigeonhole chunk candidates
    * (guaranteed recall at the *signature* level), hamming verify —
    * under a recall-floor oracle against the J≥0.9 planted band.
    * hamming≤3 is a deliberately tighter notion than J≥0.9 (measured:
    * 282 of 385 such pairs at sf0.01, ≈73%), so the floor is 0.65: it
    * gates the signature/chunk machinery against regression while
    * n_truth cross-checks the Jaccard chain itself. */
  val neardupSimhash = Q(
    "q_neardup_simhash",
    Some(truthSql(0.9)),
    (s, dir) => {
      val docs = documents(s, dir)
      val found = Dedup.simhashNearDup(withCopies(docs), "doc_id", "text",
        maxHamming = 3)
      recallStats(plantedTruth(docs, 0.9), found, floor = 0.65)
    }
  )

  /** Tripled duplicate-heavy fixture shared by the spanning gates:
    * every selected doc appears as itself, a mutated copy, and an
    * exact copy — groups of 2 with near-dup satellites. A quarter of
    * the corpus (doc_id % 4 = 0): closure equality is a per-group
    * property, not a volume one, and the full variants' quadratic
    * sides stay bounded in the battery. */
  private def spanningFixture(s: SparkSession,
                              dir: String) = {
    val docs = documents(s, dir)
      .filter(col("doc_id") % 4 === 0)
    withCopies(docs)
      .unionByName(docs.select((col("doc_id") + 2000000).as("doc_id"),
        col("text")))
  }

  /** Independent DuckDB ground truth for the spanning gates: a full
    * pair graph recomputed from scratch in SQL (the `edges` CTE must
    * define `e(src, dst)` over `fx`) and closed transitively with a
    * recursive CTE — component = min reachable id, exactly
    * [[graft.graph.ConnectedComponents.run]]'s label contract. The
    * Spark side hands in its spanning pair graph's CC labels, so a
    * bug ANYWHERE in the chain — the spanning collapse, the candidate
    * machinery, or ConnectedComponents itself — shows as a label
    * mismatch against a truth that shares no code with it (unlike the
    * previous pinned-true `closure_ok` self-equivalence). */
  private def spanningClosureOracleSql(edges: String): String =
    "WITH RECURSIVE fx AS (" +
      "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0 " +
      "UNION ALL SELECT doc_id + 1000000, text[12:] FROM documents WHERE doc_id % 4 = 0 " +
      "UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 4 = 0), " +
      edges +
      "und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      "reach(a, b) AS (SELECT a, b FROM und " +
      "UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a), " +
      "comp AS (SELECT f.doc_id, " +
      "least(f.doc_id, coalesce(min(r.b), f.doc_id)) AS component " +
      "FROM fx f LEFT JOIN reach r ON r.a = f.doc_id GROUP BY f.doc_id) " +
      "SELECT doc_id, component FROM comp ORDER BY 1"

  /** Spark side of the spanning gates: spanning pair graph →
    * ConnectedComponents labels, compared row-for-row against the
    * oracle's independently recomputed closure. */
  private def spanningComponents(f: DataFrame,
                                 pairs: DataFrame) =
    graft.graph.ConnectedComponents.run(
        f.select(col("doc_id").as("id")),
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))

  /** One-CC closure-equality check, the cheaper sibling of
    * q_neardup_minhash_spanning's two-label compare: label ONLY the
    * spanning graph, then closure equality ⟺ (1) every spanning pair
    * is a full pair (closure(span) ⊆ closure(full), since pair sets
    * order closures monotonically) AND (2) every full pair's endpoints
    * share a spanning component (closure(full) ⊆ closure(span)). A
    * violation of either flips closure_ok on the offending endpoints;
    * the oracle pins all-true. Halves the gate's ConnectedComponents
    * cost — at battery scale the CC rounds' fixed per-stage overhead,
    * not data volume, dominates these gates (measured: quartering the
    * corpus moved q_neardup_simhash_spanning only 8.8 → 7.4 s). */
  private def spanningClosureOk(f: DataFrame,
                                full: DataFrame,
                                span: DataFrame) = {
    val fullP = full.select(col("id_a"), col("id_b"))
    val spanP = span.select(col("id_a"), col("id_b"))
    val lbl = graft.graph.ConnectedComponents.run(
      f.select(col("doc_id").as("id")),
      spanP.select(col("id_a").as("src"), col("id_b").as("dst")))
    val extra = spanP.except(fullP)
    val split = fullP
      .join(lbl.select(col("id").as("id_a"), col("component").as("ca")),
        Seq("id_a"))
      .join(lbl.select(col("id").as("id_b"), col("component").as("cb")),
        Seq("id_b"))
      .filter(col("ca") =!= col("cb"))
      .select(col("id_a"), col("id_b"))
    val bad = extra.unionByName(split)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("bad", lit(true))
    f.select(col("doc_id"))
      .join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bad").isNull.as("closure_ok"))
      .orderBy(col("doc_id"))
  }

  /** One-call text near-dedup ([[graft.dedup.Dedup.textDedup]]): the
    * MinHash sibling of q_semantic_dedup, gated the same way — the
    * DuckDB oracle recomputes the TRUE pair graph (exact shingle-set
    * Jaccard ≥ 0.9, all pairs, no LSH) and its recursive transitive
    * closure, then picks the same quality keeper per cluster; the
    * Spark side must match labels AND keepers exactly. That equality
    * holds because (a) the spanning pair graph is closure-equal to
    * the full contract (spec-pinned) and (b) at J ≥ 0.9 the default
    * 16×4 banding's per-pair recall is ≥ 1−4·10⁻⁸ — the gate fixture
    * (exact copies + substring-12 mutations of ≥0.9 Jaccard) keeps
    * truth pairs above that waterline, which is exactly the operating
    * guidance the API's scaladoc states. */
  val textDedupQ = Q(
    "q_text_dedup",
    Some(
      "WITH RECURSIVE fx AS (" +
        "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id + 2000000, text[12:] FROM documents WHERE doc_id % 5 = 0), " +
        s"sh AS (SELECT doc_id, ${shinglesSqlOf("text")} AS s FROM fx), " +
        "e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM sh a JOIN sh b " +
        "ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9), " +
        "und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
        "reach(a, b) AS (SELECT a, b FROM und " +
        "UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a), " +
        "comp AS (SELECT f.doc_id, " +
        "least(f.doc_id, coalesce(min(r.b), f.doc_id)) AS component " +
        "FROM fx f LEFT JOIN reach r ON r.a = f.doc_id GROUP BY f.doc_id), " +
        "rk AS (SELECT doc_id, component, doc_id % 97 AS quality, " +
        "row_number() OVER (PARTITION BY component " +
        "ORDER BY doc_id % 97 DESC, doc_id) AS rn FROM comp) " +
        "SELECT doc_id, component, quality FROM rk WHERE rn = 1 ORDER BY 1"),
    (s, dir) => {
      val docs = documents(s, dir)
        .filter(col("doc_id") % 5 === 0)
      val f = docs
        .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
          col("text")))
        .unionByName(Planted.copies(docs, 2000000L))
      Dedup.textDedup(f, "doc_id", "text",
          scores = f.select(col("doc_id"), (col("doc_id") % 97).as("quality")),
          scoreCol = "quality", minJaccard = 0.9)
        .select(col("doc_id"), col("component"), col("quality"))
        .orderBy(col("doc_id"))
    }
  )

  /** Duplicate-group-collapsed SimHash near-dup
    * ([[graft.dedup.Dedup.simhashNearDupSpanning]]) under an
    * INDEPENDENT ground truth (r19; previously a pinned-true
    * self-equivalence): the oracle recomputes, from scratch in
    * DuckDB, every doc's 64-bit SimHash over the engine-neutral
    * [[graft.dedup.Dedup.md5Hash64]] token hash (md5's first 16 hex
    * chars — the one hash family both engines can evaluate
    * bit-identically), the FULL hamming ≤ 3 pair graph by brute
    * force, and its recursive transitive closure; the Spark side must
    * reproduce those labels from its spanning pair graph. That
    * equality is the spanning contract itself: spanning closure =
    * full-engine closure (spec-pinned), and the full engine's
    * pigeonhole candidates are exact at hamming ≤ 3. The xxhash64
    * production default stays gated end-to-end by
    * q_neardup_simhash's recall floor. */
  val neardupSimhashSpanning = Q(
    "q_neardup_simhash_spanning",
    Some(spanningClosureOracleSql(
      s"n AS (SELECT doc_id, ${normSqlOf("text")} AS nt FROM fx), " +
        "t AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM n), " +
        "h AS (SELECT doc_id, " +
        "CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS hi, " +
        "CAST(('0x' || substr(md5(tok), 9, 8)) AS UBIGINT) AS lo FROM t), " +
        "bj AS (SELECT doc_id, j, CASE WHEN " +
        "((CASE WHEN j < 32 THEN lo ELSE hi END) >> (j % 32)) & 1 = 1 " +
        "THEN 1 ELSE -1 END AS sgn FROM h " +
        "CROSS JOIN (SELECT unnest(range(0, 64)) AS j) jr), " +
        "bits AS (SELECT doc_id, j, CASE WHEN sum(sgn) > 0 THEN 1 ELSE 0 END " +
        "AS b FROM bj GROUP BY 1, 2), " +
        "sig AS (SELECT doc_id, list(b ORDER BY j) AS bl FROM bits GROUP BY 1), " +
        "e AS (SELECT a.doc_id AS src, b.doc_id AS dst " +
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
        "WHERE len(list_filter(range(1, 65), i -> a.bl[i] != b.bl[i])) <= 3), ")),
    (s, dir) => {
      val f = spanningFixture(s, dir)
      spanningComponents(f,
        Dedup.simhashNearDupSpanning(f, "doc_id", "text",
          maxHamming = 3, tokenHash = Dedup.md5Hash64))
    }
  )

  /** Duplicate-group-collapsed exact SSJoin
    * ([[graft.dedup.Dedup.ngramJaccardNearDupSpanning]]): the variant
    * that matters most at scale — exact duplicates inflate BOTH the
    * SSJoin's output (d²/2 per group) and its candidate volume
    * (Σ|posting|², the measured 90× host-OOM driver), and the
    * spanning collapse shrinks both before the prefix join runs. Gate
    * (r19; previously a pinned-true self-equivalence): the oracle
    * recomputes the FULL exact-Jaccard ≥ 0.7 pair graph over the
    * fixture's shingle sets in DuckDB — the same independent pair
    * truth q_neardup_ngram states — plus its recursive transitive
    * closure, and the Spark side must reproduce those labels from the
    * spanning pair graph run through
    * [[graft.graph.ConnectedComponents]]. The full engine is
    * 100%-recall at threshold when uncapped, so spanning closure =
    * full closure = the oracle's brute-force closure. */
  val neardupNgramSpanning = Q(
    "q_neardup_ngram_spanning",
    Some(spanningClosureOracleSql(
      s"sh AS (SELECT doc_id, ${shinglesSqlOf("text")} AS s FROM fx), " +
        "e AS (SELECT a.doc_id AS src, b.doc_id AS dst " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7), ")),
    (s, dir) => {
      val f = spanningFixture(s, dir)
      spanningComponents(f,
        Dedup.ngramJaccardNearDupSpanning(f, "doc_id", "text",
          shingleK = 3, minJaccard = 0.7))
    }
  )

  /** Exact n-gram Jaccard near-dup (prefix-filter set-similarity join)
    * under a FULL closed-form oracle: because the prefix filter has
    * 100% recall at the threshold, the result is the exact pair set —
    * so unlike the LSH entries the oracle states every (id_a, id_b,
    * jaccard) row, via the inverted-index form (pairs sharing ≥1
    * shingle, overlap counted by join, sizes joined in — a pair with no
    * shared shingle has J=0 and can't clear the threshold). */
  val neardupNgram = Q(
    "q_neardup_ngram",
    Some(
      s"WITH s AS (SELECT doc_id, ${shinglesSqlOf("text")} AS sh FROM documents " +
        s"UNION ALL SELECT doc_id + 1000000, ${shinglesSqlOf("text[12:]")} FROM documents), " +
        "tok AS (SELECT doc_id, unnest(sh) AS t FROM s), " +
        "sz AS (SELECT doc_id, len(sh) AS n FROM s), " +
        "ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o " +
        "FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(o AS DOUBLE) / (na.n + nb.n - o) AS jaccard " +
        "FROM ov JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b " +
        "WHERE CAST(o AS DOUBLE) / (na.n + nb.n - o) >= 0.7 ORDER BY 1, 2"),
    (s, dir) =>
      Dedup.ngramJaccardNearDup(withCopies(documents(s, dir)), "doc_id", "text",
        shingleK = 3, minJaccard = 0.7)
        .orderBy(col("id_a"), col("id_b"))
  )

  /** Cross-document repeated-span detection
    * ([[graft.dedup.Dedup.repeatedSpans]]) under a FULL closed-form
    * oracle: on the planted corpus (docs ∪ mutated copies) both
    * engines independently find every maximal merged run of 8-token
    * windows shared by ≥2 distinct docs — the substring-level dedup of
    * Lee et al. 2022 that document-level dedup cannot see. The oracle
    * mirrors the whole chain in SQL (normalize → positioned 8-grams →
    * distinct-doc counts → gaps-and-islands merge), comparing exact
    * (doc, span_start, span_end, n_grams) rows; gram identity is the
    * gram STRING in DuckDB vs its xxhash64 in Spark — identical
    * grouping up to 2⁻⁶⁴ collisions. */
  val repeatedSpansQ = Q(
    "q_repeated_spans",
    Some(
      s"WITH c AS (SELECT doc_id, ${normSqlOf("text")} AS nt FROM documents " +
        s"UNION ALL SELECT doc_id + 1000000, ${normSqlOf("text[12:]")} FROM documents), " +
        "t AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM c), " +
        "g AS (SELECT doc_id, unnest(range(1, len(tk) - 6)) AS i, tk FROM t " +
        "WHERE len(tk) >= 8), " +
        "g2 AS (SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS gram FROM g), " +
        "dup AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd " +
        "FROM g2 GROUP BY 1) WHERE nd >= 2), " +
        "h AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)), " +
        "b AS (SELECT doc_id, pos, CASE WHEN " +
        "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL OR " +
        "pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8 " +
        "THEN 1 ELSE 0 END AS brk FROM h), " +
        "i2 AS (SELECT doc_id, pos, sum(brk) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS island FROM b) " +
        "SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end, " +
        "count(*) AS n_grams FROM i2 GROUP BY doc_id, island ORDER BY 1, 2"),
    (s, dir) =>
      Dedup.repeatedSpans(withCopies(documents(s, dir)), "doc_id", "text",
        k = 8, minDocs = 2)
        .select(col("id").as("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"),
          col("n_grams"))
        .orderBy(col("doc_id"), col("span_start"))
  )

  /** Span-clip policy ([[graft.dedup.Dedup.clipSpans]]) — the apply
    * step over [[graft.dedup.Dedup.repeatedSpans]]'s coordinates:
    * covered tokens are clipped out of each doc's RAW text (the i-th
    * normalized token ↔ the i-th `[A-Za-z0-9]+` run; a dropped run
    * takes its trailing separator; no-span docs pass byte-identical —
    * the [[graft.functions.NativeClip]] contract) and docs whose
    * coverage exceeds the threshold are flagged dropped. FULL
    * closed-form oracle: the corpus plants HALF-copies (each doc ∪ its
    * first-half text), so originals sit near coverage 0.5 (kept at the
    * 0.6 threshold) and the copies near 1.0 (dropped); DuckDB
    * re-derives the whole chain — normalized-stream spans, disjoint-
    * span coverage sum, then the raw-run reconstruction
    * `sep₀ + Σ_{kept} runᵢ + sepᵢ₊₁` via regexp_extract_all (runs) ∥
    * regexp_split_to_array (separators) — and compares exact
    * (doc_id, n_tok, n_cov, coverage, kept, text_clipped) rows, so the
    * clip arithmetic (inclusive span ends, 0-based positions,
    * separator attachment, no-span passthrough) is pinned
    * character-for-character. */
  val spanClipQ = Q(
    "q_span_clip",
    Some {
      s"WITH craw AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text[1:len(text)//2] FROM documents), " +
        s"c AS (SELECT doc_id, ${normSqlOf("text")} AS nt FROM craw), " +
        "t AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM c), " +
        "g AS (SELECT doc_id, unnest(range(1, len(tk) - 6)) AS i, tk FROM t " +
        "WHERE len(tk) >= 8), " +
        "g2 AS (SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS gram FROM g), " +
        "dup AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd " +
        "FROM g2 GROUP BY 1) WHERE nd >= 2), " +
        "h AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)), " +
        "b AS (SELECT doc_id, pos, CASE WHEN " +
        "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL OR " +
        "pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8 " +
        "THEN 1 ELSE 0 END AS brk FROM h), " +
        "i2 AS (SELECT doc_id, pos, sum(brk) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS island FROM b), " +
        "sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e " +
        "FROM i2 GROUP BY doc_id, island), " +
        "cov AS (SELECT doc_id, sum(e - s + 1) AS n_cov FROM sp GROUP BY 1), " +
        "r AS (SELECT doc_id, text, " +
        "regexp_extract_all(text, '[A-Za-z0-9]+') AS runs, " +
        "regexp_split_to_array(text, '[A-Za-z0-9]+') AS seps FROM craw), " +
        "p AS (SELECT doc_id, unnest(range(len(runs))) AS i FROM r), " +
        "cp AS (SELECT doc_id, unnest(range(s, e + 1)) AS i FROM sp), " +
        "keep AS (SELECT p.doc_id, p.i FROM p LEFT JOIN cp " +
        "ON cp.doc_id = p.doc_id AND cp.i = p.i WHERE cp.i IS NULL), " +
        "txt AS (SELECT k.doc_id, string_agg(" +
        "runs[CAST(k.i AS INT) + 1] || seps[CAST(k.i AS INT) + 2], " +
        "'' ORDER BY k.i) AS body " +
        "FROM keep k JOIN r ON r.doc_id = k.doc_id GROUP BY 1) " +
        "SELECT r.doc_id, CAST(len(runs) AS BIGINT) AS n_tok, " +
        "CAST(coalesce(cov.n_cov, 0) AS BIGINT) AS n_cov, " +
        "CASE WHEN len(runs) = 0 THEN 0.0 ELSE " +
        "CAST(coalesce(cov.n_cov, 0) AS DOUBLE) / len(runs) END AS coverage, " +
        "(CASE WHEN len(runs) = 0 THEN 0.0 ELSE " +
        "CAST(coalesce(cov.n_cov, 0) AS DOUBLE) / len(runs) END) <= 0.6 AS kept, " +
        "CASE WHEN cov.doc_id IS NULL THEN r.text " +
        "ELSE seps[1] || coalesce(txt.body, '') END AS text_clipped " +
        "FROM r LEFT JOIN cov ON cov.doc_id = r.doc_id " +
        "LEFT JOIN txt ON txt.doc_id = r.doc_id ORDER BY 1"
    },
    (s, dir) => {
      val docs = documents(s, dir)
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 1000000).as("doc_id"),
        expr("substring(text, 1, length(text) div 2)").as("text")))
      val spans = Dedup.repeatedSpans(corpus, "doc_id", "text",
        k = 8, minDocs = 2)
      Dedup.clipSpans(corpus, spans, "doc_id", "text", maxCoverage = 0.6)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }
  )

  /** Benchmark decontamination: every-20th document plays the test set,
    * the rest the corpus; both engines count each corpus doc's distinct
    * shingles that appear anywhere in the test set. */
  val decontaminateQ = Q(
    "q_decontaminate",
    Some(
      s"WITH te AS (SELECT DISTINCT unnest(${shinglesSqlOf("text")}) AS t " +
        "FROM documents WHERE doc_id % 20 = 0), " +
        s"co AS (SELECT doc_id, unnest(${shinglesSqlOf("text")}) AS t " +
        "FROM documents WHERE doc_id % 20 <> 0), " +
        "hits AS (SELECT doc_id, count(*) AS n_hits FROM co " +
        "WHERE t IN (SELECT t FROM te) GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, " +
        "coalesce(h.n_hits, 0) = 0 AS clean FROM documents d " +
        "LEFT JOIN hits h ON h.doc_id = d.doc_id WHERE d.doc_id % 20 <> 0 " +
        "ORDER BY 1"),
    (s, dir) => {
      val docs = Td(s, dir, "documents")
      graft.text.CorpusPrep.contamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", shingleK = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }
  )

  /** Bloom-prefiltered decontamination ([[graft.text.CorpusPrep
    * .contaminationBloom]]): the exact-join shuffle is pruned by a
    * native `might_contain` Bloom built with `bloom_filter_agg` over
    * the test-set shingles — the 100 TB shape for a test set too big
    * to broadcast. The Bloom only admits false positives and the
    * confirming exact join removes them, so the oracle is the SAME
    * closed form as q_decontaminate (here on an every-10th split, so
    * the two gates are distinct workloads). */
  val decontaminateBloomQ = Q(
    "q_decontaminate_bloom",
    Some(
      s"WITH te AS (SELECT DISTINCT unnest(${shinglesSqlOf("text")}) AS t " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        s"co AS (SELECT doc_id, unnest(${shinglesSqlOf("text")}) AS t " +
        "FROM documents WHERE doc_id % 10 <> 0), " +
        "hits AS (SELECT doc_id, count(*) AS n_hits FROM co " +
        "WHERE t IN (SELECT t FROM te) GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, " +
        "coalesce(h.n_hits, 0) = 0 AS clean FROM documents d " +
        "LEFT JOIN hits h ON h.doc_id = d.doc_id WHERE d.doc_id % 10 <> 0 " +
        "ORDER BY 1"),
    (s, dir) => {
      val docs = Td(s, dir, "documents")
      graft.text.CorpusPrep.contaminationBloom(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleK = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }
  )

  /** Deterministic md5-based stratified sampling — the same rows must
    * be kept by both engines, which is the whole point of hash-based
    * (rather than rand()-based) sampling. */
  val sampleStratified = Q(
    "q_sample_stratified",
    Some(
      "SELECT doc_id, lang FROM documents WHERE " +
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) < " +
        "CAST(floor((CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 " +
        "ELSE 0.125 END) * 4294967296) AS UBIGINT) ORDER BY 1"),
    (s, dir) =>
      graft.text.CorpusPrep.stratifiedSample(
        Td(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.2), defaultRate = 0.125)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
  )

  /** Mixture resampling ([[graft.text.CorpusPrep.mixResample]]): target
    * per-source weight ∝ source index + 1, hit by deterministic
    * hash-based downsampling. The whole rate derivation (per-stratum
    * counts → normalized weight → min(1, ·) rate → md5 keep rule) is
    * restated in SQL with the SAME double-op order, so the kept set is
    * cross-engine exact — the mixing analogue of q_sample_stratified's
    * fixed-rate contract. */
  val mixSampleQ = Q(
    "q_mix_sample",
    Some(
      "WITH s AS (SELECT source, count(*) AS n, " +
        "max(CAST(substr(source, 4) AS INT) + 1) AS w " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT sum(n) AS total, sum(w) AS sumw FROM s), " +
        "r AS (SELECT source, least(1.0, w / sumw * total / n) AS rate " +
        "FROM s, t) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN r USING (source) " +
        "WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) < " +
        "CAST(floor(rate * 4294967296) AS UBIGINT) ORDER BY 1"),
    (s, dir) =>
      graft.text.CorpusPrep.mixResample(
        Td(s, dir, "documents"), "doc_id", "source",
        substring(col("source"), 4, 10).cast("int") + 1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
  )

  /** Token-budget shard packing: greedy first-fit by cumulative token
    * offset inside deterministic md5 buckets — the sharding step before
    * sequence packing. The whole (bucket, window-cumsum, shard) chain
    * is restated in SQL, so shard assignment is cross-engine exact. */
  val packShardsQ = Q(
    "q_pack_shards",
    Some(
      "WITH t AS (SELECT doc_id, " +
        raw"len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) AS n_tok, " +
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 8 AS bucket " +
        "FROM documents) " +
        "SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(floor((sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - n_tok) / 1000.0) AS BIGINT) AS shard, " +
        "n_tok FROM t ORDER BY 1"),
    (s, dir) =>
      graft.text.CorpusPrep.packShards(
        Td(s, dir, "documents").select(col("doc_id"),
          size(TextFunctions.regexTokens(col("text"))).as("n_tok")),
        "doc_id", "n_tok", tokensPerShard = 1000L, buckets = 8)
        .orderBy(col("doc_id"))
  )

  /** Per-language corpus statistics with EXACT quantiles: p50 via
    * interpolated percentile (0 / 0.5 fractions are FP-exact in both
    * engines' formulas), p90 via the discrete window form (value at row
    * ceil(0.9·n)) — stated identically on both sides, so no
    * interpolation-arithmetic ulp risk. */
  val corpusStats = Q(
    "q_corpus_stats",
    Some(
      "WITH r AS (SELECT lang, n_chars, " +
        "row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS n FROM documents) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "quantile_cont(n_chars, 0.5) AS p50, " +
        "max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_chars END) AS p90 " +
        "FROM r GROUP BY 1 ORDER BY 1"),
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      Td(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          max(when(col("rn") === ceil(lit(0.9) * col("n")).cast("long"),
            col("n_chars"))).as("p90"))
        .orderBy(col("lang"))
    }
  )

  /** Composed corpus preparation (quality filter + exact-dedup keep) —
    * oracle restates the filter conditions and the keep-min-id rule in
    * SQL. Near-dup removal (not SQL-expressible) is covered by
    * CorpusPrepSpec. */
  val corpusPrep = Q(
    "q_corpus_prep",
    Some(
      "WITH q AS (SELECT doc_id, lang, md5(" + normSql + ") AS h FROM documents " +
        "WHERE length(text) >= 50 " +
        raw"AND len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) >= 10 " +
        raw"AND len(regexp_extract_all(text, '[^\w\s]')) * 5 <= length(text)) " +
        "SELECT doc_id, lang FROM q WHERE doc_id = " +
        "(SELECT min(doc_id) FROM q q2 WHERE q2.h = q.h) ORDER BY 1"),
    (s, dir) =>
      graft.text.CorpusPrep.prepare(
        Td(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
  )

  /** The packaged near-dup composition of [[graft.text.CorpusPrep
    * .prepare]] (`nearDup = true`) under a full independent truth —
    * the r19 gate for the r18-verdict swap of prepare's near-dup
    * stage to the SPANNING variant: quality filter → exact-dedup keep
    * → minhash-SPANNING near-dup → connected components → keep each
    * component's min id, all recomputed from scratch in DuckDB
    * (filter conditions restated, keep-min-id rule as a correlated
    * min, exact shingle-Jaccard ≥ 0.9 pair graph, recursive
    * transitive closure, survivor ⟺ doc_id = component label). The
    * fixture plants doubled-text copies — docs exact dedup CANNOT
    * remove (different normalized text) but whose Jaccard to the
    * original is ~n/(n+2) ≥ 0.9 — exactly the survivors the near-dup
    * stage exists to catch; threshold 0.9 keeps every true pair above
    * the 16×4 banding waterline (recall ≥ 1−4·10⁻⁸, the q_text_dedup
    * discipline). */
  val corpusPrepNearDup = {
    val tokRe = raw"'[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]'"
    Q(
      "q_corpus_prep_neardup",
      Some(
        "WITH RECURSIVE fx AS (" +
          "SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0 " +
          "UNION ALL SELECT doc_id + 1000000, lang, text || ' ' || text " +
          "FROM documents WHERE doc_id % 5 = 0), " +
          s"q AS (SELECT doc_id, lang, text, md5(${normSqlOf("text")}) AS h " +
          "FROM fx WHERE length(text) >= 50 " +
          s"AND len(regexp_extract_all(text, $tokRe)) >= 10 " +
          raw"AND len(regexp_extract_all(text, '[^\w\s]')) * 5 <= length(text)), " +
          "k AS (SELECT doc_id, lang, text FROM q " +
          "WHERE doc_id = (SELECT min(doc_id) FROM q q2 WHERE q2.h = q.h)), " +
          s"sh AS (SELECT doc_id, ${shinglesSqlOf("text")} AS s FROM k), " +
          "e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM sh a JOIN sh b " +
          "ON a.doc_id < b.doc_id " +
          "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
          "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9), " +
          "und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
          "reach(a, b) AS (SELECT a, b FROM und " +
          "UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a), " +
          "comp AS (SELECT k.doc_id, " +
          "least(k.doc_id, coalesce(min(r.b), k.doc_id)) AS component " +
          "FROM k LEFT JOIN reach r ON r.a = k.doc_id GROUP BY k.doc_id) " +
          "SELECT k.doc_id, k.lang FROM k JOIN comp USING (doc_id) " +
          "WHERE doc_id = component ORDER BY 1"),
      (s, dir) => {
        val docs = Td(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
          .filter(col("doc_id") % 5 === 0)
        val f = docs.unionByName(docs.select(
          (col("doc_id") + 1000000).as("doc_id"), col("lang"),
          concat(col("text"), lit(" "), col("text")).as("text")))
        graft.text.CorpusPrep.prepare(f, "doc_id", "text",
            nearDup = true, minJaccard = 0.9)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      }
    )
  }

  /** TF-IDF term weighting under the gate: top-3 terms per document by
    * `tf * ln(N/df)`, ties broken by term — both the scores and the
    * *ranking* are restated in the oracle. Scores are rounded to 4dp
    * for the hash only (both engines compute the same IEEE expression
    * over the same integers; rounding guards the final-ulp of ln across
    * libms). The ranking compares raw doubles — identical (tf, df)
    * pairs give identical scores, and distinct pairs differ by far more
    * than a ulp, so the row_number is stable across engines. */
  val tfIdfTop = Q(
    "q_tfidf",
    Some(
      "WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "WHERE term <> '' GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), " +
        "sc AS (SELECT doc_id, term, tf, df, tf * ln(n.n / df.df) AS score " +
        "FROM tf JOIN df USING (term) CROSS JOIN n), " +
        "rk AS (SELECT doc_id, term, tf, df, score, row_number() OVER (" +
        "PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc) " +
        "SELECT doc_id, term, tf, df, round(score, 4) AS score FROM rk " +
        "WHERE rn <= 3 ORDER BY doc_id, term"),
    (s, dir) => {
      val scored = graft.text.Relevance.tfIdf(
        Td(s, dir, "documents"), "doc_id", "text")
      graft.text.Relevance.topTerms(scored, "doc_id", 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("score"), 4).as("score"))
        .orderBy(col("doc_id"), col("term"))
    }
  )

  /** Okapi BM25 under the gate: the full per-(doc,term) score surface —
    * no ranking, so the hash covers every score directly. The k1/b
    * constants are interpolated into the oracle from the SAME Scala
    * doubles the operator uses (Scala double toString round-trips, so
    * both engines parse identical literals — computing `1.2 + 1` in SQL
    * could round differently than the Scala constant fold). All
    * divisions/sums mirror the operator's expression tree; dl/avgdl are
    * integer-valued doubles, so their aggregation is order-independent
    * and exact. */
  val bm25Q = {
    val (k1, b) = (1.2, 0.75)
    Q(
      "q_bm25",
      Some(
        "WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
          "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
          "WHERE term <> '' GROUP BY 1, 2), " +
          "dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1), " +
          "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
          "st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n, " +
          "(SELECT avg(dl) FROM dl) AS avgdl) " +
          // CAST: DuckDB sum() is HUGEINT, which reaches the pandas
          // compare as float ("32.0" vs Spark's "32")
          "SELECT doc_id, term, tf, df, CAST(dl AS BIGINT) AS dl, " +
          "round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * " +
          s"(tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl)), 4) " +
          "AS score FROM tf JOIN df USING (term) JOIN dl USING (doc_id) " +
          "CROSS JOIN st ORDER BY 1, 2"),
      (s, dir) =>
        graft.text.Relevance.bm25(Td(s, dir, "documents"), "doc_id", "text",
          k1 = k1, b = b)
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
            round(col("score"), 4).as("score"))
          .orderBy(col("doc_id"), col("term"))
    )
  }

  /** Model-based quality scoring under the gate: the sigmoid of a
    * linear model over (ln-length, punct ratio, stopword ratio) per
    * document, weights interpolated into the oracle from the same
    * Scala doubles (the q_bm25 discipline). The feature extraction
    * restates TextFunctions exactly: punct `[^\w\s]`, the 10-word
    * stopword class, whitespace tokens of the normalized text. */
  val qualityScoreQ = {
    val w = TextFunctions.QualityWeights()
    Q(
      "q_quality_score",
      Some(
        "SELECT doc_id, round(1.0 / (1.0 + exp(-(" +
          s"${w.bias} + ${w.wLen} * ln(1.0 + CAST(length(text) AS DOUBLE)) + " +
          raw"${w.wPunct} * (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / " +
          "greatest(CAST(length(text) AS DOUBLE), 1.0)) + " +
          raw"${w.wStop} * (CAST(len(regexp_extract_all(lower(text), " +
          raw"'\b(the|a|an|and|of|to|in|is|it|that)\b')) AS DOUBLE) / " +
          s"CAST(len(string_split($normSql, ' ')) AS DOUBLE))))), 4) AS quality " +
          "FROM documents ORDER BY 1"),
      (s, dir) =>
        Td(s, dir, "documents")
          .select(col("doc_id"),
            round(TextFunctions.qualityScore(col("text"), w), 4).as("quality"))
          .orderBy(col("doc_id"))
    )
  }

  /** Cross-table fuzzy join under the gate: documents linked against a
    * mutated slice of themselves (every 5th doc, first 11 chars cut,
    * ids shifted +10000 so the sides are disjoint). The oracle states
    * the full quadratic semantics with string-shingle Jaccard; the
    * Spark side is the prefix-filtered equi-join over shingle hashes —
    * identical pairs and jaccards (hash-set Jaccard = string-set
    * Jaccard up to 2^-64 collisions, the q_neardup_* correspondence). */
  val fuzzyJoinQ = Q(
    "q_fuzzy_join",
    Some(
      s"WITH l AS (SELECT doc_id AS id_l, ${shinglesSqlOf("text")} AS sh FROM documents), " +
        s"r AS (SELECT doc_id + 10000 AS id_r, ${shinglesSqlOf("text[12:]")} AS sh " +
        "FROM documents WHERE doc_id % 5 = 0) " +
        "SELECT id_l, id_r, CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / " +
        "(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) AS jaccard " +
        "FROM l, r WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) / " +
        "(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) >= 0.5 " +
        "ORDER BY 1, 2"),
    (s, dir) => {
      val docs = Td(s, dir, "documents")
      val right = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("rid"),
          Planted.text(col("text")).as("rtext"))
      Dedup.crossJaccardJoin(docs, right,
        leftId = "doc_id", leftText = "text",
        rightId = "rid", rightText = "rtext", minJaccard = 0.5)
        .orderBy(col("id_l"), col("id_r"))
    }
  )

  /** The WHOLE training-data pipeline as one gated composition:
    * train/test split → quality filter → exact-dedup keep →
    * decontaminate against the test split → stratified sample →
    * token-budget shard packing. Every stage's SQL mirror is already
    * proven green individually (q_corpus_prep, q_decontaminate,
    * q_sample_stratified, q_pack_shards); this chains them into one
    * oracle so stage INTERACTIONS (which rows each stage hands the
    * next) sit under the hash too — the whole-pipeline discipline the
    * construct pipelines follow. */
  val corpusPipeline = {
    val tokRe = raw"'[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]'"
    val md5u32 = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)"
    Q(
      "q_corpus_pipeline",
      Some(
        s"WITH q AS (SELECT doc_id, lang, text, md5($normSql) AS h FROM documents " +
          "WHERE doc_id % 20 <> 0 AND length(text) >= 50 " +
          s"AND len(regexp_extract_all(text, $tokRe)) >= 10 " +
          raw"AND len(regexp_extract_all(text, '[^\w\s]')) * 5 <= length(text)), " +
          "k AS (SELECT doc_id, lang, text FROM q " +
          "WHERE doc_id = (SELECT min(doc_id) FROM q q2 WHERE q2.h = q.h)), " +
          s"te AS (SELECT DISTINCT unnest(${shinglesSqlOf("text")}) AS t " +
          "FROM documents WHERE doc_id % 20 = 0), " +
          // tolerance 10: the synthetic corpus shares vocabulary, so a
          // verbatim-overlap threshold of 0 would empty the funnel and
          // leave the later stages untested
          "hit AS (SELECT doc_id FROM (" +
          s"SELECT doc_id, unnest(${shinglesSqlOf("text")}) AS t FROM k) " +
          "WHERE t IN (SELECT t FROM te) GROUP BY doc_id HAVING count(*) > 10), " +
          "sm AS (SELECT doc_id, text FROM k " +
          "WHERE doc_id NOT IN (SELECT doc_id FROM hit) " +
          s"AND $md5u32 < CAST(floor((CASE lang WHEN 'en' THEN 0.5 " +
          "WHEN 'zh' THEN 0.2 ELSE 0.125 END) * 4294967296) AS UBIGINT)), " +
          s"t AS (SELECT doc_id, len(regexp_extract_all(text, $tokRe)) AS n_tok, " +
          s"$md5u32 % 8 AS bucket FROM sm) " +
          "SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, " +
          "CAST(floor((sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id " +
          "ROWS UNBOUNDED PRECEDING) - n_tok) / 1000.0) AS BIGINT) AS shard, " +
          "n_tok FROM t ORDER BY 1"),
      (s, dir) => {
        import graft.text.CorpusPrep
        val docs = Td(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        val tests = docs.filter(col("doc_id") % 20 === 0)
        val filtered = corpus.filter(
          CorpusPrep.qualityFilter(col("text"), CorpusPrep.Quality()))
        val exact = CorpusPrep.exactDedupKeep(filtered, "doc_id", "text")
        val clean = CorpusPrep.decontaminate(exact, tests, "doc_id", "text",
          maxShared = 10L)
        val sampled = CorpusPrep.stratifiedSample(clean, "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.2), defaultRate = 0.125)
        CorpusPrep.packShards(
          sampled.select(col("doc_id"),
            size(TextFunctions.regexTokens(col("text"))).as("n_tok")),
          "doc_id", "n_tok", tokensPerShard = 1000L, buckets = 8)
          .orderBy(col("doc_id"))
      }
    )
  }

  /** N-gram novelty under the gate: per-doc share of corpus-unique
    * shingles. The counts are exact integers and the ratio is one
    * division of them, so the hash needs no rounding discipline. */
  val noveltyQ = Q(
    "q_novelty",
    Some(
      s"WITH sh AS (SELECT doc_id, unnest(${shinglesSqlOf("text")}) AS t FROM documents), " +
        "df AS (SELECT t, count(*) AS df FROM sh GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty " +
        "FROM sh JOIN df USING (t) GROUP BY 1 ORDER BY 1"),
    (s, dir) =>
      graft.text.CorpusPrep.ngramNovelty(Td(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
  )

  /** Misra-Gries heavy hitters under the gate, via its GUARANTEE (the
    * q_approx_distinct error-contract discipline): summary content is
    * partitioning-dependent, but every term with frequency > n/k MUST
    * be contained — so the gate emits the exact heavy-hitter list
    * (deterministic SQL on both sides) with a containment boolean the
    * Spark side computes against the sketch and the oracle states as
    * `true`. */
  val heavyHittersQ = Q(
    "q_heavy_hitters",
    Some(
      "WITH t2 AS (SELECT term FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS term FROM documents) " +
        "WHERE term <> ''), " +
        "cnt AS (SELECT term, count(*) AS cnt FROM t2 GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM t2) " +
        "SELECT term, cnt, true AS in_summary FROM cnt, n " +
        "WHERE cnt * 30 > n ORDER BY term"),
    (s, dir) => {
      val k = 30
      val toks = Td(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val summary = toks.agg(
        graft.functions.MisraGriesExpr(xxhash64(col("term")), k).as("s"))
      val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = toks.agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(total))
        .filter(col("cnt") * k > col("n"))
        .crossJoin(broadcast(summary))
        .select(col("term"), col("cnt"),
          exists(col("s"),
            e => e.getField("item") === xxhash64(col("term"))).as("in_summary"))
        .orderBy(col("term"))
    }
  )

  /** Sliding-window token chunking (context packing): every document
    * becomes overlapping 32-token windows every 24 tokens — the
    * document → training-sample transform. The oracle restates the
    * window arithmetic (chunk count, slice bounds, tail shortening)
    * in closed form, so an off-by-one in either the chunk count or
    * the slice start flips the hash. */
  val chunkQ = Q(
    "q_chunk",
    Some {
      val toks = s"string_split($normSql, ' ')"
      s"WITH t AS (SELECT doc_id, $toks AS toks, len($toks) AS n FROM documents), " +
        "c AS (SELECT doc_id, toks, n, CASE WHEN n <= 32 THEN 1 " +
        "ELSE CAST(ceil((n - 32) / 24.0) AS INT) + 1 END AS nc FROM t), " +
        "x AS (SELECT doc_id, toks, n, " +
        "unnest(generate_series(0, nc - 1)) AS i FROM c) " +
        "SELECT doc_id, i AS chunk_idx, i * 24 AS token_start, " +
        "array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text, " +
        "least(32, n - i * 24) AS n_tokens " +
        "FROM x ORDER BY doc_id, chunk_idx"
    },
    (s, dir) =>
      graft.text.Chunker.chunk(Td(s, dir, "documents"),
          "doc_id", "text", chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
  )

  /** Within-document repetition (a Gopher-style quality rule): the
    * count of word-bigram occurrences vs distinct bigrams, and a
    * 20%-duplicate flag — integer-only output so the compare never
    * touches engine double formatting. Distinct from `q_novelty`
    * (cross-corpus): this measures a document repeating ITSELF. */
  val repetitionQ = Q(
    "q_repetition",
    Some {
      val toks = s"string_split($normSql, ' ')"
      // all bigrams (NOT deduped — duplicates are the signal)
      val bi = s"CASE WHEN len($toks) >= 2 " +
        s"THEN list_transform(range(1, len($toks)), i -> array_to_string($toks[i:i+1], ' ')) " +
        s"ELSE [$normSql] END"
      s"WITH b AS (SELECT doc_id, $bi AS bi FROM documents) " +
        "SELECT doc_id, len(bi) AS n_bigrams, " +
        "len(list_distinct(bi)) AS n_distinct, " +
        "(len(bi) - len(list_distinct(bi))) * 5 > len(bi) AS is_repetitive " +
        "FROM b ORDER BY doc_id"
    },
    (s, dir) => {
      val bi = TextFunctions.shinglesFromTokens(col("__toks"), 2)
      Td(s, dir, "documents")
        .withColumn("__toks", TextFunctions.tokens(col("text")))
        .select(col("doc_id"), bi.as("__bi"))
        .select(col("doc_id"), size(col("__bi")).as("n_bigrams"),
          size(array_distinct(col("__bi"))).as("n_distinct"))
        .withColumn("is_repetitive",
          (col("n_bigrams") - col("n_distinct")) * 5 > col("n_bigrams"))
        .orderBy(col("doc_id"))
    }
  )

  /** PII redaction (graft.text.Redact): emails / IPv4 / phone numbers
    * scrubbed to typed tokens via chained codegen `regexp_replace`, in
    * the documented order, plus per-class audit counts on the raw
    * text. PII is PLANTED deterministically from doc_id on BOTH sides
    * (the synthetic corpus has none of its own), so the gate proves
    * the two engines redact byte-identically under the shared
    * RE2 ∩ java.util.regex pattern subset — scrub-equivalence is the
    * contract, not just "a replace ran". */
  val piiRedactQ = Q(
    "q_pii_redact",
    Some {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+?[0-9][0-9() -]{6,}[0-9]"
      "WITH p AS (SELECT doc_id, text || ' contact user' || doc_id || " +
        "'@example.com via 10.0.' || (doc_id % 256) || '.7 or tel +32 2 555 0' || " +
        "(doc_id % 100) || ' bye' AS t FROM documents) " +
        "SELECT doc_id, " +
        s"regexp_replace(regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'), " +
        s"'$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS redacted, " +
        s"CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ips, " +
        s"CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phones " +
        "FROM p ORDER BY doc_id"
    },
    (s, dir) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 or tel +32 2 555 0"),
        pmod(col("doc_id"), lit(100)).cast("string"), lit(" bye"))
      val counts = graft.text.Redact.piiCounts(col("__t"))
        .map { case (n, c) => c.cast("int").as(n) }
      Td(s, dir, "documents")
        .select(col("doc_id"), planted.as("__t"))
        .select(Seq(col("doc_id"),
          graft.text.Redact.redactPii(col("__t")).as("redacted")) ++ counts: _*)
        .orderBy(col("doc_id"))
    }
  )

  /** CCNet-style unigram LM quality score ([[graft.text.Relevance
    * .unigramNll]]): per-doc average negative log-likelihood under the
    * corpus's own unigram distribution — the cheap model-based quality
    * signal (rare/garbled text scores high). Same float discipline as
    * `q_tfidf`: both engines evaluate the identical ln expression over
    * the same integer counts; the score is rounded to 4dp for the hash
    * to guard the final ulp of ln/summation order across libms. */
  val lmScoreQ = Q(
    "q_lm_score",
    Some(
      "WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
        "WHERE term <> '' GROUP BY 1, 2), " +
        "cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1), " +
        "t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM cnt) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok, " +
        "round(sum(tf * -ln(cnt / t.t)) / sum(tf), 4) AS nll " +
        "FROM tf JOIN cnt USING (term) CROSS JOIN t GROUP BY doc_id ORDER BY 1"),
    (s, dir) =>
      graft.text.Relevance.unigramNll(
        Td(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tok"),
          round(col("nll"), 4).as("nll"))
        .orderBy(col("doc_id"))
  )

  val all: Seq[Q] = Seq(
    dedupExact, textStats, langIdQ, fingerprintQ, neardupMinhash,
    neardupMinhashSpanning, neardupMinhashDelta, minhashPersist,
    textDedupQ, neardupSimhash, neardupSimhashSpanning, neardupNgram,
    neardupNgramSpanning, decontaminateQ, decontaminateBloomQ,
    sampleStratified, mixSampleQ,
    packShardsQ, corpusStats, corpusPrep, corpusPrepNearDup,
    tfIdfTop, bm25Q, qualityScoreQ,
    fuzzyJoinQ, corpusPipeline, noveltyQ, heavyHittersQ, chunkQ,
    repetitionQ, piiRedactQ, lmScoreQ, repeatedSpansQ, spanClipQ)
}
