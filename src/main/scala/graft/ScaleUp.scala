package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for bench runs above the driver-provided
  * testdata: replicates the FACT tables `factor`× with key offsets
  * (dimension tables stay fixed — dims don't grow with fact data),
  * preserving the workload's *density* characteristics:
  *
  *  - keys are offset per copy so join fan-ins scale linearly;
  *  - document texts are stride-permuted per copy (distinct odd stride
  *    per copy, word multiset preserved) so shingle-based near-dup
  *    density stays ~linear — verbatim copies would instead form
  *    10-clone cliques and grow pair outputs quadratically, measuring a
  *    different (artificially adversarial) workload;
  *  - embeddings are cyclically rotated per copy — random-vector
  *    rotations are near-orthogonal, so ANN neighborhood sizes scale
  *    linearly too.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <dstDir> <factor>
  * [--clustered-embeddings[=K]]`.
  *
  * The optional clustered mode replaces the embeddings table's
  * rotation path with SYNTHESIZED Gaussian clusters: K seeded centers
  * (driver-side Random(4242), dim from the source), each output row
  * assigned to cluster `xxhash64(vec_id) mod K` and placed at
  * `center + σ·noise` (σ=0.3; noise via hash-derived Box–Muller, so
  * the corpus is a pure function of the ids — no runtime randomness).
  * Rationale: uniform/rotated embeddings are ANN's theory floor
  * (recall ≈ fraction scanned); real embedding corpora cluster, which
  * is the regime IVF's cells exist for — recall measured on a
  * clustered dir is the dial a user would actually see.
  */
object ScaleUp {

  /** Distinct odd strides per copy; copy 0 is the identity. The table
    * length is the max supported factor (extended 15 → 32 in round 10
    * for the 30× scale run). */
  private val strides =
    Array(1, 3, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53,
      59, 61, 67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113,
      127, 131, 137)

  private def copies(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(
      spark(df).range(factor.toLong).select(col("id").cast("int").as("__k")))

  private def spark(df: DataFrame) = df.sparkSession

  private def off(key: Column, k: Column, stride: Long): Column =
    key + k.cast("long") * stride

  /** Pseudo-permute the words of `text` with the copy's stride (word j
    * of the output is word (j*p mod n) of the input — not a bijection
    * when gcd(p, n) > 1, irrelevant for benching) AND tag every 5th
    * word with the copy index. The permutation destroys cross-copy
    * shingle adjacency; the tagging grows the shingle VOCABULARY with
    * the corpus (Heaps-law-like), keeping per-shingle posting lengths
    * ~flat. Without it the scaled corpus reuses one small shingle
    * vocabulary, posting lists grow ∝ corpus, and any posting-driven
    * join (set-similarity candidates ∝ Σ|posting|²) measures a
    * quadratic blowup that says nothing about real-corpus scaling. */
  private def permuteText(text: Column, k: Column): Column = {
    val w = split(text, " ")
    val p = element_at(lit(strides), k + 1).cast("long")
    when(k === 0 || size(w) <= 1, text).otherwise(
      array_join(
        transform(sequence(lit(0L), size(w).cast("long") - 1L),
          j => {
            val word = element_at(w,
              (pmod(j * p, size(w).cast("long")) + 1L).cast("int"))
            when(pmod(j, lit(5L)) === 0, concat(word, lit("~"), k))
              .otherwise(word)
          }),
        " "))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5,
      "usage: ScaleUp <srcDir> <dstDir> <factor> [--clustered-embeddings[=K]] " +
        "[--dim=N] (clustered mode REPLACES embeddings for all copies incl. " +
        "k=0 — writes a _CLUSTERED_EMBEDDINGS marker; embedding-recall " +
        "oracles don't apply to such dirs; --dim overrides the synthesized " +
        "vector dimension, e.g. 512/768 for the high-dim PQ-vs-IVF dial)")
    val Array(src, dst, factorS) = args.take(3)
    var clusteredK = 0
    var dimOverride = 0
    args.drop(3).foreach {
      case "--clustered-embeddings" => clusteredK = 100
      case s if s.startsWith("--clustered-embeddings=") =>
        clusteredK = s.stripPrefix("--clustered-embeddings=").toInt
      case s if s.startsWith("--dim=") =>
        dimOverride = s.stripPrefix("--dim=").toInt
        // 0 is the internal "unset" sentinel — a supplied flag must be
        // genuinely positive (0 would silently fall back to the
        // data-derived dim; negative would pass the clustered-mode
        // require and synthesize zero-length centroid rows).
        require(dimOverride > 0, s"--dim must be positive, got $s")
      case other => sys.error(s"unknown flag $other")
    }
    require(dimOverride == 0 || clusteredK > 0,
      "--dim only applies to --clustered-embeddings (synthesized vectors)")
    val factor = factorS.toInt
    require(factor >= 1 && factor <= strides.length, s"factor 1..${strides.length}")
    val s = graft.run.LocalSession.build(32, src)

    def rd(t: String) = s.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // key strides: larger than any source key so copies never collide —
    // documents/embeddings floor at 1e8, clear of the +1e6 planted-dup
    // id offset some batteries add (a collision would alias two distinct
    // docs under one id and corrupt per-id set sizes downstream). The
    // max-key term makes scaling NESTABLE: running ScaleUp on an
    // already-scaled dir (30× → ×3 = 90×, for near-100× curve points)
    // sees keys far above the floor and strides past them instead of
    // aliasing copy (k1=1,k2=0) with copy (k1=0,k2=1).
    // An empty source table yields max() = NULL — fall back to the
    // floor with the stride semantics intact instead of an opaque NPE.
    def keyCeil(t: String, c: String, floor: Long): Long = {
      val row = rd(t).agg(max(col(c)).cast("long")).head()
      if (row.isNullAt(0)) floor else math.max(floor, row.getLong(0) + 1)
    }
    val C = keyCeil("customer", "c_custkey", 10000000L)
    val O = keyCeil("orders", "o_orderkey", 100000000L)
    val D = keyCeil("documents", "doc_id", 100000000L)
    val E = keyCeil("embeddings", "vec_id", 100000000L)
    val EvId = keyCeil("events", "event_id", 100000000L)
    val EvUser = keyCeil("events", "user_id", 1000000L)

    val k = col("__k")
    wr(copies(rd("customer"), factor).select(
      off(col("c_custkey"), k, C).as("c_custkey"),
      when(k === 0, col("c_name"))
        .otherwise(concat(col("c_name"), lit(" x"), k)).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", factor * 2)

    wr(copies(rd("orders"), factor).select(
      off(col("o_orderkey"), k, O).as("o_orderkey"),
      off(col("o_custkey"), k, C).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      "orders", factor * 4)

    wr(copies(rd("lineitem"), factor).select(
      off(col("l_orderkey"), k, O).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")),
      "lineitem", factor * 8)

    wr(copies(rd("documents"), factor).select(
      off(col("doc_id"), k, D).as("doc_id"),
      permuteText(col("text"), k).as("text"),
      col("lang"), col("source"), col("n_chars")),
      "documents", factor * 2)

    if (clusteredK > 0) {
      val dim =
        if (dimOverride > 0) dimOverride
        else rd("embeddings").select(size(col("embedding"))).head().getInt(0)
      val rnd = new scala.util.Random(4242L)
      val centers = Array.fill(clusteredK, dim)(rnd.nextGaussian())
      val sigma = 0.3
      val sSess = s
      import sSess.implicits._
      val centersDf = centers.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq.toDF("cid", "center")
      // Hash-derived uniform in (0,1): deterministic per (id, dim).
      def u(h: Column): Column =
        (pmod(h, lit(1000000L)).cast("double") + 0.5) / 1000000.0
      val noise = transform(sequence(lit(0), lit(dim - 1)), j =>
        sqrt(lit(-2.0) * log(u(xxhash64(col("vec_id"), j, lit(1))))) *
          cos(lit(2.0 * math.Pi) * u(xxhash64(col("vec_id"), j, lit(2)))))
      val clustered = copies(rd("embeddings"), factor)
        .select(off(col("vec_id"), k, E).as("vec_id"), col("label"))
        .withColumn("cid",
          pmod(xxhash64(col("vec_id")), lit(clusteredK.toLong)).cast("int"))
        .join(broadcast(centersDf), Seq("cid"))
        .select(col("vec_id"),
          zip_with(col("center"), noise,
            (c, z) => (c + lit(sigma) * z).cast("float")).as("embedding"),
          col("label"))
      wr(clustered, "embeddings", factor * 2)
      // Mark the dir as carrying SYNTHESIZED embeddings: clustered mode
      // replaces the table for ALL copies (including k=0), so planted
      // near-dup structure from the source corpus is gone — recall
      // oracles that assume it (q_neardup_embedding and kin) are not
      // meaningful against this dir. The marker makes that visible on
      // disk instead of surfacing as a confusing oracle miss.
      val note =
        s"embeddings REPLACED by synthetic Gaussian clusters (K=$clusteredK, " +
          s"dim=$dim, sigma=0.3, seed 4242) for ANN recall dials. Source-corpus " +
          "planted embedding structure (e.g. near-dup pairs) is NOT " +
          "preserved; do not point embedding-recall oracles here.\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dst, "_CLUSTERED_EMBEDDINGS"),
        note.getBytes("UTF-8"))
    } else {
      wr(copies(rd("embeddings"), factor).select(
        off(col("vec_id"), k, E).as("vec_id"),
        when(k === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), k + 1, size(col("embedding")) - k),
            slice(col("embedding"), lit(1), k))).as("embedding"),
        col("label")),
        "embeddings", factor * 2)
    }

    // events: a stream fact — offset ids, keep the time axis
    wr(copies(rd("events"), factor).select(
      off(col("event_id"), k, EvId).as("event_id"),
      col("ts"),
      off(col("user_id"), k, EvUser).as("user_id"),
      col("event_type"), col("value"), col("props")),
      "events", factor * 4)

    // dimension tables ride along unchanged
    Seq("nation", "region", "supplier", "part").foreach { t =>
      wr(rd(t), t, 1)
    }
    s.stop()
  }
}
