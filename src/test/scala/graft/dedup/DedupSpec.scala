package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Near-dup/exact dedup semantics on planted fixtures. */
class DedupSpec extends SparkSuite {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"
  private val fixture = docs(
    1L -> base,
    2L -> base, // exact duplicate of 1
    3L -> base.replace("morning", "evening"), // near-duplicate of 1
    4L -> "completely different content about distributed query engines and shuffle partitioning strategies at scale",
    5L -> "Totally unrelated short text")

  test("exact dedup groups identical normalized content") {
    val out = Dedup.exact(fixture, "doc_id", "text").collect()
    val dupGroup = out.find(_.getAs[Long]("dup_cnt") == 2L)
    assert(dupGroup.isDefined)
    assert(dupGroup.get.getAs[Long]("keeper_id") == 1L)
    assert(out.length == 4) // 5 docs, one pair collapsed
  }

  test("exact dedup is normalization-insensitive (case/punct)") {
    val f = docs(1L -> "Hello,   World!", 2L -> "hello world", 3L -> "other")
    val out = Dedup.exact(f, "doc_id", "text").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("dup_cnt")).max == 2L)
  }

  test("minhash LSH finds planted near-dup, not unrelated docs") {
    val pairs = Dedup.minhashNearDup(fixture, "doc_id", "text",
      numHashes = 64, bands = 16, shingleK = 3, minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((1L, 2L))) // exact pair survives
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near pair bucketed
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(4L) })
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(5L) })
  }

  test("minhash jaccard is exact on the verified pairs") {
    val out = Dedup.minhashNearDup(fixture, "doc_id", "text",
      minJaccard = 0.0)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(out((1L, 2L)) == 1.0) // identical shingle sets
    assert(out((1L, 3L)) > 0.5 && out((1L, 3L)) < 1.0)
  }

  test("spanning near-dup: duplicate groups collapse to min-id stars at " +
    "J=1.0, candidate work shrinks to one rep per group, and the " +
    "transitive closure equals the full variant's") {
    // Three exact copies of doc 1 (a duplicate group of 4), a near-dup
    // of the group, and the usual distinct docs: the group's 6 full
    // pairs must become 3 star pairs, the near-dup must connect
    // through the representative, and the component labels must match
    // the full variant's exactly.
    // Degenerate-text coverage (premises verified against
    // NativeShingle.compute):
    //  - 9, 10: DISTINCT short docs (< shingleK tokens). The kernel's
    //    whole-text fallback gives each its OWN singleton shingle set,
    //    so they must stay pairless singletons in both variants — the
    //    empty-set collapse does not exist for short docs.
    //  - 11, 12: NULL-text docs (NULL shingle set). The full variant's
    //    NULL jaccard emits no pairs, but the rep window groups NULLs —
    //    the guard must keep them out of the star emission.
    //  - 13, 14: punct-only docs. Both normalize to "" and share the
    //    {hash("")} set, a REAL duplicate group: the full variant pairs
    //    them at exactly 1/1 = 1.0 and the spanning variant must too.
    val f = fixture.unionByName(docs(
      6L -> base, // exact duplicate of 1 and 2
      7L -> base, // exact duplicate of 1, 2, 6
      8L -> (base + " almost"),
      9L -> "too short",
      10L -> "tiny",
      11L -> null,
      12L -> null,
      13L -> "!!!",
      14L -> "???"))
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    val full = pairs(Dedup.minhashNearDup(f, "doc_id", "text",
      numHashes = 64, bands = 16, shingleK = 3, minJaccard = 0.5))
    val span = pairs(Dedup.minhashNearDupSpanning(f, "doc_id", "text",
      numHashes = 64, bands = 16, shingleK = 3, minJaccard = 0.5))
    // Stars: {1-2, 1-6, 1-7} plus the punct-only group's 13-14, at
    // exactly 1.0; the full variant has all 6 in-group pairs (+13-14).
    assert(span.filter(_._3 == 1.0).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 6L), (1L, 7L), (13L, 14L)))
    assert(full.filter(_._3 == 1.0).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 6L), (1L, 7L), (2L, 6L), (2L, 7L), (6L, 7L),
        (13L, 14L)))
    // Every spanning pair is a true full pair (subset, same jaccards).
    assert(span.subsetOf(full))
    // Short and null docs stay pairless singletons in BOTH variants.
    assert(!full.exists(p => Set(p._1, p._2).exists(Set(9L, 10L, 11L, 12L))))
    assert(!span.exists(p => Set(p._1, p._2).exists(Set(9L, 10L, 11L, 12L))))
    // Punct-only docs share the empty normalized text — a true
    // duplicate group in both variants, at exactly 1.0.
    assert(full.contains((13L, 14L, 1.0)) && span.contains((13L, 14L, 1.0)))
    // Transitive closures agree: identical component labels.
    val s = spark
    import s.implicits._
    def comps(ps: Set[(Long, Long, Double)]) =
      graft.graph.ConnectedComponents.run(
        f.select(col("doc_id").as("id")),
        ps.toSeq.map(p => (p._1, p._2)).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(span) === comps(full))
  }

  test("no CartesianProduct in the LSH plan") {
    val plan = Dedup.minhashNearDup(fixture, "doc_id", "text")
      .queryExecution.executedPlan
    val cartesian = plan.collect { case c: CartesianProductExec => c }
    assert(cartesian.isEmpty, "LSH candidate generation must be an equi-join")
  }

  test("simhash: identical docs hash equal, near docs within small hamming") {
    val h = Dedup.simhash(fixture, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(h(1L) == h(2L))
    val hamming13 = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(hamming13 <= 8, s"near-dup hamming was $hamming13")
    val hamming14 = java.lang.Long.bitCount(h(1L) ^ h(4L))
    assert(hamming14 > 8, s"unrelated hamming was $hamming14")
  }

  test("simhash near-dup pairs via chunk candidates") {
    val pairs = Dedup.simhashNearDup(fixture, "doc_id", "text", maxHamming = 8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(4L) })
  }

  test("simhash spanning: exact groups collapse to hamming-0 stars, " +
    "closure equals the full variant's, degenerate texts behave") {
    // Group of 3 exact copies (1, 2, 6) + a token-level near-dup (3,
    // within hamming of the group) + null texts (7, 8: the full
    // variant's token explode drops them — no pairs, no star group)
    // + punct-only texts (9, 10: both normalize to "", a TRUE
    // duplicate group both variants pair at hamming 0).
    val f = docs(
      1L -> base, 2L -> base, 6L -> base,
      3L -> base.replace("morning", "evening"),
      4L -> "completely different content about distributed query engines and shuffle partitioning strategies at scale",
      7L -> null, 8L -> null,
      9L -> "!!!", 10L -> "???")
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming"))).toSet
    val full = pairs(Dedup.simhashNearDup(f, "doc_id", "text", maxHamming = 8))
    val span = pairs(Dedup.simhashNearDupSpanning(f, "doc_id", "text",
      maxHamming = 8))
    // Stars: the group's 3 in-group pairs become 2; punct group 1.
    assert(span.filter(_._3 == 0).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 6L), (9L, 10L)))
    assert(full.filter(_._3 == 0).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 6L), (2L, 6L), (9L, 10L)))
    assert(span.subsetOf(full))
    // Null texts: pairless singletons in BOTH variants.
    assert(!full.exists(p => Set(p._1, p._2).exists(Set(7L, 8L))))
    assert(!span.exists(p => Set(p._1, p._2).exists(Set(7L, 8L))))
    // Above hamming 3 the 4-chunk pigeonhole is heuristic: the
    // spanning variant recovers the near-dup (via its rep) EXACTLY
    // when the full variant does, and never through a non-rep member.
    assert(span.exists(p => (p._1, p._2) == (1L, 3L)) ===
      full.exists(p => (p._1, p._2) == (1L, 3L)))
    assert(!span.exists(p => (p._1, p._2) == (2L, 3L)))
    val s = spark
    import s.implicits._
    def comps(ps: Set[(Long, Long, Int)]) =
      graft.graph.ConnectedComponents.run(
        f.select(col("doc_id").as("id")),
        ps.toSeq.map(p => (p._1, p._2)).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(span) === comps(full))
  }

  test("spanning closure equality holds on a seeded random corpus with " +
    "planted groups, short docs, empty docs, and nulls — all 3 engines") {
    val s = spark
    import s.implicits._
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "the", "of", "and")
    val rnd = new scala.util.Random(20260815L)
    def doc() = Seq.fill(8 + rnd.nextInt(20))(words(rnd.nextInt(words.length)))
      .mkString(" ")
    // 24 base docs; docs 0-2 get a duplicate group of 4 each; plus a
    // mutated satellite per group; plus the degenerate band.
    val bases = Seq.tabulate(24)(i => (i.toLong, doc()))
    val groups = (0 until 3).flatMap { g =>
      val t = bases(g)._2
      (1 to 3).map(c => (100L + g * 10 + c, t)) :+
        (200L + g, t + " extra tail words here")
    }
    val degenerate = Seq(
      (300L, "hi"), (301L, "yo"),          // short: singleton sets
      (302L, ""), (303L, "!!!"),           // empty-normalized group
      (304L, null.asInstanceOf[String]), (305L, null.asInstanceOf[String]))
    val f = (bases ++ groups ++ degenerate).toDF("doc_id", "text")
      .localCheckpoint()
    def labels(pairs: DataFrame) =
      graft.graph.ConnectedComponents.run(
        f.select(col("doc_id").as("id")),
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def check(engine: String, full: DataFrame, span: DataFrame): Unit = {
      assert(labels(span) === labels(full), s"$engine closures diverge")
      // NULL-text docs must be pairless in both.
      val sp = span.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fu = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sp.subsetOf(fu), s"$engine spanning pairs not a subset")
      assert(!fu.exists(p => Set(p._1, p._2).exists(Set(304L, 305L))),
        s"$engine full paired a null-text doc")
      assert(!sp.exists(p => Set(p._1, p._2).exists(Set(304L, 305L))),
        s"$engine spanning paired a null-text doc")
    }
    check("minhash",
      Dedup.minhashNearDup(f, "doc_id", "text", minJaccard = 0.5),
      Dedup.minhashNearDupSpanning(f, "doc_id", "text", minJaccard = 0.5))
    check("ngram",
      Dedup.ngramJaccardNearDup(f, "doc_id", "text", minJaccard = 0.5),
      Dedup.ngramJaccardNearDupSpanning(f, "doc_id", "text", minJaccard = 0.5))
    check("simhash",
      Dedup.simhashNearDup(f, "doc_id", "text", maxHamming = 3),
      Dedup.simhashNearDupSpanning(f, "doc_id", "text", maxHamming = 3))
  }

  test("textDedup: one row per cluster, highest-score keeper, " +
    "singletons (including null-text) keep themselves") {
    val s = spark
    import s.implicits._
    // Group {1, 2, 3} (exact copies; 2 has the top score), near-dup 4
    // joins the cluster; 5 unrelated; 6 null text.
    val f = docs(1L -> base, 2L -> base, 3L -> base,
      4L -> base.replace("morning", "evening"),
      5L -> "completely different content about distributed query engines",
      6L -> null)
    val scores = Seq(1L -> 10, 2L -> 99, 3L -> 10, 4L -> 50, 5L -> 7,
      6L -> 1).toDF("doc_id", "quality")
    val out = Dedup.textDedup(f, "doc_id", "text", scores, "quality",
        minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("component"), r.getAs[Int]("quality"))).toSet
    // Cluster {1,2,3,4} labeled by min id 1, keeper = 2 (score 99);
    // 5 and 6 are their own keepers.
    assert(out === Set((2L, 1L, 99), (5L, 5L, 7), (6L, 6L, 1)))
  }

  test("ngram spanning: exact groups collapse to J=1.0 stars, closure " +
    "equals the full (100%-recall) variant's") {
    val f = fixture.unionByName(docs(
      6L -> base, 7L -> base, // group of 4 with 1, 2
      8L -> (base + " almost"),
      9L -> null, 10L -> null, // NULL shingle sets: no pairs anywhere
      11L -> "!!!", 12L -> "???")) // shared {hash("")}: true dup group
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    val full = pairs(Dedup.ngramJaccardNearDup(f, "doc_id", "text",
      shingleK = 3, minJaccard = 0.5))
    val span = pairs(Dedup.ngramJaccardNearDupSpanning(f, "doc_id", "text",
      shingleK = 3, minJaccard = 0.5))
    assert(span.filter(_._3 == 1.0).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 6L), (1L, 7L), (11L, 12L)))
    assert(full.filter(_._3 == 1.0).map(p => (p._1, p._2)) ===
      Set((1L, 2L), (1L, 6L), (1L, 7L), (2L, 6L), (2L, 7L), (6L, 7L),
        (11L, 12L)))
    assert(span.subsetOf(full))
    assert(!full.exists(p => Set(p._1, p._2).exists(Set(9L, 10L))))
    assert(!span.exists(p => Set(p._1, p._2).exists(Set(9L, 10L))))
    val s = spark
    import s.implicits._
    def comps(ps: Set[(Long, Long, Double)]) =
      graft.graph.ConnectedComponents.run(
        f.select(col("doc_id").as("id")),
        ps.toSeq.map(p => (p._1, p._2)).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(span) === comps(full))
  }

  test("ngram-jaccard prefix filter finds EVERY pair at threshold, " +
    "verifies exactly, and never cross-products") {
    val out = Dedup.ngramJaccardNearDup(fixture, "doc_id", "text",
      shingleK = 3, minJaccard = 0.5)
    val pairs = out.collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    // 100% recall: both the exact pair and the near pair MUST be found
    // (not just bucketed with high probability, as in the LSH entries)
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)))
    assert(pairs((1L, 3L)) >= 0.5 && pairs((1L, 3L)) < 1.0)
    assert(pairs.contains((2L, 3L))) // transitive twin of the near pair
    assert(!pairs.keySet.exists { case (x, y) => Set(x, y).contains(4L) })
    assert(!pairs.keySet.exists { case (x, y) => Set(x, y).contains(5L) })
    val cartesian = out.queryExecution.executedPlan
      .collect { case c: CartesianProductExec => c }
    assert(cartesian.isEmpty, "prefix-filter candidates must be an equi-join")
  }

  test("ngram self-join equals the cross join of a corpus with itself") {
    // 12 identical all-boilerplate docs plus one rare pair (1,2) whose
    // shingles appear in exactly two docs. Joined with itself, every
    // document frequency doubles, so both joins see the same token
    // order.
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val rare = "unique one two three four five six seven"
    val f = docs(
      (Seq(1L -> rare, 2L -> rare) ++
        (3L to 14L).map(_ -> boiler)): _*)
    val self = Dedup.ngramJaccardNearDup(f, "doc_id", "text",
      shingleK = 3, minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    val cross = Dedup.crossJaccardJoin(f, f, "doc_id", "text",
      "doc_id", "text", shingleK = 3, minJaccard = 0.5)
      .filter(col("id_l") < col("id_r"))
      .collect()
      .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"),
        r.getAs[Double]("jaccard"))).toSet
    // exact recall: the rare pair + all C(12,2) = 66 boiler pairs
    assert(self.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(self.size == 1 + 66)
    assert(self === cross)
    // across two corpora: the rare left/right pair + all 6×6 boiler pairs
    val left = docs((Seq(1L -> rare) ++ (3L to 8L).map(_ -> boiler)): _*)
      .withColumnsRenamed(Map("doc_id" -> "lid", "text" -> "ltext"))
    val right = docs((Seq(101L -> rare) ++ (103L to 108L).map(_ -> boiler)): _*)
      .withColumnsRenamed(Map("doc_id" -> "rid", "text" -> "rtext"))
    val twoSided = Dedup.crossJaccardJoin(left, right, "lid", "ltext", "rid", "rtext",
      shingleK = 3, minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r")))
      .toSet
    assert(twoSided.contains((1L, 101L)))
    assert(twoSided.size == 1 + 36)
  }

  test("embedding near-dup multi-probe recovers a near-boundary pair") {
    // Find (driver-side, deterministically) a high-cosine pair whose LSH
    // buckets differ in EXACTLY one bit: single-probe bucketing must
    // miss it, multi-probe must find it. Hyperplanes regenerated with
    // the same seeded formula as Similarity.hyperplanes.
    val planes = 8; val dim = 16; val seed = 42L
    val hp = { val r = new scala.util.Random(seed)
      Array.fill(planes, dim)(r.nextGaussian()) }
    def bucket(v: Array[Float]): Long =
      hp.zipWithIndex.map { case (w, i) =>
        if (v.zip(w).map { case (x, y) => x * y }.sum > 0) 1L << i else 0L
      }.reduce(_ | _)
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val rnd = new scala.util.Random(7L)
    val found = Iterator.continually {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val u = v.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
      (v, u)
    }.take(5000).find { case (v, u) =>
      java.lang.Long.bitCount(bucket(v) ^ bucket(u)) == 1 && cosine(v, u) >= 0.95
    }
    assert(found.isDefined, "no near-boundary pair in 5000 draws")
    val (v, u) = found.get
    val s = spark
    import s.implicits._
    val df = Seq((1L, v.toSeq), (2L, u.toSeq)).toDF("doc_id", "embedding")
    val pairs =
      Dedup.embeddingNearDup(df, "doc_id", "embedding", dim = dim,
        minCosine = 0.95, planes = planes, seed = seed)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)),
      "multi-probe must recover a 1-bit-apart pair")
  }

  test("embedding spanning near-dup: identical vectors collapse to " +
    "stars, closure equals the full variant's") {
    val s = spark
    import s.implicits._
    val dim = 8
    val rnd = new scala.util.Random(11L)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val v1 = vec()
    val near = v1.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
    // ids 1-3 identical (a group of 3), 4 a near-dup of the group,
    // 5-8 unrelated, 9-10 byte-identical ZERO vectors (NULL cosine),
    // 11-12 byte-identical NaN-COMPONENT vectors (NaN cosine — and
    // Spark's nan-safe ordering makes NaN >= t TRUE, so both engines
    // need their explicit !isnan guards): no pairs for either
    // degenerate class in either variant.
    val zero = Array.fill(dim)(0f)
    val nanv = v1.updated(0, Float.NaN)
    // 13-14: byte-identical Inf-COMPONENT vectors — sq = Inf passes a
    // bare `> 0` test, but the full variant computes cos = Inf/Inf =
    // NaN and drops the pair, so the spanning filter must require a
    // FINITE norm or it mints cos=1.0 stars the full closure lacks.
    val infv = v1.updated(1, Float.PositiveInfinity)
    val rows = Seq(1L -> v1, 2L -> v1, 3L -> v1, 4L -> near) ++
      (5L to 8L).map(_ -> vec()) ++
      Seq(9L -> zero, 10L -> zero, 11L -> nanv, 12L -> nanv,
        13L -> infv, 14L -> infv)
    val df = rows.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    def pairs(f: => org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val full = pairs(Dedup.embeddingNearDup(df, "vec_id", "embedding",
      dim = dim, minCosine = 0.99, planes = 8))
    val span = pairs(Dedup.embeddingNearDupSpanning(df, "vec_id", "embedding",
      dim = dim, minCosine = 0.99, planes = 8))
    // Stars replace the group's 3 in-group pairs; the near-dup
    // connects via the representative only.
    assert(span.contains((1L, 2L)) && span.contains((1L, 3L)))
    assert(!span.contains((2L, 3L)) && full.contains((2L, 3L)))
    assert(span.contains((1L, 4L)) && !span.contains((2L, 4L)))
    // Zero-norm, NaN-component AND Inf-component vectors stay pairless
    // singletons in BOTH variants — a NaN vector must neither star
    // with its twin nor (the NaN >= t trap) pair with every
    // co-bucketed vector, and an Inf vector's cos is Inf/Inf = NaN in
    // the full variant, so the spanning side must not star it either.
    val degenerate = Set(9L, 10L, 11L, 12L, 13L, 14L)
    assert(!full.exists(p => Set(p._1, p._2).exists(degenerate)))
    assert(!span.exists(p => Set(p._1, p._2).exists(degenerate)))
    def comps(ps: Set[(Long, Long)]) =
      graft.graph.ConnectedComponents.run(
        df.select(col("vec_id").as("id")),
        ps.toSeq.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(span) === comps(full))
  }

  test("crossJaccardJoin matches brute-force pairs and jaccards exactly") {
    val s = spark
    import s.implicits._
    import graft.text.TextFunctions
    val words = Array("spark", "table", "join", "scan", "row", "hash",
      "filter", "batch", "agg", "sort", "key", "part")
    val rnd = new scala.util.Random(17)
    def doc() = Seq.fill(12 + rnd.nextInt(10))(words(rnd.nextInt(words.length)))
      .mkString(" ")
    val leftRows = Seq.tabulate(30)(i => (i.toLong, doc()))
    // right: mutations of some left docs + fresh ones
    val rightRows = Seq.tabulate(30) { i =>
      val base = leftRows(rnd.nextInt(30))._2
      val text = if (i % 2 == 0) base.substring(math.min(6, base.length)) else doc()
      (100L + i, text)
    }
    val left = leftRows.toDF("lid", "ltext")
    val right = rightRows.toDF("rid", "rtext")
    val got = Dedup.crossJaccardJoin(left, right, "lid", "ltext", "rid", "rtext",
      minJaccard = 0.6)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // brute force over string shingle sets
    def sh(t: String): Set[String] = {
      val toks = t.split(" ").toSeq
      if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val brute = (for {
      (lid, lt) <- leftRows; (rid, rt) <- rightRows
      o = (sh(lt) & sh(rt)).size
      j = o.toDouble / (sh(lt).size + sh(rt).size - o)
      if j >= 0.6
    } yield (lid, rid) -> j).toMap
    assert(got.keySet === brute.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - brute(k)) < 1e-12, k) }
  }

  test("repeatedSpans finds the shared run, merges overlapping windows, " +
    "and ignores within-doc-only repetition") {
    val s = spark
    import s.implicits._
    // Docs 1 and 2 share the 6-token run "p q r s t u" embedded at
    // different offsets; doc 3 repeats its own phrase but shares
    // nothing cross-doc; doc 4 is unique filler.
    val docs = Seq(
      (1L, "a b c p q r s t u d e f"),
      (2L, "x y p q r s t u z w v k"),
      (3L, "m n o m n o m n o m n o"),
      (4L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Long]("n_grams")))
    // The shared run is 6 tokens = 4 overlapping 3-gram windows,
    // merged into ONE span per doc at that doc's own offset.
    assert(spans.toSet === Set((1L, 3, 8, 4L), (2L, 2, 7, 4L)))
    // Doc 3's self-repetition (single doc) and doc 4 produce nothing:
    // the dup set requires ≥2 DISTINCT docs.
    assert(!spans.exists(s => s._1 == 3L || s._1 == 4L))
  }

  test("clipSpans removes exactly the covered tokens, flags " +
    "over-coverage docs, and passes span-free docs through") {
    // Docs 1/2 share a 6-token run (k=3 spans); doc 3 shares nothing.
    val fix = docs(
      1L -> "a b c p q r s t u d e f",
      2L -> "x y p q r s t u z w v k",
      3L -> "one two three four five six seven eight nine")
    val spans = Dedup.repeatedSpans(fix, "doc_id", "text", k = 3, minDocs = 2)
    val out = Dedup.clipSpans(fix, spans, "doc_id", "text", maxCoverage = 0.49)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("n_cov"),
          r.getAs[Boolean]("kept"), r.getAs[String]("text_clipped")))).toMap
    // Span in doc 1 covers positions 3..8 (p q r s t u): 6 of 12.
    assert(out(1L) === ((12L, 6L, false, "a b c d e f")))
    assert(out(2L) === ((12L, 6L, false, "x y z w v k")))
    assert(out(3L) === ((9L, 0L, true,
      "one two three four five six seven eight nine")))
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id")))
      .toSet

  test("minhash index: delta pairs find planted near-dups without " +
    "corpus rescans, and match the full-corpus operator") {
    val model = Dedup.minhashBuild(fixture, "doc_id", "text",
      numHashes = 64, bands = 16, shingleK = 3)
    // Delta: a near-dup of doc 1 (word swap) + an unrelated doc.
    val delta = docs(
      10L -> base.replace("morning", "afternoon"),
      11L -> "nothing in common with anything indexed so far at all")
    val found = pairsOf(
      Dedup.minhashDeltaPairs(model, delta, "doc_id", "text",
        minJaccard = 0.5))
    assert(found.contains((10L, 1L)) && found.contains((10L, 2L)))
    assert(!found.exists(_._1 == 11L))
    // Cross-check against the batch operator over the combined corpus:
    // every delta×corpus pair it finds, the index path finds too.
    val batch = Dedup.minhashNearDup(fixture.unionByName(delta),
      "doc_id", "text", numHashes = 64, bands = 16, shingleK = 3,
      minJaccard = 0.5)
      .filter(col("id_b") >= 10L && col("id_a") < 10L)
      .collect()
      .map(r => (r.getAs[Long]("id_b"), r.getAs[Long]("id_a"))).toSet
    assert(batch.subsetOf(found))
  }

  test("minhash index: re-fed ids don't self-match, extend is " +
    "idempotent and extended docs become findable") {
    val model = Dedup.minhashBuild(fixture, "doc_id", "text")
    // Re-feeding an indexed doc reports its duplicates, not itself.
    val refed = pairsOf(
      Dedup.minhashDeltaPairs(model, fixture.filter(col("doc_id") === 1L),
        "doc_id", "text", minJaccard = 0.5))
    assert(refed.contains((1L, 2L)) && !refed.contains((1L, 1L)))
    val delta = docs(10L -> base.replace("morning", "afternoon"))
    val extended = Dedup.minhashExtend(model, delta, "doc_id", "text")
    assert(extended.sets.count() === fixture.count() + 1)
    // Extending again with the same id is a no-op (anti-join guard):
    // no duplicate bucket/set rows, so no verify-join fan-out later.
    val again = Dedup.minhashExtend(extended, delta, "doc_id", "text")
    assert(again.sets.count() === extended.sets.count())
    assert(again.buckets.count() === extended.buckets.count())
    // A later delta near-dup of doc 10 finds it in the extended index.
    val d2 = docs(20L -> base.replace("morning", "afternoon")
      .replace("cat", "kitten"))
    val found = pairsOf(
      Dedup.minhashDeltaPairs(extended, d2, "doc_id", "text",
        minJaccard = 0.5))
    assert(found.contains((20L, 10L)))
  }

  test("clipSpans clips the ORIGINAL text: casing/punct survive, a " +
    "dropped run takes its trailing separator, no-span docs pass " +
    "byte-identical") {
    val s = spark
    import s.implicits._
    // Raw alnum runs of doc 1: Foo(0) bar(1) Baz(2) qux(3) 42(4) end(5)
    // — aligned 1:1 with the normalized tokens "foo bar baz qux 42 end".
    val fix = docs(
      1L -> "Foo, bar! Baz-qux 42; end.",
      2L -> "UNTOUCHED (casing & punct...) must survive VERBATIM!",
      3L -> "A, b! c")
    val spans = Seq(
      (1L, 2L, 3L), // doc 1: drop Baz, qux
      (3L, 0L, 0L), // doc 3: drop the FIRST run
      (3L, 2L, 2L)  // ... and the last
    ).toDF("id", "span_start", "span_end")
    val out = Dedup.clipSpans(fix, spans, "doc_id", "text", maxCoverage = 0.5)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("n_cov"),
          r.getAs[Double]("coverage"), r.getAs[Boolean]("kept"),
          r.getAs[String]("text_clipped")))).toMap
    // Dropped runs take their trailing separators ("Baz-" and "qux ");
    // the kept runs keep casing, digits and their own punctuation.
    assert(out(1L) === ((6L, 2L, 2.0 / 6, true, "Foo, bar! 42; end.")))
    // No spans → byte-identical passthrough, never re-normalized.
    assert(out(2L)._5 === "UNTOUCHED (casing & punct...) must survive VERBATIM!")
    assert(out(2L)._4 === true)
    // First run dropped: its trailing ", " goes with it; last run
    // dropped: the separator BEFORE it stays (trailing-attachment rule).
    assert(out(3L) === ((3L, 2L, 2.0 / 3, false, "b! ")))
  }

  test("clipSpans empty/whitespace/null docs: n_tok 0, coverage " +
    "DEFINED as 0.0, kept true — never a silent null-drop") {
    val s = spark
    import s.implicits._
    val fix = Seq((1L, ""), (2L, "!!! ..."), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val spans = Seq.empty[(Long, Long, Long)]
      .toDF("id", "span_start", "span_end")
    val out = Dedup.clipSpans(fix, spans, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Double]("coverage"),
          r.getAs[Boolean]("kept"), r.getAs[String]("text_clipped")))).toMap
    assert(out(1L) === ((0L, 0.0, true, "")))
    assert(out(2L) === ((0L, 0.0, true, "!!! ..."))) // byte-identical
    assert(out(3L)._1 === 0L && out(3L)._2 === 0.0 && out(3L)._3 === true)
    assert(out(3L)._4 === null)
  }

  test("minhash build dedupes ids; extend tracks growth and flips " +
    "needsRebuild past parity without counting re-feeds") {
    // Duplicate id at build collapses (the extend contract holds at
    // build too — a doubled id would fan out every later verify join).
    val dup = Dedup.minhashBuild(
      fixture.unionByName(fixture.filter(col("doc_id") === 1L)),
      "doc_id", "text")
    assert(dup.builtN === 5L && dup.sets.count() === 5L)

    val model = Dedup.minhashBuild(fixture, "doc_id", "text")
    assert(model.builtN === 5L && model.extendedN === 0L && !model.needsRebuild)
    val e1 = Dedup.minhashExtend(model, docs(
      10L -> "ten unique words here nothing shared with any other row",
      11L -> "eleven other tokens forming an entirely distinct document body",
      12L -> "twelve more filler phrases keeping this corpus strictly novel",
      13L -> "thirteen closing sentences that resemble no indexed content"),
      "doc_id", "text")
    assert(e1.extendedN === 4L && !e1.needsRebuild) // 4 ≤ 5
    val e2 = Dedup.minhashExtend(e1, docs(
      14L -> "fourteen fresh words once again disjoint from everything",
      15L -> "fifteen final unrelated tokens to push the index past parity"),
      "doc_id", "text")
    assert(e2.extendedN === 6L && e2.needsRebuild) // 6 > 5
    // Re-feeding already-indexed ids is a no-op for the counter too.
    val e3 = Dedup.minhashExtend(e2, docs(
      14L -> "fourteen fresh words once again disjoint from everything"),
      "doc_id", "text")
    assert(e3.extendedN === 6L)
  }

  test("ingestion loop across batches: each batch dedups against ALL " +
    "prior admissions (build → extend → extend chain)") {
    val novelA = "alpha corpus addition with plenty of distinctive language inside it for shingles"
    val novelB = "beta follow-up document whose wording overlaps nothing indexed before this point"
    var model = Dedup.minhashBuild(fixture, "doc_id", "text")
    // batch 1: novel A arrives — no pairs, admitted
    val b1 = docs(10L -> novelA)
    assert(pairsOf(Dedup.minhashDeltaPairs(model, b1, "doc_id", "text",
      minJaccard = 0.5)).isEmpty)
    model = Dedup.minhashExtend(model, b1, "doc_id", "text")
    // batch 2: novel B + a near-dup of A — the dup is visible ONLY
    // through batch 1's admission
    val b2 = docs(20L -> novelB,
      21L -> novelA.replace("alpha", "gamma"))
    val p2 = pairsOf(Dedup.minhashDeltaPairs(model, b2, "doc_id", "text",
      minJaccard = 0.5))
    assert(p2.contains((21L, 10L)) && !p2.exists(_._1 == 20L))
    model = Dedup.minhashExtend(model,
      b2.filter(col("doc_id") === 20L), "doc_id", "text")
    // batch 3: near-dups of B (batch-2 admission), of A (batch-1
    // admission) AND of an original build doc — all three generations
    // of the index answer in one delta call
    val p3 = pairsOf(Dedup.minhashDeltaPairs(model, docs(
      30L -> novelB.replace("beta", "delta"),
      31L -> novelA.replace("plenty", "loads"),
      32L -> base.replace("morning", "noon")),
      "doc_id", "text", minJaccard = 0.5))
    assert(p3.contains((30L, 20L)))
    assert(p3.contains((31L, 10L)))
    assert(p3.exists { case (d, c) => d == 32L && (c == 1L || c == 2L) })
    // the near-dup of A admitted in batch 2? it was NOT extended (21
    // was a dup) — so nothing matches against id 21
    assert(!p3.exists(_._2 == 21L))
  }

  test("minhash index save/load round trip: geometry and delta pairs " +
    "identical") {
    val model = Dedup.minhashBuild(fixture, "doc_id", "text",
      numHashes = 32, bands = 8, shingleK = 3)
    val dir = java.nio.file.Files.createTempDirectory("minhash_idx")
    try {
      Dedup.minhashSave(model, dir.toString)
      val loaded = Dedup.minhashLoad(spark, dir.toString)
      assert(loaded.numHashes === 32 && loaded.bands === 8 &&
        loaded.shingleK === 3 && loaded.idCol === "doc_id")
      // the rebuild-trigger baseline survives the round trip
      assert(loaded.builtN === model.builtN &&
        loaded.extendedN === 0L && !loaded.needsRebuild)
      val delta = docs(10L -> base.replace("morning", "afternoon"))
      val orig = pairsOf(Dedup.minhashDeltaPairs(model, delta,
        "doc_id", "text", minJaccard = 0.5))
      val rt = pairsOf(Dedup.minhashDeltaPairs(loaded, delta,
        "doc_id", "text", minJaccard = 0.5))
      assert(rt === orig && rt.contains((10L, 1L)))
    } finally {
      import java.nio.file.{Files, Path}
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  test("ingestion-loop crash recovery: save the EXTENDED index, load " +
    "in a fresh model, and the next batch decides identically " +
    "(trigger state included)") {
    // The operational composition behind the streaming loop's
    // "restart-safe via minhashSave/Load" claim: an index that has
    // absorbed deltas round-trips with its extended content AND its
    // rebuild-trigger counters, so a resumed loop neither re-admits
    // nor forgets anything and the trigger fires on the same schedule.
    val d1 = docs(
      10L -> "alpha corpus addition with plenty of distinctive language inside it for shingles",
      11L -> "beta follow-up document whose wording overlaps nothing indexed before this point")
    val extended = Dedup.minhashExtend(
      Dedup.minhashBuild(fixture, "doc_id", "text"), d1, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("minhash_ext_idx")
    try {
      Dedup.minhashSave(extended, dir.toString)
      val resumed = Dedup.minhashLoad(spark, dir.toString)
      assert(resumed.builtN === extended.builtN &&
        resumed.extendedN === extended.extendedN)
      val probe = docs(
        20L -> base.replace("morning", "afternoon"),
        21L -> "alpha corpus addition with plenty of distinctive language inside it for shingle")
      def full(df: DataFrame) =
        df.collect().map(r => (r.getAs[Long]("delta_id"),
          r.getAs[Long]("corpus_id"), r.getAs[Double]("jaccard"))).toSet
      val live = full(Dedup.minhashDeltaPairs(extended, probe,
        "doc_id", "text", minJaccard = 0.5))
      val rec = full(Dedup.minhashDeltaPairs(resumed, probe,
        "doc_id", "text", minJaccard = 0.5))
      assert(rec === live)
      assert(rec.exists(_._2 == 10L)) // the extended region survived the crash
    } finally {
      import java.nio.file.{Files, Path}
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally st.close()
    }
  }

  test("rebuild decision invariance: build-over-union and " +
    "extend-by-parts produce IDENTICAL delta pairs (ids and jaccard)") {
    // The contract q_stream_ingest_rebuild gates on streaming data:
    // swapping an extended index for a fresh build over the same docs
    // must not change a single dedup decision — MinHash signatures are
    // deterministic functions of (text, geometry).
    val d1 = docs(
      10L -> "alpha corpus addition with plenty of distinctive language inside it for shingles",
      11L -> "beta follow-up document whose wording overlaps nothing indexed before this point")
    val extended = Dedup.minhashExtend(
      Dedup.minhashBuild(fixture, "doc_id", "text"), d1, "doc_id", "text")
    val rebuilt = Dedup.minhashBuild(fixture.unionByName(d1), "doc_id", "text")
    val probe = docs(
      20L -> base.replace("morning", "afternoon"), // near-dup of 1/2
      21L -> "alpha corpus addition with plenty of distinctive language inside it for shingle", // near-dup of 10
      22L -> "wholly novel text matching absolutely nothing in the standing index")
    def full(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("delta_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Double]("jaccard"))).toSet
    val pe = full(Dedup.minhashDeltaPairs(extended, probe, "doc_id", "text",
      minJaccard = 0.5))
    val pr = full(Dedup.minhashDeltaPairs(rebuilt, probe, "doc_id", "text",
      minJaccard = 0.5))
    assert(pe === pr)
    assert(pe.exists(_._2 == 10L)) // the extended region is decidable
    assert(pe.exists(p => p._2 == 1L || p._2 == 2L))
  }

  test("unicode clip alignment: runs follow the lower()-image pattern " +
    "('K' Kelvin joins a run, 'İ' closes one), matching normalize") {
    val s = spark
    import s.implicits._
    // "Kelvin K test": normalize → "kelvin k test" (the Kelvin sign
    // U+212A lowercases to ASCII 'k') — three tokens. An ASCII-only
    // scanner saw two runs and shifted every span after it.
    // "Aİ b c": 'İ' U+0130 lowercases to "i̇" (token char + combining
    // dot → separator), so 'A'+'İ' form ONE run that 'İ' also closes:
    // tokens are [ai, b, c].
    val fix = docs(
      1L -> "Kelvin K test",
      2L -> "Aİ b c",
      3L -> "café résumé") // é lowers to é → separator: [caf, r, sum]
    val spans = Seq(
      (1L, 1L, 1L), // drop the Kelvin-sign token
      (2L, 0L, 0L), // drop the 'Aİ' run (takes its trailing space)
      (3L, 2L, 2L)  // drop "sum" — é boundaries must align
    ).toDF("id", "span_start", "span_end")
    val out = Dedup.clipSpans(fix, spans, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[String]("text_clipped")))).toMap
    assert(out(1L) === ((3L, "Kelvin test")))
    assert(out(2L) === ((3L, "b c")))
    assert(out(3L) === ((3L, "café ré")))
  }

  test("token_run_count == token count of normalize(text) for " +
    "mixed-script inputs (the shared-classifier contract)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val strs = Seq(
      "", "!!! ...", "plain ascii text 123",
      "Kelvin K test", "Aİ b c", "İİİ",
      "café résumé naïve",
      "漢字 and ascii", "ẞ sharp", "ábc combining",
      "ＡＢＣ fullwidth", "Σigma ΣΣ ΒΣ",
      "٣٤٥ 123", "  leading and trailing  ",
      "xKy mid-run kelvin", "İstart and endİ")
    val out = strs.toDF("text").select(
      graft.functions.TokenRunCountExpr(col("text")).as("n"),
      size(filter(split(graft.text.TextFunctions.normalize(col("text")), " "),
        t => length(t) > 0)).as("m"),
      col("text")).collect()
    out.foreach { r =>
      assert(r.getAs[Int]("n") === r.getAs[Int]("m"),
        s"run count diverged from normalize tokens on '${r.getAs[String]("text")}'")
    }
  }

  test("unicode clip ↔ token removal equivalence: clipping span (i,i) " +
    "removes exactly the i-th normalized token") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "Kelvin K test", "Aİ b c", "xKy mid kelvin run",
      "café résumé naïve words", "mixed 42 漢 digits 7x")
    // normalize via the REAL Spark expression (not a Scala re-derivation)
    def toks(x: String): Seq[String] =
      Seq(x).toDF("text")
        .select(filter(split(graft.text.TextFunctions.normalize(col("text")), " "),
          v => length(v) > 0).as("tk"))
        .head().getAs[scala.collection.Seq[String]]("tk").toSeq
    for (t <- texts) {
      val want = toks(t)
      for (i <- want.indices) {
        val spans = Seq((1L, i.toLong, i.toLong))
          .toDF("id", "span_start", "span_end")
        val clipped = Dedup.clipSpans(docs(1L -> t), spans, "doc_id", "text")
          .head().getAs[String]("text_clipped")
        assert(toks(clipped) === want.zipWithIndex.filter(_._2 != i).map(_._1),
          s"clipping token $i of '$t' gave '$clipped'")
      }
    }
  }

  test("md5Hash64 is the md5 hex prefix convention any engine can " +
    "reproduce, and simhash accepts it as a token-hash family") {
    val s = spark
    import s.implicits._
    for (t <- Seq("abc", "", "the", "漢字")) {
      val got = Seq(t).toDF("t")
        .select(Dedup.md5Hash64(col("t"))).head().getLong(0)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got === java.lang.Long.parseUnsignedLong(hex.take(16), 16),
        s"md5Hash64('$t')")
    }
    // Same fixture, different hash family: identical docs still hash
    // equal (the exact-copy star survives any hash), and the spanning
    // star/closure algebra is hash-agnostic — closure equals the full
    // variant's under the SAME family. (No exact pair-set pin beyond
    // the star: a one-token mutation can legitimately land at hamming
    // 0 under one family and not another.)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val span = pairs(Dedup.simhashNearDupSpanning(fixture, "doc_id", "text",
      maxHamming = 0, tokenHash = Dedup.md5Hash64))
    val full = pairs(Dedup.simhashNearDup(fixture, "doc_id", "text",
      maxHamming = 0, tokenHash = Dedup.md5Hash64))
    assert(span.contains((1L, 2L)) && span.subsetOf(full))
    def comps(ps: Set[(Long, Long)]) =
      graft.graph.ConnectedComponents.run(
        fixture.select(col("doc_id").as("id")),
        ps.toSeq.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(span) === comps(full))
  }
}
