package graft.temporal

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TemporalJoinsSpec extends SparkSuite {
  import spark.implicits._

  // (key, t, label) quotes; (key, t, id) probes — hand-checkable.
  private def quotes = Seq(
    (1L, 100L, 10L, "a"), (1L, 200L, 11L, "b"), (1L, 200L, 12L, "b2"),
    (2L, 500L, 20L, "c")
  ).toDF("user_id", "qt", "qid", "label")

  private def probes = Seq(
    (1L, 50L, 1L),   // before any quote → null
    (1L, 100L, 2L),  // equal instant → inclusive match "a"
    (1L, 250L, 3L),  // between → latest at 200; tie → greatest qid "b2"
    (1L, 900L, 4L),  // far after → tolerance decides
    (2L, 600L, 5L),  // other key
    (3L, 100L, 6L)   // key with no quotes at all → null
  ).toDF("user_id", "pt", "pid")

  test("asOfJoin matches latest at-or-before with greatest-tie and null misses") {
    val out = TemporalJoins.asOfJoin(probes, quotes, key = "user_id",
      leftTime = "pt", rightTime = "qt", tieCol = "qid",
      valueCols = Seq("label"))
      .select($"pid", $"asof_t", $"label").as[(Long, Option[Long], Option[String])]
      .collect().sortBy(_._1)
    assert(out === Seq(
      (1L, None, None), (2L, Some(100L), Some("a")), (3L, Some(200L), Some("b2")),
      (4L, Some(200L), Some("b2")), (5L, Some(500L), Some("c")), (6L, None, None)))
  }

  test("asOfJoin: NULL-timestamped right rows never match; " +
    "NULL-timestamped left rows get the no-match NULL struct") {
    val s = spark
    import s.implicits._
    // A null-time quote would sort FIRST under the window's NULLS
    // FIRST ordering and pose as the "most recent" match for probe 1
    // (before any real quote) — and for the null-time probe 7.
    val q = quotes.unionByName(
      Seq((1L, Option.empty[Long], 99L, "poison"))
        .toDF("user_id", "qt", "qid", "label"))
    val p = probes.unionByName(
      Seq((1L, Option.empty[Long], 7L)).toDF("user_id", "pt", "pid"))
    val out = TemporalJoins.asOfJoin(p, q, key = "user_id",
      leftTime = "pt", rightTime = "qt", tieCol = "qid",
      valueCols = Seq("label"))
      .select($"pid", $"asof_t", $"label").as[(Long, Option[Long], Option[String])]
      .collect().sortBy(_._1)
    assert(out.length === 7) // every left row survives, incl. the null-time one
    val byId = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L) === ((None, None)), "pre-first-quote probe matched poison")
    assert(byId(7L) === ((None, None)), "null-time probe matched poison")
    assert(byId(3L) === ((Some(200L), Some("b2")))) // real matches unchanged
    assert(!out.exists(_._3.contains("poison")))
  }

  test("asOfJoin tolerance nulls out stale matches") {
    val out = TemporalJoins.asOfJoin(probes, quotes, key = "user_id",
      leftTime = "pt", rightTime = "qt", tieCol = "qid",
      valueCols = Seq("label"), toleranceUs = Some(300L))
      .select($"pid", $"label").as[(Long, Option[String])]
      .collect().sortBy(_._1)
    // pid=4 at t=900: latest quote t=200 is 700 stale > 300 → null
    assert(out === Seq(
      (1L, None), (2L, Some("a")), (3L, Some("b2")),
      (4L, None), (5L, Some("c")), (6L, None)))
  }

  test("asOfJoin preserves every left row and its columns") {
    val out = TemporalJoins.asOfJoin(probes, quotes, key = "user_id",
      leftTime = "pt", rightTime = "qt", tieCol = "qid", valueCols = Seq("label"))
    assert(out.count() === probes.count())
    assert(out.columns.toSet === Set("user_id", "pt", "pid", "asof_t", "label"))
  }

  test("rangeJoin emits each containing pair exactly once across bucket sizes") {
    val intervals = Seq(
      (100L, 100L, 300L),  // spans buckets
      (101L, 250L, 260L),  // tiny interval inside a bucket
      (102L, 290L, 200L)   // malformed (end < start) → matches nothing
    ).toDF("iv_id", "s", "e")
    val points = Seq((1L, 99L), (2L, 100L), (3L, 250L), (4L, 300L), (5L, 301L))
      .toDF("p_id", "t")
    val expected = Set((2L, 100L), (3L, 100L), (3L, 101L), (4L, 100L))
    // pair set must be identical however time is bucketed
    for (bucket <- Seq(1L, 7L, 50L, 1000L)) {
      val got = TemporalJoins.rangeJoin(points, intervals, "t", "s", "e", bucket)
        .select($"p_id", $"iv_id").as[(Long, Long)].collect().toSeq
      assert(got.size === got.distinct.size, s"duplicate pairs at bucket=$bucket")
      assert(got.toSet === expected, s"wrong pairs at bucket=$bucket")
    }
  }

  test("asOfJoin agrees with a brute-force pick on random data") {
    val r = new scala.util.Random(13)
    val probes = Seq.tabulate(300)(i =>
      (i.toLong, r.nextInt(8).toLong, r.nextInt(1000).toLong))
      .toDF("pid", "user_id", "pt")
    val quoteRows = Seq.tabulate(150)(i =>
      (i.toLong, r.nextInt(8).toLong, r.nextInt(1000).toLong, s"v$i"))
    val quotes = quoteRows.toDF("qid", "user_id", "qt", "label")
    val tol = 120L
    val got = TemporalJoins.asOfJoin(probes, quotes, key = "user_id",
      leftTime = "pt", rightTime = "qt", tieCol = "qid",
      valueCols = Seq("label"), toleranceUs = Some(tol))
      .select($"pid", $"label").as[(Long, Option[String])].collect().toMap
    val brute = probes.as[(Long, Long, Long)].collect().map { case (pid, u, t) =>
      val cand = quoteRows.filter(q => q._2 == u && q._3 <= t && t - q._3 <= tol)
      pid -> (if (cand.isEmpty) None
              else Some(cand.maxBy(q => (q._3, q._1))._4))
    }.toMap
    assert(got === brute)
  }

  test("rangeJoin fails fast on a whole-axis interval instead of exploding") {
    val intervals = Seq((1L, 0L, Long.MaxValue / 2)).toDF("iv_id", "s", "e")
    val points = Seq((1L, 5L)).toDF("p_id", "t")
    val err = intercept[Exception] {
      TemporalJoins.rangeJoin(points, intervals, "t", "s", "e",
        bucketUs = 1L, maxBucketsPerInterval = 1000).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("fan-out guard")), s"got: $err")
  }

  test("rangeJoin agrees with a brute-force theta join on random data") {
    val r = new scala.util.Random(7)
    val points = Seq.tabulate(200)(i => (i.toLong, r.nextInt(10000).toLong))
      .toDF("p_id", "t")
    val intervals = Seq.tabulate(60) { i =>
      val s = r.nextInt(10000).toLong; (i.toLong, s, s + r.nextInt(800).toLong)
    }.toDF("iv_id", "s", "e")
    val brute = points.crossJoin(intervals)
      .filter($"t" >= $"s" && $"t" <= $"e")
      .select($"p_id", $"iv_id").as[(Long, Long)].collect().toSet
    val got = TemporalJoins.rangeJoin(points, intervals, "t", "s", "e", 500L)
      .select($"p_id", $"iv_id").as[(Long, Long)].collect().toSet
    assert(got === brute)
  }
}
