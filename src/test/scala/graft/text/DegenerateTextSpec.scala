package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Degenerate-input contract for the per-row text operators and the
  * explode-based frame operators: NULL text, empty text, punct-only
  * text (normalizes to ""), and sub-shingle-length text must never
  * crash (Spark 4 runs ANSI mode — an unguarded integer division or
  * cast would throw, and the oracle gates can't catch it because the
  * driver testdata has no such rows), and their outputs follow two
  * pinned rules:
  *
  *  - scalar functions NULL-PROPAGATE: a NULL document scores NULL,
  *    never a default label (langId's when-chain used to fall through
  *    to "fr" on NULL — all-NULL conditions skip every branch);
  *  - explode-based frame operators DROP null-text rows (explode of a
  *    NULL array emits nothing) — callers that must keep the id
  *    universe re-join against the input, which is what the gates'
  *    ConnectedComponents compositions do.
  */
class DegenerateTextSpec extends SparkSuite {
  import spark.implicits._

  private val f = Seq(
    (1L, null.asInstanceOf[String]),
    (2L, ""),
    (3L, "!!!"), // normalizes to ""
    (4L, "ab"),  // below shingleK: whole-text fallback shingle
    (5L, "the quick brown fox and the lazy dog of the morning"))
    .toDF("doc_id", "text")

  test("scalar text functions null-propagate and never throw") {
    // Token count and fingerprint in the forms the gates run: the
    // shingles read a materialized token column (q_doc_fingerprint).
    val rows = f.withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.langId(col("text")).as("lang"),
        size(col("toks")).as("tc"),
        TextFunctions.fingerprintFromShingles(
          TextFunctions.shinglesFromTokens(col("toks"), 3)).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.get(3), r.get(4))).toMap
    // NULL text: every scalar is NULL — including langId, which must
    // not fall through its when-chain to a default language.
    assert(rows(1L) === ((null, null, null, null)))
    // Empty and punct-only text normalize identically — same language,
    // token count, and fingerprint — but NOT the same quality score:
    // qualityScore reads the RAW text (punct ratio is a feature), so
    // "!!!" scores lower than "".
    assert((rows(2L)._2, rows(2L)._3, rows(2L)._4) ===
      ((rows(3L)._2, rows(3L)._3, rows(3L)._4)))
    assert(rows(3L)._1.asInstanceOf[Double] < rows(2L)._1.asInstanceOf[Double])
    assert(rows(2L)._2 === "und" && rows(2L)._3 === 1)
    assert(rows(5L)._2 === "en")
  }

  test("explode-based frame operators drop null-text rows, keep the rest") {
    import graft.text.{Chunker, CorpusPrep}
    val chunks = Chunker.chunk(f, "doc_id", "text", chunkSize = 4, stride = 2)
    assert(chunks.select("doc_id").distinct().as[Long].collect().toSet ===
      Set(2L, 3L, 4L, 5L))
    val novelty = CorpusPrep.ngramNovelty(f, "doc_id", "text")
    assert(novelty.select("id").as[Long].collect().toSet ===
      Set(2L, 3L, 4L, 5L))
    // Empty-normalized docs share one whole-text shingle, so their
    // novelty is 0 (df = 2); the short doc's singleton shingle is
    // unique, novelty 1.
    val nov = novelty.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("novelty")).toMap
    assert(nov(2L) === 0.0 && nov(3L) === 0.0 && nov(4L) === 1.0)
    val sh = graft.dedup.Dedup.simhash(f, "doc_id", "text")
    assert(sh.select("id").as[Long].collect().toSet === Set(2L, 3L, 4L, 5L))
  }

  test("exact dedup keeps each null-text doc as its own singleton, " +
    "empty-normalized docs under md5 of the empty string") {
    val withSecondNull = f.unionByName(
      Seq((6L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = graft.dedup.Dedup.exact(withSecondNull, "doc_id", "text")
      .collect().map(r => (r.getAs[String]("content_hash"),
        r.getAs[Long]("keeper_id"), r.getAs[Long]("dup_cnt"))).toSet
    // md5(normalize(NULL)) is NULL, and NULL text carries no content
    // evidence — so the two null docs are NOT duplicates of each
    // other: each survives as its own singleton keeper, the same
    // pairless-singleton contract the near-dup/spanning family pins
    // for NULL text (a pipeline composing exact + near-dup must treat
    // NULL docs identically per stage).
    assert(out.exists(g => g._1 == null && g._2 == 1L && g._3 == 1L))
    assert(out.exists(g => g._1 == null && g._2 == 6L && g._3 == 1L))
    // "" and "!!!" share md5("")'s group.
    assert(out.exists(g => g._2 == 2L && g._3 == 2L))
    // exactDedupKeep (the row-keeping sibling): null-text rows all
    // pass through — they must not vanish into the semi-join's
    // non-null-safe hash equality.
    val kept = graft.text.CorpusPrep
      .exactDedupKeep(withSecondNull, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(6L))
    assert((kept - 1L - 6L).subsetOf(Set(2L, 3L, 4L, 5L)) &&
      (kept & Set(2L, 3L)).size == 1 && kept.contains(4L) && kept.contains(5L))
  }
}
