package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * normalization, tokenization, shingling, quality stats, and a
  * stopword-hit language heuristic. All pure `functions._` expressions —
  * codegen'd, no UDFs, no shuffles; each is a per-row map over the
  * corpus, so the only scale cost is the scan itself.
  */
object TextFunctions {

  /** Lowercase, strip non-alphanumerics, collapse whitespace — the
    * canonical form used by dedup hashing and shingling. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalize(c), " ")

  /** BPE-ish regex tokenization of the *raw* text: word pieces or single
    * non-space symbols — the usual pre-tokenizer shape for token
    * counting against an LLM-style vocabulary. */
  def regexTokens(c: Column): Column =
    regexp_extract_all(c, lit("""[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]"""), lit(0))

  /** k-word shingles from an *already materialized* token-array column;
    * texts shorter than k words collapse to one whole-text shingle so
    * every doc has ≥1.
    *
    * The tokens argument MUST be a plain column reference, never the
    * `tokens(text)` expression inline: higher-order functions run
    * interpreted and re-evaluate the lambda body's captured subtree per
    * element, so an inline tokenizer is re-run once per shingle —
    * observed 26 s over 10k docs for what is otherwise sub-second. */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array(array_join(toks, " ")))

  /** Count of regex hits — helper for stopword scoring. */
  def hits(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Quality-scoring columns (length, token stats, punctuation and
    * stopword ratios) — the standard cheap filters a pretraining
    * pipeline runs before anything expensive. */
  def punctCount(c: Column): Column = hits(c, """[^\w\s]""")
  def stopwordCount(c: Column): Column =
    hits(lower(c), """\b(the|a|an|and|of|to|in|is|it|that)\b""")

  /** Stopword-hit language heuristic: score a few high-frequency
    * function words per language, pick the argmax, 'und' when nothing
    * hits. A real pipeline swaps in character-n-gram profiles; the
    * *shape* (per-row scoring → argmax, no shuffle) is what scales. */
  def langId(c: Column): Column = {
    val l = lower(c)
    val en = hits(l, """\b(the|and|of|to|is)\b""")
    val de = hits(l, """\b(der|die|das|und|ist)\b""")
    val fr = hits(l, """\b(le|la|les|et|est)\b""")
    val nl = hits(l, """\b(de|het|een|en|is)\b""")
    val best = greatest(en, de, fr, nl)
    // NULL text must stay NULL: every `when` condition below is NULL
    // for NULL input, so without this guard the chain would fall
    // through to the `otherwise` and silently label null docs "fr"
    // (caught by the degenerate-text contract spec).
    when(c.isNull, lit(null).cast("string"))
      .when(best === 0, "und")
      .when(en === best, "en")
      .when(nl === best, "nl")
      .when(de === best, "de")
      .otherwise("fr")
  }

  /** Model-based quality score: a linear classifier over the cheap
    * text features, squashed by a sigmoid — the fasttext-style quality
    * filter shape of a pretraining pipeline (score every doc in the
    * scan, threshold downstream). The weights here are fixture
    * constants; a production pipeline substitutes trained ones — the
    * *operator* is the per-row scoring expression, which is pure
    * codegen'd arithmetic, no shuffle, no UDF.
    *
    * Feature/weight layout (see [[QualityWeights]]):
    * z = bias + wLen·ln(1+len) + wPunct·(punct/len) + wStop·(stop/tokens). */
  final case class QualityWeights(bias: Double = -2.0, wLen: Double = 0.45,
                                  wPunct: Double = -6.0, wStop: Double = 2.5)

  def qualityScore(c: Column, w: QualityWeights = QualityWeights()): Column = {
    val len = length(c).cast("double")
    val x1 = log(lit(1.0) + len)
    val x2 = punctCount(c).cast("double") / greatest(len, lit(1.0))
    val x3 = stopwordCount(c).cast("double") / size(tokens(c)).cast("double")
    val z = lit(w.bias) + lit(w.wLen) * x1 + lit(w.wPunct) * x2 + lit(w.wStop) * x3
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Document fingerprint: minimum shingle hash (winnowing-style
    * representative) — stable under small edits away from the minimum.
    * md5-based so an external SQL engine can reproduce it. Takes a
    * materialized shingle column (see [[shinglesFromTokens]]). */
  def fingerprintFromShingles(sh: Column): Column =
    array_min(transform(sh, s => md5(s)))
}
