package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, NullType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass raw-text span clip backing [[ClipRunsExpr]] — the apply
  * step of Lee-et-al-style substring dedup that removes the duplicated
  * substring from the ORIGINAL text instead of replacing every doc
  * with its normalized form.
  *
  * == Token model (Unicode-exact) ==
  * Span coordinates are produced over the NORMALIZED token stream
  * (`Dedup.repeatedSpans` positions index the whitespace tokens of
  * `TextFunctions.normalize`d text, where normalize = Spark `lower()`
  * then every char outside `[a-z0-9]` mapped to a space). To clip the
  * RAW text by those coordinates, the scanner must segment the raw
  * text into exactly the same runs the normalized stream has — so
  * instead of a fixed `[A-Za-z0-9]+` class, each raw code point is
  * classified by the alnum/separator PATTERN of its `lower()` IMAGE,
  * computed from the very function normalize applies
  * (`UTF8String.toLowerCase`):
  *
  *   - TOK — the image is entirely `[a-z0-9]` ('A' → "a", 'K'
  *     U+212A → "k"): the code point extends the current token run;
  *   - SEP — the image contains no `[a-z0-9]` (punctuation, 'é' → "é"
  *     → space, combining marks, CJK): the code point is a separator;
  *   - mixed — the image interleaves both ('İ' U+0130 → "i̇" =
  *     token char then separator): the code point extends the run AND
  *     closes it, exactly as its normalized image tokenizes.
  *
  * The i-th scanner run therefore corresponds 1:1 to the i-th
  * normalized token for ANY input — ASCII corpora behave exactly as
  * the former `[A-Za-z0-9]+` scan (for ASCII code points the image
  * pattern reduces to that class), and mixed-script text no longer
  * shifts alignment ([[TokenRunCountExpr]] counts the same runs, and
  * `DedupSpec` pins `countRuns == size(tokens(normalize))` plus
  * clip↔token-removal equivalence on 'İ'/'K' fixtures).
  *
  * Contextual-mapping caveat: the per-code-point table cannot see
  * context-sensitive lowercase rules (Greek final sigma 'Σ' → 'ς' vs
  * 'σ'); both images are separators, so the run structure — the only
  * thing alignment needs — is unaffected. A code point whose image
  * mixes the two classes in more than one alnum run (none exists in
  * Unicode 15's `toLowerCase` images) would take the fate of its FIRST
  * run.
  *
  * Separator rule: a dropped run takes its TRAILING separators with it
  * (`sep₀ + Σ_{i kept} runᵢ + sepᵢ₊₁`), so clipping never doubles
  * whitespace or leaves the dropped token's delimiter behind; leading
  * text before the first run is always kept.
  */
object NativeClip {

  private final val SEP: Byte = 0
  private final val TOK: Byte = 1
  private final val MIX: Byte = 2

  @inline private def isNormAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** alnum/separator pattern of the code point's Spark-`lower()`
    * image — one boolean per image char. Built from
    * `UTF8String.toLowerCase` so the classification matches
    * `TextFunctions.normalize` by construction, not by a re-derived
    * character class. */
  private def imagePattern(cp: Int): Array[Boolean] = {
    val img = UTF8String
      .fromString(new String(Character.toChars(cp)))
      .toLowerCase.toString
    val out = new Array[Boolean](img.length)
    var i = 0
    while (i < img.length) { out(i) = isNormAlnum(img.charAt(i)); i += 1 }
    out
  }

  private def classify(p: Array[Boolean]): Byte = {
    var allSep = true
    var allTok = p.length > 0
    var i = 0
    while (i < p.length) {
      if (p(i)) allSep = false else allTok = false
      i += 1
    }
    if (allSep) SEP else if (allTok) TOK else MIX
  }

  // Mixed-image BMP code points are a handful ('İ' and friends); their
  // exact patterns live here, read-only after the table build below.
  private val bmpMix = new java.util.HashMap[Integer, Array[Boolean]]()

  /** Per-BMP-code-point class table (64 KiB, built once per JVM —
    * surrogate halves classify as SEP and are never consulted: the
    * scanner walks full code points). */
  private val bmpClass: Array[Byte] = {
    val a = new Array[Byte](0x10000)
    var c = 0
    while (c < 0x10000) {
      a(c) =
        if (c >= 0xD800 && c <= 0xDFFF) SEP
        else {
          val p = imagePattern(c)
          val cl = classify(p)
          if (cl == MIX) bmpMix.put(c, p)
          cl
        }
      c += 1
    }
    a
  }

  // Supplementary planes on demand (rare; none lowercase into ASCII
  // alnum today, but the contract is "whatever lower() does").
  private val suppPattern =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Boolean]]()
  private def patternOfSupp(cp: Int): Array[Boolean] =
    suppPattern.computeIfAbsent(cp, c => imagePattern(c))

  /** `spans` is an array of (span_start, span_end) LONG structs over
    * 0-based token indices, inclusive on both ends, disjoint but in
    * arbitrary order (collect_list). Null text → null; null or empty
    * spans → the text unchanged (byte-identical: no-span docs must not
    * be rewritten). */
  def clipRuns(text: UTF8String, spans: ArrayData): UTF8String = {
    if (text == null || spans == null || spans.numElements() == 0) return text
    val n = spans.numElements()
    val starts = new Array[Long](n)
    val ends = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = spans.getStruct(i, 2)
      starts(i) = r.getLong(0)
      ends(i) = r.getLong(1)
      i += 1
    }
    val order = Array.range(0, n).sortBy(starts)
    val s = text.toString
    val sb = new java.lang.StringBuilder(s.length)

    var run = -1            // index of the last OPENED run
    var inRun = false
    var runCovered = false  // coverage of run `run` (set when opened)
    var sp = 0              // pointer into the start-sorted disjoint spans
    // Runs open in increasing index order, so the span pointer only
    // moves forward.
    @inline def coveredNext(r: Int): Boolean = {
      while (sp < n && ends(order(sp)) < r) sp += 1
      sp < n && starts(order(sp)) <= r && r <= ends(order(sp))
    }
    @inline def openRun(): Unit =
      if (!inRun) { run += 1; inRun = true; runCovered = coveredNext(run) }

    // Bulk-append discipline: track the pending kept stretch and flush
    // on keep→drop transitions (per-char appends are measurably slower).
    var keepFrom = 0        // -1 while inside a dropped stretch
    var p = 0
    while (p < s.length) {
      val c = s.charAt(p)
      var keep = true
      var width = 1
      if (c < 0x80) {
        // ASCII fast path — image is the lowercased char itself.
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9')) {
          openRun(); keep = !runCovered
        } else {
          inRun = false; keep = run < 0 || !runCovered
        }
      } else {
        val cp = s.codePointAt(p)
        width = Character.charCount(cp)
        val cls = if (cp < 0x10000) bmpClass(cp) else {
          val pat = patternOfSupp(cp); classify(pat)
        }
        cls match {
          case TOK => openRun(); keep = !runCovered
          case SEP => inRun = false; keep = run < 0 || !runCovered
          case _ =>
            val pat =
              if (cp < 0x10000) bmpMix.get(cp) else patternOfSupp(cp)
            // Fate = the first alnum image char's run (separator-only
            // prefix would attach to the preceding run, but no such
            // mixed code point exists; document-level behavior is
            // pinned by spec on the real fixtures).
            var decided = false
            var j = 0
            while (j < pat.length) {
              if (pat(j)) {
                openRun()
                if (!decided) { keep = !runCovered; decided = true }
              } else inRun = false
              j += 1
            }
            if (!decided) keep = run < 0 || !runCovered
        }
      }
      if (keep) { if (keepFrom < 0) keepFrom = p }
      else if (keepFrom >= 0) { sb.append(s, keepFrom, p); keepFrom = -1 }
      p += width
    }
    if (keepFrom >= 0) sb.append(s, keepFrom, s.length)
    UTF8String.fromString(sb.toString)
  }

  /** Number of normalized-token runs in the raw text — the exact
    * denominator for span coverage: counts the same runs [[clipRuns]]
    * clips (and therefore `size(tokens(normalize(text)))`), in one
    * scan with no regex and no array materialization. Null-safe at the
    * expression layer; empty/whitespace-only text → 0. */
  def countRuns(text: UTF8String): Int = {
    val s = text.toString
    var runs = 0
    var inRun = false
    var p = 0
    while (p < s.length) {
      val c = s.charAt(p)
      var width = 1
      if (c < 0x80) {
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9')) {
          if (!inRun) { runs += 1; inRun = true }
        } else inRun = false
      } else {
        val cp = s.codePointAt(p)
        width = Character.charCount(cp)
        val cls = if (cp < 0x10000) bmpClass(cp) else classify(patternOfSupp(cp))
        cls match {
          case TOK => if (!inRun) { runs += 1; inRun = true }
          case SEP => inRun = false
          case _ =>
            val pat =
              if (cp < 0x10000) bmpMix.get(cp) else patternOfSupp(cp)
            var j = 0
            while (j < pat.length) {
              if (pat(j)) { if (!inRun) { runs += 1; inRun = true } }
              else inRun = false
              j += 1
            }
        }
      }
      p += width
    }
    runs
  }
}

/** Native Catalyst expression: (raw text, token-index spans) → text
  * with the covered runs clipped out (see [[NativeClip.clipRuns]]).
  * Null-tolerance is asymmetric by design: null text → null, null/empty
  * spans → the text unchanged — a left join against the (tiny) spans
  * table feeds this directly, no coalesce-to-typed-empty-array needed. */
case class ClipRunsExpr(left: Expression, right: Expression)
    extends NativeCall(NativeClip, "clipRuns") with BinaryLike[Expression] {

  override def dataType: DataType = StringType
  override def prettyName: String = "clip_runs"
  // The kernel takes both NULL sides itself.
  override protected def propagateNull = false
  override protected def kernelNullable = left.nullable
  // A NULL-typed spans literal means no spans: the text unchanged.
  override lazy val replacement: Expression =
    if (right.dataType == NullType) left else kernelCall

  // clipRuns reads the spans via getLong, so reject non-long span
  // fields at analysis time instead of a runtime cast error on an
  // executor. NullType on the spans side is fine — a null literal
  // means "no spans", the unchanged-text path.
  override def checkInputDataTypes(): TypeCheckResult = requireTypes(
    (left.dataType == StringType, "STRING text", left.dataType),
    (right.dataType match {
      case NullType | ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))), _) => true
      case _ => false
    }, "spans as array<struct<span_start: bigint, span_end: bigint>> (cast the " +
      "span bounds to long as Dedup.clipSpans does)", right.dataType))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ClipRunsExpr =
    copy(left = l, right = r)
}

object ClipRunsExpr {
  /** Column-API entry point: `text` raw, `spans` an
    * array<struct<span_start: long, span_end: long>> column. */
  def apply(text: Column, spans: Column): Column =
    column(new ClipRunsExpr(expression(text), expression(spans)))
}

/** Native Catalyst expression: raw text → normalized-token run count
  * (see [[NativeClip.countRuns]]) — `size(tokens(normalize(text)))`
  * without the lowercase copy, the regex scan, or the token-array
  * materialization, and guaranteed run-for-run consistent with
  * [[ClipRunsExpr]] because both share one classifier. */
case class TokenRunCountExpr(child: Expression)
    extends NativeCall(NativeClip, "countRuns") with UnaryLike[Expression] {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_run_count"
  override protected def kernelNullable = false

  override def checkInputDataTypes(): TypeCheckResult =
    requireTypes((child.dataType == StringType, "STRING text", child.dataType))

  override protected def withNewChildInternal(c: Expression): TokenRunCountExpr = copy(child = c)
}

object TokenRunCountExpr {
  def apply(text: Column): Column = column(new TokenRunCountExpr(expression(text)))
}
