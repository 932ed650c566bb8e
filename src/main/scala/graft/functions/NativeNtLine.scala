package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass N-Triples/N-Quads line parser — the native kernel behind
  * [[graft.source.QuadSource.fromNtLines]] (SURVEY §2.1 #3).
  *
  * The composed form runs the full line regex FOUR times per line
  * (one `regexp_extract` per group) plus ~9 short regexes and an
  * interpreted `transform` for literal unescaping — ~79 µs/line
  * measured (ProfileQuery on q_nt_roundtrip, sf0.1: the parse stage
  * was 1.18 of the query's 1.4 stage-seconds). At a 100 TB NT dump,
  * per-line constant factors ARE the scan cost. This kernel does one
  * compiled-regex match and plain string ops, mirroring each composed
  * expression exactly (same regexes, same `regexp_extract` null-group
  * → "" convention, same literal-unescape chain), asserted
  * bit-identical in QuadSourceSpec.
  *
  * Result: null for a non-statement line (comment, blank, malformed —
  * the composed form's `filter(predicate != "")`), else a struct
  * (subject, predicate, obj, lang, datatype, graph).
  */
object NativeNtLine {

  /** Same statement grammar as QuadSource.line (kept in lockstep —
    * the spec asserts behavioral equality, which pins both). */
  val LinePattern: String =
    """^\s*(<[^>]+>|_:\S+)\s+<([^>]+)>\s+(<[^>]+>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]+>)?)\s*(<[^>]+>)?\s*\.\s*$"""

  private val line = java.util.regex.Pattern.compile(LinePattern)
  private val litBody =
    java.util.regex.Pattern.compile("""^"((?:[^"\\]|\\.)*)"""")
  private val langTag =
    java.util.regex.Pattern.compile(""""@([A-Za-z][A-Za-z0-9-]*)$""")
  private val dtSuffix =
    java.util.regex.Pattern.compile("""\^\^<([^>]+)>$""")

  /** regexp_extract semantics: first match, unmatched group → "". */
  private def extract(p: java.util.regex.Pattern, s: String): String = {
    val m = p.matcher(s)
    if (!m.find()) "" else Option(m.group(1)).getOrElse("")
  }

  /** The composed unescape, literally: split on the two-char `\\`
    * sequence, per-segment replace of \n \r \t \" in that order, join
    * with a single backslash. */
  private def unescape(body: String): String =
    body.split("""\\\\""", -1)
      .map(_.replace("\\n", "\n").replace("\\r", "\r")
        .replace("\\t", "\t").replace("\\\"", "\""))
      .mkString("\\")

  private def stripAngles(s: String): String =
    if (s.length >= 2 && s.charAt(0) == '<' && s.charAt(s.length - 1) == '>')
      s.substring(1, s.length - 1)
    else "" // mirrors regexp_extract("^<(.*)>$") missing the match

  private def utf8OrNull(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** Parse one line; null when the line is not a statement. */
  def parse(v: UTF8String): InternalRow = {
    if (v == null) return null
    val m = line.matcher(v.toString)
    if (!m.find()) return null
    val sRaw = Option(m.group(1)).getOrElse("")
    val predicate = Option(m.group(2)).getOrElse("")
    if (predicate.isEmpty) return null // composed filter(predicate != "")
    val oRaw = Option(m.group(3)).getOrElse("")
    val gRaw = Option(m.group(4)).getOrElse("")

    val subject = if (sRaw.startsWith("<")) stripAngles(sRaw) else sRaw
    val obj =
      if (oRaw.startsWith("<")) stripAngles(oRaw)
      else if (oRaw.startsWith("_:")) oRaw
      else unescape(extract(litBody, oRaw))
    val lang = extract(langTag, oRaw) match { case "" => null; case l => l }
    val datatype = extract(dtSuffix, oRaw) match { case "" => null; case d => d }
    val graph = stripAngles(gRaw) match { case "" => null; case g => g }

    InternalRow(utf8OrNull(subject), utf8OrNull(predicate), utf8OrNull(obj),
      utf8OrNull(lang), utf8OrNull(datatype), utf8OrNull(graph))
  }
}

/** `nt_parse(line)` → struct(subject, predicate, obj, lang, datatype,
  * graph), or NULL for a non-statement line. */
case class NtLineParseExpr(child: Expression)
    extends NativeCall(NativeNtLine, "parse") with UnaryLike[Expression] {
  override def dataType: DataType = StructType(
    Seq("subject", "predicate", "obj", "lang", "datatype", "graph").map(StructField(_, StringType)))
  override def prettyName: String = "nt_parse"
  override protected def withNewChildInternal(c: Expression): NtLineParseExpr = copy(child = c)
}

object NtLineParseExpr {
  def apply(c: Column): Column = column(new NtLineParseExpr(expression(c)))
}
