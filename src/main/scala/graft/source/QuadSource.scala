package graft.source

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Quad readers — the engine's ingestion layer (SURVEY.md §2.1 #1-3).
  *
  * The reference downloads its view graph as gzipped Turtle and parses it
  * in a single Node stream (typescript/src/2_database_load.ts:62-70,
  * 132-138). Turtle is not splittable, so the Spark-native ingest formats
  * are (a) quads at rest as Parquet — columnar, partition-prunable by
  * `graph` — and (b) N-Triples/N-Quads text, which is line-oriented and
  * therefore splits across executors for free. The N-T parser below is
  * pure `functions._` expressions, so it runs inside whole-stage codegen
  * and scales with the scan: no driver-side parsing, no UDF.
  */
object QuadSource {

  val schema: StructType = StructType(Seq(
    StructField("subject", StringType),
    StructField("predicate", StringType),
    StructField("obj", StringType),
    StructField("lang", StringType),
    StructField("datatype", StringType),
    StructField("graph", StringType)))

  // One N-Triples/N-Quads statement:
  //   <s> <p> <o> [<g>] .                         (IRI object)
  //   <s> <p> "lit"[@lang | ^^<dt>] [<g>] .       (literal object)
  // Blank-node subjects (_:b0) are accepted as opaque tokens.
  private val line =
    """^\s*(<[^>]+>|_:\S+)\s+<([^>]+)>\s+(<[^>]+>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]+>)?)\s*(<[^>]+>)?\s*\.\s*$"""

  /** Line-oriented N-Triples (or N-Quads when a 4th term is present) →
    * quad DataFrame. Splittable: `spark.read.text` distributes line
    * ranges; every transformation below is a codegen'd expression.
    * Malformed lines and comments are dropped (the reference's parser
    * rejects invalid statements, stream.ts:131-134). */
  def ntriples(spark: SparkSession, path: String): DataFrame =
    fromNtLines(spark.read.text(path).toDF("value"))

  /** Turtle ingest — the reference's wire format
    * (2_database_load.ts:62-70). One row per FILE (`wholetext`): Turtle
    * is stateful (@prefix, multi-line statements) so it cannot split
    * within a file; many files parallelize across executors, which is
    * the same per-stream constraint the reference's Node pipeline has.
    * Use NT or Parquet for splittable at-rest storage. */
  def turtle(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    fromTurtleDocs(spark.read.option("wholetext", "true").text(path).as[String])
  }

  /** [[TurtleParser]] over an existing one-document-per-row Dataset. */
  def fromTurtleDocs(docs: Dataset[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => TurtleParser.parse(d)).toDF()
  }

  /** Same parser over an existing one-string-column DataFrame (tests,
    * streaming sources). Runs on the one-pass native kernel
    * ([[graft.functions.NtLineParseExpr]]): the composed form below
    * ran the line regex once per extracted group plus ~9 short
    * regexes and an interpreted unescape per line (~79 µs/line —
    * ProfileQuery r14), a per-line constant that IS the scan cost on
    * a 100 TB dump. The composed twin stays as the definitional
    * reference, asserted behaviorally identical in QuadSourceSpec. */
  def fromNtLines(lines: DataFrame): DataFrame =
    lines
      .select(graft.functions.NtLineParseExpr(col("value")).as("q"))
      .filter(col("q").isNotNull)
      .select(col("q.subject").as("subject"), col("q.predicate").as("predicate"),
        col("q.obj").as("obj"), col("q.lang").as("lang"),
        col("q.datatype").as("datatype"), col("q.graph").as("graph"))

  /** The composed-expression definition of [[fromNtLines]] (spec
    * reference; not the hot path). */
  private[graft] def fromNtLinesComposed(lines: DataFrame): DataFrame = {
    val parsed = lines
      .select(
        regexp_extract(col("value"), line, 1).as("s_raw"),
        regexp_extract(col("value"), line, 2).as("predicate"),
        regexp_extract(col("value"), line, 3).as("o_raw"),
        regexp_extract(col("value"), line, 4).as("g_raw"))
      .filter(col("predicate") =!= "")
    val subject = when(col("s_raw").startsWith("<"),
      regexp_extract(col("s_raw"), "^<(.*)>$", 1)).otherwise(col("s_raw"))
    val isIri = col("o_raw").startsWith("<")
    val isBlank = col("o_raw").startsWith("_:")
    val litValue = regexp_extract(col("o_raw"), """^"((?:[^"\\]|\\.)*)"""", 1)
    // Minimal N-T escape set: \" \\ \n \r \t (W3C N-Triples grammar).
    // Escaped backslashes must resolve FIRST or "\\n" (backslash + the
    // letter n) corrupts to backslash + LF. Split on the two-char \\
    // sequence, unescape each segment (which by the literal grammar
    // contains no further escaped backslashes), and rejoin with a
    // single backslash -- order-independent and sentinel-free, so raw
    // private-use characters in the input pass through untouched.
    def unescapeSeg(seg: Column): Column =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(seg, """\\n""", "\n"),
            """\\r""", "\r"),
          """\\t""", "\t"),
        """\\"""", "\"")
    val unescaped = array_join(
      transform(split(litValue, """\\\\""", -1), seg => unescapeSeg(seg)),
      "\\")
    val obj = when(isIri, regexp_extract(col("o_raw"), "^<(.*)>$", 1))
      .when(isBlank, col("o_raw"))
      .otherwise(unescaped)
    val lang = nullif(regexp_extract(col("o_raw"), """"@([A-Za-z][A-Za-z0-9-]*)$""", 1), lit(""))
    val datatype = nullif(regexp_extract(col("o_raw"), """\^\^<([^>]+)>$""", 1), lit(""))
    val graph = nullif(regexp_extract(col("g_raw"), "^<(.*)>$", 1), lit(""))
    parsed.select(
      subject.as("subject"),
      col("predicate"),
      obj.as("obj"),
      lang.as("lang"),
      datatype.as("datatype"),
      graph.as("graph"))
  }
}
