package graft.source

import graft.SparkSuite
import graft.model.{Ns, Quad}

/** Turtle grammar coverage: directives, prefixed names, `a`, predicate
  * and object lists, literals (lang/datatype/numeric/boolean/long),
  * escapes, comments, blank nodes, error cases. */
class TurtleParserSpec extends SparkSuite {

  private def p(doc: String): Seq[Quad] = TurtleParser.parse(doc).toSeq

  test("prefixed names, a, predicate and object lists") {
    val doc =
      """@prefix ex: <http://example.org/> .
        |@prefix schema: <https://schema.org/> .
        |# a comment
        |ex:e1 a schema:AudioObject ;
        |  schema:name "Naam"@nl, "Name"@en ;
        |  schema:identifier "abc123" .
        |""".stripMargin
    val quads = p(doc)
    assert(quads.size == 4)
    assert(quads.head == Quad("http://example.org/e1", Ns.RdfType,
      "https://schema.org/AudioObject", null, null, null))
    assert(quads(1) == Quad("http://example.org/e1", "https://schema.org/name",
      "Naam", "nl", null, null))
    assert(quads(2).lang == "en")
    assert(quads(3).obj == "abc123" && quads(3).lang == null && quads(3).datatype == null)
  }

  test("typed, numeric, boolean, long literals and escapes") {
    val doc =
      """@prefix ex: <http://example.org/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |ex:e <ex:p1> "2024-01-01"^^xsd:date ;
        |  <ex:p2> 42 ;
        |  <ex:p3> 3.14 ;
        |  <ex:p4> true ;
        |  <ex:p5> "line1\nline2 \"q\"" ;
        |  <ex:p6> '''a
        |multi "line"''' ;
        |  <ex:p7> "A\U0001F600" .
        |""".stripMargin
    val byPred = p(doc).map(q => q.predicate -> q).toMap
    assert(byPred("ex:p1").datatype == "http://www.w3.org/2001/XMLSchema#date")
    assert(byPred("ex:p2").obj == "42" &&
      byPred("ex:p2").datatype == "http://www.w3.org/2001/XMLSchema#integer")
    assert(byPred("ex:p3").datatype == "http://www.w3.org/2001/XMLSchema#decimal")
    assert(byPred("ex:p4").obj == "true" && byPred("ex:p4").datatype == Ns.XsdBoolean)
    assert(byPred("ex:p5").obj == "line1\nline2 \"q\"")
    assert(byPred("ex:p6").obj == "a\nmulti \"line\"")
    assert(byPred("ex:p7").obj == "A😀")
  }

  test("SPARQL-style PREFIX, base resolution, blank nodes") {
    val doc =
      """PREFIX ex: <http://example.org/>
        |BASE <http://base.org/>
        |<rel> ex:p _:b0 .
        |_:b0 ex:q <http://abs.org/x> .
        |""".stripMargin
    val quads = p(doc)
    assert(quads(0).subject == "http://base.org/rel")
    assert(quads(0).obj == "_:b0")
    assert(quads(1).subject == "_:b0" && quads(1).obj == "http://abs.org/x")
  }

  test("unsupported constructs and malformed docs throw") {
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> ( 1 2 ) ."))
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> [ <urn:q> 1 ] ."))
    intercept[TurtleParser.TurtleParseException](p("ex:s <urn:p> 1 .")) // undeclared prefix
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"unterminated"))
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"x\""))
    // end of document where an IRI must follow
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"x\"^^"))
    intercept[TurtleParser.TurtleParseException](p("@prefix ex:"))
    intercept[TurtleParser.TurtleParseException](p("BASE"))
  }

  test("truncated or malformed unicode escapes fail the parser contract") {
    // end-of-document mid-escape: must be TurtleParseException, not a
    // raw StringIndexOutOfBoundsException from substring
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"a\\"))
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"a\\u00"))
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"a\\U0001F6"))
    intercept[TurtleParser.TurtleParseException](p("<urn:s> <urn:p> \"a\\uZZZZ\" ."))
  }

  test("relative IRIs resolve per RFC 3986, not by concatenation") {
    def subj(doc: String) = p(doc).head.subject
    val base = "BASE <http://x/dir/file>\n"
    // sibling reference replaces the last path segment
    assert(subj(base + "<rel> <urn:p> 1 .") == "http://x/dir/rel")
    // absolute-path reference resets to the root
    assert(subj(base + "</abs> <urn:p> 1 .") == "http://x/abs")
    // dot-dot climbs a directory
    assert(subj(base + "<../up> <urn:p> 1 .") == "http://x/up")
    // trailing-slash namespace base keeps the old append behavior
    assert(subj("BASE <http://x/ns/>\n<leaf> <urn:p> 1 .") == "http://x/ns/leaf")
    // a scheme'd IRI is never resolved against base
    assert(subj(base + "<urn:abs:y> <urn:p> 1 .") == "urn:abs:y")
    // an opaque base cannot anchor relative refs: error, not silent
    // emission of the bare relative string as an IRI
    intercept[TurtleParser.TurtleParseException](
      subj("BASE <urn:isbn:0-395-36341-1>\n<rel> <urn:p> 1 ."))
    // …but absolute IRIs under an opaque base still parse fine
    assert(subj("BASE <urn:isbn:0-395-36341-1>\n<http://x/a> <urn:p> 1 .") ==
      "http://x/a")
  }

  test("ntEscapeLiteral round-trips hostile literals through the parser") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val nasty = Seq(
      """plain text""",
      """with "double quotes" inside""",
      """back\slash and trailing \""",
      "line1\nline2\r\nline3",
      "tab\there",
      """the full mix: \" \\ "q" and\na newline""",
      "unicode: 😀 é ñ 中")
    val docs = nasty.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(concat(
        lit("@prefix k: <urn:k:> .\nk:s"), col("id"),
        lit(" k:p \""), graft.functions.Functions.ntEscapeLiteral(col("v")),
        lit("\" .")).as("doc"))
      .as[String].collect()
    val parsed = docs.flatMap(d => TurtleParser.parse(d)).map(_.obj)
    assert(parsed.toSeq.sorted == nasty.sorted,
      s"round-trip mismatch:\n${parsed.toSeq.sorted.zip(nasty.sorted).filter(p => p._1 != p._2)}")
  }

  test("fromTurtleDocs distributes per document") {
    val s = spark
    import s.implicits._
    val doc1 = "@prefix a: <urn:a:> . a:s1 a:p \"v1\" ."
    val doc2 = "@prefix a: <urn:b:> . a:s2 a:p 7 ."
    val out = QuadSource.fromTurtleDocs(Seq(doc1, doc2).toDS()).collect()
    assert(out.length == 2)
    val subjects = out.map(_.getAs[String]("subject")).toSet
    assert(subjects == Set("urn:a:s1", "urn:b:s2")) // prefix state is per-doc
  }
}
