package graft.source

import graft.SparkSuite

/** N-Triples read through the Turtle parser, one line per document
  * (SURVEY.md §2.1 #3). */
class QuadSourceSpec extends SparkSuite {

  private type Row6 = (String, String, String, Option[String], Option[String], Option[String])

  /** `lines` written to one N-Triples file. */
  private def ntFile(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempDirectory("quadsource").resolve("in.nt")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def parse(lines: String*): Array[Row6] =
    QuadSource.ntriples(spark, ntFile(lines)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)), Option(r.getString(5))))

  /** The lines of a one-column frame, as written by a serializer. */
  private def linesOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq

  test("IRI object triple") {
    val out = parse("""<urn:s> <urn:p> <urn:o> .""")
    assert(out.toSeq == Seq(("urn:s", "urn:p", "urn:o", None, None, None)))
  }

  test("plain, lang-tagged and typed literals") {
    val out = parse(
      """<urn:s> <urn:p> "plain" .""",
      """<urn:s> <urn:p> "Journaal"@nl .""",
      """<urn:s> <urn:p> "PT1H"^^<http://www.w3.org/2001/XMLSchema#duration> .""")
    assert(out(0)._3 == "plain" && out(0)._4.isEmpty)
    assert(out(1)._3 == "Journaal" && out(1)._4.contains("nl"))
    assert(out(2)._3 == "PT1H" &&
      out(2)._5.contains("http://www.w3.org/2001/XMLSchema#duration"))
  }

  test("escapes in literals") {
    val out = parse("""<urn:s> <urn:p> "a \"quoted\" line\nnext" .""")
    assert(out(0)._3 == "a \"quoted\" line\nnext")
  }

  test("Unicode escapes in literals decode to their code points") {
    val out = parse(
      "<urn:s/1> <urn:p> \"caf\\u00E9\" .",
      "<urn:s/2> <urn:p> \"\\U0001F600\"@en .")
    assert(out.map(r => r._1 -> r._3).toMap ==
      Map("urn:s/1" -> "caf\u00e9", "urn:s/2" -> "\ud83d\ude00"))
  }

  test("a malformed line fails with its offset; comment and blank lines yield nothing") {
    assert(parse("# comment line", "", "   ", "# <urn:s> <urn:p> <urn:o> .").isEmpty)
    Seq("""not a triple at all""",
      """<urn:s> <missing-object> .""",
      """<urn:s> <urn:p> "unknown \q escape" .""",
      """<urn:s> <urn:p> "v" <urn:g/or-1> .""").foreach { bad =>
      val e = intercept[Exception](parse("""<urn:s> <urn:p> "ok" .""", bad))
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: TurtleParser.TurtleParseException => t }
      assert(cause.exists(_.getMessage.contains("at offset")), s"$bad: $e")
    }
  }

  test("turtle reads each file as one document") {
    // Prefix state and a statement spanning lines only parse when the
    // file is not split into lines.
    val dir = java.nio.file.Files.createTempDirectory("quadsource")
    java.nio.file.Files.write(dir.resolve("a.ttl"),
      "@prefix ex: <urn:ex/> .\nex:s ex:p \"one\" ;\n  ex:q ex:o .\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.ttl"),
      "<urn:t> <urn:p>\n  \"two\"@en .\n".getBytes("UTF-8"))
    val out = QuadSource.turtle(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), Option(r.getString(3))))
    assert(out.toSet == Set(
      ("urn:ex/s", "urn:ex/p", "one", None),
      ("urn:ex/s", "urn:ex/q", "urn:ex/o", None),
      ("urn:t", "urn:p", "two", Some("en"))))
  }

  test("blank node subject and object pass through as tokens") {
    val out = parse("""_:b0 <urn:p> _:b1 .""")
    assert(out(0)._1 == "_:b0" && out(0)._3 == "_:b1")
  }

  test("statement lines parse to their expected tuples") {
    // Every N-Triples grammar branch: IRI/blank/literal objects, lang
    // and datatype suffixes, whitespace slack, every escape, internal
    // quotes, adjacent backslash runs, empty literals.
    val expected: Seq[(String, Row6)] = Seq(
      """<urn:s> <urn:p> <urn:o> .""" ->
        ("urn:s", "urn:p", "urn:o", None, None, None),
      """  <urn:s>   <urn:p>   "padded"   .  """ ->
        ("urn:s", "urn:p", "padded", None, None, None),
      """<urn:s> <urn:p> "Journaal"@nl .""" ->
        ("urn:s", "urn:p", "Journaal", Some("nl"), None, None),
      """<urn:s> <urn:p> "PT1H"^^<http://www.w3.org/2001/XMLSchema#duration> .""" ->
        ("urn:s", "urn:p", "PT1H", None,
          Some("http://www.w3.org/2001/XMLSchema#duration"), None),
      """_:b0 <urn:p> _:b1 .""" ->
        ("_:b0", "urn:p", "_:b1", None, None, None),
      """_:b0 <urn:p> "blank-subject literal" .""" ->
        ("_:b0", "urn:p", "blank-subject literal", None, None, None),
      """<urn:s> <urn:p> "a \"quoted\" line\nnext" .""" ->
        ("urn:s", "urn:p", "a \"quoted\" line\nnext", None, None, None),
      """<urn:s> <urn:p> "tabs\tand\rcr and \\ backslash" .""" ->
        ("urn:s", "urn:p", "tabs\tand\rcr and \\ backslash", None, None, None),
      """<urn:s> <urn:p> "adjacent \\n run" .""" ->
        ("urn:s", "urn:p", "adjacent \\n run", None, None, None),
      """<urn:s> <urn:p> "trailing backslash \\" .""" ->
        ("urn:s", "urn:p", "trailing backslash \\", None, None, None),
      """<urn:s> <urn:p> "" .""" ->
        ("urn:s", "urn:p", "", None, None, None),
      """<urn:s> <urn:p> ""@en .""" ->
        ("urn:s", "urn:p", "", Some("en"), None, None))
    expected.foreach { case (line, want) =>
      assert(parse(line).toSeq == Seq(want), line)
    }
    assert(parse(expected.map(_._1): _*).toSeq == expected.map(_._2))
  }

  test("ntEscapeLiteral round-trips hostile literals through ntriples") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val nasty = Seq(
      """plain text""",
      """with "double quotes" inside""",
      // the adjacent-escape corruption case: backslash followed by n
      // serializes as \\n, which a naive unescape order turns into
      // backslash + LF instead of backslash + 'n'
      """back\slash, \n-as-two-chars, trailing \""",
      "real\nnewline and\ttab and\rcr",
      """the full mix: \" \\ "q" and\na newline""",
      "unicode: 😀 é ñ 中",
      // raw private-use char must pass through untouched (a sentinel-
      // based unescape would corrupt it into a backslash)
      "private use  char")
    val lines = nasty.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(concat(
        lit("<urn:s/"), col("id"), lit("> <urn:p> \""),
        graft.functions.Functions.ntEscapeLiteral(col("v")),
        lit("\" .")).as("value"))
    val parsed = parse(linesOf(lines): _*).map(_._3)
    assert(parsed.toSeq.sorted == nasty.sorted,
      s"NT round-trip mismatch: ${parsed.toSeq.sorted.zip(nasty.sorted).filter(p => p._1 != p._2)}")
  }

  test("generated escape-heavy literals round-trip through BOTH parsers") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // Seeded generator biased toward the characters the escape chain
    // must handle: backslashes, quotes, control chars, multi-byte.
    // Tokens (not chars), so surrogate pairs stay intact. The two
    // parses are the line-split one of `ntriples` and one whole
    // document of every statement.
    val alphabet = IndexedSeq(
      "\\", "\"", "n", "t", "r", " ", "\n", "\r", "\t", "a", "b",
      "\ud83d\ude00", "\u00e9")
    val rnd = new scala.util.Random(20260813L)
    val values = (0 until 200).map { _ =>
      val len = 1 + rnd.nextInt(20)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val lines = linesOf(values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(concat(
        lit("<urn:s/"), col("id"), lit("> <urn:p> \""),
        graft.functions.Functions.ntEscapeLiteral(col("v")), lit("\" ."))))
    val split = parse(lines: _*).map(r => r._1 -> r._3).toMap
    val whole = TurtleParser.parse(lines.mkString("\n"))
      .map(q => q.subject -> q.obj).toMap
    assert(split == whole)
    values.zipWithIndex.foreach { case (v, i) =>
      assert(split(s"urn:s/$i") == v, s"corrupted ${v.map(_.toInt.toHexString)}")
    }
  }
}
