package graft.source

import scala.collection.mutable

import graft.model.{Ns, Quad}

/** Pure-Scala Turtle parser — the reference's actual wire format
  * (typescript/src/2_database_load.ts:62-70 downloads the view graph as
  * gzipped Turtle and parses it as one Node stream).
  *
  * Turtle is NOT line-splittable (prefix state + multi-line statements),
  * so this runs per *document*: one file = one parse call on one
  * executor, many files parallelize across the cluster. That is exactly
  * the reference's constraint (a single Node stream) — at 100 TB the
  * at-rest format should be Parquet quads or NT; Turtle is the ingest
  * edge. N-Triples reads through this parser too: every statement line
  * is a complete Turtle document, so [[QuadSource.ntriples]] parses each
  * line as one and keeps the line read split-parallel.
  *
  * Grammar coverage (the subset triplestore exports use):
  *  - `@prefix`/`@base` and SPARQL-style `PREFIX`/`BASE` directives
  *  - prefixed names, IRIs, `a` → rdf:type, blank-node labels
  *  - predicate lists `;`, object lists `,`
  *  - literals: `"…"`, `'…'`, `"""…"""`, `'''…'''`, `@lang`, `^^type`,
  *    numeric/boolean abbreviations, `\\uXXXX`/`\\UXXXXXXXX` + the
  *    standard single-char escapes
  *  - comments `# …` outside literals
  * Not covered (throws `TurtleParseException`, the reference's stream
  * also rejects invalid statements — stream.ts:131-134): collections
  * `( )`, anonymous property lists `[ … ]`, RDF-star.
  */
object TurtleParser {

  final class TurtleParseException(msg: String) extends RuntimeException(msg)

  private val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  private val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  private val XsdDouble = "http://www.w3.org/2001/XMLSchema#double"
  private val XsdBoolean = Ns.XsdBoolean

  // Absolute iff it has a scheme (RFC 3986 §3.1). Compiled once: this
  // runs per IRI token of every triple.
  private val SchemePattern =
    java.util.regex.Pattern.compile("[A-Za-z][A-Za-z0-9+.\\-]*:.*")

  /** Parse one Turtle document into quads (graph = null; Turtle has no
    * graph term — TriG would, and is out of scope as the reference never
    * emits it). */
  def parse(doc: String): Iterator[Quad] = new Iterator[Quad] {
    private val s = doc
    private var i = 0
    private val prefixes = mutable.Map.empty[String, String]
    private var base = ""
    // Parsed lazily on the first relative reference (a doc may declare
    // an unparseable/opaque base yet use only absolute IRIs), then
    // cached — not re-parsed per IRI.
    private var baseUri: java.net.URI = null
    // Statement state: subject/predicate carry across `;` and `,`.
    private var subject: String = _
    private var predicate: String = _
    private val pending = mutable.Queue.empty[Quad]

    private def fail(msg: String): Nothing =
      throw new TurtleParseException(s"$msg at offset $i: …${s.slice(i, math.min(s.length, i + 40))}…")

    private def skipWs(): Unit = {
      var go = true
      while (go && i < s.length) {
        val c = s.charAt(i)
        if (c == '#') { while (i < s.length && s.charAt(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else go = false
      }
    }

    private def expect(c: Char): Unit = {
      skipWs()
      if (i >= s.length || s.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }

    private def parseIriRef(): String = {
      // at '<'
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '>') {
        val c = s.charAt(i)
        if (c == '\\') { i += 1; sb.append(unescapeChar()) }
        else { sb.append(c); i += 1 }
      }
      if (i >= s.length) fail("unterminated IRI")
      i += 1
      val iri = sb.toString
      // A ':' later in a path segment does not make a ref absolute.
      // Relative refs resolve against @base per RFC 3986 §5
      // (java.net.URI.resolve), so "/abs", "../up" and bare fragments
      // all land correctly, not by string concatenation. An opaque base
      // (urn:…) cannot anchor relative refs — JDK resolve would return
      // the ref UNCHANGED, silently emitting a relative string as an
      // IRI, so that is an error here.
      if (base.isEmpty || SchemePattern.matcher(iri).matches()) iri
      else
        try {
          if (baseUri == null) baseUri = new java.net.URI(base)
          if (baseUri.isOpaque)
            fail(s"cannot resolve relative IRI <$iri> against opaque base <$base>")
          baseUri.resolve(new java.net.URI(iri)).toString
        } catch {
          case _: java.net.URISyntaxException =>
            fail(s"cannot resolve relative IRI <$iri> against base <$base>")
        }
    }

    private def unescapeChar(): String = {
      // at the char after '\'
      if (i >= s.length) fail("truncated escape")
      val c = s.charAt(i); i += 1
      c match {
        case 't' => "\t"; case 'n' => "\n"; case 'r' => "\r"
        case 'b' => "\b"; case 'f' => "\f"
        case '"' => "\""; case '\'' => "'"; case '\\' => "\\"
        case 'u' =>
          if (i + 4 > s.length) fail("truncated \\u escape")
          val h = s.substring(i, i + 4); i += 4
          try Integer.parseInt(h, 16).toChar.toString
          catch { case _: NumberFormatException => fail(s"bad \\u escape '$h'") }
        case 'U' =>
          if (i + 8 > s.length) fail("truncated \\U escape")
          val h = s.substring(i, i + 8); i += 8
          try new String(Character.toChars(Integer.parseInt(h, 16)))
          catch { case _: RuntimeException => fail(s"bad \\U escape '$h'") }
        case other => fail(s"bad escape \\$other")
      }
    }

    /** PN_LOCAL / prefix part: up to delimiter; a '.' is part of the name
      * only when followed by a name char (PN_LOCAL allows interior dots,
      * the statement terminator does not). */
    private def parseNameChars(): String = {
      val sb = new StringBuilder
      var go = true
      while (go && i < s.length) {
        val c = s.charAt(i)
        if (c == '.' && (i + 1 >= s.length ||
          !(s.charAt(i + 1).isLetterOrDigit || "_-%:".contains(s.charAt(i + 1))))) go = false
        else if (c.isWhitespace || ";,)]#".contains(c) || c == '"' || c == '\'' || c == '<') go = false
        else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private def resolvePrefixed(tok: String): String = {
      val colon = tok.indexOf(':')
      if (colon < 0) fail(s"not a prefixed name: $tok")
      val (p, local) = (tok.substring(0, colon), tok.substring(colon + 1))
      prefixes.get(p) match {
        case Some(ns) => ns + local
        case None     => fail(s"undeclared prefix '$p:'")
      }
    }

    /** A subject/predicate-position term: IRI, prefixed name, or bnode. */
    private def parseResource(): String = {
      skipWs()
      if (i >= s.length) fail("unexpected EOF")
      s.charAt(i) match {
        case '<' => parseIriRef()
        case '(' | '[' => fail("collections / anonymous property lists unsupported")
        case _ =>
          val tok = parseNameChars()
          if (tok.isEmpty) fail("empty term")
          if (tok.startsWith("_:")) tok else resolvePrefixed(tok)
      }
    }

    private def parseQuotedString(): String = {
      val quote = s.charAt(i)
      val long = i + 2 < s.length && s.charAt(i + 1) == quote && s.charAt(i + 2) == quote
      val sb = new StringBuilder
      if (long) {
        i += 3
        var done = false
        while (!done) {
          if (i + 2 < s.length && s.charAt(i) == quote &&
            s.charAt(i + 1) == quote && s.charAt(i + 2) == quote) { i += 3; done = true }
          else if (i >= s.length) fail("unterminated long literal")
          else if (s.charAt(i) == '\\') { i += 1; sb.append(unescapeChar()) }
          else { sb.append(s.charAt(i)); i += 1 }
        }
      } else {
        i += 1
        var done = false
        while (!done) {
          if (i >= s.length) fail("unterminated literal")
          val c = s.charAt(i)
          if (c == quote) { i += 1; done = true }
          else if (c == '\\') { i += 1; sb.append(unescapeChar()) }
          else { sb.append(c); i += 1 }
        }
      }
      sb.toString
    }

    /** Object-position term → (obj, lang, datatype). */
    private def parseObject(): (String, String, String) = {
      skipWs()
      if (i >= s.length) fail("unexpected EOF in object")
      val c = s.charAt(i)
      if (c == '<') (parseIriRef(), null, null)
      else if (c == '"' || c == '\'') {
        val value = parseQuotedString()
        if (i < s.length && s.charAt(i) == '@') {
          i += 1
          val sb = new StringBuilder
          while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-')) {
            sb.append(s.charAt(i)); i += 1
          }
          (value, sb.toString, null)
        } else if (i + 1 < s.length && s.charAt(i) == '^' && s.charAt(i + 1) == '^') {
          i += 2
          skipWs()
          val dt = if (i < s.length && s.charAt(i) == '<') parseIriRef()
            else resolvePrefixed(parseNameChars())
          (value, null, dt)
        } else (value, null, null)
      } else if (c == '(' || c == '[') fail("collections / anonymous property lists unsupported")
      else {
        val tok = parseNameChars()
        if (tok.isEmpty) fail("empty object")
        if (tok.startsWith("_:")) (tok, null, null)
        else if (tok == "true" || tok == "false") (tok, null, XsdBoolean)
        else if (tok.matches("[+-]?\\d+")) (tok, null, XsdInteger)
        else if (tok.matches("[+-]?\\d*\\.\\d+")) (tok, null, XsdDecimal)
        else if (tok.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)[eE][+-]?\\d+")) (tok, null, XsdDouble)
        else (resolvePrefixed(tok), null, null)
      }
    }

    private def parseDirective(): Unit = {
      // at '@prefix'/'@base' or PREFIX/BASE (case-insensitive, no dot)
      val sparqlStyle = s.charAt(i) != '@'
      val word = { if (!sparqlStyle) i += 1; parseNameChars().toLowerCase }
      word match {
        case w if w.startsWith("prefix") =>
          skipWs()
          val p = parseNameChars() // "ex:" or ":"
          if (!p.endsWith(":")) fail(s"bad prefix declaration '$p'")
          skipWs()
          if (i >= s.length || s.charAt(i) != '<') fail("prefix IRI expected")
          prefixes(p.dropRight(1)) = parseIriRef()
          if (!sparqlStyle) expect('.')
        case w if w.startsWith("base") =>
          skipWs()
          if (i >= s.length || s.charAt(i) != '<') fail("base IRI expected")
          base = parseIriRef()
          baseUri = null // re-parse on next relative reference
          if (!sparqlStyle) expect('.')
        case other => fail(s"unknown directive '$other'")
      }
    }

    /** Parse forward until ≥1 quad is queued or the doc ends. */
    private def advance(): Unit = {
      while (pending.isEmpty) {
        skipWs()
        if (i >= s.length) return
        val c = s.charAt(i)
        if (c == '@' || ((c == 'p' || c == 'P' || c == 'b' || c == 'B') && subject == null && {
          val save = i; val w = parseNameChars().toLowerCase; i = save
          w == "prefix" || w == "base"
        })) { parseDirective(); subject = null; predicate = null }
        else if (subject == null) {
          subject = parseResource()
          predicate = null
        } else if (predicate == null) {
          skipWs()
          // `a` keyword only valid in predicate position
          if (i < s.length && s.charAt(i) == 'a' && i + 1 < s.length &&
            (s.charAt(i + 1).isWhitespace || s.charAt(i + 1) == '<')) {
            i += 1; predicate = Ns.RdfType
          } else predicate = parseResource()
        } else {
          val (obj, lang, dt) = parseObject()
          pending.enqueue(Quad(subject, predicate, obj, lang, dt, null))
          skipWs()
          if (i >= s.length) fail("statement not terminated")
          s.charAt(i) match {
            case ',' => i += 1 // same subject+predicate, next object
            case ';' =>
              i += 1
              // allow trailing `;` before `.`
              skipWs()
              if (i < s.length && s.charAt(i) == '.') { i += 1; subject = null }
              predicate = null
            case '.' => i += 1; subject = null; predicate = null
            case other => fail(s"expected , ; or . got '$other'")
          }
        }
      }
    }

    override def hasNext: Boolean = {
      if (pending.isEmpty) advance()
      pending.nonEmpty
    }

    override def next(): Quad = {
      if (!hasNext) throw new NoSuchElementException
      pending.dequeue()
    }
  }
}
