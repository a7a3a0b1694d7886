package graft.sources

import graft.graph.{TriplesGraph, TsProvider}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Distributed N-Triples / N-Quads SOURCE — the read half of the engine's
  * RDF interchange (the write half is `Mapping.writeNTriplesDistributed`;
  * reference serializes the same line format, mapping/ntriples_write.rs:52,
  * and parses RDF input through oxrdf).
  *
  * N-Triples is line-delimited, which makes it the one RDF syntax that
  * scales embarrassingly: `spark.read.text` splits a 100 TB dump across
  * executors at newline boundaries and every line parses independently —
  * no cross-line state, no driver involvement. (Turtle/TriG, with their
  * document-scoped prefixes and multi-line terms, cannot be split this
  * way; converting to N-Triples first is the standard lake-scale path.)
  *
  * Parse is a per-partition imperative kernel (quoted-literal escapes and
  * IRI delimiters are a character-level scan — the documented
  * mapPartitions tier of the extension ladder). Malformed lines fail the
  * job LOUDLY with the offending line quoted; a parser that silently
  * drops lines would corrupt a corpus-scale load invisibly.
  *
  * Output frame: `s, p, o_lex, o_dt, o_lang, g` — resources carry
  * o_dt = o_lang = null (blank nodes keep their `_:` spelling in s/o_lex,
  * matching Term.canonical), plain literals are tagged xsd:string per RDF
  * 1.1, the optional 4th N-Quads term lands in `g` (null = default
  * graph) — the lexical frame `TriplesGraph.fromLexical` types. [[toGraph]]
  * lifts it into a predicate-sliced TriplesGraph, and the executor's LOAD
  * update op feeds the same frame through applyDelta.
  */
object NTriples {

  val parsedSchema: StructType = StructType(Seq(
    StructField("s", StringType), StructField("p", StringType),
    StructField("o_lex", StringType), StructField("o_dt", StringType),
    StructField("o_lang", StringType), StructField("g", StringType)))

  /** Read + parse an N-Triples / N-Quads file (or directory of part
    * files) into the parsed frame. Map-only; comments and blank lines
    * skipped. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    val rdd = lines.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val line = r.getString(0)
        parseLine(line).map { t =>
          Row(t.s, t.p, t.oLex, t.oDt.orNull, t.oLang.orNull, t.g.orNull)
        }
      }
    }
    spark.createDataFrame(rdd, parsedSchema)
  }

  /** Lift a parsed frame into a typed TriplesGraph: one localCheckpoint
    * of the parse, then [[graft.graph.TriplesGraph.fromLexical]] over it —
    * the corpus parses once, not once per predicate, and every slice is
    * typed by the graph layer's one kind rule. */
  def toGraph(spark: SparkSession, parsed: DataFrame,
      ts: Option[TsProvider] = None): TriplesGraph =
    TriplesGraph.fromLexical(spark, parsed.localCheckpoint(false), ts)

  /** One parsed triple/quad; `oDt`/`oLang` empty for resource objects. */
  final case class Parsed(s: String, p: String, oLex: String,
      oDt: Option[String], oLang: Option[String], g: Option[String])

  /** Parse one N-Triples / N-Quads line. None for blank lines and
    * `#` comments; IllegalArgumentException (quoting the line) for
    * malformed input. */
  def parseLine(line: String): Option[Parsed] = {
    val n = line.length
    var i = 0
    def skipWs(): Unit = { while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1 }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"N-Triples parse error ($msg) in line: $line")

    skipWs()
    if (i >= n || line.charAt(i) == '#') return None

    // <iri> — scan to the closing '>' (N-Triples IRIs cannot contain '>')
    def iri(): String = {
      if (line.charAt(i) != '<') fail("expected '<'")
      val e = line.indexOf('>', i + 1)
      if (e < 0) fail("unterminated IRI")
      val v = line.substring(i + 1, e); i = e + 1; v
    }
    // _:label — scan to whitespace
    def blank(): String = {
      val st = i; i += 2
      while (i < n && !Character.isWhitespace(line.charAt(i))) i += 1
      line.substring(st, i)
    }
    def resource(): String = {
      skipWs()
      if (i >= n) fail("unexpected end")
      if (line.charAt(i) == '<') iri()
      else if (line.charAt(i) == '_' && i + 1 < n && line.charAt(i + 1) == ':') blank()
      else fail("expected IRI or blank node")
    }
    // "lexical" with ECHAR + \uXXXX/\UXXXXXXXX unescaping
    def literalLex(): String = {
      val sb = new java.lang.StringBuilder
      i += 1 // opening quote
      while (i < n && line.charAt(i) != '"') {
        val c = line.charAt(i)
        if (c == '\\') {
          if (i + 1 >= n) fail("dangling escape")
          line.charAt(i + 1) match {
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '"' => sb.append('"'); i += 2
            case '\'' => sb.append('\''); i += 2
            case '\\' => sb.append('\\'); i += 2
            case 'u' =>
              if (i + 6 > n) fail("short \\u escape")
              sb.append(Integer.parseInt(line.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case 'U' =>
              if (i + 10 > n) fail("short \\U escape")
              sb.appendCodePoint(Integer.parseInt(line.substring(i + 2, i + 10), 16))
              i += 10
            case other => fail(s"bad escape \\$other")
          }
        } else { sb.append(c); i += 1 }
      }
      if (i >= n) fail("unterminated literal")
      i += 1 // closing quote
      sb.toString
    }

    val s = resource()
    skipWs()
    val p = iri()
    skipWs()
    if (i >= n) fail("missing object")
    val (oLex, oDt, oLang) =
      if (line.charAt(i) == '"') {
        val lex = literalLex()
        if (i < n && line.charAt(i) == '@') {
          val st = i + 1; i += 1
          while (i < n && !Character.isWhitespace(line.charAt(i))) i += 1
          (lex, None, Some(line.substring(st, i)))
        } else if (i + 1 < n && line.charAt(i) == '^' && line.charAt(i + 1) == '^') {
          i += 2
          (lex, Some(iri()), None)
        } else (lex, Some(graft.rdf.Xsd.string), None)
      } else (resource(), None, None)
    skipWs()
    val g = if (i < n && line.charAt(i) != '.') Some(resource()) else None
    skipWs()
    if (i >= n || line.charAt(i) != '.') fail("missing terminating '.'")
    Some(Parsed(s, p, oLex, oDt, oLang, g))
  }
}
