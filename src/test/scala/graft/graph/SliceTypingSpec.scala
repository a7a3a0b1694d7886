package graft.graph

import graft.{JobProbe, SparkTestBase}
import graft.exec.SparqlExecutor
import graft.mapper.Mapping
import graft.rdf.{Iri, Lit, Term, Xsd}
import graft.sources.NTriples

/** Every graph constructor types a predicate slice by the one kind rule
  * (`OKind.of` per object, `OKind.ofSlice` per predicate) and keeps the
  * slice's language tags. */
class SliceTypingSpec extends SparkTestBase {

  private val ex = "http://example.net/ns#"

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Two subjects whose `ex:name` objects are all `@en`-tagged. */
  private def langMapping(): Mapping = {
    import spark.implicits._
    val m = Mapping.fromString(
      s"""@prefix ex:<$ex>.
         |ex:T [xsd:anyURI ?subj , ?name , ?score] :: {
         |    ottr:Triple(?subj, ex:name, ?name) ,
         |    ottr:Triple(?subj, ex:score, ?score)
         |} .""".stripMargin, spark)
    m.expand(s"${ex}T", Seq(("K1", s"${ex}a", "alice", 10L),
      ("K2", s"${ex}b", "bob", 3L)).toDF("Key", "subj", "name", "score"),
      languageTags = Map("name" -> "en"))
    m
  }

  private def enNames(g: TriplesGraph): Set[String] =
    new SparqlExecutor(g).execute(
      s"""PREFIX ex:<$ex>
         |SELECT ?n WHERE { ?s ex:name ?n FILTER(lang(?n) = "en") }""".stripMargin)
      .collect().map(_.getString(0)).toSet

  test("a Mapping expansion with language tags gives a lang-tagged KStr " +
      "slice that still matches lang() after save/load") {
    val g = langMapping().toGraph
    val name = g.slices(s"${ex}name")
    assert(name.kind == OKind.KStr && name.hasLang)
    assert(g.slices(s"${ex}score").kind == OKind.KLong)
    assert(enNames(g) == Set("alice", "bob"))
    val dir = tmpDir("graft-slice-typing")
    g.save(dir)
    assert(enNames(TriplesGraph.load(spark, dir)) == Set("alice", "bob"))
  }

  test("fromQuads keeps language tags") {
    val g = TriplesGraph.fromQuads(spark, Seq(
      (Iri(s"${ex}a"), s"${ex}name", Lit("hi", Xsd.langString, Some("en")), None),
      (Iri(s"${ex}b"), s"${ex}name", Lit("salut", Xsd.langString, Some("fr")), None)))
    val name = g.slices(s"${ex}name")
    assert(name.kind == OKind.KStr && name.hasLang && name.hasGraph)
    assert(enNames(g) == Set("hi"))
  }

  test("fromTerms and NTriples.toGraph type every predicate alike") {
    val objects: Seq[(String, Seq[(Term, String)])] = Seq(
      "iri" -> Seq(Iri(s"${ex}x") -> s"<${ex}x>"),
      "long" -> Seq(Lit("1", Xsd.int) -> s""""1"^^<${Xsd.int}>""",
        Lit("2", Xsd.long) -> s""""2"^^<${Xsd.long}>"""),
      "lang" -> Seq(Lit("hi", Xsd.langString, Some("en")) -> "\"hi\"@en"),
      "iriLang" -> Seq(Iri(s"${ex}x") -> s"<${ex}x>",
        Lit("hi", Xsd.langString, Some("en")) -> "\"hi\"@en"),
      "mixed" -> Seq(Lit("5", Xsd.integer) -> s""""5"^^<${Xsd.integer}>""",
        Lit("x", Xsd.string) -> "\"x\""))
    val triples = objects.flatMap { case (p, os) =>
      os.map { case (o, _) => (Iri(s"${ex}s"): Term, ex + p, o) }
    }
    val path = tmpDir("graft-slice-typing-nt") + "/g.nt"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      objects.flatMap { case (p, os) =>
        os.map { case (_, nt) => s"<${ex}s> <$ex$p> $nt ." }
      }.mkString("\n").getBytes("UTF-8"))
    def typing(g: TriplesGraph) =
      g.slices.map { case (p, sl) => p -> (sl.kind, sl.hasLang) }
    val fromTerms = typing(TriplesGraph.fromTerms(spark, triples))
    assert(fromTerms == typing(NTriples.toGraph(spark, NTriples.read(spark, path))))
    assert(fromTerms == Map(
      s"${ex}iri" -> (OKind.KIri, false),
      s"${ex}long" -> (OKind.KLong, false),
      s"${ex}lang" -> (OKind.KStr, true),
      s"${ex}iriLang" -> (OKind.KStr, true),
      s"${ex}mixed" -> (OKind.KStr, false)))
  }

  test("Mapping.toGraph and NTriples.toGraph each run only their one " +
      "metadata aggregate") {
    // one aggregate under AQE = its shuffle-map job plus its result job;
    // the slices themselves stay lazy
    val m = langMapping()
    val mapped = JobProbe(spark)(m.toGraph)
    val dir = tmpDir("graft-slice-typing-jobs") + "/nt"
    m.writeNTriplesDistributed(dir)
    val parsed = NTriples.read(spark, dir)
    val lifted = JobProbe(spark)(NTriples.toGraph(spark, parsed))
    assert(mapped.size == 2, mapped)
    assert(lifted.size == 2, lifted)
  }
}
