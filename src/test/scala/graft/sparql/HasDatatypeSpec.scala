package graft.sparql

import graft.{JobProbe, SparkTestBase}
import graft.exec.SparqlExecutor
import graft.graph.{OKind, PredicateSlice, TriplesGraph, TsSource}
import graft.rdf.{Iri, Lit, Otit, Term, Xsd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `otit_swt:hasDatatype` routing + the per-query value-datatype consistency
  * check — the reference's InconsistentDatatype orchestration
  * (/root/reference/hybrid/src/engine.rs:155-176) and the injected datatype
  * triple (/root/reference/hybrid/src/rewriting/graph_patterns/
  * bgp_pattern.rs:61-67).
  */
class HasDatatypeSpec extends SparkTestBase {

  private val ex = "http://example.org/case#"
  private def iri(s: String) = Iri(ex + s)

  private def tsDf: DataFrame = {
    import spark.implicits._
    Seq(
      ("s1", "2024-01-01T00:00:00", 1.5),
      ("s1", "2024-01-01T01:00:00", 2.5),
      ("s2", "2024-01-01T00:00:00", 7.0))
      .toDF("id", "tss", "value")
      .select(col("id"), to_timestamp(col("tss")).as("ts"), col("value"))
  }

  private def baseTriples: Seq[(Term, String, Term)] = Seq(
    (iri("sensor1"), Otit.hasTimeseries, iri("series1")),
    (iri("sensor2"), Otit.hasTimeseries, iri("series2")),
    (iri("series1"), Otit.hasExternalId, Lit("s1", Xsd.string)),
    (iri("series2"), Otit.hasExternalId, Lit("s2", Xsd.string)))

  private val prologue =
    s"PREFIX ex:<$ex>\nPREFIX otit_swt:<${Otit.ns}>\n" +
      "PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>\n"

  test("hasDatatype binds the TS source's value type when the graph declares none") {
    val g = TriplesGraph.fromTerms(spark, baseTriples, Some(TsSource(tsDf)))
    val got = new SparqlExecutor(g).execute(prologue +
      """SELECT ?ts ?dt WHERE {
        |  ?ts otit_swt:hasDatatype ?dt .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |} ORDER BY ?ts""".stripMargin)
      .select("ts", "dt").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set((s"${ex}series1", Xsd.double), (s"${ex}series2", Xsd.double)))
  }

  test("constant hasDatatype object filters: match keeps, mismatch empties") {
    val g = TriplesGraph.fromTerms(spark, baseTriples, Some(TsSource(tsDf)))
    def count(dt: String): Long = new SparqlExecutor(g).execute(prologue +
      s"""SELECT ?ts ?v WHERE {
         |  ?ts otit_swt:hasDatatype <$dt> .
         |  ?ts otit_swt:hasDataPoint ?dp .
         |  ?dp otit_swt:hasValue ?v .
         |}""".stripMargin).count()
    assert(count(Xsd.double) == 3L)
    assert(count(Xsd.string) == 0L)
  }

  test("graph-declared hasDatatype binds the declared IRI and passes the kind check") {
    // declared xsd:decimal over double storage: same value kind, consistent
    val g = TriplesGraph.fromTerms(spark,
      baseTriples ++ Seq[(Term, String, Term)](
        (iri("series1"), Otit.hasDatatype, Iri(Xsd.decimal)),
        (iri("series2"), Otit.hasDatatype, Iri(Xsd.decimal))),
      Some(TsSource(tsDf)))
    val got = new SparqlExecutor(g).execute(prologue +
      """SELECT ?ts ?dt (COUNT(?v) AS ?n) WHERE {
        |  ?ts otit_swt:hasDatatype ?dt .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |} GROUP BY ?ts ?dt ORDER BY ?ts""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((s"${ex}series1", Xsd.decimal, 2L),
      (s"${ex}series2", Xsd.decimal, 1L)))
  }

  test("inconsistent graph-declared datatype vs actual value type throws") {
    val g = TriplesGraph.fromTerms(spark,
      baseTriples ++ Seq[(Term, String, Term)](
        (iri("series1"), Otit.hasDatatype, Iri(Xsd.integer))), // double storage
      Some(TsSource(tsDf)))
    val e = intercept[Exception] {
      new SparqlExecutor(g).execute(prologue +
        """SELECT ?ts ?v WHERE {
          |  ?ts otit_swt:hasDataPoint ?dp . ?dp otit_swt:hasValue ?v .
          |}""".stripMargin).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("inconsistent time-series datatypes"))
  }

  test("a mismatched series only poisons queries that scan it") {
    // series2 declares boolean over double storage, but the query pins
    // series1 — the guard must not fire for the untouched series (the
    // reference checks only the series matched by the static side)
    val g = TriplesGraph.fromTerms(spark,
      baseTriples ++ Seq[(Term, String, Term)](
        (iri("series1"), Otit.hasDatatype, Iri(Xsd.double)),
        (iri("series2"), Otit.hasDatatype, Iri(Xsd.boolean))),
      Some(TsSource(tsDf)))
    val got = new SparqlExecutor(g).execute(prologue +
      """SELECT ?v WHERE {
        |  ex:series1 otit_swt:hasDataPoint ?dp . ?dp otit_swt:hasValue ?v .
        |} ORDER BY ?v""".stripMargin)
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.5, 2.5))
  }

  // ---- a declaration the optimizer reduces to one constant datatype (the
  // TPC-H graph's shape) is decided from the plan, with no job

  /** The fixture graph with every series (or, with `keep`, the series it
    * selects) declared as the one constant datatype `dt`. */
  private def constantDeclared(dt: String,
      keep: org.apache.spark.sql.Column = lit(true)): TriplesGraph = {
    val g0 = TriplesGraph.fromTerms(spark, baseTriples, Some(TsSource(tsDf)))
    val ext = g0.slice(Otit.hasExternalId).get.df
    TriplesGraph.fromSlices(spark, g0.slices.updated(Otit.hasDatatype,
      PredicateSlice(ext.filter(keep).select(col("s"), lit(dt).as("o")),
        OKind.KIri)), g0.ts)
  }

  private val allValues = prologue +
    """SELECT ?ts ?v WHERE {
      |  ?ts otit_swt:hasDataPoint ?dp . ?dp otit_swt:hasValue ?v .
      |}""".stripMargin

  test("a compatible constant declaration fires no job and keeps the time " +
      "filter in the events scan") {
    val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath
    val text = SparqlQueries.prologue +
      SparqlQueries.sparqlTexts("q42_sparql_hybrid_ts")
    var df: DataFrame = null
    val jobs = JobProbe(spark) {
      df = new SparqlExecutor(TpchGraph.graph(spark, sf)).execute(text)
    }
    assert(jobs.isEmpty, jobs)
    // the data-point scan (the series-metadata scans read event_type only)
    val scans = df.queryExecution.executedPlan.toString.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("events.parquet") &&
        "ReadSchema: struct<[^>]*\\bts:".r.findFirstIn(l).nonEmpty)
    assert(scans.nonEmpty && scans.forall(l =>
      "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,".r.findFirstIn(l).nonEmpty),
      scans.mkString("\n"))
  }

  test("an incompatible constant declaration still fails the query") {
    val e = intercept[Exception] {
      new SparqlExecutor(constantDeclared(Xsd.integer)).execute(allValues)
        .collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("inconsistent time-series datatypes"))
  }

  test("an incompatible constant over an empty slice changes no rows") {
    def rows(g: TriplesGraph) = new SparqlExecutor(g).execute(allValues)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val undeclared = TriplesGraph.fromTerms(spark, baseTriples,
      Some(TsSource(tsDf)))
    val declared = constantDeclared(Xsd.boolean, col("s") === "no-such-series")
    // decided from the plan: the guard is attached without a metadata job
    assert(JobProbe(spark)(new SparqlExecutor(declared).execute(allValues))
      .isEmpty)
    val got = rows(declared)
    assert(got.size == 3 && got == rows(undeclared))
  }
}
