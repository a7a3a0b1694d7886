package graft.sparql

import graft.SparkTestBase
import graft.exec.SparqlExecutor
import graft.graph.{LazyTsSource, TriplesGraph}
import graft.rdf.{Iri, Lit, Otit, Rdf, Term, Xsd}
import graft.sources.RdfData
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Using

/** Golden end-to-end tests mirroring the reference's 21 query-execution
  * tests (/root/reference/hybrid/tests/query_execution.rs:83-1040) against
  * the same fixture graph + ts1/ts2 CSVs and the same expected CSVs.
  *
  * The graph is read from the reference's `testdata.sparql` where it exists,
  * and otherwise from the vendored copy of the FIXTURES.md §1 graph on the
  * test classpath (`query_execution_testdata/testdata.sparql`). The ts1/ts2
  * series and the `expected_*.csv` goldens have no fallback: a test that
  * reads them fails, naming the missing reference file, until those files
  * are in the repository. The series are read only when a query names the
  * time-series vocabulary, so the static query runs on the graph alone.
  */
class SparqlEngineGoldenSpec extends SparkTestBase {

  private val dataDir = "/root/reference/hybrid/tests/query_execution_testdata"
  private val vendoredGraph = "/query_execution_testdata/testdata.sparql"

  private def readVendoredGraph(): String =
    Using.resource(getClass.getResourceAsStream(vendoredGraph))(
      in => new String(in.readAllBytes(), StandardCharsets.UTF_8))

  private lazy val graph: TriplesGraph = {
    val refGraph = Paths.get(s"$dataDir/testdata.sparql")
    val text = if (Files.exists(refGraph)) Files.readString(refGraph) else readVendoredGraph()
    val triples = RdfData.parseInsertData(text)
    val schema = StructType(Seq(
      StructField("timestamp", TimestampType), StructField("value", LongType)))
    def tsCsv(name: String): DataFrame =
      spark.read.option("header", "true").schema(schema)
        .csv(s"$dataDir/$name.csv")
        .select(lit(name).as("id"), col("timestamp").as("ts"), col("value"))
    val ts = new LazyTsSource(() => tsCsv("ts1").unionByName(tsCsv("ts2")))
    TriplesGraph.fromTerms(spark, triples, Some(ts))
  }

  private lazy val exec = new SparqlExecutor(graph)

  private val prologue =
    """PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
      |PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
      |PREFIX types:<http://example.org/types#>
      |""".stripMargin

  private def run(q: String): DataFrame = exec.execute(prologue + q)

  private def golden(q: String, csv: String,
      multisetCols: Set[String] = Set.empty, sep: String = "-"): Unit =
    GoldenCompare.assertMatchesGolden(run(q), s"$dataDir/$csv", multisetCols, sep)

  // the vendored fallback holds exactly the triples FIXTURES.md §1 spells out
  test("vendored graph is the FIXTURES.md §1 graph") {
    val cs = "http://example.org/case#"
    val ty = "http://example.org/types#"
    val unsignedInt = Iri("http://www.w3.org/2001/XMLSchema#unsignedInt")
    val got = RdfData.parseInsertData(readVendoredGraph())
    assert(got.size == 11)
    assert(got.toSet == Set[(Term, String, Term)](
      (Iri(cs + "myWidget1"), Rdf.typ, Iri(ty + "BigWidget")),
      (Iri(cs + "myWidget1"), ty + "hasSensor", Iri(cs + "mySensor1")),
      (Iri(cs + "myWidget1"), ty + "hasSomething", Iri(cs + "mySomething1")),
      (Iri(cs + "myWidget2"), Rdf.typ, Iri(ty + "SmallWidget")),
      (Iri(cs + "myWidget2"), ty + "hasSensor", Iri(cs + "mySensor2")),
      (Iri(cs + "mySensor1"), Otit.hasTimeseries, Iri(cs + "myTimeseries1")),
      (Iri(cs + "mySensor2"), Otit.hasTimeseries, Iri(cs + "myTimeseries2")),
      (Iri(cs + "myTimeseries1"), Otit.hasDatatype, unsignedInt),
      (Iri(cs + "myTimeseries1"), Otit.hasExternalId, Lit("ts1", Xsd.string)),
      (Iri(cs + "myTimeseries2"), Otit.hasDatatype, unsignedInt),
      (Iri(cs + "myTimeseries2"), Otit.hasExternalId, Lit("ts2", Xsd.string))))
  }

  // query_execution.rs:83 — static-only BGP
  test("static query") {
    val df = run("SELECT * WHERE {?a otit_swt:hasTimeseries ?b }")
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("http://example.org/case#mySensor1", "http://example.org/case#myTimeseries1"),
      ("http://example.org/case#mySensor2", "http://example.org/case#myTimeseries2")))
  }

  // query_execution.rs:124 — the flagship simple hybrid query
  test("simple hybrid") {
    golden(
      """SELECT ?w ?s ?t ?v WHERE {
        |  ?w a types:BigWidget .
        |  ?w types:hasSensor ?s .
        |  ?s otit_swt:hasTimeseries ?ts .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasTimestamp ?t .
        |  ?dp otit_swt:hasValue ?v .
        |  FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime && ?v < 200) .
        |}""".stripMargin,
      "expected_simple_hybrid.csv")
  }

  // query_execution.rs:170 — two series synchronized on ?t + theta filter
  test("complex hybrid") {
    golden(
      """SELECT ?w1 ?w2 ?t ?v1 ?v2 WHERE {
        |  ?w1 a types:BigWidget .
        |  ?w2 a types:SmallWidget .
        |  ?w1 types:hasSensor ?s1 .
        |  ?w2 types:hasSensor ?s2 .
        |  ?s1 otit_swt:hasTimeseries ?ts1 .
        |  ?s2 otit_swt:hasTimeseries ?ts2 .
        |  ?ts1 otit_swt:hasDataPoint ?dp1 .
        |  ?ts2 otit_swt:hasDataPoint ?dp2 .
        |  ?dp1 otit_swt:hasTimestamp ?t .
        |  ?dp2 otit_swt:hasTimestamp ?t .
        |  ?dp1 otit_swt:hasValue ?v1 .
        |  ?dp2 otit_swt:hasValue ?v2 .
        |  FILTER(?t > "2022-06-01T08:46:55"^^xsd:dateTime && ?v1 < ?v2) .
        |}""".stripMargin,
      "expected_complex_hybrid.csv")
  }

  // query_execution.rs:222 — GROUP BY + SUM
  test("group by sum") {
    golden(
      """SELECT ?w (SUM(?v) as ?sum_v) WHERE {
        |  ?w types:hasSensor ?s .
        |  ?s otit_swt:hasTimeseries ?ts .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasTimestamp ?t .
        |  ?dp otit_swt:hasValue ?v .
        |  FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime) .
        |} GROUP BY ?w""".stripMargin,
      "expected_pushdown_group_by_hybrid.csv")
  }

  // query_execution.rs:271 — per-second grouping via datetime-part BINDs
  test("group by second") {
    golden(
      """SELECT ?w (SUM(?v) as ?sum_v) WHERE {
        |  ?w types:hasSensor ?s .
        |  ?s otit_swt:hasTimeseries ?ts .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasTimestamp ?t .
        |  ?dp otit_swt:hasValue ?v .
        |  BIND(seconds(?t) as ?second)
        |  BIND(minutes(?t) AS ?minute)
        |  BIND(hours(?t) AS ?hour)
        |  BIND(day(?t) AS ?day)
        |  BIND(month(?t) AS ?month)
        |  BIND(year(?t) AS ?year)
        |  FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime)
        |} GROUP BY ?w ?year ?month ?day ?hour ?minute ?second""".stripMargin,
      "expected_pushdown_group_by_second_hybrid.csv")
  }

  // query_execution.rs:326 — HAVING + CONCAT over group keys
  test("group by second having") {
    golden(
      """SELECT ?w (CONCAT(?year, "-", ?month, "-", ?day, "-", ?hour, "-", ?minute, "-", (?second_5*5)) as ?period) (SUM(?v) as ?sum_v) WHERE {
        |  ?w types:hasSensor ?s .
        |  ?s otit_swt:hasTimeseries ?ts .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasTimestamp ?t .
        |  ?dp otit_swt:hasValue ?v .
        |  BIND(xsd:integer(FLOOR(seconds(?t) / 5.0)) as ?second_5)
        |  BIND(minutes(?t) AS ?minute)
        |  BIND(hours(?t) AS ?hour)
        |  BIND(day(?t) AS ?day)
        |  BIND(month(?t) AS ?month)
        |  BIND(year(?t) AS ?year)
        |  FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime)
        |} GROUP BY ?w ?year ?month ?day ?hour ?minute ?second_5
        |HAVING (SUM(?v)>100)""".stripMargin,
      "expected_pushdown_group_by_second_having_hybrid.csv")
  }

  // query_execution.rs:382 — GROUP_CONCAT (order-insensitive compare: our
  // engine sorts for determinism, the reference keeps frame order)
  test("group concat") {
    golden(
      """SELECT ?w ?seconds_5 (GROUP_CONCAT(?v ; separator="-") as ?cc) WHERE {
        |  ?w types:hasSensor ?s .
        |  ?s otit_swt:hasTimeseries ?ts .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasTimestamp ?t .
        |  ?dp otit_swt:hasValue ?v .
        |  BIND(xsd:integer(FLOOR(seconds(?t) / 5.0)) as ?seconds_5)
        |  FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime)
        |} GROUP BY ?w ?seconds_5""".stripMargin,
      "expected_pushdown_group_by_concat_agg_hybrid.csv",
      multisetCols = Set("cc"))
  }

  // query_execution.rs:432 — FILTER EXISTS with sub-select
  test("exists something") {
    golden(
      """SELECT ?w ?seconds_3 (AVG(?v) as ?mean) WHERE {
        |  ?w types:hasSensor ?s .
        |  ?s otit_swt:hasTimeseries ?ts .
        |  ?ts otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasTimestamp ?t .
        |  ?dp otit_swt:hasValue ?v .
        |  BIND(xsd:integer(FLOOR(seconds(?t) / 3.0)) as ?seconds_3)
        |  FILTER EXISTS {SELECT ?w WHERE {?w types:hasSomething ?smth}}
        |} GROUP BY ?w ?seconds_3""".stripMargin,
      "expected_pushdown_group_by_exists_something_hybrid.csv")
  }

  // query_execution.rs:484 — EXISTS over a time-series value filter
  test("exists timeseries value") {
    golden(
      """SELECT ?w ?s WHERE {
        |  ?w types:hasSensor ?s .
        |  FILTER EXISTS {SELECT ?s WHERE {
        |    ?s otit_swt:hasTimeseries ?ts .
        |    ?ts otit_swt:hasDataPoint ?dp .
        |    ?dp otit_swt:hasTimestamp ?t .
        |    ?dp otit_swt:hasValue ?v .
        |    FILTER(?v > 300)}}
        |}""".stripMargin,
      "expected_pushdown_exists_timeseries_value_hybrid.csv")
  }

  // query_execution.rs:536 — EXISTS over aggregated series (HAVING inside)
  test("exists aggregated timeseries value") {
    golden(
      """SELECT ?w ?s WHERE {
        |  ?w types:hasSensor ?s .
        |  FILTER EXISTS {SELECT ?s WHERE {
        |    ?s otit_swt:hasTimeseries ?ts .
        |    ?ts otit_swt:hasDataPoint ?dp .
        |    ?dp otit_swt:hasTimestamp ?t .
        |    ?dp otit_swt:hasValue ?v .
        |    FILTER(?v < 300)}
        |    GROUP BY ?s
        |    HAVING (SUM(?v) >= 1000)
        |    }
        |}""".stripMargin,
      "expected_pushdown_exists_aggregated_timeseries_value_hybrid.csv")
  }

  // query_execution.rs:588 — NOT EXISTS variant. Documented divergence from
  // the reference golden: sum of ts1 values < 300 is 318 <= 1000, so
  // mySensor1 satisfies the inner subquery and NOT EXISTS must exclude it —
  // the spec answer is (myWidget2, mySensor2). The reference CSV keeps
  // (myWidget1, mySensor1), i.e. the UN-negated EXISTS set — a reference bug
  // in the same family as its inverted BOUND (lazy_expressions.rs:362-364);
  // we keep SPARQL-spec semantics (cf. SURVEY §4 "bugs to not replicate").
  test("not exists aggregated timeseries value (spec-correct, diverges from reference)") {
    val df = run(
      """SELECT ?w ?s WHERE {
        |  ?w types:hasSensor ?s .
        |  FILTER NOT EXISTS {SELECT ?s WHERE {
        |    ?s otit_swt:hasTimeseries ?ts .
        |    ?ts otit_swt:hasDataPoint ?dp .
        |    ?dp otit_swt:hasTimestamp ?t .
        |    ?dp otit_swt:hasValue ?v .
        |    FILTER(?v < 300)}
        |    GROUP BY ?s
        |    HAVING (SUM(?v) <= 1000)
        |    }
        |}""".stripMargin)
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("http://example.org/case#myWidget2", "http://example.org/case#mySensor2")))
  }

  // query_execution.rs:638 — sequence property path + MAX + ORDER BY
  test("path group by") {
    golden(
      """SELECT ?w (MAX(?v) as ?max_v) WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint/otit_swt:hasValue ?v .}
        |GROUP BY ?w
        |ORDER BY ASC(?max_v)""".stripMargin,
      "expected_path_group_by_query.csv")
  }

  // query_execution.rs:679 — OPTIONAL with BIND over an outer var
  test("optional clause") {
    golden(
      """SELECT ?w ?v ?greater WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |  OPTIONAL {
        |  BIND(?v>300 as ?greater)
        |  FILTER(?greater)
        |  }
        |}""".stripMargin,
      "expected_optional_clause_query.csv")
  }

  // query_execution.rs:724 — MINUS
  test("minus") {
    golden(
      """SELECT ?w ?v WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |  MINUS {
        |  ?dp otit_swt:hasValue ?v .
        |  FILTER(?v > 300)
        |  }
        |}""".stripMargin,
      "expected_minus_query.csv")
  }

  // query_execution.rs:773 — IN with computed members
  test("in expression") {
    golden(
      """SELECT ?w ?v WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |  FILTER(?v IN ((300+4), (304-3), 307))
        |}""".stripMargin,
      "expected_in_expression.csv")
  }

  // query_execution.rs:815 — VALUES
  test("values") {
    golden(
      """SELECT ?w ?v WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |  VALUES ?v2 { 301 304 307 }
        |  FILTER(?v = ?v2)
        |}""".stripMargin,
      "expected_values_query.csv")
  }

  // query_execution.rs:858 — IF
  test("if") {
    golden(
      """SELECT ?w (IF(?v>300,?v,300) as ?v_with_min) WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |}""".stripMargin,
      "expected_if_query.csv")
  }

  // query_execution.rs:904 — DISTINCT
  test("distinct") {
    golden(
      """SELECT DISTINCT ?w (IF(?v>300,?v,300) as ?v_with_min) WHERE {
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |}""".stripMargin,
      "expected_distinct_query.csv")
  }

  // query_execution.rs:945 — UNION
  test("union") {
    golden(
      """SELECT ?w ?v WHERE {
        |  { ?w a types:BigWidget .
        |  ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |  ?dp otit_swt:hasValue ?v .
        |  FILTER(?v > 100) }
        |  UNION {
        |    ?w a types:SmallWidget .
        |    ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        |    ?dp otit_swt:hasValue ?v .
        |    FILTER(?v < 100)
        |  }
        |}""".stripMargin,
      "expected_union_query.csv")
  }

  // query_execution.rs:1000 — OPTIONAL + COALESCE self-join
  test("coalesce") {
    golden(
      """SELECT ?s1 ?t1 ?v1 ?v2 (COALESCE(?v2, ?v1) as ?c) WHERE {
        |  ?s1 otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp1 .
        |  ?dp1 otit_swt:hasValue ?v1 .
        |  ?dp1 otit_swt:hasTimestamp ?t1 .
        |  OPTIONAL {
        |  ?s1 otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp2 .
        |  ?dp2 otit_swt:hasValue ?v2 .
        |  ?dp2 otit_swt:hasTimestamp ?t2 .
        |  FILTER(seconds(?t2) >= (seconds(?t1) - 1) && seconds(?t2) <= (seconds(?t1) + 1) && ?v2 > ?v1)
        |  }
        |}""".stripMargin,
      "expected_coalesce_query.csv")
  }
}
