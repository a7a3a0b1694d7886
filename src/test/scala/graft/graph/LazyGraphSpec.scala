package graft.graph

import java.util.concurrent.atomic.AtomicInteger
import graft.SparkTestBase
import graft.exec.SparqlExecutor
import graft.sparql.{SparqlQueries, TpchGraph}
import org.apache.spark.sql.{DataFrame, Row}

/** The lazy-slice contract: a slice is built on its first access, once per
  * graph, and a query over the TPC-H graph reads only the tables its
  * patterns touch — with the same rows as a graph built whole. */
class LazyGraphSpec extends SparkTestBase {


  private def counted(n: AtomicInteger): () => PredicateSlice = () => {
    n.incrementAndGet()
    import spark.implicits._
    PredicateSlice(Seq(("a", "b")).toDF("s", "o"), OKind.KStr)
  }

  test("a builder runs once, on the first access of its own predicate") {
    val (p, q) = (new AtomicInteger, new AtomicInteger)
    val g = TriplesGraph.fromLazySlices(spark, Map("p" -> counted(p),
      "q" -> counted(q)))
    assert(g.slices.keySet == Set("p", "q") && g.slices.contains("p") &&
      g.slices.size == 2 && g.slice("r").isEmpty)
    assert(p.get == 0 && q.get == 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val first = new java.util.concurrent.Callable[PredicateSlice] {
        def call(): PredicateSlice = g.slice("p").get
      }
      val firsts = (1 to 8).map(_ => pool.submit(first))
      assert(firsts.map(_.get).distinct.size == 1)
    } finally pool.shutdown()
    assert(g.slice("p").isDefined && p.get == 1 && q.get == 0)
  }

  test("iterating the slice map runs every builder") {
    val (p, q) = (new AtomicInteger, new AtomicInteger)
    val g = TriplesGraph.fromLazySlices(spark, Map("p" -> counted(p),
      "q" -> counted(q)))
    assert(g.slices.toMap.size == 2 && p.get == 1 && q.get == 1)
    g.allTriples
    assert(p.get == 1 && q.get == 1)
  }

  private def fileNames(df: DataFrame): Seq[String] =
    df.inputFiles.map(_.split('/').last).toSeq.distinct

  private def run(g: TriplesGraph, body: String): DataFrame =
    new SparqlExecutor(g).execute(SparqlQueries.prologue + body)

  private val askBodies = Seq(
    "SELECT * WHERE { ?s g:acctbal ?b . FILTER(?b > 9000) }",
    "SELECT * WHERE { ?s g:acctbal ?b . FILTER(?b > 99999) }")

  test("q72's ASK patterns read only supplier, q42 only events") {
    askBodies.foreach { b =>
      assert(fileNames(run(TpchGraph.graph(spark, sf), b)) ==
        Seq("supplier.parquet"), b)
    }
    val q42 = run(TpchGraph.graph(spark, sf),
      SparqlQueries.sparqlTexts("q42_sparql_hybrid_ts"))
    assert(fileNames(q42) == Seq("events.parquet"))
  }

  test("q72 runs on a directory holding only supplier, q42 only events") {
    def only(table: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-lazy").toFile
      val name = s"$table.parquet"
      java.nio.file.Files.copy(new java.io.File(sf, name).toPath,
        new java.io.File(dir, name).toPath)
      dir.getAbsolutePath
    }
    val q72 = graft.Catalog.all.find(_.name.startsWith("q72_")).get
    assert(q72.fn(spark, only("supplier")).collect().toSeq ==
      q72.fn(spark, sf).collect().toSeq)
    assert(run(TpchGraph.graph(spark, only("events")),
      SparqlQueries.sparqlTexts("q42_sparql_hybrid_ts")).count() > 0)
  }

  test("q42, q72 and q131 give the same rows on a fully built graph") {
    def forced: TriplesGraph = {
      val g = TpchGraph.graph(spark, sf)
      TriplesGraph.fromSlices(spark, g.slices.toMap, g.ts)
    }
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

    val q42 = SparqlQueries.sparqlTexts("q42_sparql_hybrid_ts")
    val lazyQ42 = rows(run(TpchGraph.graph(spark, sf), q42))
    assert(lazyQ42.nonEmpty && lazyQ42 == rows(run(forced, q42)))

    askBodies.foreach { b =>
      val ask = SparqlQueries.prologue + b.replace("SELECT * WHERE", "ASK")
      assert(new SparqlExecutor(TpchGraph.graph(spark, sf)).executeAsk(ask) ==
        new SparqlExecutor(forced).executeAsk(ask), b)
    }

    // q131's catalog query, run once on each graph
    val dsl = graft.dsl.Dsl.parse(
      """[sensor] > 50.5
        |from 2024-01-05T00:00:00+00:00
        |to 2024-01-25T00:00:00+00:00
        |group sensor
        |aggregate max 10min""".stripMargin)
    val algebra = new graft.dsl.Dsl.Translator(graft.dsl.Dsl.TranslatorConfig(
      connectiveMapping = Map("-" -> TpchGraph.locatedIn),
      namePredicate = TpchGraph.name,
      typeNamePredicate = TpchGraph.name)).translate(dsl)
    val q131 = graft.Catalog.all.find(_.name.startsWith("q131_")).get
    val lazyQ131 = rows(q131.fn(spark, sf))
    assert(lazyQ131.nonEmpty &&
      lazyQ131 == rows(new SparqlExecutor(forced).execute(algebra)))
  }
}
