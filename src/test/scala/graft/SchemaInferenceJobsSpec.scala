package graft

import graft.exec.SparqlExecutor
import graft.llm.SimGraphStore
import graft.parser.SparqlParser
import graft.sparql.{SparqlQueries, TpchGraph}

/** No benchmarked query or store path fires a schema-inference job: every
  * table and store read declares its schema. The SPARQL family's builds
  * fire no job at all: a query builds only the slices it touches, and the
  * constant datatype declaration needs no metadata collect. */
class SchemaInferenceJobsSpec extends SparkTestBase {

  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  /** Call sites of the schema-inference jobs `body` fired: one-stage
    * `parquet at …` jobs that write nothing (a parquet write has output),
    * the rule perfbench/layers.py counts as sources.schema_inference_jobs. */
  private def inferenceJobs(body: => Any): Seq[String] =
    JobProbe(spark)(body).collect {
      case j if j.stages == 1 && j.callSite.startsWith("parquet at ") &&
          j.bytesWritten == 0L => j.callSite
    }

  test("the probe sees the footer read of a schemaless parquet read") {
    assert(inferenceJobs(spark.read.parquet(T.path(sf, "region"))).size == 1)
  }

  test("q42: graph build, parse and execute fire no schema inference") {
    val text = SparqlQueries.prologue +
      SparqlQueries.sparqlTexts("q42_sparql_hybrid_ts")
    val jobs = inferenceJobs {
      val g = TpchGraph.graph(spark, sf)
      new SparqlExecutor(g).execute(SparqlParser.parse(text))
    }
    assert(jobs.isEmpty, jobs)
  }

  test("q131 (DSL) and q132 (mapper) builds fire no schema inference") {
    Seq("q131_", "q132_").foreach { id =>
      val q = Catalog.all.find(_.name.startsWith(id)).get
      val jobs = inferenceJobs(q.fn(spark, sf))
      assert(jobs.isEmpty, s"${q.name}: $jobs")
    }
  }

  test("a SimGraphStore append and committed read fire no schema inference") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-infer").toString
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 1L)
    val docs = Seq(1L -> "a b c d", 2L -> "a b c e", 3L -> "x y z")
      .toDF("doc_id", "text")
    val jobs = inferenceJobs {
      SimGraphStore.update(spark, dir, docs, "doc_id", "text")
      assert(SimGraphStore.edges(spark, dir).collect().nonEmpty)
    }
    assert(jobs.isEmpty, jobs)
  }

  test("q42: graph build, parse and execute fire no job at all") {
    val text = SparqlQueries.prologue +
      SparqlQueries.sparqlTexts("q42_sparql_hybrid_ts")
    val jobs = JobProbe(spark) {
      val g = TpchGraph.graph(spark, sf)
      new SparqlExecutor(g).execute(SparqlParser.parse(text))
    }
    assert(jobs.isEmpty, jobs)
  }

  test("q131's build fires no job at all") {
    val q = Catalog.all.find(_.name.startsWith("q131_")).get
    val jobs = JobProbe(spark)(q.fn(spark, sf))
    assert(jobs.isEmpty, jobs)
  }

  test("q72 fires exactly its two ASK existence probes") {
    val q = Catalog.all.find(_.name.startsWith("q72_")).get
    val sites = JobProbe(spark)(q.fn(spark, sf)).map(_.callSite)
    assert(sites.size == 2 &&
      sites.forall(_.startsWith("isEmpty at SparqlExecutor.scala:")), sites)
  }
}
