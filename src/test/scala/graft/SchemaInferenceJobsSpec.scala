package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import graft.exec.SparqlExecutor
import graft.llm.SimGraphStore
import graft.parser.SparqlParser
import graft.sparql.{SparqlQueries, TpchGraph}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** No benchmarked query or store path fires a schema-inference job: every
  * table and store read declares its schema. */
class SchemaInferenceJobsSpec extends SparkTestBase {

  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  /** Call sites of the schema-inference jobs `body` fired: one-stage
    * `parquet at …` jobs that write nothing (a parquet write has output),
    * the rule perfbench/layers.py counts as sources.schema_inference_jobs. */
  private def inferenceJobs(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val drainGroup = "schema-inference-probe-drain"
    val oneStage = new ConcurrentHashMap[Int, String]()
    val written = new ConcurrentHashMap[Int, Long]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == drainGroup))
          drained.countDown()
        else if (js.stageInfos.size == 1)
          oneStage.put(js.stageInfos.head.stageId, js.stageInfos.head.name)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        written.put(e.stageInfo.stageId, Option(e.stageInfo.taskMetrics)
          .map(_.outputMetrics.bytesWritten).getOrElse(0L))
    }
    sc.addSparkListener(listener)
    try {
      body
      // listeners see events asynchronously but in order: once the marker
      // job's start arrives, every event of `body`'s jobs has too
      sc.setJobGroup(drainGroup, "listener drain marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
    } finally sc.removeSparkListener(listener)
    oneStage.asScala.toSeq.collect {
      case (stage, name) if name.startsWith("parquet at ") &&
          written.getOrDefault(stage, 0L) == 0L => name
    }
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
}
