package graft.sources

import graft.SparkTestBase
import graft.graph.TriplesGraph
import org.apache.spark.sql.functions._

/** Second real [[graft.graph.TsProvider]] implementation behind the hybrid
  * engine: an external JDBC database (embedded Derby — the one JDBC engine
  * shipped with Spark's jars). Proves the provider seam is genuinely
  * pluggable: the SAME hybrid catalog queries run unchanged against the
  * in-memory source, the parquet lake, and a remote-database backend, with
  * per-query predicates compiled into the remote WHERE clause by Spark's
  * JDBC source (the reference needs a per-backend SQL rewriter for this —
  * timeseries_sql_rewrite.rs, 943 LoC).
  */
class JdbcTsProviderSpec extends SparkTestBase {

  private val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  test("hybrid TS catalog queries run unchanged through a JDBC provider") {
    // stage the events series into an embedded Derby database
    val events = graft.T.events(spark, sf)
      .select(col("event_type").as("id"), col("ts"), col("value"))
    val db = java.nio.file.Files.createTempDirectory("graft-derby")
      .resolve("tsdb").toString
    val url = s"jdbc:derby:$db;create=true"
    events.write.format("jdbc")
      .option("url", url).option("dbtable", "tsdata")
      .option("driver", derbyDriver)
      .mode("overwrite").save()

    // same static graph, provider swapped — nothing else changes
    val base = graft.sparql.TpchGraph.graph(spark, sf)
    val jdbcGraph = TriplesGraph.fromSlices(spark, base.slices,
      Some(JdbcTsProvider(spark, url, "tsdata", Some(derbyDriver))))

    for (name <- Seq("q42_sparql_hybrid_ts", "q43_sparql_hybrid_datetime",
        "q52_sparql_ts_convert")) {
      val a = graft.sparql.SparqlQueries.executeOn(base, name)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val b = graft.sparql.SparqlQueries.executeOn(jdbcGraph, name)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(a.nonEmpty && a == b, s"$name diverges through the JDBC provider")
    }

    // pushdown: the query's time predicate must reach the remote scan as a
    // pushed filter (Spark's JDBC source compiles it into the WHERE clause)
    val plan = graft.sparql.SparqlQueries
      .executeOn(jdbcGraph, "q42_sparql_hybrid_ts")
      .queryExecution.executedPlan.toString
    val jdbcScans = plan.split("JDBCRelation").toSeq.tail
    assert(jdbcScans.nonEmpty, "expected a JDBC scan in the hybrid plan")
    assert(jdbcScans.exists(s =>
      s.contains("PushedFilters") && s.contains("ts") &&
        !s.contains("PushedFilters: []")),
      "time filter must be pushed into the JDBC source")
  }
}
