package graft.graph

import graft.SparkTestBase
import graft.exec.SparqlExecutor

/** Persisted vertical-partitioned graph storage: save → load must be
  * query-equivalent to the derived graph, and a constant-predicate scan
  * over the loaded graph must be partition pruning, not a full scan. */
class GraphStorageSpec extends SparkTestBase {


  test("saved graph reloads query-equivalent with partition-pruned scans") {
    val derived = graft.sparql.TpchGraph.graph(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft-graph").toString
    derived.save(path)
    val loaded = TriplesGraph.load(spark, path, derived.ts)

    val queries = Seq(
      // BGP join across two predicates
      """SELECT ?nname ?rname WHERE {
        |  ?n g:inRegion ?r . ?n g:name ?nname . ?r g:name ?rname .
        |} ORDER BY ?nname ?rname""".stripMargin,
      // typed literal slice + filter + arithmetic
      """SELECT ?sname ?b WHERE {
        |  ?s g:acctbal ?b . ?s g:name ?sname . FILTER(?b > 5000)
        |} ORDER BY ?sname""".stripMargin,
      // class-pruned NPS over the loaded byClass branches
      """SELECT DISTINCT ?n ?o WHERE {
        |  ?n rdf:type g:Nation . ?n !(g:name|g:key) ?o .
        |} ORDER BY ?n ?o""".stripMargin)
    val prologue =
      s"""PREFIX g:<${graft.sparql.TpchGraph.ns}>
         |PREFIX rdf:<http://www.w3.org/1999/02/22-rdf-syntax-ns#>
         |""".stripMargin
    for (q <- queries) {
      val a = new SparqlExecutor(derived).execute(prologue + q).collect()
        .map(_.toSeq.mkString("|")).toSeq
      val b = new SparqlExecutor(loaded).execute(prologue + q).collect()
        .map(_.toSeq.mkString("|")).toSeq
      assert(a.nonEmpty && a == b, s"derived vs loaded diverge for:\n$q")
    }

    // scan discipline: a single-predicate query over the loaded graph prunes
    // to its p=… partitions (PartitionFilters on p, not a full-dataset scan)
    val plan = new SparqlExecutor(loaded).execute(
      prologue + "SELECT ?s ?b WHERE { ?s g:acctbal ?b }")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p#"),
      "constant-predicate scan must carry a partition filter on p")

    // and the class-pruned NPS over the loaded graph skips the sensor
    // partitions entirely (byClass survived the round-trip)
    val loadedTyp = loaded.slice(graft.rdf.Rdf.typ).get
    assert(loadedTyp.subjectClasses.contains(graft.sparql.TpchGraph.typeNation))
    assert(loadedTyp.byClass.keySet.contains(graft.sparql.TpchGraph.typeSensor))
  }

  test("DESCRIBE on a persisted graph prunes by subject bucket") {
    val derived = graft.sparql.TpchGraph.graph(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft-graph-sb").toString
    derived.save(path)
    val loaded = TriplesGraph.load(spark, path, derived.ts)
    val prologue =
      s"""PREFIX g:<${graft.sparql.TpchGraph.ns}>
         |""".stripMargin
    val describe =
      """DESCRIBE ?n WHERE { ?n g:inRegion ?r . ?r g:name "ASIA" }"""
    def rows(g: TriplesGraph) =
      new SparqlExecutor(g).executeDescribe(prologue + describe)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // same answer either way...
    assert(rows(derived).nonEmpty && rows(derived) == rows(loaded))
    // ...but the persisted path must prune the store scan by subject
    // bucket: with only (p, kind, cls) partitioning a DESCRIBE reads the
    // whole lake to answer a point lookup
    val plan = new SparqlExecutor(loaded).executeDescribe(prologue + describe)
      .queryExecution.executedPlan.toString
    val storeScans = plan.split("FileScan parquet").toSeq.tail
      .filter(_.contains("graft-graph-sb"))
    assert(storeScans.nonEmpty, "expected a store scan in the DESCRIBE plan")
    assert(storeScans.forall(s =>
      s.contains("PartitionFilters") && !s.contains("PartitionFilters: []") &&
        s.contains("sb#")),
      "DESCRIBE store scan must carry a subject-bucket partition filter")
    // and a store saved with a non-default count loads complete under the
    // default-parameter call
    val path8 = java.nio.file.Files.createTempDirectory("graft-graph-sb8").toString
    derived.save(path8, nBuckets = 8)
    val loaded8 = TriplesGraph.load(spark, path8, derived.ts) // default 16 ignored
    val d8 = new SparqlExecutor(loaded8).executeDescribe(prologue + describe)
    assert(d8.count() ==
      new SparqlExecutor(loaded).executeDescribe(prologue + describe).count(),
      "sidecar must override the default bucket count on load")
    // tampered meta (buckets lower than observed sb ids) still fails loudly
    val metaP = new org.apache.hadoop.fs.Path(path8, TriplesGraph.metaFileName)
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaP, true)
    out.write("""{"nBuckets": 4}""".getBytes("UTF-8")); out.close()
    val bad = intercept[IllegalArgumentException] {
      TriplesGraph.load(spark, path8, derived.ts)
    }
    assert(bad.getMessage.contains("bucket"))
  }

  test("quad graphs round-trip through save/load with dataset semantics intact") {
    import graft.rdf.{Iri, Lit, Term, Xsd}
    val ex = "http://example.net/ns#"
    val g1 = s"${ex}graph1"
    val quads: Seq[(Term, String, Term, Option[String])] = Seq(
      (Iri(s"${ex}a"), s"${ex}name", Lit("DefaultA", Xsd.string), None),
      (Iri(s"${ex}a"), s"${ex}name", Lit("G1A", Xsd.string), Some(g1)),
      (Iri(s"${ex}b"), s"${ex}name", Lit("G1B", Xsd.string), Some(g1)))
    val derived = TriplesGraph.fromQuads(spark, quads)
    val path = java.nio.file.Files.createTempDirectory("graft-quads").toString
    derived.save(path)
    val loaded = TriplesGraph.load(spark, path)
    val pro = s"PREFIX ex:<$ex>\n"
    def run(g: TriplesGraph, q: String) =
      new SparqlExecutor(g).execute(pro + q).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    for (q <- Seq(
        "SELECT ?n WHERE { ex:a ex:name ?n }", // default graph only
        "SELECT ?g ?s ?n WHERE { GRAPH ?g { ?s ex:name ?n } }",
        s"SELECT ?n WHERE { GRAPH <$g1> { ex:a ex:name ?n } }")) {
      assert(run(derived, q) == run(loaded, q), s"quads diverge after reload:\n$q")
    }
    assert(run(loaded, "SELECT ?n WHERE { ex:a ex:name ?n }") == Seq("DefaultA"))
    // a triples-only graph reloads with dataset semantics unchanged: all-null
    // g means GRAPH matches nothing and default matching sees everything
    val plain = graft.sparql.TpchGraph.graph(spark, sf)
    val path2 = java.nio.file.Files.createTempDirectory("graft-plain").toString
    plain.save(path2)
    val loadedPlain = TriplesGraph.load(spark, path2, plain.ts)
    val pro2 = s"PREFIX g:<${graft.sparql.TpchGraph.ns}>\n"
    val exec = new SparqlExecutor(loadedPlain)
    assert(exec.execute(pro2 + "SELECT ?n WHERE { ?s g:name ?n }").count() > 0)
    assert(exec.execute(pro2 +
      "SELECT ?g ?n WHERE { GRAPH ?g { ?s g:name ?n } }").count() == 0)
  }

  test("full SPARQL catalog through a save/load round-trip: equal results, every store scan pruned") {
    val derived = graft.sparql.TpchGraph.graph(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft-graph-cat").toString
    derived.save(path)
    val loaded = TriplesGraph.load(spark, path, derived.ts)
    val storeToken = path.split("/").last // identifies store scans in plan text

    for (name <- graft.sparql.SparqlQueries.sparqlTexts.keys) {
      val fromDerived = graft.sparql.SparqlQueries.executeOn(derived, name)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val q = graft.sparql.SparqlQueries.executeOn(loaded, name)
      val fromLoaded = q.collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(fromDerived == fromLoaded, s"$name diverges on the loaded graph")

      // scan discipline: every scan of the persisted store must carry a
      // non-empty partition filter — a store scan with PartitionFilters: []
      // is reading the whole lake for one predicate
      val plan = q.queryExecution.executedPlan.toString
      val storeScans = plan.split("FileScan parquet").toSeq.tail
        .filter(_.contains(storeToken))
      assert(storeScans.forall(!_.contains("PartitionFilters: []")),
        s"$name has an unpruned store scan")
    }
  }
}
