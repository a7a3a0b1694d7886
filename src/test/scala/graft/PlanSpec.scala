package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Guards the scale-critical plan properties (SURVEY §4): filter pushdown,
  * column pruning, and shuffle discipline. These are the properties the
  * 100 TB deployment depends on — a regression here is a perf bug even if
  * results stay correct. */
class PlanSpec extends SparkTestBase {


  private def physicalPlan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def executedPlan(name: String): String = physicalPlan(name).toString

  /** The plan's scans under `fragment` all carry a non-empty partition
    * filter, and there is at least one. */
  private def assertPruned(plan: SparkPlan, fragment: String,
      what: String): Seq[FileSourceScanExec] = {
    val scans = PlanScans.under(plan, fragment)
    assert(scans.nonEmpty, s"expected a $fragment scan in:\n$plan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"$fragment scan must be partition-pruned by $what:\n$plan")
    scans
  }

  test("q02: predicate and projection reach the parquet scan") {
    val plan = executedPlan("q02_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter must be pushed to parquet")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), "range filter pushed")
    // column pruning: the scan reads only the 4 referenced columns
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).get.group(1)
    assert(readSchema.split(",").length == 4, s"pruned ReadSchema, got $readSchema")
  }

  test("q42 hybrid: the time-series scan is pruned to ts/event_type/value") {
    val plan = executedPlan("q42_sparql_hybrid_ts")
    val eventScans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
      .map(_.group(1)).toSeq
    assert(eventScans.exists(s =>
      s.contains("ts:") && s.contains("value:") && s.split(",").length == 3),
      s"expected a 3-column events scan, got $eventScans")
    // every scan is pruned: no scan reads the full 6-column events schema
    assert(eventScans.forall(_.split(",").length <= 3),
      s"unpruned scan present: $eventScans")
  }

  test("no forced broadcast of scale-factor-growing dimensions") {
    // q03 (customer) and q30 (supplier) must leave join strategy to AQE
    for (name <- Seq("q03_join_topk", "q30_star_join")) {
      val analyzed = SparkEntry.queries(name)(spark, sf)
        .queryExecution.analyzed.toString
      val hints = "ResolvedHint".r.findAllIn(analyzed).size
      // q30 keeps hints only for bounded dims (nation=25, region=5)
      val allowed = if (name == "q30_star_join") 2 else 0
      assert(hints <= allowed, s"$name has $hints broadcast hints (allowed $allowed)")
    }
  }

  test("dedup and LSH plans never do an all-pairs cartesian product") {
    for (name <- Seq("q44_dedup_exact", "q45_dedup_minhash_lsh",
        "q50_ann_lsh_threshold", "q67_ngram_jaccard",
        "q86_embedding_dedup_clusters", "q90_decontamination",
        "q91_df_quality", "q92_span_scrub")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name contains a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name contains a nested-loop join")
    }
  }

  test("semantic dedup pairs within clusters via an equi-join; hybrid " +
      "retrieval's lexical side joins postings, never corpus x corpus") {
    val p137 = executedPlan("q137_semdedup")
    assert(!p137.contains("CartesianProduct"),
      "semDedup contains a cartesian product")
    assert(!p137.contains("BroadcastNestedLoopJoin"),
      "semDedup contains a nested-loop join — the cluster pair join " +
        "must be an equi-join on cid")
    val p138 = executedPlan("q138_hybrid_rrf")
    assert(!p138.contains("CartesianProduct"),
      "hybrid RRF contains a cartesian product (the dense side's bounded " +
        "query-batch broadcast is the only sanctioned nested loop)")
  }

  test("LSH verify joins broadcast the vector table when it fits " +
      "(candidates never shuffle with vector payloads)") {
    // r11, from the 100× rehearsal: the SMJ verify shipped every
    // candidate row's 64-float payload through two candidate-sized
    // exchanges (~13.5 GB at 45M candidates). With the corpus count in
    // hand, the embedding side broadcasts under 128 MB raw — at gate SF
    // both verify joins must plan as broadcast joins on ida / idb.
    val plan = executedPlan("q50_ann_lsh_threshold")
    assert(plan.contains("BroadcastHashJoin [ida"),
      s"ida verify join is not broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin [idb"),
      s"idb verify join is not broadcast:\n$plan")
  }

  test("property-table fusion: same-subject SPARQL stars read the source once") {
    def scanFiles(name: String): Seq[String] = {
      val plan = executedPlan(name)
      "Location: [^,]*\\[([^\\]]*)\\]".r.findAllMatchIn(plan)
        .map(_.group(1).split("/").last).toSeq
    }
    // q35: ?l g:ofSupplier ?s . ?l g:quantity ?q — one lineitem scan, not a
    // self-join of two slices (the 100 TB fact-table case)
    assert(scanFiles("q35_sparql_agg_having") == Seq("lineitem.parquet"))
    // q32: ?s g:acctbal ?b . ?s g:name ?n — the name union collapses to the
    // single supplier branch
    assert(scanFiles("q32_sparql_filter_bind") == Seq("supplier.parquet"))
  }

  test("IVF: cell-restricted scoring joins by hash on cid, never cartesian") {
    val plan = executedPlan("q57_ann_ivf")
    assert(!plan.contains("CartesianProduct"), "IVF must not do all-pairs")
    // the inverted-index × probe-set join is an equi-join on cid with the
    // small probe side broadcast — the shape that scales to 10^9 vectors
    assert(plan.contains("BroadcastHashJoin") && plan.contains("cid"),
      "probe join must be a broadcast hash join on cid")
  }

  test("persisted IVF index: the cells scan is partition-pruned to probed cids") {
    // q76 writes the inverted index partitionBy(cid) and probes it back;
    // the cells scan must carry a non-empty PartitionFilters on cid — an
    // unpruned scan reads the whole index for a 2-cell probe, which at
    // 10^9 vectors is the difference between ~1/8 of the corpus and all
    // of it
    val plan = physicalPlan("q76_ann_ivf_persisted")
    assertPruned(plan, "cells", "probed cid")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("bloom fingerprint sidecar: the verify scan is partition-pruned " +
      "to the hit buckets and never touches lake text") {
    // the nightly admission verify (VERDICT r13 #1): dedupFromStore's
    // only corpus-shaped input is the fp sidecar, and its scan must
    // carry a non-empty PartitionFilters on bkt — unpruned, a 3-hit
    // night reads every fingerprint in the lake
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planspec-bloom").toString + "/b"
    val hist = (0L until 200L).map(i => (i, s"alpha beta g$i h${i % 7}"))
      .toDF("doc_id", "text")
    graft.llm.BloomHistory.init(spark, dir)
    graft.llm.BloomHistory.append(spark, dir, hist, "text")
    val batch = (0L until 40L).map(i => (1000L + i,
      if (i < 3) s"alpha beta g$i h${i % 7}" else s"fresh doc $i"))
      .toDF("doc_id", "text")
    val dedup = graft.llm.BloomHistory.dedupFromStore(spark, dir, batch,
      "doc_id", "text")
    val plan = dedup.queryExecution.executedPlan
    assertPruned(plan, "__fp", "hit bucket")
    // no scan in the verify plan reads a text column — fp-bytes only
    assert(!PlanScans.all(plan).exists(_.output.exists(_.name.contains("text"))),
      s"verify plan must not read text:\n$plan")
    assert(dedup.collect().map(_.getLong(0)).toSet ==
      Set(1000L, 1001L, 1002L))
  }

  test("filtered vector search (q158): the cells scan is partition-pruned " +
      "to probed cids AND the payload predicate pushes into parquet") {
    // the inline-payload thesis: a filtered probe must not join a
    // metadata side table or scan unfiltered rows — the label IN filter
    // rides the already-pruned cells scan as a parquet PushedFilter
    val plan = physicalPlan("q158_ann_filtered")
    val cellScans = assertPruned(plan, "cells", "probed cid")
    assert(cellScans.exists(_.metadata("PushedFilters").contains("In(label")),
      s"label predicate must push into the cells scan:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("persisted IVF-PQ index: the packed cells scan is partition-pruned " +
      "to probed cids (q145's dense side)") {
    // the deterministic IVF-PQ index behind q145, probed the way
    // ivfPqTopKFromIndex probes it — the scan must carry a non-empty
    // PartitionFilters on cid; unpruned, a 2-cell probe reads the whole
    // packed corpus
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("graft-planspec-ivfpq").toString + "/idx"
    graft.llm.AnnOps.buildIvfPqIndexDeterministic(emb, path, dim = 64,
      nCentroids = 16, m = 8, kCodes = 16)
    val model = graft.llm.AnnOps.readIvfPqModel(spark, path)
    val qRows = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val cells = graft.llm.AnnOps.ivfPqProbedCells(spark, path, model,
      qRows, nProbe = 2)
    assertPruned(cells.queryExecution.executedPlan, "cells", "probed cid")
  }

  test("filtered vector search on the COMPRESSED path (q159): the packed " +
      "cells scan stays partition-pruned AND the payload predicate " +
      "pushes into parquet") {
    // the q158 inline-payload thesis on the 8 B/vector cells a lake-scale
    // deployment serves from (VERDICT r14 #6): the label filter must ride
    // the pruned packed scan as a PushedFilter, never a side-table join
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("graft-planspec-ivfpq-filt").toString + "/idx"
    graft.llm.AnnOps.buildIvfPqIndexDeterministic(emb, path, dim = 64,
      nCentroids = 16, m = 8, kCodes = 16, payloadCols = Seq("label"))
    val model = graft.llm.AnnOps.readIvfPqModel(spark, path)
    val qRows = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val cells = graft.llm.AnnOps.ivfPqProbedCells(spark, path, model,
      qRows, nProbe = 4, predicate = Some(col("label").isin(1, 4, 7)))
    val plan = cells.queryExecution.executedPlan
    val cellScans = assertPruned(plan, "cells", "probed cid")
    assert(cellScans.exists(_.metadata("PushedFilters").contains("In(label")),
      s"label predicate must push into the packed cells scan:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("persisted text index: the postings scan is partition-pruned to probed buckets") {
    // q120 serves BM25 from the tb-partitioned postings dataset; the scan
    // must carry a non-empty PartitionFilters on tb — unpruned, a 5-term
    // query reads the whole inverted index
    val plan = physicalPlan("q120_bm25_index")
    assertPruned(plan, "postings", "term bucket")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("DESCRIBE with class evidence skips fact and sensor slices") {
    // q73 describes nations (?n g:inRegion ?r proves class Nation): the
    // outbound-triples union must not touch lineitem or events — at 100 TB
    // that is the difference between scanning one dimension table and the
    // whole lake for a point DESCRIBE
    val plan = executedPlan("q73_sparql_describe")
    val files = "Location: [^,]*\\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .map(_.group(1).split("/").last).toSet
    assert(!files.contains("lineitem.parquet") && !files.contains("events.parquet"),
      s"DESCRIBE of nations must not scan fact slices: $files")
    assert(files.contains("nation.parquet"))
  }

  test("NPS scan prunes slices whose declared subject class can't match") {
    // q55 pins ?n to rdf:type g:Nation, so the !(name|key) complement scan
    // must union only nation-compatible slices — at 100 TB this is the
    // difference between touching 3 dimension partitions and the whole lake
    val plan = executedPlan("q55_sparql_negated_propset")
    val files = "Location: [^,]*\\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .map(_.group(1).split("/").last).toSet
    assert(!files.contains("lineitem.parquet") && !files.contains("events.parquet"),
      s"fact/sensor slices must be pruned from a Nation-typed NPS scan, got $files")
  }

  test("q149 importance select: bucket stats broadcast; top-n plans as " +
      "TakeOrdered, not a global sort") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.llm.SampleOps.hashedImportanceSelect(docs, "doc_id",
        "text", isTarget = col("source").isin("src0", "src1"),
        numBuckets = 64, n = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"numBuckets-row stats table must broadcast to the features:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-n must plan as TakeOrdered, not a global sort:\n$plan")
  }

  test("q150 decontamination: no Project above a Generate re-inlines the " +
      "shingle construction (the CollapseProject per-exploded-row trap)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lab = graft.llm.SampleOps.hashSplit(docs, "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1))
    val df = graft.llm.TextOps.crossJaccardDecontamination(
      lab.filter(col("split") === "train"),
      lab.filter(col("split") === "test"),
      "doc_id", "text", n = 3, threshold = 0.03)
    df.collect() // finalize any adaptive plan
    val plan = df.queryExecution.executedPlan
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ p.subqueries ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Seq.empty
      })).flatMap(walk)
    val nodes = walk(plan)
    // the traversal must actually reach the exploded sides — a blind
    // walk would make this guard vacuous
    assert(nodes.count(_.isInstanceOf[GenerateExec]) >= 2,
      s"expected both exploded sides in the traversal:\n$plan")
    // a zip_with (the shingle chain) in a Project whose child is the
    // Generate means the whole interpreted construction re-runs per
    // exploded row — measured 15x the entry's wall before the fix
    val offenders = nodes.collect {
      case pr: ProjectExec if pr.child.isInstanceOf[GenerateExec] &&
          pr.projectList.exists(_.toString.contains("zip_with")) =>
        pr.projectList.mkString(", ").take(200)
    }
    assert(offenders.isEmpty,
      s"shingle construction re-inlined above a Generate:\n$offenders")
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val plan = executedPlan("q01_agg_pricing")
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0,
      "expected hash aggregate + exchange in the plan")
    // partial aggregate appears below (after, in the printed tree) the final
    // one, and an exchange sits between: merge_sum above, partial_sum below
    assert(plan.contains("partial_sum") || plan.contains("partial sum") ||
      "HashAggregate".r.findAllIn(plan).size >= 2,
      "aggregation must have a partial (pre-shuffle) phase")
  }

  test("q68 rollup: grouping sets run as one Expand + one aggregation pass") {
    val plan = executedPlan("q68_rollup")
    assert(plan.contains("Expand"), "rollup must lower to Expand")
    // one shuffle for the aggregation + one for the final ORDER BY — not
    // one scan/aggregation per subtotal level
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"rollup should need <=2 exchanges, got $exchanges")
  }

  test("q102 cube: all grouping subsets run as one Expand + one aggregation pass") {
    val plan = executedPlan("q102_cube")
    assert(plan.contains("Expand"), "cube must lower to Expand")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"cube should need <=2 exchanges, got $exchanges")
  }

  test("q104 grouping sets: subset list runs as one Expand + one aggregation pass") {
    val plan = executedPlan("q104_grouping_sets")
    assert(plan.contains("Expand"), "grouping sets must lower to Expand")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"grouping sets should need <=2 exchanges, got $exchanges")
  }

  test("q103 pivot: explicit value list plans one partial-combined aggregation") {
    val plan = executedPlan("q103_pivot")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "pivot aggregation must have a partial (pre-shuffle) phase")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"pivot with explicit values should need <=2 exchanges, got $exchanges")
  }

  test("q69 navigation windows: all three functions share one Window node") {
    val plan = executedPlan("q69_window_navigation")
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows == 1,
      s"lag/lead/first over the same spec must fuse into one Window, got $windows")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected window + sort exchanges only, got $exchanges")
  }

  test("BGP join order starts at the statistically smallest slice") {
    import graft.exec.SparqlExecutor
    import graft.graph.{PredicateSlice, TriplesGraph, OKind}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // skewed fixture: one predicate 100x larger than the other, both
    // parquet-backed so Catalyst's file-size statistics discriminate
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    val ex = "http://example.org/stats#"
    (0 until 20000).map(i => (s"${ex}e${i % 200}", s"big$i"))
      .toDF("s", "o").write.mode("overwrite").parquet(s"$dir/bigslice")
    (0 until 200).map(i => (s"${ex}e$i", i.toLong))
      .toDF("s", "o").write.mode("overwrite").parquet(s"$dir/smallslice")
    val g = TriplesGraph.fromSlices(spark, Map(
      s"${ex}big" -> PredicateSlice(
        spark.read.parquet(s"$dir/bigslice"), OKind.KStr),
      s"${ex}small" -> PredicateSlice(
        spark.read.parquet(s"$dir/smallslice"), OKind.KLong)))
    val q = s"SELECT ?x ?a ?b WHERE { ?x <${ex}big> ?a . ?x <${ex}small> ?b }"
    val df = new SparqlExecutor(g).execute(q)
    // neither pattern binds a constant, so bound-first ties — the size
    // hint must put the small slice first (the join tree's left-most
    // leaf). The optimized plan prints the left child first; the small
    // slice is the one binding ?b, the big one binds ?a.
    val logical = df.queryExecution.optimizedPlan.toString
    val iSmall = logical.indexOf("AS b#")
    val iBig = logical.indexOf("AS a#")
    assert(iSmall >= 0 && iBig >= 0, s"both scans in plan:\n$logical")
    assert(iSmall < iBig,
      s"small slice must anchor the join chain (stats-driven order):\n$logical")
    assert(df.count() == 20000L) // every big row joins some small subject
  }

  test("pluggable parquet TS provider: time filter pushed into the scan") {
    import graft.exec.SparqlExecutor
    import graft.graph.TriplesGraph
    import graft.rdf.{Iri, Lit, Otit, Term, Xsd}
    import graft.sources.ParquetTsProvider
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tsprov").toString
    Seq(("s1", "2024-01-01T00:00:00", 1.0), ("s1", "2024-01-02T00:00:00", 2.0),
      ("s2", "2024-01-01T00:00:00", 3.0))
      .toDF("id", "tss", "value")
      .select(col("id"), to_timestamp(col("tss")).as("ts"), col("value"))
      .write.mode("overwrite").partitionBy("id").parquet(dir)
    val ex = "http://example.org/case#"
    val g = TriplesGraph.fromTerms(spark, Seq[(Term, String, Term)](
      (Iri(ex + "sensor1"), Otit.hasTimeseries, Iri(ex + "series1")),
      (Iri(ex + "series1"), Otit.hasExternalId, Lit("s1", Xsd.string)),
      (Iri(ex + "sensor2"), Otit.hasTimeseries, Iri(ex + "series2")),
      (Iri(ex + "series2"), Otit.hasExternalId, Lit("s2", Xsd.string))),
      Some(ParquetTsProvider(spark, dir)))
    val df = new SparqlExecutor(g).execute(
      s"""PREFIX otit_swt:<${Otit.ns}>
         |PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
         |SELECT ?t ?v WHERE {
         |  <${ex}sensor1> otit_swt:hasTimeseries ?ts0 .
         |  ?ts0 otit_swt:hasDataPoint ?dp .
         |  ?dp otit_swt:hasTimestamp ?t .
         |  ?dp otit_swt:hasValue ?v .
         |  FILTER(?t >= "2024-01-02T00:00:00"^^xsd:dateTime)
         |}""".stripMargin)
    // same queries through the provider as through an in-memory TsSource...
    assert(df.collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1))).toSeq
      == Seq(("2024-01-02 00:00:00.0", 2.0)))
    // ...and the per-query time predicate reaches the parquet scan through
    // Catalyst — the reference needs a per-backend SQL rewriter for this
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts"),
      s"time filter must be pushed into the provider's parquet scan:\n$plan")
  }

  test("q154 simhash pairs: ONE join — the hamming verify rides the " +
      "block join instead of re-attaching fingerprints") {
    // r15: each block row carries its fingerprint as two packed longs, so
    // the candidate set never shuffles again after the block self-join
    // (the old shape deduped bare pairs and paid two more joins). A
    // regression re-introduces candidate-set-sized exchanges.
    val plan = executedPlan("q154_simhash_neardup")
    val joins = ("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|" +
      "CartesianProduct|BroadcastNestedLoopJoin)").r
      .findAllIn(plan).size
    assert(joins == 1, s"expected exactly 1 join in the q154 plan, got " +
      s"$joins:\n$plan")
  }
}
