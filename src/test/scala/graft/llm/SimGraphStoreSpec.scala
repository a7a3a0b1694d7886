package graft.llm

import graft.SparkTestBase
import graft.sources.ParquetCompaction

/** Incrementally-maintained similarity graph (SimGraphStore): batch folds
  * equal a from-scratch rebuild — cap-crossing retractions included — the
  * batch marker is the commit point (orphan rows invisible, retry safe),
  * and semantic compaction preserves the graph through kills. */
class SimGraphStoreSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-simstore-$tag").toString

  private def shingles(s: String, n: Int): Set[String] = {
    val toks = s.trim.split(" ")
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  /** Reference model: pairs sharing ≥ minCommon shingles whose df over
    * the WHOLE corpus is ≤ cap. */
  private def bruteEdges(docs: Map[Long, String], n: Int, cap: Int,
      minCommon: Int): Set[(Long, Long)] = {
    // toSeq before the comprehension: a for over a Map yielding 2-tuples
    // builds a Map and silently collapses pairs sharing a left doc
    val sh = docs.toSeq.map { case (k, v) => k -> shingles(v, n) }
    val df = sh.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val rare = df.filter(_._2 <= cap).keySet
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      if (sa & sb & rare).size >= minCommon
    } yield (a, b)).toSet
  }

  private def randDocs(seed: Int, nDocs: Int, vocab: Vector[String],
      maxLen: Int, idOffset: Long): Map[Long, String] = {
    val rnd = new scala.util.Random(seed)
    (0L until nDocs.toLong).map { i =>
      val len = rnd.nextInt(maxLen)
      (i + idOffset) ->
        (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toMap
  }

  private def gotEdges(dir: String): Set[(Long, Long)] =
    SimGraphStore.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def toDF(docs: Map[Long, String]) = {
    import spark.implicits._
    docs.toSeq.toDF("doc_id", "text")
  }

  // small vocab + low cap: lots of shared shingles, plenty of shingles
  // pushed over the cap by later batches (the retraction path)
  private val vocab = Vector("a", "b", "c", "d")

  // planted structure on top of the random filler (cap = 3, n = 2):
  //  - "p q r s" in three base docs → pairs with support 3; two more
  //    copies in the last batch push df("p q") etc to 5 > cap → the
  //    pairs MUST vanish (deterministic retraction);
  //  - "m n o" in exactly two base docs → df stays 2 ≤ cap forever →
  //    the pair and its postings persist to the end.
  private def plant(base: Map[Long, String], last: Map[Long, String])
      : (Map[Long, String], Map[Long, String]) = (
    base ++ Map(500L -> "p q r s", 501L -> "p q r s", 502L -> "p q r s",
      600L -> "m n o", 601L -> "m n o"),
    last ++ Map(2500L -> "p q r s", 2501L -> "p q r s"))

  test("each batch fold equals a from-scratch rebuild on the docs so far " +
      "(cap crossings retract support exactly)") {
    val dir = tmp("inc")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    assert(gotEdges(dir).isEmpty) // empty store serves an empty graph
    val (base, b2) = plant(randDocs(7, 25, vocab, 8, 0L),
      randDocs(9, 15, vocab, 8, 2000L))
    val b1 = randDocs(8, 15, vocab, 8, 1000L)
    SimGraphStore.update(spark, dir, toDF(base), "doc_id", "text")
    val gotBase = gotEdges(dir)
    assert(gotBase == bruteEdges(base, 2, 3, 2))
    SimGraphStore.update(spark, dir, toDF(b1), "doc_id", "text")
    assert(gotEdges(dir) == bruteEdges(base ++ b1, 2, 3, 2))
    SimGraphStore.update(spark, dir, toDF(b2), "doc_id", "text")
    val all = base ++ b1 ++ b2
    val finalEdges = gotEdges(dir)
    assert(finalEdges == bruteEdges(all, 2, 3, 2))
    // the planted crossing really retracted: the "p q r s" triangle was
    // present after the base fold, and its evidence went hot in b2
    assert(gotBase.contains((500L, 501L)))
    assert(!finalEdges.contains((500L, 501L)))
    // and the never-crossing planted pair persists
    assert(finalEdges.contains((600L, 601L)))
  }

  test("the batch marker is the commit point: orphan rows are invisible " +
      "and the batch retries cleanly") {
    val dir = tmp("crash")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    val base = randDocs(17, 25, vocab, 8, 0L)
    val b1 = randDocs(18, 15, vocab, 8, 1000L)
    SimGraphStore.update(spark, dir, toDF(base), "doc_id", "text")
    val baseEdges = gotEdges(dir)
    val bid = SimGraphStore.update(spark, dir, toDF(b1), "doc_id", "text")
    // simulate the crash-before-commit state: all three appends landed
    // but the marker never did
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_batches", bid.toString), false))
    assert(gotEdges(dir) == baseEdges) // orphan bid= partitions invisible
    // the orphan partitions still exist on disk and the retry reuses the
    // same id (ids derive from committed markers) — update() must wipe
    // them before re-appending, or the commit would double-count
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/edges/bid=$bid")))
    val bid2 = SimGraphStore.update(spark, dir, toDF(b1), "doc_id", "text")
    assert(bid2 == bid)
    assert(gotEdges(dir) == bruteEdges(base ++ b1, 2, 3, 2))
  }

  test("semantic compaction preserves the graph, folds the ledgers, " +
      "drops hot-shingle postings, and stays transparent to later " +
      "updates; kills at both swap stages recover whole") {
    val dir = tmp("cmp")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    val (base, b2) = plant(randDocs(27, 25, vocab, 8, 0L),
      randDocs(29, 15, vocab, 8, 2000L))
    val b1 = randDocs(28, 15, vocab, 8, 1000L)
    SimGraphStore.update(spark, dir, toDF(base), "doc_id", "text")
    SimGraphStore.update(spark, dir, toDF(b1), "doc_id", "text")
    val before = gotEdges(dir)
    val postBefore = spark.read.parquet(s"$dir/post").count()
    // kill at READY: live store untouched; recover discards the temp
    ParquetCompaction.crashHook =
      p => if (p == "compact-ready") throw new RuntimeException("kill")
    try intercept[RuntimeException](SimGraphStore.compact(spark, dir))
    finally ParquetCompaction.crashHook = _ => ()
    assert(gotEdges(dir) == before)
    // kill after root delete: the READY temp holds the new whole state;
    // the next entry point's recover() promotes it
    ParquetCompaction.crashHook =
      p => if (p == "compact-after-delete") throw new RuntimeException("kill")
    try intercept[RuntimeException](SimGraphStore.compact(spark, dir))
    finally ParquetCompaction.crashHook = _ => ()
    assert(gotEdges(dir) == before) // edges() recovers first, then serves
    // folded: one committed batch, postings only for still-rare shingles
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_batches")).length == 1)
    assert(spark.read.parquet(s"$dir/post").count() < postBefore)
    // compaction is transparent: the next fold still equals the rebuild
    SimGraphStore.update(spark, dir, toDF(b2), "doc_id", "text")
    assert(gotEdges(dir) == bruteEdges(base ++ b1 ++ b2, 2, 3, 2))
  }

  test("compacting an empty store is a no-op, so a stream's engine batch 0 " +
      "is never mistaken for a replay") {
    val dir = tmp("emptycompact")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    SimGraphStore.compact(spark, dir) // must NOT commit a marker for id 0
    val docs = randDocs(31, 10, vocab, 8, 0L)
    // an explicit engine batch id 0 (a fresh stream's first fold) folds
    // for real instead of being skipped as "already committed"
    SimGraphStore.update(spark, dir, toDF(docs), "doc_id", "text",
      explicitBid = Some(0L))
    assert(gotEdges(dir) == bruteEdges(docs, 2, 3, 2))
  }

  test("a reset checkpoint one batch behind fails loudly (marker replay " +
      "signature); a genuine replay stays a no-op") {
    val dir = tmp("sig")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    val b0 = toDF(randDocs(91, 10, vocab, 8, 0L))
    val b1 = toDF(randDocs(92, 10, vocab, 8, 100L))
    val b2 = toDF(randDocs(93, 10, vocab, 8, 200L))
    SimGraphStore.update(spark, dir, b0, "doc_id", "text",
      explicitBid = Some(0L))
    SimGraphStore.update(spark, dir, b1, "doc_id", "text",
      explicitBid = Some(1L))
    def edges() = SimGraphStore.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = edges()
    // genuine replay: same id, same rows — no-op
    assert(SimGraphStore.update(spark, dir, b1, "doc_id", "text",
      explicitBid = Some(1L)) == 1L)
    assert(edges() == before)
    // reset checkpoint one behind: same id, DIFFERENT rows — loud
    val e = intercept[IllegalArgumentException] {
      SimGraphStore.update(spark, dir, b2, "doc_id", "text",
        explicitBid = Some(1L))
    }
    assert(e.getMessage.contains("rows differ from the committed batch"))
    assert(edges() == before)
  }

  test("compaction preserves the kept id's replay signature: a genuine " +
      "post-compaction replay no-ops, a reset checkpoint fails loudly") {
    val dir = tmp("compsig")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    val b0 = toDF(randDocs(94, 10, vocab, 8, 0L))
    val b1 = toDF(randDocs(95, 10, vocab, 8, 100L))
    val b2 = toDF(randDocs(96, 10, vocab, 8, 200L))
    SimGraphStore.update(spark, dir, b0, "doc_id", "text",
      explicitBid = Some(0L))
    SimGraphStore.update(spark, dir, b1, "doc_id", "text",
      explicitBid = Some(1L))
    SimGraphStore.compact(spark, dir) // folds to the single kept id 1
    def edges() = SimGraphStore.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = edges()
    // genuine replay of the batch that created the kept id — no-op
    assert(SimGraphStore.update(spark, dir, b1, "doc_id", "text",
      explicitBid = Some(1L)) == 1L)
    assert(edges() == before)
    // reset checkpoint presenting different rows under the kept id — loud
    val e = intercept[IllegalArgumentException] {
      SimGraphStore.update(spark, dir, b2, "doc_id", "text",
        explicitBid = Some(1L))
    }
    assert(e.getMessage.contains("rows differ from the committed batch"))
    assert(edges() == before)
  }

  test("compactionDue trips after maxDeltaBatches folds and resets on " +
      "compaction (the r12 cadence policy)") {
    val dir = tmp("due")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 2L)
    assert(!SimGraphStore.compactionDue(spark, dir, maxDeltaBatches = 3))
    for (i <- 0 until 4) {
      SimGraphStore.update(spark, dir,
        toDF(randDocs(40 + i, 8, vocab, 8, 100L * i)), "doc_id", "text")
    }
    assert(SimGraphStore.compactionDue(spark, dir, maxDeltaBatches = 3))
    SimGraphStore.compact(spark, dir) // folds the log to ONE committed id
    assert(!SimGraphStore.compactionDue(spark, dir, maxDeltaBatches = 3))
  }

  test("capForEdgeBudget: the exact pair-volume walk over the df " +
      "histogram, and a bootstrap at the derived cap stays within the " +
      "edge budget") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // known histogram: 3 shingles at df=2 (1 pair each → vol 3), 2 at
    // df=3 (3 each → 6), 1 at df=5 (10); cumulative 3 / 9 / 19
    val postings = (
      (for (s <- 0 until 3; d <- 0 until 2) yield (d.toLong, s"a$s")) ++
      (for (s <- 0 until 2; d <- 0 until 3) yield (d.toLong, s"b$s")) ++
      (for (d <- 0 until 5) yield (d.toLong, "c"))
    ).toDF("d", "s")
    assert(SimGraphStore.capForEdgeBudget(postings, 19L) == 5L)
    assert(SimGraphStore.capForEdgeBudget(postings, 18L) == 3L)
    assert(SimGraphStore.capForEdgeBudget(postings, 9L) == 3L)
    assert(SimGraphStore.capForEdgeBudget(postings, 8L) == 2L)
    assert(SimGraphStore.capForEdgeBudget(postings, 2L) == 1L)
    assert(SimGraphStore.capForEdgeBudget(postings, 0L) == 1L)
    // a REJECTED df bars every higher df even when the higher one would
    // fit alone: cap=c retains ALL shingles with df ≤ c
    assert(SimGraphStore.capForEdgeBudget(postings, 13L) == 3L)
    // real corpus: bootstrap at the derived cap commits no more edge
    // support rows than the budget (stored rows are the post-aggregation
    // side of the volume the walk bounds)
    val docs = spark.read
      .parquet(s"$sf/documents.parquet")
    val budget = 20000L
    val cap = SimGraphStore.capForEdgeBudget(
      SimGraphStore.postingsOf(docs, "doc_id", "text", 3), budget)
    assert(cap >= 2L, s"fixture corpus must admit a usable cap, got $cap")
    val dir = tmp("budget")
    SimGraphStore.init(spark, dir, n = 3, cap = cap, minCommon = 2L)
    SimGraphStore.update(spark, dir, docs, "doc_id", "text")
    val edgeRows = spark.read.parquet(s"$dir/edges").count()
    assert(edgeRows <= budget, s"$edgeRows support rows > budget $budget")
    // and the graph it serves equals the brute-force model at that cap
    val served = SimGraphStore.edges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docMap = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(served == bruteEdges(docMap, n = 3, cap = cap.toInt,
      minCommon = 2))
  }
}
