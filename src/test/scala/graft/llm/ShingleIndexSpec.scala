package graft.llm

import graft.{PlanScans, SparkTestBase}
import org.apache.spark.sql.functions._

/** Persisted shingle-postings index (ShingleIndex): build/serve split for
  * the containment family — self-sweep bit-identical to the in-memory
  * operator, incremental batch-vs-index sweep exact under mixed ranking,
  * postings scan partition-pruned. */
class ShingleIndexSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-shidx-$tag").toString

  private def shingles(s: String, n: Int): Set[String] = {
    val toks = s.trim.split(" ")
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  private def bruteAgainst(batch: Map[Long, String], corpus: Map[Long, String],
      n: Int, t: Double): Set[(Long, Long, Double)] = {
    val as = batch.map { case (k, v) => k -> shingles(v, n) }.filter(_._2.nonEmpty)
    val bs = corpus.map { case (k, v) => k -> shingles(v, n) }.filter(_._2.nonEmpty)
    (for {
      (ia, a) <- as; (ib, b) <- bs if ia != ib
      inter = (a & b).size
      if inter.toDouble >= t * a.size
    } yield (ia, ib, inter.toDouble / a.size)).toSet
  }

  private def randCorpus(seed: Int, nDocs: Int, vocab: Vector[String],
      maxLen: Int, idOffset: Long = 0L): Map[Long, String] = {
    val rnd = new scala.util.Random(seed)
    (0L until nDocs.toLong).map { i =>
      val len = rnd.nextInt(maxLen)
      (i + idOffset) ->
        (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toMap
  }

  test("containmentSelf is bit-identical to the in-memory operator") {
    import spark.implicits._
    val corpus = randCorpus(48, 120, Vector("a", "b", "c", "d", "e"), 12)
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val dir = tmp("self")
    ShingleIndex.build(docs, "doc_id", "text", dir, n = 2, nBuckets = 16)
    val served = ShingleIndex.containmentSelf(spark, dir, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = TextOps.ngramContainmentPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served.nonEmpty && served == mem)
    // and a second threshold serves from the SAME build (rn/sz filter,
    // no recompute): still identical to the in-memory operator
    val served8 = ShingleIndex.containmentSelf(spark, dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem8 = TextOps.ngramContainmentPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served8 == mem8)
  }

  test("containmentAgainst equals brute force batch×corpus, including " +
      "batch-only shingles (df=0 ranking) and id overlap") {
    import spark.implicits._
    val corpus = randCorpus(49, 100, Vector("a", "b", "c", "d", "e"), 12)
    // the batch's vocabulary extends the corpus's: 'zz' shingles are
    // unknown to the index (df = 0 rank path); ids 1000+ are disjoint,
    // plus one doc REUSING a corpus id with the corpus text — the
    // (id, id) self pair must be excluded
    val overlapId = corpus.keys.find(k => corpus(k).trim.split(" ").length >= 4).get
    val batch = randCorpus(50, 30, Vector("a", "b", "c", "zz"), 10,
      idOffset = 1000L) + (overlapId -> corpus(overlapId))
    val dir = tmp("against")
    ShingleIndex.build(corpus.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 16)
    val got = ShingleIndex.containmentAgainst(spark, dir,
        batch.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exp = bruteAgainst(batch, corpus, 2, 0.6)
    assert(got == exp)
    assert(!got.exists(p => p._1 == overlapId && p._2 == overlapId))
  }

  test("the batch sweep's postings scan is partition-pruned to the " +
      "probe's shingle buckets") {
    import spark.implicits._
    val corpus = randCorpus(51, 200, Vector("a", "b", "c", "d", "e", "f"), 12)
    val dir = tmp("prune")
    ShingleIndex.build(corpus.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 64)
    // a one-doc batch probes a handful of shingles → few buckets
    val batch = Seq((5000L, "a b c")).toDF("doc_id", "text")
    val sigsA = TextOps.shingleSigs(batch, "doc_id", "text", 2).localCheckpoint()
    val cand = ShingleIndex.againstCandidates(spark, dir, sigsA, 0.6)
    val plan = cand.queryExecution.executedPlan
    val postingScans = PlanScans.under(plan, "postings")
    assert(postingScans.nonEmpty, s"expected a postings scan:\n$plan")
    assert(postingScans.forall(_.partitionFilters.nonEmpty),
      s"postings scan must be partition-pruned by shingle bucket:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"))
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("appendToIndex: base + appends == from-scratch rebuild " +
      "bit-identically, at multiple thresholds, batch sweep included") {
    import spark.implicits._
    val base = randCorpus(60, 90, Vector("a", "b", "c", "d", "e"), 12)
    // two appended epochs; the second extends the vocabulary so its df
    // order genuinely differs from epoch 0's (rank-staleness exercised)
    val b1 = randCorpus(61, 40, Vector("a", "b", "c", "d"), 12,
      idOffset = 1000L)
    val b2 = randCorpus(62, 40, Vector("b", "c", "d", "e", "qq"), 12,
      idOffset = 2000L)
    val all = base ++ b1 ++ b2
    val dir = tmp("append")
    ShingleIndex.build(base.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 16)
    ShingleIndex.appendToIndex(spark, dir, b1.toSeq.toDF("doc_id", "text"),
      "doc_id", "text")
    ShingleIndex.appendToIndex(spark, dir, b2.toSeq.toDF("doc_id", "text"),
      "doc_id", "text")
    for (t <- Seq(0.6, 0.8)) {
      val served = ShingleIndex.containmentSelf(spark, dir, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val mem = TextOps.ngramContainmentPairs(
          all.toSeq.toDF("doc_id", "text"), "doc_id", "text", n = 2,
          threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(served.nonEmpty && served == mem, s"threshold $t")
    }
    // and the batch-vs-index sweep stays exact against the grown index
    val probe = randCorpus(63, 25, Vector("a", "c", "e", "qq"), 10,
      idOffset = 3000L)
    val got = ShingleIndex.containmentAgainst(spark, dir,
        probe.toSeq.toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteAgainst(probe, all, 2, 0.6))
  }

  test("a crashed append (writes landed, marker missing) is invisible " +
      "and the retry folds exactly once") {
    import spark.implicits._
    val base = randCorpus(64, 60, Vector("a", "b", "c", "d"), 12)
    val batch = randCorpus(65, 30, Vector("a", "b", "c", "e"), 12,
      idOffset = 1000L)
    val dir = tmp("crash")
    ShingleIndex.build(base.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 16)
    val baseOnly = ShingleIndex.containmentSelf(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ep = ShingleIndex.appendToIndex(spark, dir,
      batch.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    // simulate the crash: every write of epoch `ep` landed but the commit
    // marker did not
    assert(new java.io.File(s"$dir/_epochs/$ep").delete())
    val afterCrash = ShingleIndex.containmentSelf(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterCrash == baseOnly, "orphan epoch rows leaked into serving")
    // retry: the orphan partitions are wiped before the id is reused, so
    // the fold lands exactly once
    ShingleIndex.appendToIndex(spark, dir,
      batch.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    val served = ShingleIndex.containmentSelf(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = TextOps.ngramContainmentPairs(
        (base ++ batch).toSeq.toDF("doc_id", "text"), "doc_id", "text",
        n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == mem)
  }

  test("compactIndex re-ranks all epochs into one with identical output " +
      "and survives kills at both swap stages") {
    import spark.implicits._
    import graft.sources.ParquetCompaction
    val base = randCorpus(66, 70, Vector("a", "b", "c", "d"), 12)
    val batch = randCorpus(67, 35, Vector("b", "c", "d", "e"), 12,
      idOffset = 1000L)
    val dir = tmp("compact")
    ShingleIndex.build(base.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 16)
    ShingleIndex.appendToIndex(spark, dir,
      batch.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    def serve() = ShingleIndex.containmentSelf(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = serve()
    // kill before the commit marker's delete step: old store intact
    ParquetCompaction.crashHook =
      p => if (p == "compact-ready") throw new RuntimeException("kill@ready")
    try intercept[RuntimeException] { ShingleIndex.compactIndex(spark, dir) }
    finally ParquetCompaction.crashHook = _ => ()
    assert(serve() == before)
    // kill after the root delete: recovery promotes the READY temp
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] { ShingleIndex.compactIndex(spark, dir) }
    finally ParquetCompaction.crashHook = _ => ()
    assert(serve() == before) // containmentSelf recover()s first
    // the compacted store holds ONE epoch and still appends cleanly
    // raw listing includes the local FS's .crc shadows — count markers only
    assert(new java.io.File(s"$dir/_epochs").list()
      .count(!_.startsWith(".")) == 1)
    val b2 = randCorpus(68, 20, Vector("a", "d", "e"), 12, idOffset = 2000L)
    ShingleIndex.appendToIndex(spark, dir,
      b2.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    val mem = TextOps.ngramContainmentPairs(
        (base ++ batch ++ b2).toSeq.toDF("doc_id", "text"), "doc_id",
        "text", n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(serve() == mem)
  }

  test("a reset checkpoint one epoch behind fails loudly (marker replay " +
      "signature); a genuine replay stays a no-op; a torn build — meta " +
      "never written — fails fast at every entry point") {
    import spark.implicits._
    val base = randCorpus(70, 50, Vector("a", "b", "c", "d"), 12)
    val b1 = randCorpus(71, 25, Vector("a", "b", "c", "e"), 12,
      idOffset = 1000L)
    val b2 = randCorpus(72, 25, Vector("b", "c", "d", "e"), 12,
      idOffset = 2000L)
    val dir = tmp("sig")
    ShingleIndex.build(base.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 16)
    ShingleIndex.appendToIndex(spark, dir,
      b1.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      explicitEp = Some(1L))
    def serve() = ShingleIndex.containmentSelf(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = serve()
    // genuine replay: same id, same rows — no-op
    assert(ShingleIndex.appendToIndex(spark, dir,
      b1.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      explicitEp = Some(1L)) == 1L)
    assert(serve() == before)
    // reset checkpoint one behind: same id, DIFFERENT rows — loud
    val e = intercept[IllegalArgumentException] {
      ShingleIndex.appendToIndex(spark, dir,
        b2.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        explicitEp = Some(1L))
    }
    assert(e.getMessage.contains("rows differ from the committed batch"))
    assert(serve() == before) // nothing folded
    // torn build: the epoch-0 marker committed but meta never landed
    // (build writes meta LAST) — serving fails loudly, never silently
    // empty
    assert(new java.io.File(s"$dir/_graft_shingle_meta.json").delete())
    intercept[IllegalStateException] {
      ShingleIndex.containmentSelf(spark, dir, 0.6)
    }
    intercept[IllegalStateException] {
      ShingleIndex.containmentAgainst(spark, dir,
        b2.toSeq.toDF("doc_id", "text"), "doc_id", "text", 0.6)
    }
    intercept[IllegalStateException] {
      ShingleIndex.appendToIndex(spark, dir,
        b2.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    }
  }

  test("build and compaction markers carry replay signatures: a stream " +
      "batch colliding with the BUILD id and a post-COMPACTION reset " +
      "checkpoint both fail loudly; genuine replays stay no-ops") {
    import spark.implicits._
    val base = randCorpus(75, 40, Vector("a", "b", "c", "d"), 12)
    val b1 = randCorpus(76, 20, Vector("a", "b", "c", "e"), 12,
      idOffset = 1000L)
    val b2 = randCorpus(77, 20, Vector("b", "c", "d", "e"), 12,
      idOffset = 2000L)
    val dir = tmp("marksig")
    ShingleIndex.build(base.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 16)
    // the r13 bootstrap-seam collision, now content-verified at the
    // BUILD epoch too: same id + the build corpus = replay no-op...
    assert(ShingleIndex.appendToIndex(spark, dir,
      base.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      explicitEp = Some(0L)) == 0L)
    // ...same id + different rows = loud, not a silent drop
    val e0 = intercept[IllegalArgumentException] {
      ShingleIndex.appendToIndex(spark, dir,
        b1.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        explicitEp = Some(0L))
    }
    assert(e0.getMessage.contains("rows differ from the committed batch"))
    // append then compact: the folded marker must PRESERVE epoch 1's
    // signature, so the same two cases hold after the fold
    ShingleIndex.appendToIndex(spark, dir,
      b1.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      explicitEp = Some(1L))
    ShingleIndex.compactIndex(spark, dir)
    def serve() = ShingleIndex.containmentSelf(spark, dir, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = serve()
    assert(ShingleIndex.appendToIndex(spark, dir,
      b1.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      explicitEp = Some(1L)) == 1L)
    assert(serve() == before)
    val e1 = intercept[IllegalArgumentException] {
      ShingleIndex.appendToIndex(spark, dir,
        b2.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        explicitEp = Some(1L))
    }
    assert(e1.getMessage.contains("rows differ from the committed batch"))
    assert(serve() == before)
  }

  test("compactionDue trips after maxEpochs appends and resets on " +
      "compaction (the r13 cadence policy)") {
    import spark.implicits._
    val dir = tmp("due")
    ShingleIndex.build(
      randCorpus(80, 30, Vector("a", "b", "c"), 10).toSeq
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 2, nBuckets = 8)
    // the build's epoch 0 counts toward depth; 3 appends reach 4 epochs
    assert(!ShingleIndex.compactionDue(spark, dir, maxEpochs = 3))
    for (i <- 1 to 3)
      ShingleIndex.appendToIndex(spark, dir,
        randCorpus(80 + i, 10, Vector("a", "b", "d"), 10,
          idOffset = 1000L * i).toSeq.toDF("doc_id", "text"),
        "doc_id", "text")
    assert(ShingleIndex.compactionDue(spark, dir, maxEpochs = 3))
    ShingleIndex.compactIndex(spark, dir) // folds to ONE committed epoch
    assert(!ShingleIndex.compactionDue(spark, dir, maxEpochs = 3))
  }

  test("a rebuilt index round-trips the gate corpus: served output " +
      "matches the in-memory operator on real documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 200)
    val dir = tmp("gate")
    ShingleIndex.build(docs, "doc_id", "text", dir, n = 3, nBuckets = 64)
    val served = ShingleIndex.containmentSelf(spark, dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = TextOps.ngramContainmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == mem)
  }

  test("aligned writes: build and append land one data file per " +
      "(ep, sb) partition directory") {
    // the round-14 write discipline: repartition by the bucket column
    // before every partitionBy write — unaligned, each shuffle task
    // opens a writer in every bucket dir (tasks×buckets small files,
    // measured 71.6 s vs 7.8 s for the same frame); this guard pins the
    // fix so a refactor can't silently reintroduce the fan-out
    import spark.implicits._
    val corpus = randCorpus(77, 300, Vector("a", "b", "c", "d", "e", "f"), 14)
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val dir = tmp("aligned")
    ShingleIndex.build(docs, "doc_id", "text", dir, n = 3, nBuckets = 16)
    val batch = randCorpus(78, 120, Vector("a", "b", "c", "d", "e", "f"),
      14, idOffset = 1000L).toSeq.toDF("doc_id", "text")
    ShingleIndex.appendToIndex(spark, dir, batch, "doc_id", "text")
    def filesPerDir(sub: String): Map[String, Int] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet")) buf += f
      walk(new java.io.File(dir, sub))
      buf.groupBy(_.getParent).view.mapValues(_.size).toMap
    }
    for (sub <- Seq("postings", "df")) {
      val per = filesPerDir(sub)
      assert(per.nonEmpty, s"$sub is empty")
      assert(per.values.forall(_ == 1),
        s"$sub has a fragmented partition dir: " +
          per.filter(_._2 > 1).take(3))
    }
  }
}
