package graft.streaming

import graft.{PlanScans, SparkTestBase}
import graft.llm.{AnnOps, TextIndex}
import graft.sources.ParquetCompaction
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Small-files compaction for the append-grown sinks (curation fp index +
  * shards, BM25 postings, IVF cells): crash-consistent rewrite-then-swap,
  * row-identical contents, replay discipline unchanged. */
class StreamingCompactionSpec extends SparkTestBase {


  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cmp-$tag").toString

  private def canonShards(store: String): Seq[(Long, Long, Long, Long, Long)] =
    StreamingCuration.shards(spark, store)
      .select("doc_id", "n_tok", "cum_tok", "shard", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1).toSeq

  test("curation sinks compact to one file each; contents identical; " +
      "replay discipline unchanged") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // an empty store compacts to nothing, so engine batch 0 still lands
    val empty = tmp("empty")
    StreamingCuration.compactSinks(spark, empty)
    StreamingCuration.processBatch(docs.filter(col("doc_id") < 150), 0L,
      empty, 512L, 0.5)
    assert(canonShards(empty).nonEmpty)

    val store = tmp("store")
    // three micro-batches → ≥3 files per sink
    Seq((0L, 0L, 150L), (1L, 150L, 300L), (2L, 300L, 450L)).foreach {
      case (b, lo, hi) =>
        StreamingCuration.processBatch(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          b, store, 512L, 0.5)
    }
    val fpBefore = spark.read.parquet(s"$store/fp").collect()
      .map(r => (r.get(0).toString, r.getLong(1))).sorted.toSeq
    val shBefore = canonShards(store)
    assert(ParquetCompaction.dataFileCount(spark, s"$store/shards") >= 3)

    StreamingCuration.compactSinks(spark, store)
    assert(ParquetCompaction.dataFileCount(spark, s"$store/shards") == 1)
    assert(ParquetCompaction.dataFileCount(spark, s"$store/fp") == 1)
    val fpAfter = spark.read.parquet(s"$store/fp").collect()
      .map(r => (r.get(0).toString, r.getLong(1))).sorted.toSeq
    assert(fpAfter == fpBefore && canonShards(store) == shBefore)
    // the folded marker keeps batch 2's signature: its replay still no-ops
    StreamingCuration.processBatch(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 450), 2L, store,
      512L, 0.5)
    assert(canonShards(store) == shBefore)

    // the pipeline continues over the compacted sinks...
    val b3 = docs.filter(col("doc_id") >= 450 && col("doc_id") < 600)
    StreamingCuration.processBatch(b3, 3L, store, 512L, 0.5)
    val once = canonShards(store)
    assert(once.size > shBefore.size)
    // ...and a replayed batch is still a no-op
    StreamingCuration.processBatch(b3, 3L, store, 512L, 0.5)
    assert(canonShards(store) == once)
  }

  test("a kill between compaction stages always recovers to a whole " +
      "dataset (before commit: old; after commit: new)") {
    import spark.implicits._
    val dir = tmp("kill") + "/data"
    // two appends → two files
    Seq((1L, "a")).toDF("k", "v").write.mode("append").parquet(dir)
    Seq((2L, "b")).toDF("k", "v").write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    // kill BEFORE the commit marker's delete step: live dataset untouched
    ParquetCompaction.crashHook =
      p => if (p == "compact-ready") throw new RuntimeException("kill@ready")
    try intercept[RuntimeException] { ParquetCompaction.compact(spark, dir) }
    finally ParquetCompaction.crashHook = _ => ()
    ParquetCompaction.recover(spark, dir)
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == before)
    assert(!new java.io.File(dir + "__compacting").exists())

    // kill AFTER the root delete: recovery must promote the ready temp
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] { ParquetCompaction.compact(spark, dir) }
    finally ParquetCompaction.crashHook = _ => ()
    assert(!new java.io.File(dir).exists())
    ParquetCompaction.recover(spark, dir)
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == before)
    assert(ParquetCompaction.dataFileCount(spark, dir) == 1)
  }

  test("a writer arriving after a mid-swap crash recovers first and " +
      "loses no history (recover-before-first-touch invariant)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val store = tmp("store2")
    Seq((0L, 0L, 150L), (1L, 150L, 300L)).foreach { case (b, lo, hi) =>
      StreamingCuration.processBatch(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        b, store, 512L, 0.5)
    }
    val before = canonShards(store)
    // compaction killed between root-delete and rename: ALL history now
    // lives only in the READY __compacting temp
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] {
      StreamingCuration.compactSinks(spark, store)
    } finally ParquetCompaction.crashHook = _ => ()
    assert(!new java.io.File(s"$store/shards").exists())
    // the NEXT micro-batch (no manual recover) must promote the temp —
    // a blind append would recreate an empty root and the following
    // recover()/compact() would then discard the temp with all history
    val b2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
    StreamingCuration.processBatch(b2, 2L, store, 512L, 0.5)
    val after = canonShards(store)
    assert(after.filter(_._5 != 2L) == before, "pre-crash history lost")
    assert(after.exists(_._5 == 2L), "post-crash batch missing")
    // and the next maintenance compaction keeps everything
    StreamingCuration.compactSinks(spark, store)
    assert(canonShards(store) == after)
  }

  test("index append after a mid-swap crash recovers the index first") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val head = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val (dirA, dirB) = (tmp("bm25a") + "/idx", tmp("bm25b") + "/idx")
    TextIndex.buildIndex(head, "doc_id", "text", dirA, nBuckets = 16)
    TextIndex.buildIndex(head, "doc_id", "text", dirB, nBuckets = 16)
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] { TextIndex.compactIndex(spark, dirA) }
    finally ParquetCompaction.crashHook = _ => ()
    TextIndex.appendToIndex(spark, dirA, batch, "doc_id", "text")
    TextIndex.appendToIndex(spark, dirB, batch, "doc_id", "text")
    def serve(d: String) = TextIndex.bm25FromIndex(spark, d,
        Seq("sort", "merge", "group"), topK = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(5))).sorted.toSeq
    assert(serve(dirA) == serve(dirB))
  }

  test("BM25 index compaction: partition dirs survive, serving identical") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("bm25") + "/idx"
    TextIndex.buildIndex(docs.filter(col("doc_id") < 300), "doc_id", "text",
      dir, nBuckets = 16)
    TextIndex.appendToIndex(spark, dir,
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
      "doc_id", "text")
    val terms = Seq("sort", "merge", "group")
    def serve() = TextIndex.bm25FromIndex(spark, dir, terms, topK = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(5))).sorted.toSeq
    val before = serve()
    val filesBefore = ParquetCompaction.dataFileCount(spark, s"$dir/postings")
    TextIndex.compactIndex(spark, dir)
    assert(ParquetCompaction.dataFileCount(spark, s"$dir/postings") < filesBefore)
    assert(serve() == before)
    // pruning still plans: tb partition dirs are preserved by the rewrite
    val plan = TextIndex.bm25FromIndex(spark, dir, terms, topK = 5)
      .queryExecution.executedPlan
    val postingScans = PlanScans.under(plan,
      new Path(s"$dir/postings").toUri.getPath)
    assert(postingScans.nonEmpty &&
      postingScans.forall(_.partitionFilters.nonEmpty))
  }

  test("IVF cells compaction: probe results identical") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmp("ivf") + "/idx"
    val head = emb.filter(col("vec_id") < 150)
    AnnOps.buildIvfIndex(head, dir, dim = 64, nCentroids = 8,
      centroids = Some(AnnOps.seedCentroids(head, 8, 64)))
    AnnOps.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 250), dim = 64)
    val queries = emb.filter(col("vec_id") < 3)
    def serve() = AnnOps.ivfTopKFromIndex(spark, dir, queries, k = 5,
        dim = 64, nProbe = 3)
      .collect().map(r => r.toSeq).toSeq.map(_.toString).sorted
    val before = serve()
    val filesBefore = ParquetCompaction.dataFileCount(spark, s"$dir/cells")
    AnnOps.compactIvfIndex(spark, dir)
    assert(ParquetCompaction.dataFileCount(spark, s"$dir/cells") < filesBefore)
    assert(serve() == before)
  }
}
