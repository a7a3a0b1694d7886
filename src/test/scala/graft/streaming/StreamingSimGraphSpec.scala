package graft.streaming

import graft.SparkTestBase
import graft.llm.SimGraphStore
import org.apache.spark.sql.functions._

/** Streaming maintenance of the incremental similarity graph: stream ==
  * batch, crash-replayed micro-batches fold exactly once, fresh
  * checkpoint against an existing store fails loudly. */
class StreamingSimGraphSpec extends SparkTestBase {


  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-simstream-$tag").toString

  private def edgeSet(dir: String): Set[(Long, Long)] =
    SimGraphStore.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a real file stream folds to the same graph as batch folds of " +
      "the same slices") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the stream source: three files, ascending doc_id ranges, drained
    // one file per trigger (AvailableNow) = three deterministic batches
    val src = tmp("src")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((0L, 170L), (170L, 340L), (340L, Long.MaxValue)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        // the file source lists top-level data files: stage each slice's
        // single part file and move it in as b<i>.parquet
        val stage = tmp(s"stage$i")
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(src, s"b$i.parquet"))
      }
    val streamed = tmp("stream")
    SimGraphStore.init(spark, streamed, n = 3, cap = 50L, minCommon = 2L)
    StreamingSimGraph.run(spark, src, streamed, tmp("ck"))
    // batch reference on the SAME slices, folded in stream order
    val batched = tmp("batch")
    SimGraphStore.init(spark, batched, n = 3, cap = 50L, minCommon = 2L)
    Seq((0L, 170L), (170L, 340L), (340L, Long.MaxValue)).foreach {
      case (lo, hi) =>
        SimGraphStore.update(spark, batched,
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          "doc_id", "text")
    }
    val got = edgeSet(streamed)
    assert(got.nonEmpty && got == edgeSet(batched))
  }

  test("a batch-bootstrapped store streams correctly with bidOffset = " +
      "#bootstrap folds; without the offset the id collision fails " +
      "loudly instead of silently skipping the first streamed batch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("bootstrap")
    SimGraphStore.init(spark, dir, n = 3, cap = 50L, minCommon = 2L)
    // bootstrap: ONE batch fold → committed bid 0
    SimGraphStore.update(spark, dir, docs.filter(col("doc_id") < 250),
      "doc_id", "text")
    val b0 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    // a fresh stream's first engine batch id is 0 — colliding with the
    // bootstrap fold's id; the replay signature makes that LOUD (the
    // pre-r13 behavior silently dropped the batch)
    val e = intercept[IllegalArgumentException](
      StreamingSimGraph.processBatch(b0, 0L, dir))
    assert(e.getMessage.contains("rows differ from the committed batch"))
    // with the offset (run()'s bidOffset mapping) the fold lands, and
    // the final graph equals the from-scratch reference
    StreamingSimGraph.processBatch(b0, 1L, dir)
    val ref = tmp("bootstrap-ref")
    SimGraphStore.init(spark, ref, n = 3, cap = 50L, minCommon = 2L)
    SimGraphStore.update(spark, ref, docs.filter(col("doc_id") < 400),
      "doc_id", "text")
    assert(edgeSet(dir) == edgeSet(ref))
  }

  test("a crash-replayed micro-batch folds exactly once; an out-of-sync " +
      "fresh checkpoint fails loudly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("replay")
    SimGraphStore.init(spark, dir, n = 3, cap = 50L, minCommon = 2L)
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    StreamingSimGraph.processBatch(b0, 0L, dir)
    StreamingSimGraph.processBatch(b1, 1L, dir)
    val once = edgeSet(dir)
    // foreachBatch redelivers the in-flight batch after a crash: same
    // id, same rows — the fold must be a no-op
    StreamingSimGraph.processBatch(b1, 1L, dir)
    assert(edgeSet(dir) == once)
    // engine ids restarting at 0 against this store = checkpoint reset
    // without store reset: loud failure, not a silent skip
    val e = intercept[IllegalArgumentException](
      StreamingSimGraph.processBatch(b0, 0L, dir))
    assert(e.getMessage.contains("reset the checkpoint and the store"))
  }
}
