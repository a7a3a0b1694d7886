package graft.streaming

import graft.SparkTestBase
import graft.llm.{ShingleIndex, TextOps}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the epoch-appendable shingle index: stream ==
  * batch (the streamed index serves bit-identically to a from-scratch
  * rebuild over all docs), crash-replayed micro-batches fold exactly
  * once, a behind-the-index checkpoint fails loudly, and a mid-stream
  * compaction keeps the epoch mapping intact. */
class StreamingShingleIndexSpec extends SparkTestBase {


  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-shstream-$tag").toString

  private def serve(idx: String): Set[(Long, Long, Double)] =
    ShingleIndex.containmentSelf(spark, idx, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a real file stream folds to an index serving identically to a " +
      "from-scratch rebuild, through a mid-stream compaction") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val src = tmp("src")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stage(lo: Long, hi: Long, name: String): Unit = {
      val stageDir = tmp(s"stage-$name")
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(stageDir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stageDir))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(src, s"$name.parquet"))
    }
    val idx = tmp("idx") + "/idx"
    // build on the first 200 docs; stream the rest in three micro-batches
    ShingleIndex.build(docs.filter(col("doc_id") < 200),
      "doc_id", "text", idx, n = 3, nBuckets = 32)
    stage(200L, 300L, "b0")
    stage(300L, 400L, "b1")
    val ck = tmp("ck")
    StreamingShingleIndex.run(spark, src, idx, ck)
    // maintenance slot between micro-batches: compact, then resume the
    // SAME checkpoint with one more file
    ShingleIndex.compactIndex(spark, idx)
    stage(400L, Long.MaxValue, "b2")
    StreamingShingleIndex.run(spark, src, idx, ck)
    val got = serve(idx)
    val rebuilt = tmp("rebuild") + "/idx"
    ShingleIndex.build(docs, "doc_id", "text", rebuilt, n = 3, nBuckets = 32)
    assert(got.nonEmpty && got == serve(rebuilt))
  }

  test("a crash-replayed micro-batch folds exactly once; a " +
      "behind-the-index checkpoint fails loudly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val idx = tmp("replay") + "/idx"
    ShingleIndex.build(docs.filter(col("doc_id") < 150),
      "doc_id", "text", idx, n = 3, nBuckets = 32)
    val b0 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
    val b1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
    // processBatch takes the already-offset epoch id (engine batch b +
    // epOffset 1 over a built index — run()'s mapping)
    StreamingShingleIndex.processBatch(b0, 1L, idx)
    StreamingShingleIndex.processBatch(b1, 2L, idx)
    val once = serve(idx)
    StreamingShingleIndex.processBatch(b1, 2L, idx) // replay: no-op
    assert(serve(idx) == once)
    val e = intercept[IllegalArgumentException](
      StreamingShingleIndex.processBatch(b0, 1L, idx))
    assert(e.getMessage.contains("reset the checkpoint and the index"))
  }
}
