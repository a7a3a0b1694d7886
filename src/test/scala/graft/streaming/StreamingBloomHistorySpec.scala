package graft.streaming

import graft.SparkTestBase
import graft.llm.{BloomHistory, TextOps}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the persisted Bloom history filter: stream ==
  * one-shot batch fold word-for-word, crash-replayed micro-batches fold
  * exactly once, fresh checkpoint against an existing store fails loudly. */
class StreamingBloomHistorySpec extends SparkTestBase {


  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-bloomstream-$tag").toString

  private def words(dir: String): Seq[Long] =
    spark.read.parquet(s"$dir/words").orderBy("shard").select("words")
      .collect()(0).getSeq[Long](0)

  test("a real file stream folds to the same filter as one batch fold " +
      "of the same documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val src = tmp("src")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((0L, 170L), (170L, 340L), (340L, Long.MaxValue)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        val stage = tmp(s"stage$i")
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(src, s"b$i.parquet"))
      }
    val streamed = tmp("stream")
    BloomHistory.init(spark, streamed, mBits = 1 << 16, k = 5)
    StreamingBloomHistory.run(spark, src, streamed, tmp("ck"))
    // one-shot reference over all documents (Bloom union is associative
    // and commutative, so the micro-batch split must be invisible)
    graft.functions.BloomFilterAgg.register(spark)
    val oneShot = docs
      .select(TextOps.tokenSetFingerprint(col("text")).as("fp"))
      .agg(call_function(graft.functions.BloomFilterAgg.name,
        xxhash64(col("fp")), lit(1 << 16), lit(5)))
      .collect()(0).getSeq[Long](0)
    assert(words(streamed) == oneShot)
    assert(BloomHistory.readMeta(spark, streamed)._3 == docs.count())
  }

  test("a crash-replayed micro-batch folds exactly once; an out-of-sync " +
      "fresh checkpoint fails loudly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("replay")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    StreamingBloomHistory.processBatch(b0, 0L, dir)
    StreamingBloomHistory.processBatch(b1, 1L, dir)
    val once = words(dir)
    val n = BloomHistory.readMeta(spark, dir)._3
    StreamingBloomHistory.processBatch(b1, 1L, dir) // replay: no-op
    assert(words(dir) == once && BloomHistory.readMeta(spark, dir)._3 == n)
    val e = intercept[IllegalArgumentException](
      StreamingBloomHistory.processBatch(b0, 0L, dir))
    assert(e.getMessage.contains("reset the checkpoint and the store"))
  }

  test("a streaming fold lands correctly after a mid-stream rebuild at " +
      "doubled mBits: replay cursor preserved, next batch folds") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("rebuild")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val b2 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 600)
    StreamingBloomHistory.processBatch(b0, 0L, dir)
    StreamingBloomHistory.processBatch(b1, 1L, dir)
    // maintenance slot: the fp-rate policy fires and rebuilds bigger
    BloomHistory.rebuild(spark, dir, newMBits = 1 << 17)
    // a crash-replay of the last pre-rebuild batch is still a verified
    // no-op against the rebuilt store...
    val w = words(dir)
    StreamingBloomHistory.processBatch(b1, 1L, dir)
    assert(words(dir) == w)
    // ...and the next engine batch folds into the new filter
    StreamingBloomHistory.processBatch(b2, 2L, dir)
    val ref = tmp("rebuild-ref")
    BloomHistory.init(spark, ref, mBits = 1 << 17, k = 5)
    BloomHistory.append(spark, ref,
      b0.unionByName(b1).unionByName(b2), "text")
    assert(words(dir) == words(ref))
    assert(BloomHistory.readMeta(spark, dir)._4 == 2L)
  }
}
