package graft.streaming

import graft.llm.TextIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming inverted-index maintenance: documents arriving on a stream
  * are tokenized and appended into the persisted term-bucket-partitioned
  * BM25 index ([[TextIndex]]), so each micro-batch's documents are
  * retrievable by [[TextIndex.bm25FromIndex]] — with corpus statistics
  * (nDocs, avgdl, df) that already include them — the moment the batch
  * commits. The text counterpart of [[StreamingIvf]].
  *
  * Shape: `foreachBatch` against the persisted index — the index IS the
  * state and must live outside the state store to be queryable by
  * concurrent serving jobs (the StreamingNearDup / StreamingIvf argument).
  *
  * Restart contract: the postings append, df merge, and meta rewrite are
  * not atomic with the checkpoint commit; a replayed batch is made a no-op
  * by anti-joining batch doc_ids against the doc_ids already indexed (a
  * single-column scan of the postings dataset — the same bound as
  * StreamingIvf's vec_id probe). */
object StreamingTextIndex {

  /** documents.parquet schema for the file-source stream. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Stream documents from `srcDir` into the persisted index at
    * `indexPath` (built by [[TextIndex.buildIndex]]). Drains
    * currently-available input (Trigger.AvailableNow). */
  def run(spark: SparkSession, srcDir: String, indexPath: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit =
    StreamingFold.drain(spark, docSchema, srcDir, checkpointDir,
      maxFilesPerTrigger)((batch, _) => processBatch(batch, indexPath))

  private[streaming] def processBatch(batch: DataFrame,
      indexPath: String): Unit = {
    val spark = batch.sparkSession
    val existing = spark.read.parquet(s"$indexPath/postings")
      .select("doc_id").distinct()
    val fresh = batch.join(existing, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (!fresh.isEmpty)
      TextIndex.appendToIndex(spark, indexPath, fresh, "doc_id", "text")
  }
}
