package graft.streaming

import graft.llm.TextIndex
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Restart contract: engine batch b is the index's epoch 1 + b (the
  * build committed epoch 0), so the index's append log makes the batch
  * exactly-once ([[graft.sources.AppendLog]]): a crashed append's partial
  * writes are deleted before its retry, a replay of the latest batch with
  * the same rows is skipped, and a fresh checkpoint over an index that
  * already took streamed batches fails loudly — checkpoint and index are
  * reset together. */
object StreamingTextIndex {

  /** Stream documents from `srcDir` into the persisted index at
    * `indexPath` (built by [[TextIndex.buildIndex]]). Drains
    * currently-available input (Trigger.AvailableNow). */
  def run(spark: SparkSession, srcDir: String, indexPath: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, 1L + batchId, indexPath)
    }

  /** One micro-batch append as epoch `ep` — the `foreachBatch` body,
    * callable directly in tests (crash replay = calling it twice with the
    * same epoch). */
  private[streaming] def processBatch(batch: DataFrame, ep: Long,
      indexPath: String): Unit =
    TextIndex.appendToIndex(batch.sparkSession, indexPath, batch, "doc_id",
      "text", explicitEp = Some(ep)): Unit
}
