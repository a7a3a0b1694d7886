package graft.streaming

import graft.llm.BloomHistory
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming maintenance of the persisted Bloom history filter: each
  * micro-batch of documents OR-folds into a [[BloomHistory]] store via
  * `foreachBatch`, passing the ENGINE's batch id through as the store's
  * commit id (the [[StreamingSimGraph]] discipline). A crash-replayed
  * in-flight micro-batch — same id, same rows, the Structured Streaming
  * contract — is recognized as committed and skipped (OR-folding is
  * bitwise idempotent anyway; the skip keeps the store's nItems honest),
  * and a FRESH checkpoint pointed at an EXISTING store fails loudly:
  * checkpoint and store reset together.
  *
  * Stream == batch: the final filter is independent of the micro-batch
  * split because Bloom union is associative and commutative
  * (StreamingBloomHistorySpec pins stream == one-shot batch fold
  * word-for-word). */
object StreamingBloomHistory {

  /** Drain currently-available input into the filter store at `storeDir`
    * (which must already be [[BloomHistory.init]]ed). */
  def run(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
      checkpointDir, maxFilesPerTrigger)(processBatch(_, _, storeDir))

  /** One micro-batch fold — the `foreachBatch` body, callable directly in
    * tests (crash replay = calling it twice with the same id). */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      storeDir: String): Unit = {
    BloomHistory.append(batch.sparkSession, storeDir, batch, "text",
      explicitBid = Some(batchId))
    ()
  }
}
