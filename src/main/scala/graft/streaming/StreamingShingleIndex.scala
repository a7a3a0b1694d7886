package graft.streaming

import graft.llm.ShingleIndex
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming maintenance of the epoch-appendable shingle index: each
  * micro-batch of documents folds in via [[ShingleIndex.appendToIndex]]
  * with the ENGINE's batch id as the epoch id, offset by one — the build
  * commits exactly epoch 0, so engine batch b becomes epoch 1 + b. The
  * mapping survives mid-stream [[ShingleIndex.compactIndex]] runs
  * (compaction folds the log to the LATEST committed id, so the next
  * engine batch still lands strictly above it) — the same
  * keep-max discipline as [[StreamingSimGraph]].
  *
  * Crash-replay safety is the store's append log
  * ([[graft.sources.AppendLog.begin]]), as in [[StreamingSimGraph]].
  *
  * Stream == batch: appendToIndex is deterministic given (index state,
  * batch rows) and the served sweeps are exact under any epoch split
  * (ShingleIndex scaladoc), so the streamed index serves bit-identically
  * to batch folds of the same slices (StreamingShingleIndexSpec). */
object StreamingShingleIndex {

  /** Drain currently-available input into the index at `indexDir` (which
    * must already be [[ShingleIndex.build]]t).
    *
    * `epOffset` is the BOOTSTRAP seam (the [[StreamingSimGraph.run]]
    * bidOffset rationale): the default 1 matches an index whose only
    * batch-side commit is the build's epoch 0. An index that took k
    * further BATCH appends before streaming holds epochs 0..k — pass
    * epOffset = 1 + k, FIXED for the checkpoint's lifetime (the offset
    * participates in replay identity; the index rejects drift loudly
    * via the marker replay signature). */
  def run(spark: SparkSession, srcDir: String, indexDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      epOffset: Long = 1L): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, epOffset + batchId, indexDir)
    }

  /** One micro-batch fold — the `foreachBatch` body, callable directly in
    * tests (crash replay = calling it twice with the same id). The caller
    * passes the already-offset epoch id. */
  private[streaming] def processBatch(batch: DataFrame, epochId: Long,
      indexDir: String): Unit = {
    ShingleIndex.appendToIndex(batch.sparkSession, indexDir, batch,
      "doc_id", "text", explicitEp = Some(epochId))
    ()
  }
}
