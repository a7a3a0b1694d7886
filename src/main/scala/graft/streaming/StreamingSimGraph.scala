package graft.streaming

import graft.llm.SimGraphStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming maintenance of the incremental similarity graph: each
  * micro-batch of documents folds into a [[SimGraphStore]] via
  * `foreachBatch`, passing the ENGINE's batch id through as the store's
  * batch id. Crash-replay safety is the store's append log
  * ([[graft.sources.AppendLog.begin]]): a replayed in-flight batch (same
  * id, same rows) is skipped, a crashed attempt's retry is exact, and a
  * FRESH checkpoint pointed at an EXISTING store fails loudly —
  * checkpoint and store are reset together. Run [[SimGraphStore.compact]]
  * in the maintenance slot between micro-batches.
  *
  * Stream == batch: folding the same files through the stream produces
  * the identical graph as batch folds of the same slices
  * (StreamingSimGraphSpec), because update() is deterministic given
  * (store state, batch rows) and AvailableNow delivers each file once. */
object StreamingSimGraph {

  /** Drain currently-available input into the graph store at
    * `storeDir` (which must already be [[SimGraphStore.init]]ed).
    *
    * `bidOffset` is the BOOTSTRAP seam (r13, found by the streamed
    * 100× rehearsal): a store bootstrapped with k BATCH folds holds
    * committed ids 0..k−1, and a fresh stream's first engine batch id
    * is 0 — without an offset that id collides with a committed one
    * and the replay-signature check fails loudly (pre-r13 it would
    * have SILENTLY skipped the first streamed batch). Pass the number
    * of bootstrap folds, and keep it FIXED for the checkpoint's
    * lifetime — the offset participates in replay identity, so
    * recomputing it after more batch folds would mis-map replays
    * (engine batch b always commits as id bidOffset + b). The store
    * itself rejects any drift loudly. */
  def run(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      bidOffset: Long = 0L): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, bidOffset + batchId, storeDir)
    }

  /** One micro-batch fold — the `foreachBatch` body, callable directly
    * in tests (crash replay = calling it twice with the same id). The
    * caller passes the already-offset store batch id. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      storeDir: String): Unit = {
    SimGraphStore.update(batch.sparkSession, storeDir, batch,
      "doc_id", "text", explicitBid = Some(batchId))
    ()
  }
}
