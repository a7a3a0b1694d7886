package graft.streaming

import graft.llm.AnnOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming IVF ingest-to-serving (beyond-reference north star): the
  * continuous counterpart of [[AnnOps.appendToIvfIndex]] — embeddings
  * arriving on a stream are assigned to the persisted index's EXISTING
  * centroids and appended into its cid-partitioned cells dataset, so each
  * micro-batch's vectors are findable by [[AnnOps.ivfTopKFromIndex]] the
  * moment the batch commits. Closes the same ingest loop
  * [[StreamingNearDup]] closes for the band index.
  *
  * Shape: `foreachBatch` against the persisted index, the production
  * pattern for index maintenance (a Delta/Iceberg table in real
  * deployments; parquet partition-append here). Why not a stateful
  * operator: the index IS the state, and it must live outside the state
  * store to be queryable by concurrent serving jobs and compactable —
  * exactly the near-dup index argument.
  *
  * Restart contract: the cells append is not atomic with the checkpoint
  * commit, so a replayed batch could re-append its vectors; the batch is
  * anti-joined on vec_id against the cells already in the index (a
  * single-column scan of the probed dataset), making replays no-ops.
  * Unlike a store with derived statistics, this guard is exact here: the
  * cells are the index's only accumulated rows and each vector lands
  * whole in the one cid file of its cell, so a vector the anti-join finds
  * is a vector fully indexed, and nothing else counts it.
  *
  * Scale: per batch, one broadcast-centroids assignment kernel over the
  * batch (map-only), one metadata-sized occupancy aggregate, and the
  * anti-join bounded by the index's vec_id column. Drift is surfaced by
  * appendToIvfIndex's occupancy-skew signal in the index sidecar; a
  * rebuild remains an offline decision, as in every IVF deployment. */
object StreamingIvf {

  /** embeddings.parquet schema for the file-source stream. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Stream embeddings from `srcDir` into the persisted IVF index at
    * `indexPath` (built by [[AnnOps.buildIvfIndex]]). Drains
    * currently-available input (Trigger.AvailableNow);
    * `maxFilesPerTrigger` bounds each micro-batch. */
  def run(spark: SparkSession, srcDir: String, indexPath: String,
      checkpointDir: String, dim: Int = 64,
      maxFilesPerTrigger: Int = 1): Unit =
    StreamingFold.drain(spark, embSchema, srcDir, checkpointDir,
      maxFilesPerTrigger)((batch, _) => processBatch(batch, indexPath, dim))

  private[streaming] def processBatch(batch: DataFrame, indexPath: String,
      dim: Int): Unit = {
    val spark = batch.sparkSession
    // idempotent restart: drop vectors the index already holds (vec_id is
    // the identity), so a replayed batch appends nothing
    val existing = spark.read.parquet(s"$indexPath/cells")
      .select(col("nid").as("vec_id")).distinct()
    val fresh = batch.join(existing, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    if (!fresh.isEmpty)
      AnnOps.appendToIvfIndex(spark, indexPath, fresh, dim)
  }
}
