package graft.streaming

import graft.llm.{SampleOps, TextOps}
import graft.sources.{AppendLog, ParJobs, ParquetCompaction}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming END-TO-END curation pipeline — the continuous counterpart of
  * the batch composition q121 (gate → exact dedup → hash sample → token-
  * budget shard packing), closing the ingest-to-training-shards loop.
  *
  * Shape: ONE `foreachBatch` pipeline (the [[StreamingNearDup]] pattern —
  * state lives in queryable, compactable tables, not the state store).
  * Per micro-batch:
  *
  *  1. GATE — q121's quality filter (≥8 tokens, ≥30% distinct), stateless;
  *  2. DEDUP — q121's canonical rule WITHIN the batch (longest text,
  *     smallest id per token-set fingerprint, [[TextOps.canonicalDocs]]),
  *     then first-arrival-wins ACROSS batches via an anti-join against the
  *     committed fingerprint index (a stream cannot wait for a longer
  *     duplicate that hasn't arrived — the documented causal divergence
  *     from the batch plan, which sees the whole corpus at once; on a
  *     single batch the two coincide exactly);
  *  3. SAMPLE — the deterministic md5 hash gate at `rate`, stateless;
  *  4. PACK — the q93/q121 two-phase distributed prefix sum over the
  *     batch ([[SampleOps.packIntoShards]]), seeded with the lifetime
  *     token total (max `cum_tok` of the committed shards) so shard
  *     numbering continues across batches.
  *
  * Store layout under one root: `fp/` (fp, doc_id) and `shards/`
  * (doc_id, n_tok, cum_tok, shard, batch_id), both partitioned under the
  * [[graft.sources.AppendLog]] whose `_batches/<bid>` markers, keyed by
  * the engine's batch id, commit them exactly once: every read (the dedup
  * index, the lifetime total) sees committed rows only, and a fresh
  * checkpoint over an existing store fails loudly — checkpoint and store
  * are reset together. `batch_id` is the originating batch;
  * [[compactSinks]] folds the log's `bid` partitions but keeps it.
  *
  * Scale: every stage is the corresponding batch operator's shape — no
  * single-reducer window (the pack is the two-phase prefix sum), no
  * all-pairs joins (dedup is an equi-join on fp), and per-batch work is
  * bounded by batch × index-postings on the fp key. */
object StreamingCuration {

  private val log = AppendLog("_batches", "bid", Seq("fp", "shards"))

  private val fpSchema = StructType.fromDDL(
    "fp STRING, doc_id BIGINT, bid BIGINT")

  /** [[SampleOps.packIntoShards]]' rows tagged with the micro-batch id. */
  private val shardsSchema = StructType.fromDDL(
    "doc_id BIGINT, n_tok BIGINT, cum_tok BIGINT, shard BIGINT, " +
      "batch_id BIGINT, bid BIGINT")

  /** Drain currently-available input through the curation pipeline into
    * the store at `storeDir`. */
  def run(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String, budget: Long = 512L, rate: Double = 0.5,
      maxFilesPerTrigger: Int = 1): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, batchId, storeDir, budget, rate)
    }

  /** The committed shard rows (doc_id, n_tok, cum_tok, shard, batch_id,
    * bid). */
  def shards(spark: SparkSession, storeDir: String): DataFrame = {
    ParquetCompaction.recover(spark, storeDir)
    log.read(spark, storeDir, "shards", shardsSchema)
  }

  /** Compact both sink tables into the latest committed id (each
    * micro-batch appends one small file to each) through
    * [[AppendLog.fold]]: a kill at any point leaves the old or the new
    * store, a post-compaction replay still verifies, and an empty store
    * is a no-op. Run between micro-batches (maintenance slot), not
    * concurrently with one. */
  def compactSinks(spark: SparkSession, storeDir: String): Unit =
    log.fold(spark, storeDir) { (tmp, keep) =>
      def fold(sub: String, schema: StructType): () => Unit = () =>
        log.read(spark, storeDir, sub, schema)
          .withColumn("bid", lit(keep)).repartition(1)
          .write.partitionBy("bid").parquet(s"$tmp/$sub")
      ParJobs.run(Seq(fold("fp", fpSchema), fold("shards", shardsSchema)))
    }

  /** One micro-batch. `batchId` must be the engine's replay-stable batch
    * id (foreachBatch's second argument): it is the log's commit id. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      storeDir: String, budget: Long, rate: Double): Unit = {
    val spark = batch.sparkSession
    val bid = log.begin(spark, storeDir, Some(batchId),
      AppendLog.batchSig(batch, "doc_id", "text"),
      s"curation store at $storeDir").getOrElse(return)

    // 1. gate — q121's quality filter, verbatim; map-only over the batch,
    //    so the batch signature rides its checkpoint
    val observed = AppendLog.observeSig(batch, "doc_id", "text")
    val toks = TextOps.tokens(col("text"))
    val gated = observed.frame
      .select(col("doc_id"), col("text"), size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_uniq"))
      .filter(col("n_tok") >= 8 &&
        col("n_uniq") >= lit(0.3) * col("n_tok"))
      .localCheckpoint()

    // 2. dedup — q121's canonical rule within the batch, first-arrival
    //    across batches via the committed fp index
    val fresh = TextOps.canonicalDocs(gated, "doc_id", "text")
      .select(col("doc_id"), col("fp"))
      .join(gated.select("doc_id", "n_tok"), "doc_id")
      .join(log.read(spark, storeDir, "fp", fpSchema).select("fp"),
        Seq("fp"), "left_anti")
      .localCheckpoint()

    // 3. sample — the deterministic hash gate
    val sampled = fresh.filter(
      SampleOps.hashBucket(col("doc_id")) < lit(SampleOps.rateThreshold(rate)))

    // 4. pack — continue the committed lifetime running total
    val startAt = log.read(spark, storeDir, "shards", shardsSchema)
      .agg(coalesce(max(col("cum_tok")), lit(0L))).head().getLong(0)
    val packed = SampleOps.packIntoShards(
        sampled.select("doc_id", "n_tok"), "doc_id", col("n_tok"),
        budget, startAt)
      .withColumn("batch_id", lit(batchId))

    // two writes into disjoint bid= partitions, committed by the marker
    ParJobs.run(Seq(
      () => fresh.select("fp", "doc_id").withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$storeDir/fp"),
      () => packed.withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$storeDir/shards")))
    ParquetCompaction.crashHook("append-written")
    log.commit(spark, storeDir, bid, observed.sig)
  }
}
