package graft.streaming

import graft.llm.{SampleOps, TextOps}
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
  *     persisted fingerprint index (a stream cannot wait for a longer
  *     duplicate that hasn't arrived — the documented causal divergence
  *     from the batch plan, which sees the whole corpus at once; on a
  *     single batch the two coincide exactly);
  *  3. SAMPLE — the deterministic md5 hash gate at `rate`, stateless;
  *  4. PACK — the q93/q121 two-phase distributed prefix sum over the
  *     batch ([[SampleOps.packIntoShards]]), seeded with the lifetime
  *     token total so shard numbering continues across batches.
  *
  * Crash/replay discipline (the saveDelta/NearDup lessons): the
  * fingerprint-index append is not atomic with the checkpoint commit, so
  * a replayed batch may find its own fps already indexed. Three guards
  * make the replay a no-op: a batch doc is dropped only when its fp is
  * indexed under a DIFFERENT doc_id (its own earlier append must not
  * suppress it), and both appends anti-join against what their sink
  * already holds (fp for the index, doc_id for the shards) — the
  * idempotent-upsert discipline, a Delta/Iceberg MERGE at lake scale.
  *
  * Scale: every stage is the corresponding batch operator's shape — no
  * single-reducer window (the pack is the two-phase prefix sum), no
  * all-pairs joins (dedup is an equi-join on fp), and per-batch work is
  * bounded by batch × index-postings on the fp key. The lifetime total
  * is read as max(cum_tok) of the shards table EXCLUDING rows tagged with
  * the current batch id (ADVICE r9): a parquet append is not all-or-
  * nothing visible, so a crash mid shard-append can leave a partial set
  * of this batch's rows behind — including them in max(cum_tok) would
  * shift the replay's offsets while the doc_id anti-join kept the stale
  * partial rows. Excluding own-batch rows makes the replay re-pack from
  * the same pre-batch total, deterministically reproducing the partial
  * rows bit-for-bit, so surviving and replayed rows agree. Rows from
  * OTHER batches stay in the max even when their doc_ids reappear in
  * this batch (a re-delivered duplicate must not lower the total). A
  * real deployment keeps the total in an atomically-committing table's
  * metadata (Delta/Iceberg); the batch-id tag is the parquet-only
  * equivalent.
  *
  * Two operational seams (round 11): a shards table written before the
  * batch-id tag existed (no `batch_id` column) degrades gracefully — all
  * of its rows count toward the lifetime total, since none can be this
  * batch's; and because engine batch ids restart at 0 when a checkpoint
  * dir is reset, resuming a FRESH checkpoint against an EXISTING sink is
  * detected (own-tagged rows the deterministic re-pack does not
  * reproduce) and fails loudly — checkpoint and sink dirs must be reset
  * together. */
object StreamingCuration {

  /** Drain currently-available input through the curation pipeline:
    * packed shard rows (doc_id, n_tok, cum_tok, shard) land in
    * `shardsDir`, the fingerprint index in `fpIndexDir`. */
  def run(spark: SparkSession, srcDir: String, fpIndexDir: String,
      shardsDir: String, checkpointDir: String, budget: Long = 512L,
      rate: Double = 0.5, maxFilesPerTrigger: Int = 1): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, batchId, fpIndexDir, shardsDir, budget, rate)
    }

  /** Compact both sink tables (each micro-batch appends one small file
    * to each — unbounded file growth otherwise; VERDICT r10 #4).
    * Crash-safe via [[graft.sources.ParquetCompaction]]; contents are
    * row-identical so the replay discipline is untouched (spec-pinned).
    * Run between micro-batches (maintenance slot), not concurrently
    * with one. */
  def compactSinks(spark: SparkSession, fpIndexDir: String,
      shardsDir: String, targetFiles: Int = 1): Unit = {
    if (exists(spark, fpIndexDir))
      graft.sources.ParquetCompaction.compact(spark, fpIndexDir,
        targetFiles = targetFiles)
    if (exists(spark, shardsDir))
      graft.sources.ParquetCompaction.compact(spark, shardsDir,
        targetFiles = targetFiles)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One micro-batch. `batchId` must be the engine's replay-stable batch
    * id (foreachBatch's second argument): shard rows are tagged with it,
    * and the lifetime token total excludes rows of the CURRENT id so a
    * replay after a partial shard append re-packs at the original
    * offsets (see the crash/replay discipline above). */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      fpIndexDir: String, shardsDir: String, budget: Long,
      rate: Double): Unit = {
    val spark = batch.sparkSession
    // The compaction protocol's one invariant (TriplesGraph enforces it
    // through load()): RECOVER BEFORE FIRST TOUCH. A compact() killed
    // between its root-delete and rename leaves the whole dataset in a
    // READY __compacting temp; if this batch blindly append-recreated the
    // missing root, the next recover() would see a live root and discard
    // the temp — silently dropping all history. recover() first promotes
    // the temp (two cheap exists() probes when nothing crashed).
    graft.sources.ParquetCompaction.recover(spark, fpIndexDir)
    graft.sources.ParquetCompaction.recover(spark, shardsDir)

    // 1. gate — q121's quality filter, verbatim
    val toks = TextOps.tokens(col("text"))
    val gated = batch
      .select(col("doc_id"), col("text"), size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_uniq"))
      .filter(col("n_tok") >= 8 &&
        col("n_uniq") >= lit(0.3) * col("n_tok"))
      .localCheckpoint()

    // 2. dedup — q121's canonical rule within the batch, first-arrival
    //    across batches via the persisted fp index
    val canon = TextOps.canonicalDocs(gated, "doc_id", "text")
      .select(col("doc_id"), col("fp"))
      .join(gated.select("doc_id", "n_tok"), "doc_id")
    val haveIdx = exists(spark, fpIndexDir)
    val fresh = if (haveIdx) {
      val idx = spark.read.parquet(fpIndexDir)
        .select(col("fp"), col("doc_id").as("__seen"))
      canon.join(idx, Seq("fp"), "left")
        // replay guard: an fp indexed under THIS doc_id is our own earlier
        // append — let it flow (the sink anti-joins make re-adds no-ops)
        .filter(col("__seen").isNull || col("__seen") === col("doc_id"))
        .drop("__seen")
    } else canon
    val freshCk = fresh.localCheckpoint()

    // 3. sample — the deterministic hash gate
    val sampled = freshCk.filter(
      SampleOps.hashBucket(col("doc_id")) < lit(SampleOps.rateThreshold(rate)))

    // 4. pack — continue the lifetime running total. Exclude rows tagged
    //    with THIS batch id: a crash mid shard-append leaves a partial
    //    set of them visible, and counting those would shift the
    //    replay's offsets (ADVICE r9). Other batches' rows always count,
    //    even for re-delivered doc_ids.
    val haveShards = exists(spark, shardsDir)
    val ownRows: Option[DataFrame] = if (haveShards) {
      val raw = spark.read.option("mergeSchema", "true").parquet(shardsDir)
      // a shards table written before the batch-id tag existed has no
      // batch_id column (VERDICT r10): its rows are by definition not
      // this batch's, so they all count toward the lifetime total
      val shards =
        if (raw.columns.contains("batch_id")) raw
        else raw.withColumn("batch_id", lit(null).cast(LongType))
      Some(shards)
    } else None
    // one lifetime-table scan per batch: the other-batches max and the
    // own-row count come out of a single aggregation (the guard below
    // only pays its exceptAll when own rows actually exist — the rare
    // replay case, not every batch). Null-safe inequality: pre-upgrade
    // files under a merged schema read batch_id as null — those are
    // other batches' rows and must stay in the max (plain =!= would
    // null them out of the filter).
    val (startAt, ownCount) = ownRows.fold((0L, 0L)) { shards =>
      val r = shards.agg(
        coalesce(max(when(!(col("batch_id") <=> lit(batchId)),
          col("cum_tok"))), lit(0L)),
        count(when(col("batch_id") <=> lit(batchId), lit(1)))).head
      (r.getLong(0), r.getLong(1))
    }
    // materialized once: both the stale-row guard and the sink append
    // consume the two-phase prefix-sum pack — without the checkpoint the
    // pipeline re-evaluates per consumer
    val packed = SampleOps.packIntoShards(
        sampled.select("doc_id", "n_tok"), "doc_id", col("n_tok"),
        budget, startAt)
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint()

    // fresh-checkpoint guard (ADVICE r10): if the checkpoint dir was
    // reset but the sink was not, engine batch ids restart at 0 and rows
    // tagged with "this" batch id may belong to a FOREIGN run. A genuine
    // replay reproduces its rows bit-for-bit (same input, same startAt),
    // so any own-tagged row the deterministic re-pack does not reproduce
    // means checkpoint and sink are out of sync — fail loudly instead of
    // packing new rows at overlapping cum_tok offsets. (Checkpoint and
    // sink dirs must always be reset TOGETHER.)
    ownRows.foreach { shards =>
      if (ownCount > 0) {
        val own = shards.filter(col("batch_id") <=> lit(batchId))
          .select("doc_id", "n_tok", "cum_tok", "shard")
        val stale = own.exceptAll(
          packed.select("doc_id", "n_tok", "cum_tok", "shard"))
        if (!stale.isEmpty)
          throw new IllegalStateException(
            s"shards table at $shardsDir already holds rows tagged with " +
              s"batch id $batchId that this batch's deterministic re-pack " +
              "does not reproduce — the streaming checkpoint was reset " +
              "against an existing sink (engine batch ids restarted). " +
              "Reset checkpoint and sink directories together, or resume " +
              "with the original checkpoint.")
      }
    }

    // idempotent appends (index first: if the shards append is lost, the
    // replayed batch re-packs the same docs at the same offset)
    val idxAdd = if (haveIdx)
      freshCk.select("fp", "doc_id")
        .join(spark.read.parquet(fpIndexDir).select("fp"), Seq("fp"), "left_anti")
    else freshCk.select("fp", "doc_id")
    idxAdd.write.mode("append").parquet(fpIndexDir)

    val shardAdd = if (haveShards)
      packed.join(spark.read.parquet(shardsDir).select("doc_id"),
        Seq("doc_id"), "left_anti")
    else packed
    shardAdd.write.mode("append").parquet(shardsDir)
  }
}
