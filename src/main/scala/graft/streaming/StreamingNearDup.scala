package graft.streaming

import graft.llm.TextOps
import graft.sources.{AppendLog, ParJobs, ParquetCompaction}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming NEAR-duplicate suppression (beyond-reference north star): the
  * continuous counterpart of the batch MinHash-LSH family (q45/q60) — each
  * arriving document either passes (first of its near-dup cluster to
  * arrive) or is dropped as a near-dup of an earlier-emitted document.
  *
  * Shape: `foreachBatch` against a PERSISTED BAND-SIGNATURE INDEX, the
  * production pattern for dedup-at-ingest (the index is a Delta/Iceberg
  * table in real deployments; parquet-append here). Per micro-batch:
  *
  *  1. band the batch docs (the q45 map-only minhash kernel);
  *  2. candidates = batch×index ∪ batch×batch on (band, bandHash) — the
  *     only shuffle joins, never all-pairs;
  *  3. verify exact Jaccard from the stored shingle sets;
  *  4. resolve batch-internal clusters transitively (pointer-jumping CC,
  *     the q60 kernel): a batch doc survives iff its component touches no
  *     indexed doc and it is the min-id batch doc of its component — the
  *     same keep-lowest rule as the batch pipeline;
  *  5. append survivors to the index and to the output.
  *
  * Why `foreachBatch` and not `flatMapGroupsWithState`: a doc belongs to
  * numBands buckets, and "add to state" is conditional on the OR of ALL
  * bucket verdicts — per-bucket keyed state cannot express that in one
  * stateful operator (chaining two is unsupported), while a batch-level
  * join against the index expresses it exactly. State lives in the index
  * table, not the state store, so it is also queryable and compactable.
  *
  * Determinism: cross-batch order is arrival order (exactly the contract
  * of dedup-at-ingest); within a batch, the transitive keep-lowest-id rule
  * is order-free.
  *
  * Store layout under one root: `index/` (the band table of emitted docs)
  * and `out/` (the surviving batch rows), both partitioned under the
  * [[graft.sources.AppendLog]] whose `_batches/<bid>` markers, keyed by
  * the engine's batch id, commit them exactly once: every batch matches
  * against the committed index only (so a crashed batch's retry never
  * matches its own earlier append), and a fresh checkpoint over an
  * existing store fails loudly — checkpoint and store are reset
  * together.
  *
  * Scale: the index is the emitted corpus's band table. At lake scale it
  * would be bucketed by bandHash so step 2's join prunes; the per-batch
  * cost is (batch × index-postings) bounded by band-bucket occupancy,
  * identical to the batch q45 analysis.
  */
object StreamingNearDup {

  private val log = AppendLog("_batches", "bid", Seq("index", "out"))

  /** Run near-dup suppression over a document file stream into the store
    * at `storeDir`. Drains currently-available input
    * (Trigger.AvailableNow); `maxFilesPerTrigger` bounds each
    * micro-batch. */
  def run(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String,
      shingleN: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxFilesPerTrigger: Int = 1): Unit = {
    val numBands = numHashes / rowsPerBand
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      processBatch(batch, batchId, storeDir,
        shingleN, numHashes, rowsPerBand, threshold, numBands)
    }
  }

  /** The committed surviving documents: the stream's rows plus `bid`. */
  def survivors(spark: SparkSession, storeDir: String): DataFrame =
    log.read(spark, storeDir, "out",
      StreamingFold.docSchema.add("bid", LongType))

  /** One micro-batch. `batchId` must be the engine's replay-stable batch
    * id (foreachBatch's second argument): it is the log's commit id. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      storeDir: String, shingleN: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double, numBands: Int): Unit = {
    val spark = batch.sparkSession
    // the band table is built through an RDD, so no pass here could carry
    // an observed signature: one job computes it for the replay check and
    // the commit alike
    lazy val sig = AppendLog.batchSig(batch, "doc_id", "text")
    val bid = log.begin(spark, storeDir, Some(batchId), sig,
      s"near-dup store at $storeDir").getOrElse(return)
    val banded = TextOps.minhashBandTable(batch, "doc_id", "text",
      shingleN, numHashes, rowsPerBand).localCheckpoint()
    val index = log.read(spark, storeDir, "index",
      banded.schema.add("bid", LongType))

    def bandLong(df: DataFrame) = df.select(col("id"),
      posexplode(array((0 until numBands).map(j => col(s"b$j")): _*))
        .as(Seq("band", "bh")))

    val b = bandLong(banded)
    val bRight = b.select(col("id").as("idb"), col("band").as("b2"),
      col("bh").as("h2"))
    // batch×batch (lower id wins inside a cluster) ∪ batch×index
    val bb = b.select(col("id").as("ida"), col("band"), col("bh"))
      .join(bRight, col("band") === col("b2") && col("bh") === col("h2") &&
        col("ida") < col("idb"))
      .select("ida", "idb")
    val bi = bandLong(index).select(col("id").as("ida"), col("band"), col("bh"))
      .join(bRight, col("band") === col("b2") && col("bh") === col("h2"))
      .select("ida", "idb")
    val candidates = bb.unionByName(bi).distinct()

    // exact verification against the stored shingle sets
    val shingleSrc = index.select(col("id"), col("shingles"))
      .unionByName(banded.select(col("id"), col("shingles")))
    val verified = candidates
      .join(shingleSrc.select(col("id").as("ida"), col("shingles").as("sha")), "ida")
      .join(shingleSrc.select(col("id").as("idb"), col("shingles").as("shb")), "idb")
      .filter(size(array_intersect(col("sha"), col("shb"))).cast(DoubleType) /
        size(array_union(col("sha"), col("shb"))) >= threshold)
      .select("ida", "idb")

    // transitive resolution: a batch doc survives iff its component holds
    // no indexed doc and it is the component's min-id batch doc
    val labels = TextOps.connectedComponents(verified)
    val dominated = labels.join(
        labels.join(index.select(col("id")).distinct(), "id")
          .select(col("cluster")).distinct(),
        "cluster")
      .select(col("id"))
    val clusterMin = labels.join(dominated, Seq("id"), "left_anti")
      .groupBy("cluster").agg(min(col("id")).as("keep"))
    val dropped = labels.join(dominated, Seq("id"), "left_anti")
      .join(clusterMin, "cluster")
      .filter(col("id") =!= col("keep"))
      .select(col("id"))
      .unionByName(dominated)
      .distinct()

    // two writes into disjoint bid= partitions, committed by the marker
    ParJobs.run(Seq(
      () => banded.join(dropped, banded("id") === dropped("id"), "left_anti")
        .withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$storeDir/index"),
      () => batch.join(dropped, batch("doc_id") === dropped("id"), "left_anti")
        .withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$storeDir/out")))
    ParquetCompaction.crashHook("append-written")
    log.commit(spark, storeDir, bid, sig)
  }
}
