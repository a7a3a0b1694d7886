package graft.streaming

import graft.llm.TextOps
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
  * is order-free. Restart note: the index append is not atomic with the
  * checkpoint commit, so a crash between them can re-run a batch whose
  * survivors are ALREADY indexed. Three guards make the replay a no-op:
  * the batch×index candidate join drops self-matches (`ida =!= idb` —
  * otherwise a replayed survivor matches itself at Jaccard 1.0 and is
  * permanently lost), and both the index and output appends anti-join on
  * doc_id against what the sink already holds — the idempotent-upsert
  * discipline any foreachBatch sink needs (a Delta/Iceberg MERGE at lake
  * scale; parquet anti-join + append here).
  *
  * Scale: the index is the emitted corpus's band table. At lake scale it
  * would be bucketed by bandHash so step 2's join prunes; the per-batch
  * cost is (batch × index-postings) bounded by band-bucket occupancy,
  * identical to the batch q45 analysis.
  */
object StreamingNearDup {

  /** Run near-dup suppression over a document file stream: survivors land
    * in `outDir` (parquet, append), the band index in `indexDir`. Drains
    * currently-available input (Trigger.AvailableNow); `maxFilesPerTrigger`
    * bounds each micro-batch. */
  def run(spark: SparkSession, srcDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      shingleN: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxFilesPerTrigger: Int = 1): Unit = {
    val numBands = numHashes / rowsPerBand
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, _) =>
      processBatch(batch, indexDir, outDir,
        shingleN, numHashes, rowsPerBand, threshold, numBands)
    }
  }

  private[streaming] def processBatch(batch: DataFrame, indexDir: String, outDir: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      numBands: Int): Unit = {
    val spark = batch.sparkSession
    val banded = TextOps.minhashBandTable(batch, "doc_id", "text",
      shingleN, numHashes, rowsPerBand).localCheckpoint()
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val haveIndex = fs.exists(new org.apache.hadoop.fs.Path(indexDir))
    val index = if (haveIndex) spark.read.parquet(indexDir) else null

    def bandLong(df: DataFrame) = df.select(col("id"),
      posexplode(array((0 until numBands).map(j => col(s"b$j")): _*))
        .as(Seq("band", "bh")))

    val b = bandLong(banded)
    // batch×batch (lower id wins inside a cluster) ∪ batch×index
    val bb = b.select(col("id").as("ida"), col("band"), col("bh"))
      .join(b.select(col("id").as("idb"), col("band").as("b2"), col("bh").as("h2")),
        col("band") === col("b2") && col("bh") === col("h2") &&
          col("ida") < col("idb"))
      .select("ida", "idb")
    val bi = if (haveIndex) {
      bandLong(index).select(col("id").as("ida"), col("band"), col("bh"))
        .join(b.select(col("id").as("idb"), col("band").as("b2"), col("bh").as("h2")),
          col("band") === col("b2") && col("bh") === col("h2") &&
            // a replayed batch's survivor is already indexed: without this
            // guard it self-matches at Jaccard 1.0 and drops forever
            col("ida") =!= col("idb"))
        .select("ida", "idb")
    } else bb.limit(0)
    val candidates = bb.unionByName(bi).distinct()

    // exact verification against the stored shingle sets
    val shingleSrc =
      if (haveIndex)
        index.select(col("id"), col("shingles"))
          .unionByName(banded.select(col("id"), col("shingles")))
      else banded.select(col("id"), col("shingles"))
    val verified = candidates
      .join(shingleSrc.select(col("id").as("ida"), col("shingles").as("sha")), "ida")
      .join(shingleSrc.select(col("id").as("idb"), col("shingles").as("shb")), "idb")
      .filter(size(array_intersect(col("sha"), col("shb"))).cast(DoubleType) /
        size(array_union(col("sha"), col("shb"))) >= threshold)
      .select("ida", "idb")

    // transitive resolution: a batch doc survives iff its component holds
    // no indexed doc and it is the component's min-id batch doc
    val labels = TextOps.connectedComponents(verified)
    val indexedIds =
      if (haveIndex) index.select(col("id")).distinct()
      else banded.select(col("id")).limit(0)
    val dominated = labels.join(
        labels.join(indexedIds, "id").select(col("cluster")).distinct(),
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

    // idempotent appends: a replayed batch re-derives the same survivors
    // (deterministic ids + signatures), so anti-joining on doc_id against
    // what each sink already holds makes the re-append a no-op
    val survivors0 = banded.join(dropped, banded("id") === dropped("id"), "left_anti")
    val survivors = if (haveIndex)
      survivors0.join(index.select("id").distinct(), Seq("id"), "left_anti")
    else survivors0
    survivors.write.mode("append").parquet(indexDir)

    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val haveOut = outPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(outPath)
    val out0 = batch.join(dropped, batch("doc_id") === dropped("id"), "left_anti")
    val out = if (haveOut)
      out0.join(spark.read.parquet(outDir).select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    else out0
    out.write.mode("append").parquet(outDir)
  }
}
