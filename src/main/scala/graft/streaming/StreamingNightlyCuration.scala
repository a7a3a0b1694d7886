package graft.streaming

import graft.llm.{BloomHistory, NightlyCuration, ShingleIndex, SimGraphStore}
import graft.sources.AppendLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The STREAMED spelling of the store-backed nightly curation cycle
  * ([[NightlyCuration]], q144): tonight's feed arrives as a stream of
  * micro-batches instead of one batch frame. Two composition shapes
  * exist and this object implements the one whose semantics equal the
  * batch cycle EXACTLY:
  *
  *  - *Continuous fold* (each micro-batch admitted AND appended
  *    immediately) makes later micro-batches dedup against earlier ones —
  *    the per-store streaming maintainers ([[StreamingSimGraph]],
  *    [[StreamingShingleIndex]], …) already cover that shape, and its
  *    result depends on the micro-batch split, so no fixed oracle can
  *    gate it.
  *  - *Staged admission, end-of-night fold* (THIS object): during the
  *    night each micro-batch runs the admission gate against the
  *    PRE-NIGHT store state and stages its admitted rows into a
  *    marker-committed manifest; one [[endOfNight]] call folds the union
  *    into every store. [[NightlyCuration.admit]] is a per-document
  *    predicate over pre-night state (it never checks batch-vs-batch), so
  *    the staged union equals the batch cycle's admitted set for ANY
  *    micro-batch split — which is why the q152 gate can reuse q144's
  *    from-scratch oracle verbatim.
  *
  * Scale (100 TB lens): admission — the expensive stage (Bloom probe +
  * partition-pruned containment sweep) — is spread across the day as
  * slices arrive, while the five store appends run once, batch-sized, in
  * the night's maintenance window; the manifest holds only admitted rows
  * (≤ the feed) and each bid partition is written once, immutably.
  *
  * Crash safety:
  *  - staging is a [[graft.sources.AppendLog]]: admitted rows land in
  *    `manifest/bid=<b>/`, then the `manifest/_bids/<b>` marker (stamped
  *    with the INPUT batch's signature — staging is deterministic given
  *    the pre-night stores, so same input ⇒ same staged rows) commits
  *    them, under the log's orphan and replay discipline;
  *  - [[endOfNight]] is idempotent: Bloom/shingle/graph appends carry the
  *    night's explicit commit id (their stores' replay-skip verifies the
  *    recomputed staged union), text/IVF appends are guarded by the
  *    already-indexed anti-join (the [[StreamingTextIndex]] /
  *    [[StreamingIvf]] `processBatch` discipline), and the manifest
  *    retires via a single atomic rename AFTER every append committed — a
  *    kill anywhere re-runs to the identical final state;
  *  - a completed fold advances the night floor (`_night_floor`) and
  *    keeps each folded bid's signature (`_folded_bids/<b>`), so the
  *    engine replaying a folded bid no-ops when its rows match and fails
  *    loudly when they do not.
  *
  * Contract: [[endOfNight]] must not run concurrently with staging (the
  * admission gate reads pre-night store state by design — the nightly
  * cycle's own sequencing, same as [[NightlyCuration.maintenance]]). */
object StreamingNightlyCuration {

  /** The staging manifest: partitions directly under `manifest/`. */
  private val manifest = AppendLog("_bids", "bid", Seq(""))

  /** Folded bids' staging signatures; only markers, no sub-datasets. */
  private val folded = AppendLog("_folded_bids", "bid", Nil)

  /** The staged rows' declared schema, `bid` being the partition key. */
  private val stagedSchema =
    StructType.fromDDL("doc_id BIGINT, text STRING, bid BIGINT")

  /** Drain currently-available feed slices from `srcDir` through the
    * admission gate into the staging manifest (one micro-batch per file
    * by default). Stores must be [[NightlyCuration.initStores]]-ed —
    * they are ALL the night needs (the Bloom exact-verify reads the
    * store's fingerprint sidecar, never the lake). Call [[endOfNight]]
    * afterwards to fold what was staged. */
  def run(spark: SparkSession, srcDir: String,
      stores: NightlyCuration.Stores,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      minTokens: Int = 8, minUniqueRatio: Double = 0.3,
      containmentThreshold: Double = 0.8): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      stageBatch(batch, batchId, stores, minTokens, minUniqueRatio,
        containmentThreshold)
    }

  /** One micro-batch of the night: admit against the pre-night stores,
    * stage the admitted rows under this engine batch id. The
    * `foreachBatch` body — public because a batch-mode caller can drive
    * the same staged-night lifecycle directly (slice ids in hand), and
    * tests/probes exercise crash replay by calling it twice with the
    * same id. */
  def stageBatch(batch: DataFrame, bid: Long,
      stores: NightlyCuration.Stores,
      minTokens: Int = 8, minUniqueRatio: Double = 0.3,
      containmentThreshold: Double = 0.8): Unit = {
    val spark = batch.sparkSession
    val dir = manifestDir(stores)
    manifest.cleanOrphans(spark, dir)
    lazy val sig = AppendLog.batchSig(batch, "doc_id", "text")
    // a bid at or below the night floor was folded by a completed
    // endOfNight. The engine replaying it is legitimate exactly when the
    // rows match what was staged (a crash between staging and checkpoint
    // commit, then the fold — the continuous mode's normal window): the
    // batch's content is already in the stores, so the replay no-ops.
    // Different rows mean a reset checkpoint — recomputing admission
    // against POST-fold stores would stage wrong rows, so fail loudly.
    // endOfNight preserves each folded bid's signature for this check.
    val floor = nightFloor(spark, stores)
    if (bid <= floor) {
      require(folded.sig(spark, stores.root, bid).contains(sig),
        s"micro-batch id $bid was already folded by a completed " +
          s"endOfNight (night floor $floor) at ${stores.root} and its " +
          "rows do not match the folded batch — this is a reset " +
          "checkpoint, not a replay; reset the checkpoint past the " +
          "folded bids or rebuild the stores")
      return
    }
    val latest = manifest.latest(spark, dir)
    AppendLog.resolveId(latest, Some(bid), manifest.sig(spark, dir, latest),
        sig, s"manifest at $dir").foreach { _ =>
      val admitted = NightlyCuration.admit(spark, stores, batch,
        "doc_id", "text", minTokens, minUniqueRatio, containmentThreshold)
      admitted.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$dir/bid=$bid")
      manifest.commit(spark, dir, bid, sig)
    }
  }

  /** The union of every committed staged micro-batch — tonight's admitted
    * set so far, as (doc_id BIGINT, text STRING); empty when nothing is
    * staged. `aboveBid` excludes bids at or below it (the night floor:
    * bids a completed fold already owns). */
  def stagedAdmitted(spark: SparkSession,
      stores: NightlyCuration.Stores,
      aboveBid: Long = Long.MinValue): DataFrame =
    manifest.read(spark, manifestDir(stores), "", stagedSchema)
      .filter(col("bid") > aboveBid).select("doc_id", "text")

  /** Fold everything staged tonight into all five stores, then retire the
    * manifest. `nightId` is the night's commit id in the id-disciplined
    * stores — strictly increasing across nights, starting at 1 after a
    * fresh [[NightlyCuration.initStores]] (the bootstrap committed
    * Bloom bid 0 / shingle epoch 0 / graph bid 0). `emb` is the static
    * embeddings lookup; admitted ids without an embedding simply never
    * enter the IVF index (the [[NightlyCuration.initStores]] contract).
    * Idempotent: re-run after a kill anywhere and it converges to the
    * same final state (class doc). No-ops when nothing is staged. */
  def endOfNight(spark: SparkSession, stores: NightlyCuration.Stores,
      emb: DataFrame, nightId: Long, dim: Int = 64): Unit = {
    gcRetiredManifests(spark, stores)
    manifest.cleanOrphans(spark, manifestDir(stores))
    // defense-in-depth: never fold a bid at or below the night floor. A
    // crash after the floor advances but before the manifest rename leaves
    // already-folded bids in the manifest; the contract says re-run with
    // the SAME nightId (appends replay-skip), but a caller that bumps
    // nightId instead must not re-append their content under the new id.
    val floor = nightFloor(spark, stores)
    val allBids = manifest.committed(spark, manifestDir(stores))
    val bids = allBids.filter(_ > floor)
    if (bids.isEmpty) {
      // nothing fresh — but a manifest holding only folded bids is the
      // tail of a crash between the floor write and the rename: finish
      // that night's retirement so the state converges
      if (allBids.nonEmpty) {
        val dir0 = new Path(manifestDir(stores))
        val fs0 = dir0.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs0.exists(dir0))
          fs0.rename(dir0, new Path(s"${manifestDir(stores)}__folded_$floor"))
        gcRetiredManifests(spark, stores)
      }
      return
    }
    val admitted =
      stagedAdmitted(spark, stores, aboveBid = floor).localCheckpoint()
    // the six folds below touch disjoint directories and share only the
    // checkpointed `admitted` — run them CONCURRENTLY (guide §2.6:
    // overlap independent jobs), same as [[NightlyCuration.appendAll]]
    graft.sources.ParJobs.run(Seq(
      // id-disciplined stores: the night's explicit commit id makes a
      // re-run a verified replay skip
      () => BloomHistory.append(spark, stores.bloom, admitted, "text",
        explicitBid = Some(nightId)): Unit,
      () => ShingleIndex.appendToIndex(spark, stores.shingle, admitted,
        "doc_id", "text", explicitEp = Some(nightId)): Unit,
      () => SimGraphStore.update(spark, stores.graph, admitted, "doc_id",
        "text", explicitBid = Some(nightId)): Unit,
      // anti-join-disciplined stores: drop what a crashed earlier run of
      // THIS night already appended (doc identity is the replay key)
      () => StreamingTextIndex.processBatch(admitted, stores.text),
      () => StreamingIvf.processBatch(
        emb.join(admitted.select(col("doc_id").as("vec_id")), "vec_id"),
        stores.ivf, dim),
      // the lake delta record: the night's admitted rows under a night-id
      // partition (overwrite = idempotent on a re-run) — what a production
      // deployment merges into the lake table, and what [[admittedLog]] /
      // [[runContinuous]] read back as lake growth
      () => admitted
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .write.mode("overwrite")
        .parquet(s"${stores.root}/admitted_log/night=$nightId")))
    // preserve each folded bid's staging signature, then advance the
    // night floor, BEFORE retiring the manifest: a stream checkpoint
    // that later replays a folded bid verifies against the preserved
    // signature (same rows → no-op; different rows → loud) instead of
    // re-admitting against post-fold stores. Idempotent on a re-run.
    bids.foreach { b =>
      folded.commit(spark, stores.root, b,
        manifest.sig(spark, manifestDir(stores), b).get)
    }
    AppendLog.writeLong(spark, nightFloorFile(stores), bids.max)
    // retire the manifest: ONE rename after every append committed, so a
    // kill on either side of it re-runs to the same state (before: all
    // appends replay-skip; after: the night no-ops)
    val dir = new Path(manifestDir(stores))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir))
      fs.rename(dir, new Path(s"${manifestDir(stores)}__folded_$nightId"))
    gcRetiredManifests(spark, stores)
  }

  /** Every folded night's admitted rows (doc_id, text, night) — the lake
    * delta record [[endOfNight]] writes; empty (right schema) before the
    * first fold. Production merges these partitions into the lake table;
    * [[runContinuous]] reads them back as lake growth. */
  def admittedLog(spark: SparkSession,
      stores: NightlyCuration.Stores): DataFrame = {
    val dir = new Path(s"${stores.root}/admitted_log")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL("doc_id BIGINT, text STRING, night BIGINT"))
    else spark.read.parquet(dir.toString)
      .select(col("doc_id"), col("text"), col("night").cast("long"))
  }

  /** The CONTINUOUS-fold spelling: every micro-batch is its own night —
    * admitted against the stores AS OF its arrival (which includes every
    * earlier micro-batch's fold, unlike [[run]]'s staged night) and
    * folded immediately. Later slices therefore dedup against earlier
    * ones; the result depends on the micro-batch split by design, so
    * this mode is spec-pinned against sequential batch nights
    * (StreamingNightlyCurationSpec) rather than driver-gated — [[run]] +
    * [[endOfNight]] is the oracle-able shape.
    *
    * The admission gate's exact-verify side is the Bloom store's own
    * fingerprint sidecar, which each night's fold appends to — so a
    * document admitted by night b is an exact-dup hit for night b+1
    * with NO per-batch lake re-read (pre-r14 this re-read
    * history ∪ [[admittedLog]] every micro-batch — a lake-sized scan
    * per slice at design scale; VERDICT r13 #1). Crash replay: the
    * stage-then-fold pair shares the engine's exactly-once window — a
    * replayed folded bid verifies against its preserved signature and
    * no-ops (stageBatch), and a replay between stage and fold replays
    * the fold's appends as verified skips (endOfNight). `nightOffset`
    * maps engine bid b to night/store-commit id nightOffset + b (the
    * [[StreamingShingleIndex]] epOffset seam). */
  def runContinuous(spark: SparkSession, srcDir: String,
      stores: NightlyCuration.Stores, emb: DataFrame,
      checkpointDir: String, nightOffset: Long = 1L,
      maxFilesPerTrigger: Int = 1, dim: Int = 64, minTokens: Int = 8,
      minUniqueRatio: Double = 0.3,
      containmentThreshold: Double = 0.8): Unit =
    StreamingFold.drain(spark, StreamingFold.docSchema, srcDir,
        checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      stageBatch(batch, batchId, stores, minTokens, minUniqueRatio,
        containmentThreshold)
      endOfNight(spark, stores, emb, nightOffset + batchId, dim)
    }

  private def manifestDir(stores: NightlyCuration.Stores): String =
    s"${stores.root}/manifest"

  private def nightFloorFile(stores: NightlyCuration.Stores): Path =
    new Path(stores.root, "_night_floor")

  /** The highest staging bid a completed [[endOfNight]] has folded
    * (-1 before the first night). */
  private def nightFloor(spark: SparkSession,
      stores: NightlyCuration.Stores): Long =
    AppendLog.readLong(spark, nightFloorFile(stores)).getOrElse(-1L)

  /** Delete manifests retired by a completed [[endOfNight]] (the rename
    * made them invisible; deleting them is pure garbage collection). */
  private def gcRetiredManifests(spark: SparkSession,
      stores: NightlyCuration.Stores): Unit = {
    val root = new Path(stores.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.getPath.getName.startsWith("manifest__folded_"))
        fs.delete(st.getPath, true)
    }
  }
}
