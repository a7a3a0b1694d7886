package graft.llm

import graft.sources.AppendLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incrementally-maintained document-similarity graph — the persisted,
  * batch-updatable form of the q115/q125 edge list (docs joined by ≥
  * `minCommon` distinct RARE n-gram shingles, rare = document frequency ≤
  * `cap`). The build-once `simGraphFor` artifact answers "what does the
  * graph look like tonight"; a recurring curation pipeline instead appends
  * a document batch every run, and the df cap makes that update
  * NON-monotonic: a shingle whose df crosses the cap stops being evidence,
  * which must RETRACT support from every pair that counted it. This store
  * handles that exactly, in a log-structured layout:
  *
  *  - `edges/`  — (a, b, c, bid) support DELTAS, append-grown; current
  *    support = SUM(c) per pair. Cap-crossing retractions append c < 0.
  *  - `post/`   — (d, s, bid) rare-shingle postings, append-grown and
  *    STALE-TOLERANT: when a shingle later crosses the cap its rows stay
  *    (serving never reads post/; update() joins it through the current
  *    df, so stale rows are dead weight until [[compact]] drops them).
  *  - `df/`     — (s, df, bid) document-frequency deltas; current df =
  *    SUM per shingle.
  *  - `_batches/<bid>` — the commit markers of the
  *    [[graft.sources.AppendLog]] the three sub-datasets are partitioned
  *    under (`bid=<k>/`): an update's three appends are not atomic
  *    together, so the marker is the commit point and the log's
  *    discipline — committed-only reads, orphan cleanup before an id is
  *    reused, the latest-id replay rule — makes a crashed update's retry
  *    exact rather than double-counted.
  *
  * Update math (exactness argument): for a pair (a, b) and a common
  * shingle s, a +1 is appended exactly when the LATER of the two arrives
  * while s is still rare (post-batch df ≤ cap) — the earlier doc is then
  * in post/ (df only grows, so s was rare at its arrival too). A −1 is
  * appended exactly when s crosses the cap, for every pair of post/ docs
  * holding s — which by the same argument is exactly the pairs that got
  * the +1. So SUM(c) is always the number of common shingles CURRENTLY
  * rare, identically to a from-scratch rebuild on the union of all
  * batches ([[SimGraphStoreSpec]] pins this, cap-crossing included), and
  * a pair whose sum hits 0 can never be touched again (a future −1 for s
  * requires an earlier +1 for s, which would still be in the sum).
  *
  * Scale (100 TB corpus, nightly batch): update cost is batch shingling,
  * one vocab-sized df fold (Zipf-small next to the corpus; [[compact]]
  * keeps it merged), retraction pair-work ≤ cap²·|crossing shingles|, and
  * one corpus-postings scan whose join keys are batch-derived — the batch
  * sides broadcast when small, so the corpus side never shuffles. Nothing
  * is ever corpus × corpus. Serving folds the edge deltas (pair-count
  * sized, kept small by [[compact]]).
  *
  * Doc-id contract: batch ids must be new (never indexed before) and
  * unique within the batch — the standard append-only lake assumption;
  * replaying a crashed batch with the SAME rows is safe only if its
  * marker never committed (exactly the discipline above).
  *
  * All entry points recover() first (the ParquetCompaction invariant). */
object SimGraphStore {

  private val metaFile = "_graft_simgraph_meta.json"

  private val log = AppendLog("_batches", "bid", Seq("edges", "df", "post"))

  private def edgeSchema = StructType(Seq(StructField("a", LongType),
    StructField("b", LongType), StructField("c", LongType),
    StructField("bid", LongType)))
  private def postSchema = StructType(Seq(StructField("d", LongType),
    StructField("s", StringType), StructField("bid", LongType)))
  private def dfSchema = StructType(Seq(StructField("s", StringType),
    StructField("df", LongType), StructField("bid", LongType)))

  /** One row per (doc, DISTINCT shingle) — the postings frame [[update]]
    * folds and [[capForEdgeBudget]] sizes against. */
  def postingsOf(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).cast(LongType).as("d"),
      explode(TextOps.wordShingles(col(textCol), n)).as("s"))

  /** Derive the df cap from an EDGE-ROW BUDGET instead of hand-picking it
    * (VERDICT r14 #3: the hand-set default 50 filled the disk at the
    * 1000× rehearsal — the cap is THE pair-volume dial and its safe value
    * is corpus-dependent). A fold over `postings` retains, for a cap c,
    * exactly the shingles with df ≤ c, and each contributes C(df, 2)
    * support rows (one +1 per doc pair per shared shingle — the
    * pre-aggregation pair volume that is also the update's shuffle
    * volume, i.e. the thing that actually fills disks). This computes the
    * EXACT retained volume from the df histogram — one vocab-sized fold,
    * then a ≤`maxCap`-row collect of (df, #shingles) pairs — and returns
    * the largest cap whose volume fits `edgeBudget` rows. Zipf corpora
    * put most volume in the hottest shingles, so the exact walk admits
    * far larger caps than the worst-case cap·|postings|/2 bound would.
    * Always ≥ 1 (df=1 shingles contribute zero pairs). */
  def capForEdgeBudget(postings: DataFrame, edgeBudget: Long,
      maxCap: Long = 1024L): Long = {
    val hist = postings.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1L && col("df") <= maxCap)
      .groupBy("df").agg(count(lit(1)).as("ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // ascending walk, stopping at the FIRST df whose shingles overflow
    // the budget: a cap of c retains every shingle with df ≤ c, so once
    // a df is rejected no higher cap can be admitted (dfs absent from
    // the histogram hold zero shingles and pass through for free)
    var vol = 0L
    var cap = 1L
    var fits = true
    hist.foreach { case (df, ns) =>
      if (fits) {
        val add = ns * df * (df - 1) / 2
        if (vol + add <= edgeBudget) { vol += add; cap = df }
        else fits = false
      }
    }
    cap
  }

  /** Create an empty store (meta only; datasets appear on first update). */
  def init(spark: SparkSession, path: String, n: Int = 3, cap: Long = 50L,
      minCommon: Long = 2L): Unit = {
    graft.sources.ParquetCompaction.recover(spark, path)
    graft.sources.MetaSidecar.write(spark, path, metaFile,
      Seq("n" -> n.toString, "cap" -> cap.toString,
        "minCommon" -> minCommon.toString))
  }

  private[graft] def readMeta(spark: SparkSession,
      path: String): (Int, Long, Long) = {
    import graft.sources.MetaSidecar._
    val txt = readText(spark, path, metaFile).getOrElse(
      throw new IllegalStateException(s"no simgraph store at $path"))
    (requireLong(txt, path, "n").toInt, requireLong(txt, path, "cap"),
      requireLong(txt, path, "minCommon"))
  }

  /** Fold a batch of NEW documents into the graph. Returns the committed
    * batch id.
    *
    * `explicitBid` is the streaming seam: a `foreachBatch` caller passes
    * the ENGINE's batch id so a crash-replayed micro-batch (same id, same
    * rows — the Structured Streaming contract) is recognized and skipped
    * instead of double-counted, under [[AppendLog.resolveId]]'s rule (an
    * older id, e.g. a fresh checkpoint pointed at an existing store,
    * fails loudly). */
  def update(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      explicitBid: Option[Long] = None): Long = {
    graft.sources.ParquetCompaction.recover(spark, path)
    log.cleanOrphans(spark, path)
    val (n, cap, _) = readMeta(spark, path)
    val latest = log.latest(spark, path)
    val bid = AppendLog.resolveId(latest, explicitBid,
      log.sig(spark, path, latest),
      AppendLog.batchSig(batch, idCol, textCol),
      s"store at $path").getOrElse(return latest)
    // batch postings: one row per (doc, DISTINCT shingle)
    val bp = postingsOf(batch, idCol, textCol, n).localCheckpoint()
    val delta = bp.groupBy("s").agg(count(lit(1)).as("dd"))
    val dfCur = log.read(spark, path, "df", dfSchema)
      .groupBy("s").agg(sum("df").as("df0"))
    // every batch shingle with its pre/post df — the crossing analysis
    val j = delta.join(dfCur, Seq("s"), "left")
      .select(col("s"), coalesce(col("df0"), lit(0L)).as("df0"),
        (coalesce(col("df0"), lit(0L)) + col("dd")).as("df1"),
        col("dd"))
      .localCheckpoint()
    val post = log.read(spark, path, "post", postSchema)
    // retractions: shingles this batch pushes over the cap take back the
    // +1 every pair of their (all still-valid: df0 ≤ cap) posting docs got
    val crossed = j.filter(col("df0") <= cap && col("df1") > cap).select("s")
    val pc = post.join(crossed, "s").select("d", "s")
    val dec = pc.select(col("d").as("a"), col("s"))
      .join(pc.select(col("d").as("b"), col("s").as("s2")),
        col("s") === col("s2") && col("a") < col("b"))
      .groupBy("a", "b").agg((-count(lit(1))).as("c"))
    // additions: on still-rare shingles, batch docs pair with every older
    // posting doc and with each other
    val still = j.filter(col("df1") <= cap).select("s")
    val bpr = bp.join(still, "s").select("d", "s").localCheckpoint()
    val oldPost = post.join(still, "s").select("d", "s")
    val crossPairs = bpr.select(col("d").as("x"), col("s"))
      .join(oldPost.select(col("d").as("y"), col("s").as("s2")),
        col("s") === col("s2"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
    val withinPairs = bpr.select(col("d").as("a"), col("s"))
      .join(bpr.select(col("d").as("b"), col("s").as("s2")),
        col("s") === col("s2") && col("a") < col("b"))
      .select("a", "b")
    val inc = crossPairs.union(withinPairs)
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    // appends into this batch's own bid= partition (orphaned on a crash —
    // invisible until the marker commits, wiped by the retry's cleanup).
    // The three sub-dataset writes are independent until the marker (the
    // commit point), so they run CONCURRENTLY (guide §2.6) — their
    // inputs are checkpointed (j, bpr) or derived from them plus the
    // committed store, and they land in disjoint directories.
    graft.sources.ParJobs.run(Seq(
      () => dec.union(inc).withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$path/edges"),
      () => j.select(col("s"), col("dd").as("df")).withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$path/df"),
      () => bpr.withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$path/post")))
    log.commit(spark, path, bid, AppendLog.batchSig(batch, idCol, textCol))
    bid
  }

  /** Operational compaction dial, set from the r12 cadence rehearsal
    * (STATUS: 10 sequential nightly folds at the 100× corpus): FOLD cost
    * stays flat as batches accumulate (~9–25 s/fold, no growth trend),
    * but SERVE cost — [[edges]] folds every committed delta partition —
    * degraded from ~4 s just-compacted to 38–45 s after 4–5 folds, while
    * [[compact]] itself cost 44–73 s and reset serve to baseline. The
    * break-even is ~2 serves, so the default policy is: compact once
    * more than `maxDeltaBatches` committed batches have accumulated
    * since the last compaction (compaction folds the log to ONE id, so
    * the committed-id count IS the delta depth). Returns true when a
    * compaction is due; callers run [[compact]] in the maintenance slot
    * between folds. */
  def compactionDue(spark: SparkSession, path: String,
      maxDeltaBatches: Int = 4): Boolean =
    log.committed(spark, path).size > maxDeltaBatches

  /** The graph: (a, b) doc pairs currently sharing ≥ minCommon rare
    * shingles. */
  def edges(spark: SparkSession, path: String): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (_, _, minCommon) = readMeta(spark, path)
    log.read(spark, path, "edges", edgeSchema)
      .groupBy("a", "b").agg(sum("c").as("c"))
      .filter(col("c") >= minCommon).select("a", "b")
  }

  /** Semantic compaction: fold edge deltas (dropping pairs whose support
    * reached 0 — provably final, see the class doc), drop postings whose
    * shingle has crossed the cap, merge the df ledger, and reset the batch
    * log to a single committed id. Whole-store rewrite-then-swap, so a
    * kill at any point leaves either the old or the new store. */
  def compact(spark: SparkSession, path: String): Unit = {
    graft.sources.ParquetCompaction.recover(spark, path)
    log.cleanOrphans(spark, path)
    val (n, cap, minCommon) = readMeta(spark, path)
    val keepBid = log.latest(spark, path)
    // no committed batches → nothing to fold, and writing a marker for id
    // 0 here would make a later stream's FIRST fold (engine batch id 0)
    // look like a replay and silently skip — so an empty store is a no-op
    if (keepBid < 0L) return
    // carry the kept id's replay signature into the rewritten marker
    // (read BEFORE the swap), so a post-compaction replay of the last
    // batch still content-verifies
    val keepSig = log.sig(spark, path, keepBid).get
    graft.sources.ParquetCompaction.rewrite(spark, path) { tmp =>
      val mergedEdges = log.read(spark, path, "edges", edgeSchema)
        .groupBy("a", "b").agg(sum("c").as("c"))
        .filter(col("c") =!= 0L).withColumn("bid", lit(keepBid))
      val mergedDf = log.read(spark, path, "df", dfSchema)
        .groupBy("s").agg(sum("df").as("df")).withColumn("bid", lit(keepBid))
      val rare = mergedDf.filter(col("df") <= cap).select("s")
      val livePost = log.read(spark, path, "post", postSchema)
        .select("d", "s").join(rare, "s").select(col("d"), col("s"))
        .withColumn("bid", lit(keepBid))
      // three disjoint sub-datasets of the rewrite temp (guide §2.6)
      graft.sources.ParJobs.run(Seq(
        () => mergedEdges.write.partitionBy("bid").parquet(s"$tmp/edges"),
        () => mergedDf.write.partitionBy("bid").parquet(s"$tmp/df"),
        () => livePost.write.partitionBy("bid").parquet(s"$tmp/post")))
      graft.sources.MetaSidecar.write(spark, tmp, metaFile,
        Seq("n" -> n.toString, "cap" -> cap.toString,
          "minCommon" -> minCommon.toString))
      log.commit(spark, tmp, keepBid, keepSig)
    }
  }
}
