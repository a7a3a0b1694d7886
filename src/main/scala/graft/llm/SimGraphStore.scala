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
  *  - `_batches/<bid>` — the [[graft.sources.AppendLog]] markers that
  *    commit an update's three (`bid=<k>/`-partitioned) appends.
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
  * Both delta kinds come from ONE tagged self-join. The tagged frame holds
  * the batch postings on shingles still rare after the batch (new) and
  * the committed postings on shingles rare before it (old, flagged
  * `crossed` when this batch pushes the shingle over the cap); it is
  * joined to itself on the shingle once, for pairs a < b. On a crossed
  * shingle only old rows exist, and each of their pairs is a −1; on a
  * still-rare shingle each pair with a new doc is a +1 (new × old and
  * new × new) and old × old pairs are dropped — they got their +1 when
  * the later of the two arrived. Grouping by (a, b, sign) yields exactly
  * the rows of the retraction fold and the addition fold unioned, so the
  * argument above holds unchanged. The committed postings are read once,
  * through a broadcast join to the batch's (s, df0, df1) table.
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
    val bid = log.begin(spark, path, explicitBid,
      AppendLog.batchSig(batch, idCol, textCol),
      s"store at $path").getOrElse(return explicitBid.get)
    val (n, cap, _) = readMeta(spark, path)
    // batch postings: one row per (doc, DISTINCT shingle); the batch's
    // signature rides this pass (the postings are map-only over the
    // batch, so the observation sits in the checkpoint's result stage)
    val observed = AppendLog.observeSig(batch, idCol, textCol)
    val bp = postingsOf(observed.frame, idCol, textCol, n).localCheckpoint()
    val delta = bp.groupBy("s").agg(count(lit(1)).as("dd"))
    val dfCur = log.read(spark, path, "df", dfSchema)
      .groupBy("s").agg(sum("df").as("df0"))
    // every batch shingle with its pre/post df — the crossing analysis
    val j = delta.join(dfCur, Seq("s"), "left")
      .select(col("s"), coalesce(col("df0"), lit(0L)).as("df0"),
        (coalesce(col("df0"), lit(0L)) + col("dd")).as("df1"),
        col("dd"))
      .localCheckpoint()
    // the batch postings this update appends: on still-rare shingles
    val fresh = bp.join(broadcast(j.filter(col("df1") <= cap).select("s")),
      "s").select("d", "s")
    // the tagged frame of the class doc: fresh postings (old = false) and
    // committed postings on shingles rare before this batch (old = true,
    // crossed = this batch pushes the shingle over the cap)
    val tagged = fresh.select(col("d"), col("s"), lit(false).as("old"),
        lit(false).as("crossed"))
      .union(log.read(spark, path, "post", postSchema)
        .join(broadcast(j.filter(col("df0") <= cap)
          .select(col("s"), (col("df1") > cap).as("crossed"))), "s")
        .select(col("d"), col("s"), lit(true).as("old"), col("crossed")))
    // −1 per pair on a crossed shingle, +1 per pair with a fresh doc on a
    // still-rare one (class doc)
    val deltas = tagged.select(col("d").as("a"), col("s"),
        col("old").as("oa"), col("crossed"))
      .join(tagged.select(col("d").as("b"), col("s").as("s2"),
        col("old").as("ob")), col("s") === col("s2") && col("a") < col("b"))
      .filter(col("crossed") || !(col("oa") && col("ob")))
      .groupBy(col("a"), col("b"),
        when(col("crossed"), lit(-1L)).otherwise(lit(1L)).as("sign"))
      .agg(count(lit(1)).as("n"))
      .select(col("a"), col("b"), (col("sign") * col("n")).as("c"))
    // three writes into disjoint bid= partitions, committed by the
    // marker: they run CONCURRENTLY (guide §2.6)
    graft.sources.ParJobs.run(Seq(
      () => deltas.withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$path/edges"),
      () => j.select(col("s"), col("dd").as("df")).withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$path/df"),
      () => fresh.withColumn("bid", lit(bid))
        .write.mode("append").partitionBy("bid").parquet(s"$path/post")))
    log.commit(spark, path, bid, observed.sig)
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
    * log to a single committed id ([[AppendLog.fold]]). */
  def compact(spark: SparkSession, path: String): Unit =
    log.fold(spark, path) { (tmp, keepBid) =>
      val (n, cap, minCommon) = readMeta(spark, path)
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
    }
}
