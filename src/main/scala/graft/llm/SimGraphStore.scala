package graft.llm

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
  *  - `_batches/<bid>` — marker files, one per COMMITTED update. The
  *    three appends of an update are not atomic together, so every
  *    sub-dataset is directory-partitioned by batch id (`bid=<k>/`) and
  *    readers prune to committed ids — a crash mid-update leaves orphan
  *    `bid=` partitions that are invisible, and the next [[update]] or
  *    [[compact]] deletes them BEFORE reusing the id (ids derive from
  *    committed markers, so a crashed batch and its retry share one: the
  *    cleanup is what makes the retry exact rather than double-counted).
  *    The marker is the commit point, the same discipline as the
  *    TriplesGraph manifest.
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

  private def committedIds(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path, "_batches")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName.toLong)
  }

  /** Committed rows of an append-grown sub-dataset (empty frame with the
    * right schema when nothing committed yet). The bid filter is a
    * PARTITION filter — orphan partitions are never even listed into the
    * scan. */
  private def committed(spark: SparkSession, path: String, sub: String,
      schema: StructType): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path, sub)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = committedIds(spark, path)
    // an empty batch writes no bid= partition at all; a dir holding only
    // _SUCCESS reads as empty under the declared schema
    if (ids.isEmpty || !fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(p.toString)
      .filter(col("bid").isin(ids: _*))
  }

  /** Delete `bid=` partitions no committed marker vouches for — a crashed
    * update's partial appends. Cheap directory ops; called before any
    * batch id is (re)used. */
  private def cleanOrphans(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val ids = committedIds(spark, path).toSet
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("edges", "df", "post").foreach { sub =>
      val p = new Path(path, sub)
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("bid=") &&
            !ids.contains(name.stripPrefix("bid=").toLong))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Fold a batch of NEW documents into the graph. Returns the committed
    * batch id.
    *
    * `explicitBid` is the streaming seam: a `foreachBatch` caller passes
    * the ENGINE's batch id so a crash-replayed micro-batch (same id, same
    * rows — the Structured Streaming contract) is recognized and skipped
    * instead of double-counted. Only the LATEST committed id may be
    * replayed (foreachBatch replays at most the one in-flight batch); an
    * older id means the checkpoint and the store are out of sync (e.g. a
    * fresh checkpoint pointed at an existing store) and fails loudly —
    * the same discipline as StreamingCuration's own-tagged-rows guard. */
  def update(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      explicitBid: Option[Long] = None): Long = {
    import org.apache.hadoop.fs.Path
    graft.sources.ParquetCompaction.recover(spark, path)
    cleanOrphans(spark, path)
    val (n, cap, _) = readMeta(spark, path)
    val maxCommitted = committedIds(spark, path).foldLeft(-1L)(math.max)
    val bid = explicitBid match {
      case None => maxCommitted + 1L
      case Some(b) =>
        if (b == maxCommitted) {
          // replayed in-flight batch: no-op — but VERIFY it when the
          // marker carries the committed batch's signature (ADVICE r12:
          // a reset checkpoint one batch behind presents the same id
          // with DIFFERENT rows; skipping those would drop a real batch)
          batchMarkerSig(spark, path, b).foreach { committedSig =>
            require(batchSig(batch, idCol, textCol) == committedSig,
              s"batch id $b matches the store's latest committed id at " +
                s"$path but its rows differ from the committed batch — " +
                "this is a reset checkpoint one batch behind, not a " +
                "replay; reset the checkpoint and the store together")
          }
          return b
        }
        require(b > maxCommitted,
          s"batch id $b is older than the store's latest committed " +
            s"$maxCommitted at $path — a replay can only repeat the " +
            "latest batch; reset the checkpoint and the store together")
        b
    }
    // batch postings: one row per (doc, DISTINCT shingle)
    val bp = postingsOf(batch, idCol, textCol, n).localCheckpoint()
    val delta = bp.groupBy("s").agg(count(lit(1)).as("dd"))
    val dfCur = committed(spark, path, "df", dfSchema)
      .groupBy("s").agg(sum("df").as("df0"))
    // every batch shingle with its pre/post df — the crossing analysis
    val j = delta.join(dfCur, Seq("s"), "left")
      .select(col("s"), coalesce(col("df0"), lit(0L)).as("df0"),
        (coalesce(col("df0"), lit(0L)) + col("dd")).as("df1"),
        col("dd"))
      .localCheckpoint()
    val post = committed(spark, path, "post", postSchema)
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
    // the marker carries the batch's replay signature (the ShingleIndex
    // discipline, ADVICE r12): the replay skip verifies it
    val marker = new Path(s"$path/_batches", bid.toString)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write(batchSig(batch, idCol, textCol).toString.getBytes("UTF-8"))
    finally out.close()
    bid
  }

  /** Order-free signature of a batch's (id, text) multiset — what the
    * replay skip verifies. One map-only pass, paid only on replay and
    * commit. */
  private def batchSig(batch: DataFrame, idCol: String,
      textCol: String): Long = {
    val row = batch
      .select(xxhash64(col(idCol).cast(LongType), col(textCol)).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("bx"),
        count(lit(1)).as("bn"))
      .collect()(0)
    row.getLong(0) ^ java.lang.Long.rotateLeft(row.getLong(1), 32) ^
      0x5851f42d4c957f2dL
  }

  /** The replay signature stamped into a batch's commit marker, if the
    * marker carries one (updates stamp the batch's; compaction preserves
    * the folded id's, so post-compaction replays content-verify too;
    * only pre-existing stores with empty markers fall back to id-only). */
  private def batchMarkerSig(spark: SparkSession, path: String,
      bid: Long): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(s"$path/_batches", bid.toString)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (txt.isEmpty) None else txt.toLongOption
    }
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
    committedIds(spark, path).size > maxDeltaBatches

  /** The graph: (a, b) doc pairs currently sharing ≥ minCommon rare
    * shingles. */
  def edges(spark: SparkSession, path: String): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (_, _, minCommon) = readMeta(spark, path)
    committed(spark, path, "edges", edgeSchema)
      .groupBy("a", "b").agg(sum("c").as("c"))
      .filter(col("c") >= minCommon).select("a", "b")
  }

  /** Semantic compaction: fold edge deltas (dropping pairs whose support
    * reached 0 — provably final, see the class doc), drop postings whose
    * shingle has crossed the cap, merge the df ledger, and reset the batch
    * log to a single committed id. Whole-store rewrite-then-swap, so a
    * kill at any point leaves either the old or the new store. */
  def compact(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    graft.sources.ParquetCompaction.recover(spark, path)
    cleanOrphans(spark, path)
    val (n, cap, minCommon) = readMeta(spark, path)
    val ids = committedIds(spark, path)
    // no committed batches → nothing to fold, and writing a marker for id
    // 0 here would make a later stream's FIRST fold (engine batch id 0)
    // look like a replay and silently skip — so an empty store is a no-op
    if (ids.isEmpty) return
    val keepBid = ids.max
    // carry the kept id's replay signature into the rewritten marker
    // (read BEFORE the swap), so a post-compaction replay of the last
    // batch still content-verifies instead of id-only-skipping
    val keepSig = batchMarkerSig(spark, path, keepBid)
    graft.sources.ParquetCompaction.rewrite(spark, path) { tmp =>
      val mergedEdges = committed(spark, path, "edges", edgeSchema)
        .groupBy("a", "b").agg(sum("c").as("c"))
        .filter(col("c") =!= 0L).withColumn("bid", lit(keepBid))
      val mergedDf = committed(spark, path, "df", dfSchema)
        .groupBy("s").agg(sum("df").as("df")).withColumn("bid", lit(keepBid))
      val rare = mergedDf.filter(col("df") <= cap).select("s")
      val livePost = committed(spark, path, "post", postSchema)
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
      val marker = new Path(s"$tmp/_batches", keepBid.toString)
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(marker, true)
      try keepSig.foreach(s => out.write(s.toString.getBytes("UTF-8")))
      finally out.close()
    }
  }
}
