package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted shingle-postings index for n-gram containment dedup — the
  * [[TextIndex]] treatment applied to [[TextOps.ngramContainmentPairs]]
  * (VERDICT r10 #1: the in-memory spelling re-derives signatures, document
  * frequencies, and ranked postings on EVERY sweep, which made q114 the
  * catalog's biggest 100× wall at 422 s ≈ linear; all of that work is
  * corpus-determined and belongs in a build step). Since r12 the index is
  * INCREMENTALLY APPENDABLE (VERDICT r11 #1): nightly batches fold in via
  * [[appendToIndex]] instead of probing a frozen index and decaying it.
  *
  * Layout at `path` (v2, epoch-partitioned):
  *  - `postings/` — one row per (doc, distinct shingle):
  *    (id, sz, s, rn) partitioned by (`ep`, `sb = pmod(xxhash64(s),
  *    nBuckets)`). `rn` is the shingle's rank within its doc in the
  *    (df asc, shingle asc) order OF THE DOC'S INSERTION EPOCH (the df
  *    state after that epoch's own deltas folded) and `sz` the doc's
  *    shingle-set size — so any threshold's probe prefix is just the
  *    stored-row filter `rn ≤ sz − ⌈t·sz⌉ + 1`: one dataset serves both
  *    the probe and the full-postings target side, and the prefix cut
  *    needs no recompute.
  *  - `df/` — (s, df) document-frequency DELTAS, partitioned by (ep, sb);
  *    the current df is the fold SUM(df) per shingle over committed
  *    epochs (Zipf-small work; [[compactIndex]] keeps it merged).
  *  - `sigs/` — per-doc (id, sh, hs) verify signatures
  *    ([[TextOps.shingleSigs]] shape), partitioned by ep.
  *  - `_epochs/<k>` — marker files, one per COMMITTED epoch (build = 0).
  *    An append's three writes are not atomic together, so every
  *    sub-dataset is directory-partitioned by epoch and readers prune to
  *    committed ids — a crash mid-append leaves orphan `ep=` partitions
  *    that are invisible, and the next [[appendToIndex]] or
  *    [[compactIndex]] deletes them BEFORE reusing the id (the
  *    [[SimGraphStore]] marker discipline). The marker is the commit.
  *  - `_graft_shingle_meta.json` — nBuckets, n, layout version.
  *
  * Rank staleness across epochs (the exactness story VERDICT r11 #1 asked
  * to be explicit): the prefix pigeonhole — "if |A∩B| ≥ ⌈t·|A|⌉ then A's
  * first |A|−⌈t·|A|⌉+1 shingles contain a common one" — holds for ANY
  * fixed per-doc order, so stored prefixes stay EXACT forever, whatever
  * epoch ranked them. Only the PPJoin positional filter compares rna
  * against rnb and needs both docs to rank common shingles identically;
  * that is guaranteed exactly when both docs were ranked under the same
  * df snapshot — i.e. within one epoch. Serving therefore applies the
  * positional filter ONLY to same-epoch pairs
  * ([[TextOps.containmentCandidates]]'s `sameOrder` guard); cross-epoch
  * pairs keep the pigeonhole + length filters, which still bound the
  * candidates and the exact two-stage verify keeps the OUTPUT identical
  * to a from-scratch rebuild ([[ShingleIndexSpec]] pins base+appends ==
  * rebuild bit-identically). The cost of staleness is thus extra
  * CANDIDATES on cross-epoch pairs, never wrong answers — and
  * [[compactIndex]] re-ranks everything into one epoch under the current
  * global df order, restoring full pruning.
  *
  * Serving:
  *  - [[containmentSelf]] — the full self-sweep, bit-identical to the
  *    in-memory operator (spec-pinned): candidates + two-stage verify,
  *    with the signature/df/rank work all read instead of rebuilt.
  *  - [[containmentAgainst]] — the sweep a recurring curation pipeline
  *    runs BEFORE folding tonight's batch in (batch vs corpus): the batch
  *    ranks its shingles by the index's CURRENT df order, keeps its
  *    prefixes, and the postings scan prunes to the ≤nBuckets partitions
  *    those prefix shingles hash into (PartitionFilters spec-asserted) —
  *    work scales with the batch and the probed postings, not the corpus.
  *    The current df order is exactly the LATEST epoch's rank order, so
  *    the positional filter applies against latest-epoch targets and the
  *    sameOrder guard waives it for older ones.
  *
  * Exactness under mixed ranking (containmentAgainst): the prefix
  * pigeonhole only needs A's OWN order to be fixed; batch-only shingles
  * (absent from the index) rank with df = 0. They can never be common
  * with an index doc, and the positional bound's two sides — |A|−rna
  * common-after upper bound, |B|−rnb likewise — hold with interleaved
  * non-common elements, so the same-epoch filter stays exact (they only
  * make rna larger, i.e. the bound tighter, never dropping a qualifying
  * pair's first common shingle, which both orders agree ranks before the
  * other ⌈t·|A|⌉−1 common ones).
  *
  * Doc-id contract (same as [[SimGraphStore]]): appended ids must be new
  * and unique within the batch — the append-only lake assumption.
  *
  * Scale (100 TB): build pays the corpus explode + df agg + one ranking
  * window once; a nightly cycle is then containmentAgainst (batch-sized
  * signature work, one Zipf-small df join, a partition-pruned postings
  * equi-join, candidate-sized verifies) + appendToIndex (batch-sized
  * ranking + appends; the df fold is vocab-sized). The self-sweep still
  * pays the candidate join (inherently corpus×corpus) but skips
  * signature, df, and ranking rebuilds. */
object ShingleIndex {

  private val metaFile = "_graft_shingle_meta.json"

  private def postingsSchema = StructType(Seq(StructField("id", LongType),
    StructField("sz", IntegerType), StructField("s", StringType),
    StructField("rn", IntegerType), StructField("ep", LongType),
    StructField("sb", LongType)))
  private def dfSchema = StructType(Seq(StructField("s", StringType),
    StructField("df", LongType), StructField("ep", LongType),
    StructField("sb", LongType)))
  private def sigsSchema = StructType(Seq(StructField("id", LongType),
    StructField("sh", ArrayType(StringType)),
    StructField("hs", ArrayType(LongType)), StructField("ep", LongType)))

  /** Shingle, rank, and persist as epoch 0. One corpus pass plus one
    * ranking window. Replaces anything already at `path`. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
      n: Int = 3, nBuckets: Int = 64): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = docs.sparkSession
    graft.sources.ParquetCompaction.recover(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val base = TextOps.shingleSigs(docs, idCol, textCol, n).localCheckpoint()
    val ex = base.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    // checkpoint the vocab-sized df table: the df write AND the postings
    // ranking join both consume it — lazily it was computed twice (one
    // full explode+agg pass each; guide §1.2, don't compute twice)
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df")).localCheckpoint()
    val w = Window.partitionBy("id").orderBy(col("df"), col("s"))
    // repartition BY sb before every partitionBy write (the BloomHistory
    // sidecar discipline): without it each of the shuffle's tasks opens a
    // writer in every bucket directory — tasks×nBuckets small files whose
    // per-file writer overhead dominates the whole build (measured 71.6 s
    // vs 7.8 s for the same 2.6M-row postings frame at 50k docs).
    // The three sub-dataset writes are independent (the epoch-0 marker is
    // the commit) and land in disjoint directories — run them
    // CONCURRENTLY (guide §2.6).
    graft.sources.ParJobs.run(Seq(
      () => base.withColumn("ep", lit(0L))
        .write.partitionBy("ep").parquet(s"$path/sigs"),
      () => dfTab.withColumn("ep", lit(0L))
        .withColumn("sb", pmod(xxhash64(col("s")), lit(nBuckets)))
        .repartition(col("sb"))
        .write.partitionBy("ep", "sb").parquet(s"$path/df"),
      () => ex.join(dfTab, "s")
        .withColumn("rn", row_number().over(w))
        .select(col("id"), col("sz"), col("s"), col("rn"))
        .withColumn("ep", lit(0L))
        .withColumn("sb", pmod(xxhash64(col("s")), lit(nBuckets)))
        .repartition(col("sb"))
        .write.partitionBy("ep", "sb").parquet(s"$path/postings")))
    // marker BEFORE meta (ADVICE r12): meta is every entry point's
    // fail-fast probe, so it must be the LAST artifact a build writes —
    // a crash between the two leaves a store readMeta rejects loudly,
    // never one whose fail-fast passes while committedEpochs is empty
    // and serving silently returns nothing. The marker carries the build
    // corpus's signature, so a stream batch landing on the build id (the
    // r13 bootstrap-seam collision) content-verifies instead of
    // id-only-skipping.
    commitEpoch(spark, path, 0L, Some(batchSig(docs, idCol, textCol)))
    writeMeta(spark, path, nBuckets, n)
  }

  /** Fold a batch of NEW documents into the index as the next epoch.
    * Batch postings rank in the POST-MERGE df order (current committed df
    * + this batch's own deltas — the snapshot the epoch's commit makes
    * current), df deltas append, signatures append; the `_epochs` marker
    * is the commit. A crash before the marker leaves invisible orphan
    * `ep=` partitions that the retry wipes before reusing the id.
    * Returns the committed epoch id.
    *
    * `explicitEp` is the streaming seam (the [[SimGraphStore.update]]
    * discipline): a `foreachBatch` maintainer passes the ENGINE's batch
    * id (offset by the build epoch — see [[graft.streaming
    * .StreamingShingleIndex]]) so a crash-replayed micro-batch — same
    * id, same rows — is recognized as committed and skipped; an OLDER id
    * means the checkpoint and the index are out of sync and fails
    * loudly. */
  def appendToIndex(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      explicitEp: Option[Long] = None): Long = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (nBuckets, n) = readMeta(spark, path)
    cleanOrphanEpochs(spark, path)
    val eps = committedEpochs(spark, path)
    require(eps.nonEmpty, s"no built index to append to at $path")
    val maxCommitted = eps.max
    val ep = explicitEp match {
      case None => maxCommitted + 1L
      case Some(e) =>
        if (e == maxCommitted) {
          // replayed in-flight batch: no-op — but VERIFY it when the
          // marker carries the committed batch's signature (ADVICE r12:
          // a reset checkpoint one batch behind presents the same id
          // with DIFFERENT rows; skipping those would drop a real
          // batch). Build markers carry the corpus signature and
          // compaction preserves the folded epoch's, so every
          // replayable id content-verifies (pre-existing v2 stores
          // with empty markers fall back to the id-only skip).
          epochSig(spark, path, e).foreach { committedSig =>
            require(batchSig(batch, idCol, textCol) == committedSig,
              s"epoch id $e matches the index's latest committed id at " +
                s"$path but its rows differ from the committed batch — " +
                "this is a reset checkpoint one batch behind, not a " +
                "replay; reset the checkpoint and the index together")
          }
          return e
        }
        require(e > maxCommitted,
          s"epoch id $e is older than the index's latest committed " +
            s"$maxCommitted at $path — a replay can only repeat the " +
            "latest epoch; reset the checkpoint and the index together")
        e
    }
    val base = TextOps.shingleSigs(batch, idCol, textCol, n).localCheckpoint()
    val ex = base.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val delta = ex.groupBy("s").agg(count(lit(1)).as("dd")).localCheckpoint()
    // post-merge df for exactly the batch's shingles (all the ranking
    // window needs); the committed fold is Zipf-small
    val dfCur = committed(spark, path, "df", dfSchema)
      .groupBy("s").agg(sum("df").as("df0"))
    val mergedDf = delta.join(dfCur, Seq("s"), "left")
      .select(col("s"),
        (coalesce(col("df0"), lit(0L)) + col("dd")).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("s"))
    // repartition BY sb before partitionBy (the build-path discipline):
    // an unaligned append pays tasks×nBuckets writer opens per epoch.
    // Three independent writes into disjoint epoch partitions — the
    // marker is the commit, so they run CONCURRENTLY (guide §2.6).
    graft.sources.ParJobs.run(Seq(
      () => ex.join(mergedDf, "s")
        .withColumn("rn", row_number().over(w))
        .select(col("id"), col("sz"), col("s"), col("rn"))
        .withColumn("ep", lit(ep))
        .withColumn("sb", pmod(xxhash64(col("s")), lit(nBuckets)))
        .repartition(col("sb"))
        .write.mode("append").partitionBy("ep", "sb")
        .parquet(s"$path/postings"),
      () => delta.select(col("s"), col("dd").as("df"))
        .withColumn("ep", lit(ep))
        .withColumn("sb", pmod(xxhash64(col("s")), lit(nBuckets)))
        .repartition(col("sb"))
        .write.mode("append").partitionBy("ep", "sb").parquet(s"$path/df"),
      () => base.withColumn("ep", lit(ep))
        .write.mode("append").partitionBy("ep").parquet(s"$path/sigs")))
    commitEpoch(spark, path, ep, Some(batchSig(batch, idCol, textCol)))
    ep
  }

  /** Full self-sweep served from the index — output identical to
    * `TextOps.ngramContainmentPairs(corpus, …, threshold)` on the indexed
    * corpus INCLUDING all appended epochs (spec-pinned): (ida, idb,
    * containment) for every ordered pair with |A∩B|/|A| ≥ threshold. */
  def containmentSelf(spark: SparkSession, path: String,
      threshold: Double): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    readMeta(spark, path) // fail fast on a missing/partial index
    val postings = committed(spark, path, "postings", postingsSchema)
    val probe = postings
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id").as("ida"), col("sz").as("sza"), col("s"),
        col("rn").as("rna"), col("ep").as("epa"))
    val target = postings.select(col("id").as("idb"), col("sz").as("szb"),
      col("s").as("s2"), col("rn").as("rnb"), col("ep").as("epb"))
    val candidates = TextOps.containmentCandidates(probe, target, threshold,
      sameOrder = col("epa") === col("epb"))
    val sigs = committed(spark, path, "sigs", sigsSchema)
      .select("id", "sh", "hs")
    TextOps.containmentVerify(candidates, sigs, sigs, threshold)
  }

  /** Incremental sweep: ordered pairs (ida ∈ batch, idb ∈ index) with
    * |A∩B|/|A| ≥ threshold — "which corpus documents contain tonight's
    * batch". The batch never joins the corpus-sized postings outside the
    * pruned buckets its prefix shingles hash into. Run BEFORE
    * [[appendToIndex]] folds the same batch in. */
  def containmentAgainst(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (_, n) = readMeta(spark, path)
    val sigsA = TextOps.shingleSigs(batch, idCol, textCol, n)
      .localCheckpoint()
    val candidates = againstCandidates(spark, path, sigsA, threshold)
    val sigsB = committed(spark, path, "sigs", sigsSchema)
      .select("id", "sh", "hs")
    TextOps.containmentVerify(candidates, sigsA, sigsB, threshold)
  }

  /** Candidate (ida, idb) frame of [[containmentAgainst]] — split out so
    * the pruned-scan plan is assertable before the verify stage's eager
    * checkpoint consumes it. */
  private[graft] def againstCandidates(spark: SparkSession, path: String,
      sigsA: DataFrame, threshold: Double): DataFrame = {
    val (nBuckets, _) = readMeta(spark, path)
    val eps = committedEpochs(spark, path)
    val curEp = if (eps.isEmpty) 0L else eps.max
    val ex = sigsA.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    // rank by the index's CURRENT df order (batch-only shingles as
    // df = 0) — which is the LATEST epoch's rank order, so the positional
    // filter applies exactly there and is waived for older epochs
    val dfTab = committed(spark, path, "df", dfSchema)
      .groupBy("s").agg(sum("df").as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val probe = ex.join(dfTab, Seq("s"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id").as("ida"), col("sz").as("sza"), col("s"),
        col("rn").as("rna"), lit(curEp).as("epa"))
      .localCheckpoint()
    // the probed bucket set (≤ nBuckets values) lands on the postings
    // scan as a literal partition filter — the q120 pruned-serve shape
    val buckets = probe
      .select(pmod(xxhash64(col("s")), lit(nBuckets)).as("sb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val target = committed(spark, path, "postings", postingsSchema)
      .filter(col("sb").isin(buckets: _*))
      .select(col("id").as("idb"), col("sz").as("szb"),
        col("s").as("s2"), col("rn").as("rnb"), col("ep").as("epb"))
    TextOps.containmentCandidates(probe, target, threshold,
      sameOrder = col("epa") === col("epb"))
  }

  /** Compact + refresh: merge the df delta ledger, RE-RANK every stored
    * posting under the current global (df asc, shingle asc) order, and
    * fold all epochs into one (id = the latest committed, the
    * [[SimGraphStore]] keep-max discipline) — restoring full positional
    * pruning after a run of appends and resetting the small-files growth.
    * Whole-store rewrite-then-swap ([[graft.sources.ParquetCompaction
    * .rewrite]]), so a kill at any stage leaves the old or the new store,
    * never a mix; output of every serve is unchanged (spec-pinned). */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    graft.sources.ParquetCompaction.recover(spark, path)
    cleanOrphanEpochs(spark, path)
    val (nBuckets, n) = readMeta(spark, path)
    val eps = committedEpochs(spark, path)
    if (eps.isEmpty) return
    val keep = eps.max
    // the kept epoch stays replayable after the fold: carry its replay
    // signature into the rewritten marker (read BEFORE the swap deletes
    // the old one), so a post-compaction replay of the last batch still
    // content-verifies instead of id-only-skipping
    val keepSig = epochSig(spark, path, keep)
    // materialize the folds BEFORE the swap deletes their input files
    val sigs = committed(spark, path, "sigs", sigsSchema)
      .select("id", "sh", "hs").localCheckpoint()
    val dfAll = committed(spark, path, "df", dfSchema)
      .groupBy("s").agg(sum("df").as("df")).localCheckpoint()
    val ranked = committed(spark, path, "postings", postingsSchema)
      .select("id", "sz", "s").join(dfAll, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("s"))))
      .select(col("id"), col("sz"), col("s"), col("rn"))
      .localCheckpoint()
    graft.sources.ParquetCompaction.rewrite(spark, path) { tmp =>
      // three checkpointed folds into disjoint temp sub-dirs (guide §2.6)
      graft.sources.ParJobs.run(Seq(
        () => sigs.withColumn("ep", lit(keep))
          .write.partitionBy("ep").parquet(s"$tmp/sigs"),
        () => dfAll.withColumn("ep", lit(keep))
          .withColumn("sb", pmod(xxhash64(col("s")), lit(nBuckets)))
          .repartition(col("sb"))
          .write.partitionBy("ep", "sb").parquet(s"$tmp/df"),
        () => ranked.withColumn("ep", lit(keep))
          .withColumn("sb", pmod(xxhash64(col("s")), lit(nBuckets)))
          .repartition(col("sb"))
          .write.partitionBy("ep", "sb").parquet(s"$tmp/postings")))
      graft.sources.MetaSidecar.write(spark, tmp, metaFile,
        Seq("nBuckets" -> nBuckets.toString, "n" -> n.toString,
          "v" -> "2"))
      val marker = new Path(s"$tmp/_epochs", keep.toString)
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(marker, true)
      try keepSig.foreach(s => out.write(s.toString.getBytes("UTF-8")))
      finally out.close()
    }
  }

  /** Operational compaction dial (the [[SimGraphStore.compactionDue]]
    * pattern), set from the r13 cadence rehearsal (tools/ShingleCadence,
    * 10 sequential 1%-appends at the 100× corpus — STATUS r13 table):
    * APPEND cost stays FLAT as epochs accumulate (17–23 s per 1% batch,
    * no trend — batch-sized ranking + a vocab-sized df fold), but the
    * nightly batch-vs-index serve ([[containmentAgainst]]) degrades with
    * epoch depth — 10.7 s at one epoch → 27–30 s at depth 5–6 (every
    * epoch adds df partitions to the fold AND cross-epoch pairs lose the
    * positional filter, growing the candidate set) — and the full
    * self-sweep degrades FAR worse (459.8 s at depth 6 vs 209.8 s on the
    * same corpus one-epoch — 2.2× pure waiver cost), while
    * [[compactIndex]] (28.6–59.8 s) re-ranks everything into one epoch
    * and resets both (against back to 12.8 s). Break-even ≈ 2–3 nightly
    * serves of saved degradation per compaction → compact once more than
    * `maxEpochs` epochs have accumulated, and ALWAYS compact before a
    * planned self-sweep. Returns true when a compaction is due; callers
    * run [[compactIndex]] in the maintenance slot between appends. */
  def compactionDue(spark: SparkSession, path: String,
      maxEpochs: Int = 4): Boolean =
    committedEpochs(spark, path).size > maxEpochs

  // ---- epoch plumbing (the SimGraphStore marker discipline) ----

  private def committedEpochs(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path, "_epochs")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName.toLong)
  }

  /** Write the commit marker with the committed batch's replay signature:
    * appends stamp the batch's, build stamps the corpus's, and compaction
    * preserves the folded epoch's — every replayable id content-verifies. */
  private def commitEpoch(spark: SparkSession, path: String, ep: Long,
      sig: Option[Long] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(s"$path/_epochs", ep.toString)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try sig.foreach(s => out.write(s.toString.getBytes("UTF-8")))
    finally out.close()
  }

  /** The replay signature stamped into an epoch's commit marker, if the
    * marker carries one. */
  private def epochSig(spark: SparkSession, path: String,
      ep: Long): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(s"$path/_epochs", ep.toString)
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

  /** Order-free signature of a batch's (id, text) multiset — what the
    * replay skip verifies. One map-only pass, paid only on replay. */
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

  /** Delete `ep=` partitions no committed marker vouches for — a crashed
    * append's partial writes. Cheap directory ops. */
  private def cleanOrphanEpochs(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val ids = committedEpochs(spark, path).toSet
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings", "df", "sigs").foreach { sub =>
      val p = new Path(path, sub)
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("ep=") &&
            !ids.contains(name.stripPrefix("ep=").toLong))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Committed rows of an epoch-partitioned sub-dataset (empty frame with
    * the right schema when nothing committed). The ep filter is a
    * PARTITION filter — orphan partitions never even list into the scan. */
  private def committed(spark: SparkSession, path: String, sub: String,
      schema: StructType): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path, sub)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = committedEpochs(spark, path)
    if (ids.isEmpty || !fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(p.toString)
      .filter(col("ep").isin(ids: _*))
  }

  private def writeMeta(spark: SparkSession, path: String, nBuckets: Int,
      n: Int): Unit =
    graft.sources.MetaSidecar.write(spark, path, metaFile,
      Seq("nBuckets" -> nBuckets.toString, "n" -> n.toString, "v" -> "2"))

  private[graft] def readMeta(spark: SparkSession,
      path: String): (Int, Int) = {
    import graft.sources.MetaSidecar._
    val txt = readText(spark, path, metaFile).getOrElse(
      throw new IllegalStateException(s"no shingle index meta at $path"))
    require(requireLong(txt, path, "v") == 2L,
      s"shingle index at $path has a pre-epoch (v1) layout — rebuild it")
    (requireLong(txt, path, "nBuckets").toInt,
      requireLong(txt, path, "n").toInt)
  }
}
