package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Persisted, incrementally-folded Bloom history filter — the store behind
  * [[TextOps.dedupAgainstHistory]]'s "is tonight's batch already in the
  * lake" sweep (VERDICT r11 #3: the q139 filter was rebuilt from the full
  * history on every run; Bloom filters OR-merge, so a nightly job keeps ONE
  * persisted filter and folds only the new batch's fingerprints in).
  *
  * Layout at `path`:
  *  - `words/` — the filter as `nShards` rows of (shard, `array<long>`)
  *    (mBits/64 words each, ≤ 16 MB/shard at the per-shard 2^27 cap).
  *  - `_graft_bloom_meta.json` — mBits, k, nShards, nItems (fingerprints
  *    folded, for the fp-rate policy), lastBid (replay discipline).
  * and the FINGERPRINT SIDECAR at the sibling `path`__fp (outside the
  * swap root, so the filter's whole-store rewrite never has to copy it):
  *  - `bid=<b>/nb=<B>/bkt=<x>/` — each committed batch's token-set
  *    fingerprints (the md5 strings the filter folded), hash-bucketed by
  *    pmod(xxhash64(fp), B) for partition-pruned verify reads. B is
  *    SIZED TO THE BATCH (next power of two of rows/8k, capped at 256):
  *    a 5k-doc nightly append writes ONE bucket file instead of a fixed
  *    64 (the r14 q141 bench mover — 64 tiny files per append was pure
  *    fixed overhead at small SFs), while a lake-sized bootstrap fold
  *    still fans out for pruned verify reads. Readers prune across
  *    MIXED fan-outs because every B is a power of two dividing 256:
  *    a hit hashing to bucket r under mod 256 lives in bucket r mod B
  *    of a B-bucket partition (B | 256 ⇒ h ≡ r (mod B)). A partition in
  *    the PRE-nb layout (`bid=<b>/bkt=<x>/`, the fixed fan-out this
  *    store wrote before r14) is read with its historical B = 64
  *    (ADVICE r14: without the fallback the nb prune silently treated
  *    all legacy history as empty); [[compactFingerprints]] migrates it.
  * The sidecar is the lake's fingerprint column as a store-owned dataset
  * (VERDICT r13 #1): [[probe]] hits verify against IT, so the nightly
  * admission gate never reads lake text — the verify scan is fp-bytes
  * (~32 B/doc vs KB-sized documents), pruned to the buckets the hits
  * land in.
  *
  * SHARDING (VERDICT r14 #5): a single filter word-array is capped at
  * 2^27 bits by [[graft.functions.BloomFilterAgg]] (the partial-agg
  * buffer that crosses the shuffle) — ~13.6M fingerprints at a 1%
  * budget, small against a 100 TB lake's doc count. The store therefore
  * shards by an INDEPENDENT hash of the fingerprint
  * (xxhash64("graft_bloom_shard", fp) mod nShards — independent because
  * the probe's bit positions use xxhash64(fp)'s low bits directly, so
  * sharding on the same hash would pin log2(nShards) position bits and
  * waste that fraction of every shard's filter). Each shard is a full
  * mBits filter over its residue class; [[probe]] routes each
  * fingerprint to its shard's row with a broadcast equi-join
  * (nShards·mBits/8 bytes total — at the cap, 16 MB/shard; past ~8
  * shards a deployment pins the words table on executors instead), and
  * [[NightlyCuration.maintenance]] grows nShards when the per-shard
  * sizing formula exceeds the cap — the fp budget stays real at any
  * lake size instead of silently saturating.
  *
  * Every append is a WHOLE-STORE rewrite-then-swap
  * ([[graft.sources.ParquetCompaction.rewrite]]): words and meta move
  * together, so a kill at any stage leaves the old or the new store —
  * never a filter whose meta disagrees. The sidecar commits THROUGH that
  * swap: a batch's fingerprints land under `bid=<b>` BEFORE the filter
  * swap, and a sidecar partition is committed iff its bid ≤ meta
  * lastBid — a crash between the sidecar write and the swap leaves an
  * orphan partition readers ignore and the next append deletes.
  *
  * Replay discipline: [[graft.sources.AppendLog.resolveId]]'s rule, with
  * the latest id and its signature kept in meta (`lastBid`, `lastSig`)
  * instead of marker files — the filter and its meta commit together
  * through the whole-store swap below. A `foreachBatch` maintainer passes
  * the ENGINE batch id; a verified replay of lastBid is skipped (OR-folding
  * the same rows twice is bitwise idempotent anyway, but skipping keeps
  * `nItems` honest). `lastSig` signs the batch's FINGERPRINT multiset,
  * which the append computes in the same pass as the fold.
  *
  * FP-rate policy (STATUS note): the filter cannot resize in place, so
  * appends monotonically raise occupancy. [[estimatedFpRate]] estimates
  * the per-probe false-positive rate from the actual bit occupancy,
  * max over shards of (setBits/mBits)^k — the standard approximation
  * (double-hashed probes into one word array are not independent
  * uniform, so it is an estimate, not an exact rate; it only drives the
  * rebuild policy). Because callers re-verify hits exactly (the q139
  * shape), a drifting fp rate never corrupts output — it only grows the
  * verify join's probe side — so the policy is operational: when the
  * rate crosses the configured budget (default 1%), [[rebuild]] with
  * mBits resized (one sidecar pass, the same cost the non-persisted
  * spelling paid every night), sharding once mBits hits the cap.
  *
  * Scale (100 TB): append cost is one map-only pass over the BATCH (the
  * history is never re-read), a filter-sized shuffle buffer, and a
  * filter-sized store rewrite. Serving broadcasts the nShards-row filter
  * and probes map-side; only Bloom hits reach the exact verify join. */
object BloomHistory {

  private val metaFile = "_graft_bloom_meta.json"

  /** Max fingerprint-sidecar bucket fan-out (class doc). Every
    * partition's own fan-out is a power of two dividing this, so readers
    * derive any partition's bucket for a hit from the hit's residue mod
    * this one modulus. */
  private[graft] val maxFpBuckets = 256

  /** Fan-out of the PRE-nb sidecar layout (`bid=/bkt=`, fixed 64): the
    * fallback modulus for partitions written before the batch-sized
    * fan-out existed (ADVICE r14). */
  private[graft] val legacyFpBuckets = 64L

  /** Target fingerprint rows per sidecar bucket file (~32 B/row ⇒
    * ~256 KB files); drives [[bucketsFor]]. */
  private val fpBucketTargetRows = 8192L

  /** Batch-sized bucket fan-out: next power of two of rows/target,
    * clamped to [1, maxFpBuckets]. */
  private[graft] def bucketsFor(rows: Long): Int = {
    val want = math.max(1L, (rows + fpBucketTargetRows - 1) / fpBucketTargetRows)
    math.min(maxFpBuckets.toLong,
      java.lang.Long.highestOneBit(math.max(1L, 2 * want - 1))).toInt
  }

  private[graft] def fpPath(path: String): String = s"${path}__fp"

  /** A fingerprint's shard — an independent seeded hash (class doc: the
    * probe's bit positions consume xxhash64(fp)'s low bits, so the shard
    * key must not). Constant 0 at nShards = 1 so the unsharded plan
    * stays a single broadcast row. */
  private def shardOf(fp: Column, nShards: Int): Column =
    if (nShards == 1) lit(0L)
    else pmod(xxhash64(lit("graft_bloom_shard"), fp), lit(nShards.toLong))

  /** Create an empty filter store. */
  def init(spark: SparkSession, path: String, mBits: Int = 1 << 20,
      k: Int = 5, nShards: Int = 1): Unit = {
    require(mBits >= 64 && Integer.bitCount(mBits) == 1,
      "mBits must be a power of two >= 64")
    require(nShards >= 1, "nShards must be >= 1")
    graft.sources.ParquetCompaction.recover(spark, path)
    graft.sources.ParquetCompaction.rewrite(spark, path) { tmp =>
      emptyWords(spark, mBits, nShards).write.parquet(s"$tmp/words")
      writeMeta(spark, tmp, mBits, k, nShards, nItems = 0L, lastBid = -1L,
        lastSig = None)
    }
    // a stale sidecar from an earlier store at this path is all orphans
    // now (every bid > the fresh lastBid = -1), so readers already ignore
    // it; deleting is cleanup, and deleting AFTER the swap means a crash
    // here leaves no window where an old filter lacks its sidecar
    val fp = new org.apache.hadoop.fs.Path(fpPath(path))
    val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(fp)) fs.delete(fp, true)
  }

  /** Fold a batch's token-set fingerprints into the stored filter. Returns
    * the committed batch id. `explicitBid` is the streaming seam (see the
    * class doc); `None` auto-increments. */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      textCol: String, explicitBid: Option[Long] = None): Long = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (mBits, k, nItems, lastBid) = readMeta(spark, path)
    val nShards = readShards(spark, path)
    // the log's replay rule over this store's meta: lastBid is the latest
    // committed id and lastSig its signature (of the fingerprint multiset)
    val bid = graft.sources.AppendLog.resolveId(lastBid, explicitBid,
      readSig(spark, path), batchSig(batch, textCol), s"store at $path")
      .getOrElse(return lastBid)
    graft.functions.BloomFilterAgg.register(spark)
    // the sidecar write precedes the swap (class doc): orphans from a
    // crashed earlier attempt are exactly the partitions above lastBid
    cleanOrphanFps(spark, path, lastBid)
    // ONE pass over the batch (ADVICE r14: counting the raw batch before
    // the fingerprint write evaluated its upstream plan twice): the
    // fingerprint frame is checkpointed, the fan-out is sized from the
    // rows actually written, and the write reads the checkpoint blocks
    val fps = batch
      .select(TextOps.tokenSetFingerprint(col(textCol)).as("fp"))
      .localCheckpoint()
    val nb = bucketsFor(fps.count())
    fps
      .withColumn("bkt", pmod(xxhash64(col("fp")), lit(nb)))
      // repartition BY bkt first: without it every shuffle task writes
      // into every bucket directory — up to tasks×buckets tiny files per
      // append (measured 7.6 s vs 1.8 s for a 5k-doc batch at 100×)
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite")
      .parquet(s"${fpPath(path)}/bid=$bid/nb=$nb")
    // fold the filter FROM the just-written sidecar partition: one read
    // of fp-bytes instead of re-tokenizing the batch text, and the
    // filter can never disagree with what the sidecar recorded
    // explicit schema: a 0-row batch writes no data files, and the fold
    // must still see an empty (fp, bkt) frame, not an inference failure
    val folded = spark.read.schema("fp STRING, nb BIGINT, bkt BIGINT")
      .parquet(s"${fpPath(path)}/bid=$bid")
      .groupBy(shardOf(col("fp"), nShards).as("shard"))
      .agg(call_function(graft.functions.BloomFilterAgg.name,
          xxhash64(col("fp")), lit(mBits), lit(k)).as("bw"),
        count(lit(1)).as("bn"),
        coalesce(expr("bit_xor(xxhash64(fp))"), lit(0L)).as("bx"))
    val stored = readWords(spark, path)
    // nShards rows × (≤ nShards) rows: OR the word arrays per shard
    // (shards the batch didn't touch keep their stored words unchanged
    // — OR with the all-zero identity); Bloom union is exact
    val merged = stored.join(broadcast(folded), Seq("shard"), "left")
      .select(col("shard"),
        zip_with(col("words"),
          coalesce(col("bw"), array_repeat(lit(0L), lit(mBits / 64))),
          (a, b) => a.bitwiseOR(b)).as("words"),
        coalesce(col("bn"), lit(0L)).as("bn"),
        coalesce(col("bx"), lit(0L)).as("bx"))
      .localCheckpoint() // materialize BEFORE the swap deletes its input
    // XOR over per-shard XORs == the whole batch's XOR (shards partition
    // the rows), so the replay signature is shard-layout-independent
    val head = merged
      .agg(sum("bn").as("bn"),
        coalesce(expr("bit_xor(bx)"), lit(0L)).as("bx"))
      .collect()(0)
    val added = head.getLong(0)
    val sig = combineSig(head.getLong(1), added)
    graft.sources.ParquetCompaction.rewrite(spark, path) { tmp =>
      merged.select("shard", "words").write.parquet(s"$tmp/words")
      writeMeta(spark, tmp, mBits, k, nShards, nItems + added, bid,
        Some(sig))
    }
    bid
  }

  /** REBUILD the filter at a new size — the fp-rate policy's operation
    * (class doc): one pass over the FINGERPRINT SIDECAR (every
    * fingerprint the store ever folded — fp-bytes, never lake text)
    * into fresh `newMBits`-bit filters (`newNShards` of them — the
    * sharding escape hatch once a single filter hits the 2^27 cap;
    * None keeps the store's current shard count), whole-store
    * rewrite-then-swap (a kill at any stage leaves the old or the new
    * store), `lastBid` and the replay signature PRESERVED so a
    * streaming maintainer's next fold lands on the rebuilt store
    * exactly as it would have on the old one, `nItems` reset honestly
    * to the rows actually folded. The sidecar itself is untouched (its
    * contents are the rebuild's input, not its output). */
  def rebuild(spark: SparkSession, path: String, newMBits: Int,
      newK: Int = 5, newNShards: Option[Int] = None): Unit = {
    require(newMBits >= 64 && Integer.bitCount(newMBits) == 1,
      "mBits must be a power of two >= 64")
    graft.sources.ParquetCompaction.recover(spark, path)
    val (_, _, _, lastBid) = readMeta(spark, path)
    val s2 = newNShards.getOrElse(readShards(spark, path))
    require(s2 >= 1, "nShards must be >= 1")
    val lastSig = readSig(spark, path)
    graft.functions.BloomFilterAgg.register(spark)
    val folded = storedFingerprints(spark, path, lastBid)
      .groupBy(shardOf(col("fp"), s2).as("shard"))
      .agg(call_function(graft.functions.BloomFilterAgg.name,
          xxhash64(col("fp")), lit(newMBits), lit(newK)).as("bw"),
        count(lit(1)).as("bn"))
    // OR onto empty filters so untouched shards (and a 0-row history)
    // still yield valid all-zero word arrays
    val merged = emptyWords(spark, newMBits, s2)
      .join(broadcast(folded), Seq("shard"), "left")
      .select(col("shard"),
        zip_with(col("words"),
          coalesce(col("bw"), array_repeat(lit(0L), lit(newMBits / 64))),
          (a, b) => a.bitwiseOR(b)).as("words"),
        coalesce(col("bn"), lit(0L)).as("bn"))
      .localCheckpoint() // materialize BEFORE the swap deletes its input
    val n = merged.agg(sum("bn")).collect()(0).getLong(0)
    graft.sources.ParquetCompaction.rewrite(spark, path) { tmp =>
      merged.select("shard", "words").write.parquet(s"$tmp/words")
      writeMeta(spark, tmp, newMBits, newK, s2, n, lastBid, lastSig)
    }
  }

  /** Batch rows whose fingerprint MAY be in the folded history — true
    * duplicates plus the fp-rate residue, never missing a true dup. The
    * nShards-row filter broadcasts (each fingerprint equi-joins its
    * shard's row); the probe is pure codegen'd Column bit tests
    * ([[graft.functions.BloomProbe.mightContain]]). Output (doc_id, fp). */
  def probe(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (mBits, k, _, _) = readMeta(spark, path)
    val nShards = readShards(spark, path)
    val stored = readWords(spark, path)
    batch.select(col(idCol).cast(LongType).as("doc_id"),
        TextOps.tokenSetFingerprint(col(textCol)).as("fp"))
      .withColumn("shard", shardOf(col("fp"), nShards))
      .join(broadcast(stored), Seq("shard"))
      .filter(graft.functions.BloomProbe.mightContain(
        col("words"), xxhash64(col("fp")), mBits, k))
      .select("doc_id", "fp")
  }

  /** The exact q139 sweep served ENTIRELY from the store: Bloom hits
    * re-verify against the fingerprint sidecar — the lake corpus is
    * read ZERO times, in text or otherwise (VERDICT r13 #1). The output
    * is EXACT — identical to [[TextOps.dedupAgainstHistory]] over the
    * corpus the store folded — because the sidecar holds precisely that
    * corpus's fingerprint multiset (appended batch-by-batch alongside
    * the filter, committed through the same swap).
    *
    * Scale shape: the sidecar scan prunes to the hash buckets the hits
    * land in and the verify is an equi-join on fp — fp-bytes, cost
    * tracking hits (small nights touch few buckets) with a lake-fp-bytes
    * ceiling ~32 B/doc, two to three orders below the text scan it
    * replaces. The hit set broadcasts only while it FITS (VERDICT r14
    * #4): on a re-crawl-heavy night hits ≈ batch, and an unconditional
    * broadcast of a 10M-row hit set would kill the driver — past the
    * session's autoBroadcastJoinThreshold the verify joins without the
    * hint and Catalyst/AQE plan it from real sizes. */
  def dedupFromStore(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (_, _, _, lastBid) = readMeta(spark, path)
    // materialize the hits: they are read three times (bucket list,
    // size gate, verify join) and all must see the same filter state
    val hits = probe(spark, path, batch, idCol, textCol)
      .withColumn("bkt", pmod(xxhash64(col("fp")), lit(maxFpBuckets)))
      .localCheckpoint()
    // hit residues mod the MAX fan-out — ≤ maxFpBuckets distinct
    // values, a driver-bounded collect; each partition's own bucket for
    // a hit is its residue mod that partition's nb (class doc). One
    // grouped aggregate yields the residue list AND the hit count the
    // broadcast gate below needs — two jobs folded into one.
    val bktCounts = hits.groupBy("bkt").count().collect()
    val res = bktCounts.map(_.getLong(0))
    if (res.isEmpty) return hits.select("doc_id").limit(0)
    // one OR-of-ANDs over the possible fan-outs (1, 2, …, maxFpBuckets —
    // derived, ADVICE r14, so a fan-out cap change can't silently miss
    // partitions): partition pruning keeps only (nb, bkt) dirs a hit can
    // land in, absent nbs cost 0
    val prune = (0 to java.lang.Long.numberOfTrailingZeros(
        maxFpBuckets.toLong)).map(1L << _).map { b =>
      col("nb") === b && col("bkt").isin(res.map(_ % b).distinct: _*)
    }.reduce(_ || _)
    // broadcast only a fitting hit set (class doc): ~64 B/row in the
    // build-side hash table (32-char fp + id + object overhead)
    val bcastThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val hitRows = bktCounts.map(_.getLong(1)).sum
    val verify = hits.select("doc_id", "fp")
    val verifySide =
      if (bcastThreshold > 0 && hitRows * 64L <= bcastThreshold)
        broadcast(verify)
      else verify
    storedFingerprints(spark, path, lastBid)
      .filter(prune)
      .join(verifySide, Seq("fp"))
      .select("doc_id").distinct()
  }

  /** Every committed fingerprint in the sidecar (bids ≤ `lastBid`; an
    * orphan partition above it is a crashed append's leftover). Columns
    * (fp, nb, bkt); empty frame when nothing has been appended. A
    * committed partition in the pre-nb layout (no `nb=` level) reads
    * with the fixed legacy fan-out (class doc). */
  private def storedFingerprints(spark: SparkSession, path: String,
      lastBid: Long): DataFrame = {
    val dirs = committedFpDirs(spark, path, lastBid)
    if (dirs.isEmpty)
      spark.range(0).select(lit("").as("fp"), lit(1L).as("nb"),
        lit(0L).as("bkt")).limit(0)
    else {
      val root = new org.apache.hadoop.fs.Path(fpPath(path))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (v2, legacy) = dirs.partition { d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(d))
          .exists(_.getPath.getName.startsWith("nb="))
      }
      val frames =
        (if (v2.isEmpty) Nil
         else Seq(spark.read.schema("fp STRING, nb BIGINT, bkt BIGINT")
           .option("basePath", fpPath(path)).parquet(v2: _*)
           .select("fp", "nb", "bkt"))) ++
        (if (legacy.isEmpty) Nil
         else Seq(spark.read.schema("fp STRING, bkt BIGINT")
           .option("basePath", fpPath(path)).parquet(legacy: _*)
           .select(col("fp"), lit(legacyFpBuckets).as("nb"), col("bkt"))))
      frames.reduce(_.unionByName(_))
    }
  }

  private def committedFpDirs(spark: SparkSession, path: String,
      lastBid: Long): Seq[String] = {
    // the ParquetCompaction invariant: recover before first touch — a
    // compactFingerprints killed between root-delete and rename leaves
    // the WHOLE sidecar in the READY temp, and a reader that skipped
    // recovery would silently verify against nothing
    graft.sources.ParquetCompaction.recover(spark, fpPath(path))
    val root = new org.apache.hadoop.fs.Path(fpPath(path))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("bid=") && n.stripPrefix("bid=").toLongOption
          .exists(_ <= lastBid)
      }
      .map(_.toString)
  }

  private def cleanOrphanFps(spark: SparkSession, path: String,
      lastBid: Long): Unit = {
    graft.sources.ParquetCompaction.recover(spark, fpPath(path))
    val root = new org.apache.hadoop.fs.Path(fpPath(path))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("bid=") && n.stripPrefix("bid=").toLongOption
          .forall(_ > lastBid))
        fs.delete(st.getPath, true)
    }
  }

  /** Compact the sidecar's committed partitions into ONE `bid=<lastBid>`
    * partition (still bucket-partitioned) — the small-files dial for a
    * store that gains a partition directory per append. Re-attributing
    * every fingerprint to the latest committed bid is sound: readers
    * only ever ask "bid ≤ lastBid", and the replay discipline never
    * re-writes a committed bid's partition. Whole-sidecar
    * rewrite-then-swap, so a kill leaves the old or the new sidecar.
    * Pre-nb-layout partitions migrate to the current layout here. */
  def compactFingerprints(spark: SparkSession, path: String): Unit = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (_, _, nItems, lastBid) = readMeta(spark, path)
    if (lastBid < 0L) return
    graft.sources.ParquetCompaction.recover(spark, fpPath(path))
    // fan-out re-sized to the WHOLE folded multiset (nItems counts every
    // row the sidecar holds), buckets recomputed under it — the mixed
    // per-append fan-outs collapse into one uniform partition
    val nb = bucketsFor(nItems)
    val all = storedFingerprints(spark, path, lastBid)
      .select(col("fp"), pmod(xxhash64(col("fp")), lit(nb)).as("bkt"))
      .localCheckpoint()
    graft.sources.ParquetCompaction.rewrite(spark, fpPath(path)) { tmp =>
      all.repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(s"$tmp/bid=$lastBid/nb=$nb")
    }
  }

  /** Per-probe false-positive rate of the stored filter, estimated from
    * the actual bit occupancy as the MAX over shards of
    * (setBits/mBits)^k — the standard approximation (probe positions are
    * double-hashed, not independent uniform); it drives the [[rebuild]]
    * policy dial (class doc). */
  def estimatedFpRate(spark: SparkSession, path: String): Double = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (mBits, k, _, _) = readMeta(spark, path)
    val rates = readWords(spark, path)
      .select(aggregate(transform(col("words"), w => bit_count(w)),
        lit(0L), (acc, x) => acc + x.cast(LongType)).as("n"))
      .collect() // nShards rows: metadata-sized
      .map(r => math.pow(r.getLong(0).toDouble / mBits, k.toDouble))
    if (rates.isEmpty) 0.0 else rates.max
  }

  /** The stored filter as (shard, words) rows. */
  private def readWords(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("shard BIGINT, words ARRAY<BIGINT>")
      .parquet(s"$path/words")

  private def emptyWords(spark: SparkSession, mBits: Int,
      nShards: Int): DataFrame =
    spark.range(nShards.toLong).select(col("id").as("shard"),
      array_repeat(lit(0L), lit(mBits / 64)).as("words"))

  /** Order-free signature of a batch's fingerprint multiset (count mixed
    * with the bit_xor of per-row hashes) — what [[append]]'s replay skip
    * verifies. One map-only pass over the batch, paid ONLY on the replay
    * path. */
  private def batchSig(batch: DataFrame, textCol: String): Long = {
    val row = batch
      .select(TextOps.tokenSetFingerprint(col(textCol)).as("fp"))
      .agg(coalesce(expr("bit_xor(xxhash64(fp))"), lit(0L)).as("bx"),
        count(lit(1)).as("bn"))
      .collect()(0)
    combineSig(row.getLong(0), row.getLong(1))
  }

  private def combineSig(xorHash: Long, n: Long): Long =
    xorHash ^ java.lang.Long.rotateLeft(n, 32) ^ 0x5851f42d4c957f2dL

  private def writeMeta(spark: SparkSession, path: String, mBits: Int,
      k: Int, nShards: Int, nItems: Long, lastBid: Long,
      lastSig: Option[Long]): Unit =
    graft.sources.MetaSidecar.write(spark, path, metaFile,
      Seq("mBits" -> mBits.toString, "k" -> k.toString,
        "nShards" -> nShards.toString,
        "nItems" -> nItems.toString, "lastBid" -> lastBid.toString) ++
        lastSig.map(s => "lastSig" -> s.toString))

  /** The committed batch's replay signature; None for a pre-lastSig
    * store (then the replay check degenerates to the documented id-only
    * skip — the one-behind case stays undetectable there). */
  private def readSig(spark: SparkSession, path: String): Option[Long] = {
    import graft.sources.MetaSidecar._
    readText(spark, path, metaFile).flatMap(longField(_, "lastSig"))
  }

  /** Shard count; 1 for a store written before sharding existed. */
  private[graft] def readShards(spark: SparkSession, path: String): Int = {
    import graft.sources.MetaSidecar._
    readText(spark, path, metaFile).flatMap(longField(_, "nShards"))
      .getOrElse(1L).toInt
  }

  private[graft] def readMeta(spark: SparkSession,
      path: String): (Int, Int, Long, Long) = {
    import graft.sources.MetaSidecar._
    val txt = readText(spark, path, metaFile).getOrElse(
      throw new IllegalStateException(s"no bloom history store at $path"))
    (requireLong(txt, path, "mBits").toInt, requireLong(txt, path, "k").toInt,
      requireLong(txt, path, "nItems"), requireLong(txt, path, "lastBid"))
  }
}
