package graft.llm

import graft.SparkTestBase
import graft.sources.ParquetCompaction
import org.apache.spark.sql.functions._

/** Persisted Bloom history store: incremental folds equal the one-shot
  * filter bit-for-bit, serving is exactly the non-persisted operator,
  * appends are crash-safe, and the fp-rate dial matches the filter's
  * actual bits. */
class BloomHistorySpec extends SparkTestBase {


  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-bloomstore-$tag").toString

  private def words(dir: String): Seq[Long] =
    spark.read.parquet(s"$dir/words").orderBy("shard").select("words")
      .collect()(0).getSeq[Long](0)

  test("two incremental appends equal the one-shot fold bit-for-bit, and " +
      "dedupFromStore equals the non-persisted operator exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val history = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val dir = tmp("fold")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, history.filter(col("doc_id") < 250), "text")
    BloomHistory.append(spark, dir, history.filter(col("doc_id") >= 250), "text")
    // one-shot reference filter over the whole history
    graft.functions.BloomFilterAgg.register(spark)
    val oneShot = history
      .select(TextOps.tokenSetFingerprint(col("text")).as("fp"))
      .agg(call_function(graft.functions.BloomFilterAgg.name,
        xxhash64(col("fp")), lit(1 << 16), lit(5)))
      .collect()(0).getSeq[Long](0)
    assert(words(dir) == oneShot)
    val got = BloomHistory.dedupFromStore(spark, dir, batch,
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    val exp = TextOps.dedupAgainstHistory(history, batch, "doc_id", "text",
      mBits = 1 << 16, k = 5).collect().map(_.getLong(0)).toSet
    assert(got == exp)
    // nItems accounting: exactly the history rows folded
    assert(BloomHistory.readMeta(spark, dir)._3 == history.count())
  }

  test("a kill at either swap stage of an append leaves the old or the " +
      "new store, never a torn one") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("crash")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, docs.filter(col("doc_id") < 100), "text")
    val before = words(dir)
    val beforeMeta = BloomHistory.readMeta(spark, dir)
    val b2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    // kill before the READY marker's delete step: old store intact
    ParquetCompaction.crashHook =
      p => if (p == "compact-ready") throw new RuntimeException("kill@ready")
    try intercept[RuntimeException] {
      BloomHistory.append(spark, dir, b2, "text")
    } finally ParquetCompaction.crashHook = _ => ()
    ParquetCompaction.recover(spark, dir)
    assert(words(dir) == before &&
      BloomHistory.readMeta(spark, dir) == beforeMeta)
    // kill after the root delete: next touch promotes the READY temp —
    // the append is then COMMITTED (words and meta moved together)
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] {
      BloomHistory.append(spark, dir, b2, "text")
    } finally ParquetCompaction.crashHook = _ => ()
    // every store entry point recovers first; the raw read here must too
    ParquetCompaction.recover(spark, dir)
    val after = words(dir)
    assert(after != before && BloomHistory.readMeta(spark, dir)._4 == 1L)
    // idempotent replay of the same engine batch id: bitwise no-op
    BloomHistory.append(spark, dir, b2, "text", explicitBid = Some(1L))
    assert(words(dir) == after)
  }

  test("replay discipline: in-flight id is a no-op, an older id fails " +
      "loudly, fp rate matches the stored bits") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("replay")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, docs.filter(col("doc_id") < 150), "text",
      explicitBid = Some(0L))
    BloomHistory.append(spark, dir, docs.filter(col("doc_id") >= 150), "text",
      explicitBid = Some(1L))
    val w = words(dir)
    val n = BloomHistory.readMeta(spark, dir)._3
    BloomHistory.append(spark, dir, docs.filter(col("doc_id") >= 150), "text",
      explicitBid = Some(1L)) // replay: no-op, nItems unchanged
    assert(words(dir) == w && BloomHistory.readMeta(spark, dir)._3 == n)
    val e = intercept[IllegalArgumentException] {
      BloomHistory.append(spark, dir, docs.limit(1), "text",
        explicitBid = Some(0L))
    }
    assert(e.getMessage.contains("reset the checkpoint and the store"))
    // fp rate estimated from the stored bits: (setBits/m)^k
    val setBits = w.map(java.lang.Long.bitCount(_).toLong).sum
    val exp = math.pow(setBits.toDouble / (1 << 16), 5.0)
    assert(math.abs(BloomHistory.estimatedFpRate(spark, dir) - exp) < 1e-12)
  }

  test("a reset checkpoint one batch behind fails loudly (replay " +
      "signature); a genuine replay stays a verified no-op") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("sig")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    val b0 = docs.filter(col("doc_id") < 150)
    val b1 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
    val b2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
    BloomHistory.append(spark, dir, b0, "text", explicitBid = Some(0L))
    BloomHistory.append(spark, dir, b1, "text", explicitBid = Some(1L))
    val w = words(dir)
    // genuine replay: same id, same rows — verified no-op
    BloomHistory.append(spark, dir, b1, "text", explicitBid = Some(1L))
    assert(words(dir) == w)
    // reset checkpoint one behind: same id, DIFFERENT rows — loud, not a
    // silent skip of a real batch (ADVICE r12)
    val e = intercept[IllegalArgumentException] {
      BloomHistory.append(spark, dir, b2, "text", explicitBid = Some(1L))
    }
    assert(e.getMessage.contains("rows differ from the committed batch"))
    assert(words(dir) == w) // nothing folded
  }

  test("rebuild at doubled mBits equals a fresh init+append(history) " +
      "word-for-word, preserves the replay cursor, resets nItems, and " +
      "survives kills at both swap stages") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val history = docs.filter(col("doc_id") < 300)
    val dir = tmp("rebuild")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, history.filter(col("doc_id") < 150),
      "text", explicitBid = Some(0L))
    val b1 = history.filter(col("doc_id") >= 150)
    BloomHistory.append(spark, dir, b1, "text", explicitBid = Some(1L))
    BloomHistory.rebuild(spark, dir, newMBits = 1 << 17)
    // reference: one fresh fold of the same history at the new size
    val ref = tmp("rebuild-ref")
    BloomHistory.init(spark, ref, mBits = 1 << 17, k = 5)
    BloomHistory.append(spark, ref, history, "text")
    assert(words(dir) == words(ref))
    val (m, k, n, bid) = BloomHistory.readMeta(spark, dir)
    assert(m == (1 << 17) && k == 5 && n == history.count() && bid == 1L)
    // the replay cursor survived: a replay of the last committed batch is
    // still a verified no-op, and the NEXT fold lands normally
    val w = words(dir)
    BloomHistory.append(spark, dir, b1, "text", explicitBid = Some(1L))
    assert(words(dir) == w)
    val b2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
    BloomHistory.append(spark, dir, b2, "text", explicitBid = Some(2L))
    assert(BloomHistory.readMeta(spark, dir)._4 == 2L)
    // kills at both swap stages: old store intact before the READY
    // marker, committed after the root delete
    val dir2 = tmp("rebuild-crash")
    BloomHistory.init(spark, dir2, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir2, history, "text")
    val before = words(dir2)
    val beforeMeta = BloomHistory.readMeta(spark, dir2)
    ParquetCompaction.crashHook =
      p => if (p == "compact-ready") throw new RuntimeException("kill@ready")
    try intercept[RuntimeException] {
      BloomHistory.rebuild(spark, dir2, newMBits = 1 << 17)
    } finally ParquetCompaction.crashHook = _ => ()
    ParquetCompaction.recover(spark, dir2)
    assert(words(dir2) == before &&
      BloomHistory.readMeta(spark, dir2) == beforeMeta)
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] {
      BloomHistory.rebuild(spark, dir2, newMBits = 1 << 17)
    } finally ParquetCompaction.crashHook = _ => ()
    ParquetCompaction.recover(spark, dir2)
    assert(words(dir2) == words(ref) &&
      BloomHistory.readMeta(spark, dir2)._1 == (1 << 17))
  }
  test("fingerprint sidecar: compaction folds committed bids into one, " +
      "serving and rebuild are unchanged, and kills at both swap stages " +
      "leave a whole sidecar (readers recover before first touch)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val history = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val dir = tmp("fpcompact")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, history.filter(col("doc_id") < 150),
      "text", explicitBid = Some(0L))
    BloomHistory.append(spark, dir, history.filter(col("doc_id") >= 150),
      "text", explicitBid = Some(1L))
    val before = BloomHistory.dedupFromStore(spark, dir,
      docs.filter(col("doc_id") < 400), "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(before.nonEmpty)
    // clean compaction: one committed bid partition remains, serving
    // identical, rebuild from the compacted sidecar still exact
    BloomHistory.compactFingerprints(spark, dir)
    val fpRoot = new org.apache.hadoop.fs.Path(BloomHistory.fpPath(dir))
    val fs = fpRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bidDirs = fs.listStatus(fpRoot).map(_.getPath.getName)
      .filter(_.startsWith("bid="))
    assert(bidDirs.toSeq == Seq("bid=1"), bidDirs.toSeq)
    assert(BloomHistory.dedupFromStore(spark, dir,
      docs.filter(col("doc_id") < 400), "doc_id", "text")
      .collect().map(_.getLong(0)).toSet == before)
    BloomHistory.rebuild(spark, dir, newMBits = 1 << 17)
    val ref = tmp("fpcompact-ref")
    BloomHistory.init(spark, ref, mBits = 1 << 17, k = 5)
    BloomHistory.append(spark, ref, history, "text")
    assert(words(dir) == words(ref))
    // a replay-disciplined next append lands on the compacted sidecar
    BloomHistory.append(spark, dir, batch, "text", explicitBid = Some(2L))
    // kills at both swap stages of a sidecar compaction: reads after
    // recovery see the full fingerprint multiset either way
    val full = BloomHistory.dedupFromStore(spark, dir, docs,
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    ParquetCompaction.crashHook =
      p => if (p == "compact-ready") throw new RuntimeException("kill@ready")
    try intercept[RuntimeException] {
      BloomHistory.compactFingerprints(spark, dir)
    } finally ParquetCompaction.crashHook = _ => ()
    assert(BloomHistory.dedupFromStore(spark, dir, docs,
      "doc_id", "text").collect().map(_.getLong(0)).toSet == full)
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("kill@del")
    try intercept[RuntimeException] {
      BloomHistory.compactFingerprints(spark, dir)
    } finally ParquetCompaction.crashHook = _ => ()
    // NO manual recover here: dedupFromStore's own first-touch recovery
    // must promote the READY temp
    assert(BloomHistory.dedupFromStore(spark, dir, docs,
      "doc_id", "text").collect().map(_.getLong(0)).toSet == full)
  }

  test("fingerprint sidecar fan-out is batch-sized: a small append writes " +
      "ONE bucket, a large one fans out, and verify reads mixed fan-outs " +
      "correctly") {
    // the r14 q141 bench mover: a fixed 64-bucket fan-out cost every
    // 5k-doc nightly append 64 tiny files of pure fixed overhead
    assert(BloomHistory.bucketsFor(0L) == 1)
    assert(BloomHistory.bucketsFor(8192L) == 1)
    assert(BloomHistory.bucketsFor(8193L) == 2)
    assert(BloomHistory.bucketsFor(495000L) == 64)
    assert(BloomHistory.bucketsFor(Long.MaxValue / 2) == 256)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("fanout")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, docs.filter(col("doc_id") < 200), "text")
    val fs = new org.apache.hadoop.fs.Path(BloomHistory.fpPath(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nbDirOf(bid: Long): String = {
      val subs = fs.listStatus(new org.apache.hadoop.fs.Path(
        BloomHistory.fpPath(dir), s"bid=$bid")).map(_.getPath.getName)
        .filter(_.startsWith("nb="))
      assert(subs.length == 1, subs.toSeq); subs(0)
    }
    assert(nbDirOf(0L) == "nb=1") // 200 rows << 8192 target
    // a >8192-row append fans out to nb=2 — the sidecar now holds MIXED
    // fan-outs, and the verify must prune each partition with its OWN
    // modulus (residue mod 256 → mod nb)
    import spark.implicits._
    val big = spark.range(9000L)
      .select((col("id") + 100000L).as("doc_id"),
        concat(lit("synthetic filler line "), col("id")).as("text"))
    BloomHistory.append(spark, dir, big, "text")
    assert(nbDirOf(1L) == "nb=2")
    // probe batch straddles both bids (+ fresh rows); served dedup over
    // the mixed sidecar equals the non-persisted operator over the same
    // history
    val history = docs.filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).union(big)
    val batch = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
      .union(big.filter(col("doc_id") < 100300L))
      .union(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
        .select(col("doc_id") + 900000L, col("text")))
    val got = BloomHistory.dedupFromStore(spark, dir, batch,
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    val want = TextOps.dedupAgainstHistory(history, batch,
      "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("sharded store: probe routing, dedup, and a reshard rebuild all " +
      "equal the unsharded spelling exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val history = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .union(history.filter(col("doc_id") < 200)) // guaranteed dups
    val flat = tmp("shard-flat")
    BloomHistory.init(spark, flat, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, flat, history, "text")
    val sh = tmp("shard-4")
    BloomHistory.init(spark, sh, mBits = 1 << 16, k = 5, nShards = 4)
    BloomHistory.append(spark, sh,
      history.filter(col("doc_id") < 250), "text")
    BloomHistory.append(spark, sh,
      history.filter(col("doc_id") >= 250), "text")
    assert(BloomHistory.readShards(spark, sh) == 4)
    assert(spark.read.parquet(s"$sh/words").count() == 4L)
    val want = TextOps.dedupAgainstHistory(history, batch, "doc_id",
      "text", mBits = 1 << 16, k = 5).collect().map(_.getLong(0)).toSet
    def served(dir: String): Set[Long] =
      BloomHistory.dedupFromStore(spark, dir, batch, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
    assert(served(flat) == want && served(sh) == want && want.nonEmpty)
    // fp-rate estimate is defined per shard (max), and each shard holds
    // roughly a quarter of the load — the sharded estimate must be well
    // below the unsharded one at the same mBits
    val rFlat = BloomHistory.estimatedFpRate(spark, flat)
    val rSh = BloomHistory.estimatedFpRate(spark, sh)
    assert(rSh > 0.0 && rSh < rFlat)
    // reshard rebuild (the maintenance escape hatch): layout changes,
    // serving and meta accounting don't
    BloomHistory.rebuild(spark, sh, newMBits = 1 << 15, newK = 5,
      newNShards = Some(2))
    assert(BloomHistory.readShards(spark, sh) == 2)
    assert(spark.read.parquet(s"$sh/words").count() == 2L)
    assert(BloomHistory.readMeta(spark, sh)._3 == history.count())
    assert(served(sh) == want)
    // the replay cursor survived the reshard: next fold lands normally
    BloomHistory.append(spark, sh,
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 450), "text",
      explicitBid = Some(2L))
    assert(BloomHistory.readMeta(spark, sh)._4 == 2L)
  }

  test("dedupFromStore drops the broadcast hint past the threshold: the " +
      "verify join plans as a shuffle join with identical output") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val history = docs.filter(col("doc_id") < 400)
    val dir = tmp("bcast")
    BloomHistory.init(spark, dir, mBits = 1 << 16, k = 5)
    BloomHistory.append(spark, dir, history, "text")
    // every batch row is a hit — the re-crawl-heavy night (VERDICT r14
    // #4), where hits ≈ batch and an unconditional broadcast would ship
    // the whole batch to every task (and at design scale kill the driver)
    val expect = BloomHistory.dedupFromStore(spark, dir, history,
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(expect == history.collect().map(_.getLong(0)).toSet)
    val thr0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val df = BloomHistory.dedupFromStore(spark, dir, history,
        "doc_id", "text")
      assert(df.collect().map(_.getLong(0)).toSet == expect)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr0)
    // under the default threshold the fitting hit set still broadcasts
    val df2 = BloomHistory.dedupFromStore(spark, dir, history,
      "doc_id", "text")
    df2.write.format("noop").mode("overwrite").save()
    val plan2 = df2.queryExecution.executedPlan.toString
    assert(!plan2.contains("SortMergeJoin"), plan2)
  }
}
