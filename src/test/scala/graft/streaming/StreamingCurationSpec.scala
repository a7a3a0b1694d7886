package graft.streaming

import graft.SparkTestBase
import graft.llm.TextOps
import graft.sources.ParquetCompaction
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed streaming curation pipeline (gate → dedup → sample →
  * pack) against q121's batch plan. */
class StreamingCurationSpec extends SparkTestBase {


  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cur-$tag").toString

  private def q121(dir: String): DataFrame =
    graft.SparkEntry.queries("q121_curation_pipeline")(spark, dir)

  private def canonShards(store: String): Seq[(Long, Long, Long, Long)] =
    canonDf(StreamingCuration.shards(spark, store))

  private def canonDf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("doc_id", "n_tok", "cum_tok", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("one micro-batch reproduces the q121 batch plan exactly") {
    val store = tmp("store1")
    val batch = spark.read.parquet(s"$sf/documents.parquet")
    StreamingCuration.processBatch(batch, 0L, store,
      budget = 512L, rate = 0.5)
    val got = canonShards(store)
    val exp = canonDf(q121(sf))
    assert(got.nonEmpty && got == exp)
  }

  test("ordered micro-batches over an fp-unique corpus equal the batch " +
      "plan; shard numbering continues across batches") {
    // restrict to fingerprint singletons: with no duplicates, causal
    // first-arrival dedup and the batch plan's longest-doc selection
    // coincide, so stream == batch holds exactly across any batch split
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fpCounts = docs
      .select(col("doc_id"), TextOps.tokenSetFingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
      .filter(col("c") === 1).select("doc_id")
    val uniq = docs.join(fpCounts, "doc_id").localCheckpoint()
    val srcUniq = tmp("srcu")
    uniq.write.mode("overwrite").parquet(s"$srcUniq/documents.parquet")

    val store = tmp("store2")
    // three doc_id-range batches in ascending order = the stream's
    // arrival order matches the batch plan's doc_id pack order
    val cuts = Seq(0L, 170L, 340L, Long.MaxValue)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
      StreamingCuration.processBatch(
        uniq.filter(col("doc_id") >= lo && col("doc_id") < hi),
        b.toLong, store, budget = 512L, rate = 0.5)
    }
    val got = canonShards(store)
    val exp = canonDf(q121(srcUniq))
    assert(got.nonEmpty && got == exp)
    // continuation really happened: batches 2..3 packed at nonzero offsets
    val perBatchMax = StreamingCuration.shards(spark, store)
      .groupBy(when(col("doc_id") < 170, 0).when(col("doc_id") < 340, 1)
        .otherwise(2).as("b"))
      .agg(min("cum_tok").as("lo"), max("cum_tok").as("hi"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perBatchMax(1)._1 > perBatchMax(0)._2 - 512,
      "batch 2 must continue batch 1's running total")
  }

  test("cross-batch near-identical docs suppress causally (first arrival wins)") {
    import spark.implicits._
    val b1 = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta", "en"))
      .toDF("doc_id", "text", "lang")
    // same token SET (shuffled + repeated), longer text, later batch:
    // the batch plan would prefer it; the stream cannot — 10 already shipped
    val b2 = Seq(
      (20L, "theta eta zeta epsilon delta gamma beta alpha alpha beta gamma delta", "en"),
      (30L, "one two three four five six seven eight nine", "en"))
      .toDF("doc_id", "text", "lang")
    val store = tmp("store3")
    StreamingCuration.processBatch(b1, 0L, store, 512L, 1.0)
    StreamingCuration.processBatch(b2, 1L, store, 512L, 1.0)
    val ids = StreamingCuration.shards(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(10L, 30L))
  }

  test("a replayed micro-batch is a no-op (idempotent sinks)") {
    val store = tmp("store4")
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 100)
    // a replay re-runs the SAME engine batch id
    StreamingCuration.processBatch(batch, 7L, store, 512L, 0.5)
    val once = canonShards(store)
    val idxOnce = spark.read.parquet(s"$store/fp").count()
    StreamingCuration.processBatch(batch, 7L, store, 512L, 0.5)
    assert(canonShards(store) == once)
    assert(spark.read.parquet(s"$store/fp").count() == idxOnce)
  }

  test("a crash mid shard-append replays at the original offsets " +
      "(ADVICE r9: own-batch rows are excluded from the lifetime total)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val b1 = docs.filter(col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)

    // clone run: both batches complete — the expected end state
    val storeA = tmp("storeA")
    StreamingCuration.processBatch(b1, 0L, storeA, 512L, 0.5)
    StreamingCuration.processBatch(b2, 1L, storeA, 512L, 0.5)
    val expected = canonShards(storeA)

    // crashed run: batch 0 completes; batch 1's first attempt wrote both
    // its fp and its shard partitions, then died before the marker
    val storeB = tmp("storeB")
    StreamingCuration.processBatch(b1, 0L, storeB, 512L, 0.5)
    ParquetCompaction.crashHook =
      p => if (p == "append-written") throw new RuntimeException("kill")
    try intercept[RuntimeException] {
      StreamingCuration.processBatch(b2, 1L, storeB, 512L, 0.5)
    } finally ParquetCompaction.crashHook = _ => ()
    assert(new java.io.File(s"$storeB/shards/bid=1").exists())
    assert(StreamingCuration.shards(spark, storeB).count() < expected.size)

    // replay of batch 1 under the same engine batch id
    StreamingCuration.processBatch(b2, 1L, storeB, 512L, 0.5)
    assert(canonShards(storeB) == expected,
      "replay after a crash before the marker must reproduce the clean run")
    // and the running total is contiguous: each row's cum_tok is the
    // previous row's plus its own n_tok (global doc_id pack order)
    val rows = canonShards(storeB)
    rows.foldLeft(0L) { case (prev, (_, n, cum, _)) =>
      assert(cum == prev + n, s"discontinuity at cum_tok=$cum"); cum
    }
  }

  test("a fresh checkpoint against an existing sink fails loudly " +
      "(ADVICE r10: engine batch ids restart at 0)") {
    val store = tmp("store7")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // a previous run's batch 0: doc_ids disjoint from the new batch
    StreamingCuration.processBatch(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), 0L, store,
      512L, 0.5)
    val before = canonShards(store)
    val batch = docs.filter(col("doc_id") < 150)
    val e = intercept[IllegalArgumentException] {
      StreamingCuration.processBatch(batch, 0L, store, 512L, 0.5)
    }
    assert(e.getMessage.contains("checkpoint"))
    // nothing was appended past the guard
    assert(canonShards(store) == before)
  }

  test("the full streaming entry point drains a file source end-to-end") {
    val src = tmp("src5")
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(3).write.mode("overwrite").parquet(src)
    val (store, ck) = (tmp("store5"), tmp("ck5"))
    StreamingCuration.run(spark, src, store,
      s"$ck/ck", budget = 512L, rate = 0.5, maxFilesPerTrigger = 1)
    val got = StreamingCuration.shards(spark, store)
    assert(got.count() > 0)
    // every shipped row passed the gate and the sample, and shard ids are
    // consistent with the packed running total
    val bad = got.filter(col("shard") =!=
      floor((greatest(col("cum_tok"), lit(1L)) - 1) / 512).cast("long")).count()
    assert(bad == 0)
  }
}
