package graft.streaming

import graft.SparkTestBase
import graft.llm.{SampleOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed streaming curation pipeline (gate → dedup → sample →
  * pack) against q121's batch plan. */
class StreamingCurationSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cur-$tag").toString

  private def q121(dir: String): DataFrame =
    graft.SparkEntry.queries("q121_curation_pipeline")(spark, dir)

  private def canonShards(dir: String): Seq[(Long, Long, Long, Long)] =
    spark.read.parquet(dir).select("doc_id", "n_tok", "cum_tok", "shard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private def canonDf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("doc_id", "n_tok", "cum_tok", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("one micro-batch reproduces the q121 batch plan exactly") {
    val (idx, out) = (tmp("idx1"), tmp("out1"))
    val batch = spark.read.parquet(s"$sf/documents.parquet")
    StreamingCuration.processBatch(batch, 0L, s"$idx/fp", s"$out/shards",
      budget = 512L, rate = 0.5)
    val got = canonShards(s"$out/shards")
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

    val (idx, out) = (tmp("idx2"), tmp("out2"))
    // three doc_id-range batches in ascending order = the stream's
    // arrival order matches the batch plan's doc_id pack order
    val cuts = Seq(0L, 170L, 340L, Long.MaxValue)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
      StreamingCuration.processBatch(
        uniq.filter(col("doc_id") >= lo && col("doc_id") < hi),
        b.toLong, s"$idx/fp", s"$out/shards", budget = 512L, rate = 0.5)
    }
    val got = canonShards(s"$out/shards")
    val exp = canonDf(q121(srcUniq))
    assert(got.nonEmpty && got == exp)
    // continuation really happened: batches 2..3 packed at nonzero offsets
    val perBatchMax = spark.read.parquet(s"$out/shards")
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
    val (idx, out) = (tmp("idx3"), tmp("out3"))
    StreamingCuration.processBatch(b1, 0L, s"$idx/fp", s"$out/shards", 512L, 1.0)
    StreamingCuration.processBatch(b2, 1L, s"$idx/fp", s"$out/shards", 512L, 1.0)
    val ids = spark.read.parquet(s"$out/shards")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(10L, 30L))
  }

  test("a replayed micro-batch is a no-op (idempotent sinks)") {
    val (idx, out) = (tmp("idx4"), tmp("out4"))
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 100)
    // a replay re-runs the SAME engine batch id
    StreamingCuration.processBatch(batch, 7L, s"$idx/fp", s"$out/shards", 512L, 0.5)
    val once = canonShards(s"$out/shards")
    val idxOnce = spark.read.parquet(s"$idx/fp").count()
    StreamingCuration.processBatch(batch, 7L, s"$idx/fp", s"$out/shards", 512L, 0.5)
    assert(canonShards(s"$out/shards") == once)
    assert(spark.read.parquet(s"$idx/fp").count() == idxOnce)
  }

  test("a crash mid shard-append replays at the original offsets " +
      "(ADVICE r9: own-batch rows are excluded from the lifetime total)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val b1 = docs.filter(col("doc_id") < 150)
    val b2 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)

    // clone run: both batches complete — the expected end state
    val (idxA, outA) = (tmp("idxA"), tmp("outA"))
    StreamingCuration.processBatch(b1, 0L, s"$idxA/fp", s"$outA/shards", 512L, 0.5)
    StreamingCuration.processBatch(b2, 1L, s"$idxA/fp", s"$outA/shards", 512L, 0.5)
    val expected = canonShards(s"$outA/shards")

    // crashed run: batch 0 completes; batch 1's first attempt finished the
    // fp-index append (index-first discipline) but crashed mid shard
    // append, leaving a PARTIAL set of its shard rows visible
    val (idxB, outB) = (tmp("idxB"), tmp("outB"))
    StreamingCuration.processBatch(b1, 0L, s"$idxB/fp", s"$outB/shards", 512L, 0.5)
    // fp index: bring B to A's post-batch-1 state (the completed append)
    spark.read.parquet(s"$idxA/fp")
      .join(spark.read.parquet(s"$idxB/fp").select("fp"), Seq("fp"), "left_anti")
      .write.mode("append").parquet(s"$idxB/fp")
    // shards: append just ONE of batch 1's rows, tagged batch_id = 1 —
    // and make it the row with the LARGEST cum_tok, the worst case for a
    // max(cum_tok)-derived total
    val b2rows = spark.read.parquet(s"$outA/shards").filter(col("batch_id") === 1L)
    b2rows.orderBy(col("cum_tok").desc).limit(1)
      .write.mode("append").parquet(s"$outB/shards")
    assert(spark.read.parquet(s"$outB/shards").count() < expected.size)

    // replay of batch 1 under the same engine batch id
    StreamingCuration.processBatch(b2, 1L, s"$idxB/fp", s"$outB/shards", 512L, 0.5)
    assert(canonShards(s"$outB/shards") == expected,
      "replay after a partial shard append must reproduce the clean run")
    // and the running total is contiguous: each row's cum_tok is the
    // previous row's plus its own n_tok (global doc_id pack order)
    val rows = canonShards(s"$outB/shards")
    rows.foldLeft(0L) { case (prev, (_, n, cum, _)) =>
      assert(cum == prev + n, s"discontinuity at cum_tok=$cum"); cum
    }
  }

  test("a fresh checkpoint against an existing sink fails loudly " +
      "(ADVICE r10: engine batch ids restart at 0)") {
    import spark.implicits._
    val (idx, out) = (tmp("idx7"), tmp("out7"))
    // a previous run's batch-0 rows: doc_ids disjoint from the new batch
    Seq((9000001L, 10L, 10L, 0L, 0L))
      .toDF("doc_id", "n_tok", "cum_tok", "shard", "batch_id")
      .write.mode("overwrite").parquet(s"$out/shards")
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 150)
    val e = intercept[IllegalStateException] {
      StreamingCuration.processBatch(batch, 0L, s"$idx/fp", s"$out/shards",
        512L, 0.5)
    }
    assert(e.getMessage.contains("checkpoint"))
    // nothing was appended past the guard
    assert(spark.read.parquet(s"$out/shards").count() == 1)
  }

  test("the full streaming entry point drains a file source end-to-end") {
    val src = tmp("src5")
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(3).write.mode("overwrite").parquet(src)
    val (idx, out, ck) = (tmp("idx5"), tmp("out5"), tmp("ck5"))
    StreamingCuration.run(spark, src, s"$idx/fp", s"$out/shards",
      s"$ck/ck", budget = 512L, rate = 0.5, maxFilesPerTrigger = 1)
    val got = spark.read.parquet(s"$out/shards")
    assert(got.count() > 0)
    // every shipped row passed the gate and the sample, and shard ids are
    // consistent with the packed running total
    val bad = got.filter(col("shard") =!=
      floor((greatest(col("cum_tok"), lit(1L)) - 1) / 512).cast("long")).count()
    assert(bad == 0)
  }
}
