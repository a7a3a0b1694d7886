package graft.streaming

import graft.SparkTestBase
import graft.llm.{NightlyCuration, Retrieval, TextIndex}
import graft.sources.{MetaSidecar, ParquetCompaction}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The BM25 text index commits epochs through its append log: an append
  * killed after its writes and before its marker, then re-run under the
  * same epoch id, lands on the clean run's statistics and scores — through
  * the streaming maintainer and through the staged night's fold alike; the
  * rare-token serve caps the df summed over epochs; and a meta without the
  * epoch layout's version fails loudly. */
class TextIndexEpochsSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-textreplay-$tag").toString

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val vocab = Vector("join", "window", "hash", "scan", "sort", "merge",
      "p", "q", "r")
    (0L until 60L).map { i =>
      (i, (0 until 2 + rnd.nextInt(12))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint()
  }

  private val terms = Seq("join", "sort", "merge")

  /** (nBuckets, nDocs, totLen) and the BM25 top-k of the index at `dir`. */
  private def state(dir: String) = (TextIndex.readMeta(spark, dir),
    TextIndex.bm25FromIndex(spark, dir, terms, topK = 5).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(5)))
      .sorted.toSeq)

  /** Run `body` with the append-written failpoint armed; it must die. */
  private def killedAfterWrites(body: => Unit): Unit = {
    ParquetCompaction.crashHook = p =>
      if (p == "append-written") throw new RuntimeException("kill@append")
    try intercept[RuntimeException](body)
    finally ParquetCompaction.crashHook = _ => ()
  }

  test("a streamed append killed before its marker replays to the clean " +
      "run's stats and scores") {
    val head = corpus.filter(col("doc_id") < 40)
    val batch = corpus.filter(col("doc_id") >= 40).localCheckpoint()
    val clean = tmp("clean") + "/idx"
    TextIndex.buildIndex(head, "doc_id", "text", clean, nBuckets = 4)
    StreamingTextIndex.processBatch(batch, 1L, clean)
    val killed = tmp("killed") + "/idx"
    TextIndex.buildIndex(head, "doc_id", "text", killed, nBuckets = 4)
    killedAfterWrites(StreamingTextIndex.processBatch(batch, 1L, killed))
    // the kill left the epoch's writes behind, uncommitted
    assert(new java.io.File(s"$killed/postings/ep=1").isDirectory)
    assert(TextIndex.readMeta(spark, killed)._2 == 40L)
    StreamingTextIndex.processBatch(batch, 1L, killed)
    assert(TextIndex.readMeta(spark, clean)._2 == 60L)
    assert(state(killed) == state(clean))
    // a second replay of the committed epoch is a verified skip
    StreamingTextIndex.processBatch(batch, 1L, killed)
    assert(state(killed) == state(clean))
  }

  test("a night whose text append is killed before its marker re-runs " +
      "with the same nightId to the clean night's stats and scores") {
    import spark.implicits._
    val hist = corpus.filter(col("doc_id") < 40).localCheckpoint()
    val night = corpus.filter(col("doc_id") >= 40)
      .withColumn("text", concat(col("text"), lit(" w1 w2 w3 w4 w5 w6 w7")))
      .localCheckpoint()
    val histEmb = hist.select(col("doc_id").as("vec_id"))
      .as[Long].collect().toSeq.map(i => (i, Seq.fill(8)(0.3f)))
      .toDF("vec_id", "embedding")
    val emb = corpus.select(col("doc_id").as("vec_id"))
      .as[Long].collect().toSeq
      .map(i => (i, Seq.fill(8)(0.1f + (i % 7) * 0.1f)))
      .toDF("vec_id", "embedding").localCheckpoint()
    def staged(tag: String): NightlyCuration.Stores = {
      val stores = NightlyCuration.Stores(tmp(tag))
      NightlyCuration.initStores(spark, stores, hist, histEmb, "doc_id",
        "text", nBuckets = 4, dim = 8, nCentroids = 4)
      StreamingNightlyCuration.stageBatch(night, 0L, stores)
      stores
    }
    val clean = staged("clean")
    StreamingNightlyCuration.endOfNight(spark, clean, emb, nightId = 1L,
      dim = 8)
    val killed = staged("killed")
    killedAfterWrites(StreamingNightlyCuration.endOfNight(spark, killed, emb,
      nightId = 1L, dim = 8))
    assert(new java.io.File(s"${killed.text}/postings/ep=1").isDirectory)
    StreamingNightlyCuration.endOfNight(spark, killed, emb, nightId = 1L,
      dim = 8)
    assert(state(clean.text)._1._2 > 40L, "the night admitted nothing")
    assert(state(killed.text) == state(clean.text))
  }

  test("the rare-token serve caps the df summed over epochs, not an " +
      "epoch's delta") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = (0 until 120).map(i => s"w$i").toVector
    val docs = (0L until 150L).map { i =>
      (i, (0 until 3 + rnd.nextInt(10))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint()
    val dir = tmp("rare") + "/idx"
    TextIndex.buildIndex(docs.filter($"doc_id" < 100), "doc_id", "text",
      dir, nBuckets = 16)
    TextIndex.appendToIndex(spark, dir, docs.filter($"doc_id" >= 100),
      "doc_id", "text")
    val queries = docs.filter($"doc_id" < 7)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // dfs sit around the cap, so many terms are rare in each epoch alone
    // but not in the corpus
    val mem = canon(Retrieval.sharedRareTokenTopK(docs, queries, "doc_id",
      "text", k = 5, dfCap = 8L))
    val idx = canon(Retrieval.sharedRareTokenTopKFromIndex(spark, dir,
      queries, "doc_id", "text", k = 5, dfCap = 8L))
    assert(idx.nonEmpty && idx == mem)
  }

  test("a text index meta without the epoch layout's version fails " +
      "loudly") {
    val dir = tmp("v1")
    MetaSidecar.write(spark, dir, "_graft_text_meta.json",
      Seq("nBuckets" -> "4", "nDocs" -> "2", "totLen" -> "6"))
    val e = intercept[IllegalArgumentException](
      TextIndex.readMeta(spark, dir))
    assert(e.getMessage.contains("pre-epoch"))
    intercept[IllegalArgumentException](
      TextIndex.bm25FromIndex(spark, dir, Seq("a")))
  }
}
