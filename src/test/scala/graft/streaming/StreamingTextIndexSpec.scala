package graft.streaming

import graft.SparkTestBase
import graft.llm.{TextIndex, TextOps}
import org.apache.spark.sql.functions._

/** Streaming inverted-index maintenance: after streaming late documents
  * into a persisted BM25 index, serving must equal the direct from-corpus
  * computation over the FULL corpus (stats included), and a full replay
  * (lost checkpoint) fails loudly and appends nothing. */
class StreamingTextIndexSpec extends SparkTestBase {

  test("streamed docs serve identically to from-scratch; replay is a no-op") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val vocab = Vector("join", "window", "hash", "scan", "sort", "merge",
      "p", "q", "r")
    val docs = (0L until 240L).map { i =>
      (i, (0 until 2 + rnd.nextInt(20))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val all = docs.toDF("doc_id", "text").localCheckpoint()
    val first = all.filter(col("doc_id") % 2 === 0)
    val late = all.filter(col("doc_id") % 2 === 1).localCheckpoint()

    val tmp = java.nio.file.Files.createTempDirectory("graft-stext")
    val idx = tmp.resolve("idx").toString
    TextIndex.buildIndex(first, "doc_id", "text", idx, nBuckets = 16)

    // two source files so the AvailableNow drain runs two micro-batches
    val src = tmp.resolve("src")
    late.filter(col("doc_id") < 120).coalesce(1)
      .write.parquet(src.resolve("f1").toString)
    late.filter(col("doc_id") >= 120).coalesce(1)
      .write.parquet(src.resolve("f2").toString)
    StreamingTextIndex.run(spark, src.toString + "/*", idx,
      tmp.resolve("ckpt1").toString)

    val terms = Seq("join", "sort", "merge")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("term"), col("rank").cast("long"), col("doc_id"),
        col("tf").cast("long"), col("dl").cast("long"), col("score"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val served = canon(TextIndex.bm25FromIndex(spark, idx, terms, topK = 8))
    val direct = canon(TextOps.bm25TermTopK(all, "doc_id", "text", terms,
      topK = 8))
    assert(served == direct,
      "post-stream serving must equal the from-scratch computation " +
        "(df/nDocs/avgdl updated, late docs retrievable)")
    // late (odd) docs actually surfaced
    assert(served.exists(_._3 % 2 == 1))

    // lost checkpoint: a full replay under a fresh checkpoint restarts
    // at engine batch 0 — older than the index's latest epoch, so it
    // fails loudly and appends nothing
    val (_, nDocs1, totLen1) = TextIndex.readMeta(spark, idx)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamingTextIndex.run(spark, src.toString + "/*", idx,
        tmp.resolve("ckpt2").toString))
    val cause = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .collectFirst { case c: IllegalArgumentException => c }
    assert(cause.exists(_.getMessage.contains("older than the latest")), e)
    val (_, nDocs2, totLen2) = TextIndex.readMeta(spark, idx)
    assert(nDocs1 == nDocs2 && totLen1 == totLen2, "replay mutated stats")
    assert(canon(TextIndex.bm25FromIndex(spark, idx, terms, topK = 8))
      == served, "replay changed serving results")
  }
}
