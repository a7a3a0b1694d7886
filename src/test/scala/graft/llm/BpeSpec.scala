package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** BPE tokenizer: hand-checkable training fixture, reconstruction and
  * monotonicity properties of the greedy encoder, and determinism. */
class BpeSpec extends SparkTestBase {

  test("train learns the hand-computable merges on a tiny corpus") {
    import spark.implicits._
    // minCount=2 drops the singleton words "lower"/"lowest" from the
    // histogram (the trainer's min-frequency bound), leaving "low"×3:
    // 'l o' (3) and 'o w' (3) tie on count → lexicographic pick 'l o'
    // first, then 'lo w' (3), then 'low </w>' (3)
    val docs = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 3)
    assert(merges == Seq("l" -> "o", "lo" -> "w", "low" -> "</w>"))
  }

  test("word histogram reaching the driver is bounded on a heavy-tail corpus") {
    import spark.implicits._
    // 5k distinct singleton "urls" (the crawl tail) + a small head; the
    // driver must see the head only: singletons die at minCount, and the
    // cap keeps the top-N by count even when minCount is 1.
    val tail = (0 until 5000).map(i => (i.toLong, s"http://t$i.example x$i"))
    val head = (5000 until 5100).map(i => (i.toLong, "the cat sat"))
    val docs = (tail ++ head).toDF("doc_id", "text").repartition(8)
    val bounded = Bpe.wordHistogram(docs, "text", minCount = 2L,
      maxDistinctWords = Bpe.DefaultMaxDistinctWords)
    assert(bounded.map(_._1).toSet == Set("the", "cat", "sat"))
    val capped = Bpe.wordHistogram(docs, "text", minCount = 1L,
      maxDistinctWords = 10)
    assert(capped.length == 10)
    // the head (count 100) always survives the top-N-by-count cap
    assert(Set("the", "cat", "sat").subsetOf(capped.map(_._1).toSet))
    // and the learned merges on the head corpus are unaffected by the tail
    val headOnly = head.toDF("doc_id", "text")
    assert(Bpe.train(docs, "text", 6) == Bpe.train(headOnly, "text", 6))
  }

  test("seam delimiters in input text are stripped, not miscounted") {
    import spark.implicits._
    val dirty = Seq((1L, "lo\u0001w \u0002low\u0001"), (2L, "\u0001\u0002"))
      .toDF("doc_id", "text")
    val clean = Seq((1L, "low low"), (2L, "")).toDF("doc_id", "text")
    val merges = Seq("l" -> "o", "lo" -> "w")
    def counts(df: org.apache.spark.sql.DataFrame) =
      Bpe.singlePassTokenCount(df, "doc_id", "text", merges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(dirty) == counts(clean))
    assert(counts(dirty) == Map(1L -> 4L, 2L -> 0L))
  }

  test("greedy encode reconstructs the word and respects merge ranks") {
    val ranks = Seq("l" -> "o", "lo" -> "w", "low" -> "</w>", "e" -> "r")
      .zipWithIndex.toMap
    assert(Bpe.encodeWord("low", ranks) == Seq("low</w>"))
    assert(Bpe.encodeWord("lower", ranks) == Seq("low", "er", "</w>"))
    // reconstruction: concatenated tokens spell word + end marker
    for (w <- Seq("lowest", "slow", "zzz", "l")) {
      val toks = Bpe.encodeWord(w, ranks)
      assert(toks.mkString == w + Bpe.EndOfWord)
    }
  }

  test("each trained merge weakly shrinks the encoded corpus") {
    val docs = graft.T.documents(spark, sf).limit(100)
      .localCheckpoint()
    val merges = Bpe.train(docs, "text", 12)
    assert(merges.length == 12)
    def corpusTokens(n: Int): Long =
      Bpe.encode(docs, "doc_id", "text", merges.take(n))
        .select(sum(size(col("tokens")))).head.getLong(0)
    val counts = (0 to 12 by 4).map(corpusTokens)
    assert(counts == counts.sorted.reverse, s"not weakly decreasing: $counts")
    assert(counts.last < counts.head)
  }

  test("training is deterministic and single-pass count matches a fold") {
    val docs = graft.T.documents(spark, sf).limit(60)
      .localCheckpoint()
    val a = Bpe.train(docs, "text", 8)
    val b = Bpe.train(docs.repartition(5), "text", 8)
    assert(a == b)
    // singlePassTokenCount == a plain driver-side replace fold
    val got = Bpe.singlePassTokenCount(docs, "doc_id", "text", a)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = docs.select("doc_id", "text").collect().map { r =>
      var s = Bpe.wrapText(r.getString(1))
      a.foreach { case (x, y) =>
        s = s.replace(Bpe.wrap(x) + Bpe.wrap(y), Bpe.wrap(x + y)) }
      r.getLong(0) -> s.count(_ == '\u0001').toLong
    }.toMap
    assert(got == ref)
  }
}
