package graft.llm

import graft.{PlanScans, SparkTestBase}
import org.apache.spark.sql.functions._

/** Hybrid retrieval (Retrieval.sharedRareTokenTopK / rrfFuse) and
  * SemDeDup-style semantic dedup (AnnOps.semDedup): hand-checkable
  * fixtures plus a randomized brute-force reference model. */
class HybridRetrievalSpec extends SparkTestBase {

  test("sharedRareTokenTopK ranks by shared rare tokens; hot tokens never join") {
    import spark.implicits._
    // "the" appears in every doc → df 5 > cap 3 → contributes nothing.
    // q0 shares {apple, pear} with d1, {apple} with d2, nothing rare with d3.
    val docs = Seq(
      (0L, "the apple pear kiwi"),
      (1L, "the apple pear"),
      (2L, "the apple plum"),
      (3L, "the banana"),
      (4L, "the banana plum")).toDF("doc_id", "text")
    val got = Retrieval.sharedRareTokenTopK(docs,
        docs.filter($"doc_id" === 0), "doc_id", "text", k = 10, dfCap = 3L)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 2L), (2L, 2L, 1L)))
  }

  test("rrfFuse: hand-computed fusion, one-sided entries contribute a single addend") {
    import spark.implicits._
    val lex = Seq((1L, 1L, 10L), (1L, 2L, 11L)).toDF("qid", "rk", "nid")
    val dense = Seq((1L, 1L, 11L), (1L, 2L, 12L)).toDF("qid", "rk", "nid")
    val got = Retrieval.rrfFuse(lex, dense, k = 3)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // 11 is rank 2 lexically and rank 1 densely → biggest fused score
    assert(got.toSeq == Seq(
      (1L, 11L, r6(1.0 / 62 + 1.0 / 61)),
      (2L, 10L, r6(1.0 / 61)),
      (3L, 12L, r6(1.0 / 62))))
  }

  test("sharedRareTokenTopKFromIndex == the in-memory operator " +
      "bit-identically on a random corpus (persisted-index serving)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    // vocabulary wide enough that typical dfs sit under the rare cap
    val vocab = (0 until 120).map(i => s"w$i").toVector
    val docs = (0L until 150L).map { i =>
      val len = 3 + rnd.nextInt(10)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lexidx").toString + "/idx"
    TextIndex.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
    val queries = docs.filter($"doc_id" < 7)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val mem = canon(Retrieval.sharedRareTokenTopK(docs, queries,
      "doc_id", "text", k = 5, dfCap = 30L))
    val idx = canon(Retrieval.sharedRareTokenTopKFromIndex(spark, dir,
      queries, "doc_id", "text", k = 5, dfCap = 30L))
    assert(idx.nonEmpty && idx == mem)
    // both index scans carry the query-bucket partition filter
    val plan = Retrieval.lexicalScoredFromIndex(spark, dir, queries,
      "doc_id", "text", 30L).queryExecution.executedPlan
    val scans = PlanScans.under(plan, "postings", "/df")
    assert(scans.size >= 2, s"expected postings + df scans:\n$plan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"index scans must be partition-pruned to the query buckets:\n$plan")
  }

  test("the compressed hybrid — lexical from the text index fused with " +
      "dense from the persisted IVF-PQ index — equals the in-memory " +
      "spelling (rrfFuse composes with ivfPqTopKFromIndex)") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val dim = 16
    val vocab = (0 until 100).map(i => s"t$i").toVector
    val n = 120L
    val docs = (0L until n).map { i =>
      (i, (0 until 4 + rnd.nextInt(8))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val emb = (0L until n).map { i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)
    }.toDF("vec_id", "embedding")
    val textIdx = java.nio.file.Files
      .createTempDirectory("graft-hypq-text").toString + "/idx"
    val pqIdx = java.nio.file.Files
      .createTempDirectory("graft-hypq-pq").toString + "/idx"
    TextIndex.buildIndex(docs, "doc_id", "text", textIdx, nBuckets = 16)
    AnnOps.buildIvfPqIndex(emb, pqIdx, dim = dim, nCentroids = 8, m = 4,
      kCodes = 8)
    val q = docs.filter($"doc_id" < 5)
    val qe = emb.filter($"vec_id" < 5)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val served = canon(Retrieval.rrfFuse(
      Retrieval.sharedRareTokenTopKFromIndex(spark, textIdx, q,
        "doc_id", "text", k = 10, dfCap = 25L),
      AnnOps.ivfPqTopKFromIndex(spark, pqIdx, qe, 10, nProbe = 3), k = 5))
    val mem = canon(Retrieval.rrfFuse(
      Retrieval.sharedRareTokenTopK(docs, q, "doc_id", "text",
        k = 10, dfCap = 25L),
      AnnOps.ivfPqTopK(emb, qe, 10, dim = dim, nCentroids = 8, nProbe = 3,
        m = 4, kCodes = 8), k = 5))
    assert(served.nonEmpty && served == mem)
  }

  test("fixedPointCentroids is bit-identical under ANY partitioning " +
      "(int64 sums commute), and semDedupTrainedFP follows") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(57)
    val vecs = (0L until 200L).map { id =>
      (id, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df3 = vecs.toDF("vec_id", "embedding").repartition(3)
    val df11 = vecs.toDF("vec_id", "embedding").repartition(11)
    val c3 = AnnOps.fixedPointCentroids(df3, k = 6, dim = dim, rounds = 3)
    val c11 = AnnOps.fixedPointCentroids(df11, k = 6, dim = dim, rounds = 3)
    assert(c3.map(_.toSeq).toSeq == c11.map(_.toSeq).toSeq,
      "fixed-point centers must not depend on partitioning")
    // and the trained semDedup output is partitioning-invariant too
    def out(df: org.apache.spark.sql.DataFrame) =
      AnnOps.semDedupTrainedFP(df, threshold = 0.2, dim = dim, k = 6,
        rounds = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val o3 = out(df3)
    assert(o3.nonEmpty && o3 == out(df11))
  }

  test("semDedup matches a driver-side brute-force model on a random corpus") {
    import spark.implicits._
    val dim = 8; val nCent = 4; val thr = 0.2
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 80L).map { id =>
      (id, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(5)

    // reference model: same seed-centroid assignment, brute-force pairs
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = vecs.take(nCent)
    def cell(v: Seq[Float]): Long =
      cents.maxBy { case (cid, ce) => (cos(v, ce), -cid) }._1
    val byCell = vecs.groupBy { case (_, v) => cell(v) }
    val expected = byCell.values.flatMap { members =>
      val ms = members.sortBy(_._1)
      for {
        (b, bv) <- ms
        better = ms.filter { case (a, av) => a < b && cos(av, bv) >= thr }
        if better.nonEmpty
      } yield (b, better.map(_._1).min, better.size.toLong)
    }.toSet

    val got = AnnOps.semDedup(df, threshold = thr, dim = dim, nCentroids = nCent)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty) // the fixture actually exercises the threshold
  }
}
