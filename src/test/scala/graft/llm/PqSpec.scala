package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Product quantization: compression contract, deterministic encoding, and
  * trained-codebook recall against the exact brute-force ranking. */
class PqSpec extends SparkTestBase {

  private lazy val emb = graft.T.embeddings(spark, sf)

  test("hash codebooks are deterministic and shaped (m x k x dim/m)") {
    val a = AnnOps.hashPqCodebooks(64, 8, 16)
    val b = AnnOps.hashPqCodebooks(64, 8, 16)
    assert(a.codebooks.length == 8)
    assert(a.codebooks.forall(_.length == 16))
    assert(a.codebooks.forall(_.forall(_.length == 8)))
    assert(a.codebooks.flatten.flatten.toSeq == b.codebooks.flatten.flatten.toSeq)
    // components in [-1, 1), not all equal (full-rank-ish sanity)
    val flat = a.codebooks.flatten.flatten
    assert(flat.forall(v => v >= -1.0 && v < 1.0))
    assert(flat.distinct.length > flat.length / 2)
  }

  test("encodePq is a zero-shuffle map kernel emitting m codes in [0, k)") {
    val model = AnnOps.hashPqCodebooks(64, 8, 16)
    val enc = AnnOps.encodePq(emb, model)
    val rows = enc.collect()
    assert(rows.length == emb.count())
    assert(rows.forall { r =>
      val cs = r.getSeq[Int](1)
      cs.length == 8 && cs.forall(c => c >= 0 && c < 16)
    })
    // 8 int codes vs 64 floats: 64x fewer value bytes per vector (the
    // compression contract; nibble-packing would add another 8x)
    assert(enc.schema("codes").dataType.simpleString == "array<int>")
  }

  private def recallOf(got: Map[Long, Set[Long]],
      exact: Map[Long, Set[Long]]): Double =
    exact.map { case (q, t) => got.getOrElse(q, Set.empty).count(t) }.sum.toDouble /
      exact.values.map(_.size).sum

  test("trained ADC beats hash ADC; shortlist+rerank clears recall 0.65") {
    // The corpus vectors are near-random (already unit-norm), the worst
    // case for raw 32-bit PQ codes — so the spec pins the two contracts
    // that survive it: training strictly improves the ADC shortlist, and
    // the production pattern (ADC shortlist → exact re-rank of only the
    // shortlisted vectors) recovers high recall. Measured here:
    // ADC-only trained ≈ 0.20 vs hash ≈ 0.08; reranked(100) ≈ 0.74.
    val queries = emb.filter(col("vec_id") < 50)
    val exact = AnnOps.topKForQueries(emb, queries, 10)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    def adc(model: AnnOps.PqModel): Map[Long, Set[Long]] =
      AnnOps.pqTopKForQueries(AnnOps.encodePq(emb, model), queries, model, 10)
        .select("qid", "nid").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val hashModel = AnnOps.hashPqCodebooks(64, 8, 16)
    val trainedModel = AnnOps.trainPq(emb, 64, 8, 16)
    val hash = recallOf(adc(hashModel), exact)
    val trained = recallOf(adc(trainedModel), exact)
    info(f"ADC recall@10 hash=$hash%.3f trained=$trained%.3f")
    assert(trained > hash, s"training must help: trained=$trained hash=$hash")

    val reranked = recallOf(
      AnnOps.pqTopKReranked(AnnOps.encodePq(emb, trainedModel), emb, queries,
          trainedModel, 10, shortlist = 100)
        .select("qid", "nid").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap,
      exact)
    info(f"reranked(100) recall@10 $reranked%.3f")
    assert(reranked >= 0.65, s"reranked recall@10 $reranked below 0.65")
  }

  test("nibble packing: 8 bytes per vector, exact round-trip, same ADC ranks") {
    val model = AnnOps.hashPqCodebooks(64, 8, 16)
    val enc = AnnOps.encodePq(emb, model).localCheckpoint()
    val packed = enc.select(col("vec_id"),
      AnnOps.packCodes(col("codes"), 8, 16).as("packed"))
    assert(packed.schema("packed").dataType.simpleString == "bigint")
    val roundTrip = packed.select(col("vec_id"),
      AnnOps.unpackCodes(col("packed"), 8).as("codes"))
    val a = enc.orderBy("vec_id").collect().map(_.getSeq[Int](1)).toSeq
    val b = roundTrip.orderBy("vec_id").collect().map(_.getSeq[Int](1)).toSeq
    assert(a == b)
    // ADC over the unpacked form ranks identically to the array form
    val queries = emb.filter(col("vec_id") < 10)
    val viaArrays = AnnOps.pqTopKForQueries(enc, queries, model, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaPacked = AnnOps.pqTopKForQueries(roundTrip, queries, model, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaArrays == viaPacked)
  }

  test("trainPq is deterministic for a given input partitioning") {
    val a = AnnOps.trainPq(emb, 64, 8, 16, lloydRounds = 3)
    val b = AnnOps.trainPq(emb, 64, 8, 16, lloydRounds = 3)
    assert(a.codebooks.flatten.flatten.toSeq == b.codebooks.flatten.flatten.toSeq)
  }
}
