package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Retrieval compositions over the catalog's ranking kernels — the
  * serving-side counterpart of the curation operators: given a query
  * batch, rank corpus documents lexically, densely, or by a fusion of
  * both (the standard "hybrid search" shape a retrieval-augmented
  * training pipeline runs to mine positives/negatives).
  *
  * Scale notes (100 TB lens):
  *  - [[sharedRareTokenTopK]] never goes corpus × batch: candidates come
  *    from a RARE-token posting join (document frequency ≤ `dfCap`), so a
  *    query's fan-out is bounded by |query tokens| · dfCap regardless of
  *    corpus size — the same posting-list discipline as decontamination
  *    (q90) and the similarity graph. Stopword-heavy queries cost nothing
  *    extra: their hot tokens are over the cap and never join.
  *  - [[rrfFuse]] joins two (query, rank ≤ k) tables — output-sized work,
  *    independent of the corpus.
  */
object Retrieval {

  /** Lexical "more-like-this": for each query document, the top-k corpus
    * documents by number of shared DISTINCT rare tokens (df ≤ dfCap over
    * the corpus), ties broken by ascending id. Output (qid, rk, nid,
    * score) — ranks are row_numbers, so any engine reproduces them
    * bit-for-bit from the same integer scores.
    *
    * Queries are a bounded batch (same schema as the corpus); self-matches
    * are excluded. */
  def sharedRareTokenTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int, dfCap: Long): DataFrame = {
    val tok = corpus.select(col(idCol).cast(LongType).as("nid"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("t"))
    // rare vocabulary: Zipf-small next to the corpus, one partial-agg pass
    val rare = tok.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("t")
    // the rare filter lands on the QUERY side only — the equi-join on t
    // restricts the corpus side transitively, so the corpus token scan
    // and the df aggregate each run once, not twice
    val qtok = queries.select(col(idCol).cast(LongType).as("qid"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("t"))
      .join(rare, "t")
    val scored = qtok.join(tok, "t")
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid").agg(count(lit(1)).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("score"))
  }

  /** [[sharedRareTokenTopK]] served from a PERSISTED [[TextIndex]]
    * (VERDICT r11 #2: the in-memory spelling re-scans and re-aggregates
    * corpus postings on every query batch — linear corpus work per batch
    * at 100 TB; all of it is corpus-determined and already lives in the
    * index). Bit-identical to the in-memory operator over the indexed
    * corpus: the index's df/ dataset counts one row per (term, doc) —
    * exactly the distinct-token document frequency the in-memory rare
    * filter computes — and postings/ holds one row per (term, doc), so
    * the shared-distinct-rare-token count is the same plain count.
    *
    * Scale: the query batch's term set hashes to ≤nBuckets `tb` values
    * that land on BOTH index scans as literal partition filters (the
    * q120 pruned-serve shape, PlanSpec-asserted) — data read is bounded
    * by the probed buckets' postings, not the corpus, and the df rows
    * surviving the rare cap are Zipf-small. The dense counterpart is
    * [[AnnOps.ivfTopKFromIndex]] (partition-pruned cells, q76), whose
    * (qid, rk, nid) output feeds [[rrfFuse]] directly — together they
    * serve the q138 hybrid WITHOUT touching the corpus. (The IVF-PQ
    * index serves the same shape compressed ~32× (AnnOps
    * .ivfPqTopKFromIndex) when index I/O dominates; its ADC ranks are
    * approximate by design, so the hash-exact gate uses the raw-vector
    * IVF index.) */
  def sharedRareTokenTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Long): DataFrame = {
    val scored = lexicalScoredFromIndex(spark, path, queries, idCol,
      textCol, dfCap)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("score"))
  }

  /** (qid, nid, score) of [[sharedRareTokenTopKFromIndex]] before the
    * top-k window — split out so the pruned-scan plan is assertable. */
  private[graft] def lexicalScoredFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, textCol: String,
      dfCap: Long): DataFrame = {
    graft.sources.ParquetCompaction.recover(spark, path)
    val (nBuckets, _, _) = TextIndex.readMeta(spark, path)
    val qtok = queries.select(col(idCol).cast(LongType).as("qid"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("term"))
      .localCheckpoint()
    // the batch's bucket set (≤ nBuckets values) prunes BOTH scans
    val buckets = qtok
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // the cap applies to the df summed over epochs, never to a delta
    val rare = TextIndex.documentFrequencies(spark, path)
      .filter(col("tb").isin(buckets: _*)).filter(col("dfc") <= dfCap)
      .select("term")
    val qrare = qtok.join(rare, "term")
    val postings = TextIndex.postings(spark, path)
      .filter(col("tb").isin(buckets: _*))
      .select(col("term"), col("doc_id").as("nid"))
    qrare.join(postings, "term")
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid").agg(count(lit(1)).as("score"))
  }

  /** Reciprocal-rank fusion of two (qid, rk, nid) rankings:
    * rrf = Σ 1/(c0 + rank), a ranking absent from one side contributing 0.
    * Both addends are exact IEEE divisions of small integers, summed in a
    * fixed order (left then right), so independent engines agree
    * bit-for-bit; the published-standard c0 = 60. Output (qid, rk, nid,
    * rrf) with rrf rounded to 6 decimals and ranks recomputed over the
    * fused score (ties by ascending nid). */
  def rrfFuse(left: DataFrame, right: DataFrame, k: Int,
      c0: Int = 60): DataFrame = {
    val fa = left.select(col("qid"), col("nid"), col("rk").as("ra"))
    val fb = right.select(col("qid"), col("nid"), col("rk").as("rb"))
    val j = fa.join(fb, Seq("qid", "nid"), "full_outer")
    val rrf = round(
      coalesce(lit(1.0) / (lit(c0) + col("ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c0) + col("rb")), lit(0.0)), 6)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("nid"))
    j.withColumn("rrf", rrf)
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("rrf"))
  }
}
