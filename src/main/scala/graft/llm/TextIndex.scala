package graft.llm

import graft.sources.{AppendLog, MetaSidecar, ParJobs, ParquetCompaction}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted inverted text index + BM25 serving — the text-retrieval
  * counterpart of the persisted IVF index (AnnOps.buildIvfIndex): pay the
  * corpus-sized tokenize/aggregate shuffle ONCE at build time, then serve
  * every query batch by reading only the term-bucket partitions its terms
  * hash into.
  *
  * Layout at `path` (v2, the [[ShingleIndex]] epoch layout):
  *  - `postings/` — (term, doc_id, dl, tf), partitioned by (`ep`,
  *    `tb = pmod(xxhash64(term), nBuckets)`). A query's scan carries an
  *    explicit tb partition filter, so the data read is bounded by the
  *    probed buckets' postings (PlanSpec asserts PartitionFilters). dl is
  *    denormalized into the row — the Lucene norm trick — so serving
  *    needs NO doc-table join.
  *  - `df/` — (term, dfc) document-frequency DELTAS, partitioned by the
  *    same (ep, tb); a term's df is their sum ([[documentFrequencies]]).
  *  - `postings/ep=<k>/_graft_text_stats.json` — epoch k's (nDocs,
  *    totLen); [[readMeta]] sums the committed epochs' without a Spark
  *    job. Inside the epoch's partition, it is cleaned and compacted
  *    with it.
  *  - `_epochs/<k>` — the [[AppendLog]] markers that commit the epochs:
  *    the build is epoch 0, each append the next (or the caller's id).
  *  - `_graft_text_meta.json` — nBuckets and the layout version, written
  *    by the build AFTER its marker, so a readable meta means a committed
  *    epoch 0.
  *
  * Doc-id contract (as [[ShingleIndex]]'s): appended ids are new and
  * unique within the batch — the append-only lake assumption.
  *
  * Scale (100 TB): build is one explode + one partial-agg shuffle (the
  * minimum possible: tf aggregation is the index's definition), an append
  * the same over its batch. Serving reads ~|probed buckets|/nBuckets of
  * the postings, broadcasts the ≤|terms| summed df rows, and runs the
  * same two-phase top-k as TextOps.bm25TermTopK so a hot term's posting
  * list never serializes through one reducer. */
object TextIndex {

  private val metaFile = "_graft_text_meta.json"

  private val statsFile = "_graft_text_stats.json"

  private val epochs = AppendLog("_epochs", "ep", Seq("postings", "df"))

  private val postingsSchema = StructType.fromDDL(
    "term STRING, doc_id BIGINT, dl INT, tf BIGINT, ep BIGINT, tb BIGINT")

  private val dfSchema = StructType.fromDDL(
    "term STRING, dfc BIGINT, ep BIGINT, tb BIGINT")

  /** Tokenize, aggregate, and persist the index as epoch 0. One corpus
    * pass. Replaces anything already at `path`. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    epochs.reset(spark, path)
    epochs.commit(spark, path, 0L,
      writeEpoch(spark, path, docs, idCol, textCol, nBuckets, 0L))
    writeMeta(spark, path, nBuckets)
  }

  /** BM25 top-k per query term, served from the persisted index. The term
    * list's bucket set (≤ |terms| values) is computed through the SAME
    * xxhash64 the build used and lands on the scan as a literal partition
    * filter. */
  def bm25FromIndex(spark: SparkSession, path: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    // finish any crashed compaction before reading (cheap when whole)
    ParquetCompaction.recover(spark, path)
    val (nBuckets, nDocs, totLen) = readMeta(spark, path)
    import spark.implicits._
    val buckets = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nBuckets)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val probed = col("tb").isin(buckets: _*) && col("term").isin(terms: _*)
    val postings = this.postings(spark, path).filter(probed)
    val dft = documentFrequencies(spark, path).filter(probed)
      .select("term", "dfc")
    val avgdl = lit(totLen.toDouble / nDocs)
    val idf = log((lit(nDocs) - col("dfc") + lit(0.5)) /
      (col("dfc") + lit(0.5)) + lit(1.0))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl)
    val scored = postings.join(broadcast(dft), "term")
      .withColumn("score",
        round(idf * (col("tf") * (lit(k1) + lit(1.0))) / norm, 6))
    val w1 = Window
      .partitionBy(col("term"), pmod(xxhash64(col("doc_id")), lit(64)))
      .orderBy(col("score").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("__rn1", row_number().over(w1))
      .filter(col("__rn1") <= topK)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topK)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("dl"),
        col("score"))
  }

  /** Committed postings (term, doc_id, dl, tf, ep, tb). */
  private[graft] def postings(spark: SparkSession, path: String): DataFrame =
    epochs.read(spark, path, "postings", postingsSchema)

  /** Data files under postings/ — the small-files count [[compactIndex]]
    * resets. */
  private[graft] def postingsFiles(spark: SparkSession, path: String): Int =
    ParquetCompaction.dataFileCount(spark, s"$path/postings")

  /** Committed document frequencies (term, tb, dfc): the deltas summed
    * over epochs. Filters on term and tb push below the sum into the
    * scan. */
  private[graft] def documentFrequencies(spark: SparkSession,
      path: String): DataFrame =
    epochs.read(spark, path, "df", dfSchema)
      .groupBy("term", "tb").agg(sum("dfc").as("dfc"))

  /** Incrementally APPEND documents as the next epoch (or `explicitEp`,
    * the streaming seam: [[graft.streaming.StreamingTextIndex]] passes its
    * engine batch id) — postings and df deltas land in the epoch's own
    * partitions, never re-aggregating the corpus, and the marker commits
    * them. Returns the committed epoch id. */
  def appendToIndex(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String,
      explicitEp: Option[Long] = None): Long = {
    val ep = epochs.begin(spark, path, explicitEp,
      AppendLog.batchSig(docs, idCol, textCol),
      s"text index at $path").getOrElse(return explicitEp.get)
    val sig = writeEpoch(spark, path, docs, idCol, textCol,
      readMeta(spark, path)._1, ep)
    ParquetCompaction.crashHook("append-written")
    epochs.commit(spark, path, ep, sig)
    ep
  }

  /** Fold every epoch into the latest one ([[AppendLog.fold]]), one file
    * per tb directory: appends add a file per touched bucket each. Rows,
    * stats and pruned serving are unchanged. Run between appends. */
  def compactIndex(spark: SparkSession, path: String): Unit =
    epochs.fold(spark, path) { (tmp, keep) =>
      val (nBuckets, nDocs, totLen) = readMeta(spark, path)
      // two folds into disjoint temp sub-dirs (guide §2.6)
      ParJobs.run(Seq(
        () => postings(spark, path).withColumn("ep", lit(keep))
          .repartition(col("tb"))
          .write.partitionBy("ep", "tb").parquet(s"$tmp/postings"),
        () => documentFrequencies(spark, path).withColumn("ep", lit(keep))
          .repartition(col("tb"))
          .write.partitionBy("ep", "tb").parquet(s"$tmp/df")))
      writeStats(spark, tmp, keep, nDocs, totLen)
      writeMeta(spark, tmp, nBuckets)
    }

  /** Write `docs` as epoch `ep` (postings, df deltas, stats) and return
    * the signature its marker carries. Signature and stats ride the first
    * checkpoint, map-only over `docs`: the observation is in its result
    * stage. */
  private def writeEpoch(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, nBuckets: Int, ep: Long): Long = {
    val observed = AppendLog.observeSig(
      docs.select(col(idCol).cast(LongType).as("doc_id"),
        col(textCol).as("text"), TextOps.tokens(col(textCol)).as("toks")),
      "doc_id", "text", coalesce(sum(size(col("toks"))), lit(0L)).as("len"))
    val base = observed.frame.select(col("doc_id"),
        size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .localCheckpoint()
    val postings = base.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .withColumn("ep", lit(ep))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets)))
      .localCheckpoint()
    // repartition BY tb before partitionBy: unaligned, every task opens a
    // writer in every bucket dir. The two writes land in disjoint dirs
    // and the marker is the commit, so they run concurrently (guide §2.6)
    ParJobs.run(Seq(
      () => postings.repartition(col("tb"))
        .write.mode("append").partitionBy("ep", "tb")
        .parquet(s"$path/postings"),
      () => postings.groupBy("ep", "tb", "term").agg(count(lit(1)).as("dfc"))
        .repartition(col("tb"))
        .write.mode("append").partitionBy("ep", "tb").parquet(s"$path/df")))
    writeStats(spark, path, ep, observed.rows, observed.extra(0))
    observed.sig
  }

  private def writeStats(spark: SparkSession, path: String, ep: Long,
      nDocs: Long, totLen: Long): Unit =
    MetaSidecar.write(spark, s"$path/postings/ep=$ep", statsFile,
      Seq("nDocs" -> nDocs.toString, "totLen" -> totLen.toString))

  private def writeMeta(spark: SparkSession, path: String,
      nBuckets: Int): Unit =
    MetaSidecar.write(spark, path, metaFile,
      Seq("nBuckets" -> nBuckets.toString, "v" -> "2"))

  /** (nBuckets, nDocs, totLen): the layout's bucket count and the corpus
    * scalars summed over the committed epochs' stats. */
  private[graft] def readMeta(spark: SparkSession,
      path: String): (Int, Long, Long) = {
    import MetaSidecar._
    val meta = readText(spark, path, metaFile).getOrElse(
      throw new IllegalStateException(s"no text index meta at $path"))
    require(longField(meta, "v").contains(2L),
      s"text index at $path has a pre-epoch (v1) layout — rebuild it")
    val stats = epochs.committed(spark, path).map { ep =>
      val dir = s"$path/postings/ep=$ep"
      val txt = readText(spark, dir, statsFile).getOrElse("")
      (requireLong(txt, dir, "nDocs"), requireLong(txt, dir, "totLen"))
    }
    (requireLong(meta, path, "nBuckets").toInt, stats.map(_._1).sum,
      stats.map(_._2).sum)
  }
}
