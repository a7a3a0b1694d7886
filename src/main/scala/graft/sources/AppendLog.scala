package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The marker-committed append log behind the id-disciplined stores
  * ([[graft.llm.SimGraphStore]], [[graft.llm.ShingleIndex]], the
  * [[graft.streaming.StreamingNightlyCuration]] staging manifest): the
  * Structured Streaming paper's exactly-once sink (SIGMOD 2018), an
  * idempotent append keyed by the engine's batch id.
  *
  * Layout under a store root: every sub-dataset in `subs` is
  * directory-partitioned by `key` (`<key>=<id>/`), and `markerDir/<id>`
  * is the COMMIT of id — one file holding one decimal Long, the
  * committed batch's [[batchSig]]. An append's sub-dataset writes are not
  * atomic together, so:
  *  - readers prune to committed ids ([[read]]: a partition filter, so an
  *    orphan partition is never even listed into the scan);
  *  - a crash before the marker leaves orphan partitions that are
  *    invisible, and [[cleanOrphans]] deletes them BEFORE the id is
  *    reused (a crashed batch and its retry share one id, so the cleanup
  *    is what makes the retry exact rather than double-counted);
  *  - [[resolveId]] is the replay rule: only the LATEST committed id may
  *    be replayed (foreachBatch replays at most the one in-flight batch),
  *    a replay is skipped only when its rows carry the committed
  *    signature, and an older id fails loudly.
  *
  * Methods take the root, so a compaction commits into its rewrite temp
  * ([[ParquetCompaction.rewrite]]) with the signature of the id it folds
  * into. Callers recover the root before first touch (the
  * ParquetCompaction invariant). */
final case class AppendLog(markerDir: String, key: String,
    subs: Seq[String]) {
  import AppendLog._

  /** Committed ids, one per marker. */
  def committed(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(root, markerDir)
    val fs = fileSystem(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName.toLong)
  }

  /** The highest committed id; -1 when nothing is committed. */
  def latest(spark: SparkSession, root: String): Long =
    committed(spark, root).foldLeft(-1L)(math.max)

  /** Committed rows of sub-dataset `sub` ("" = the root itself) under the
    * declared `schema`, which includes the `key` column; an empty frame
    * with that schema when nothing is committed. */
  def read(spark: SparkSession, root: String, sub: String,
      schema: StructType): DataFrame = {
    val dir = subDir(root, sub)
    val ids = committed(spark, root)
    // an empty batch writes no partition at all; a dir holding only
    // _SUCCESS reads as empty under the declared schema
    if (ids.isEmpty || !fileSystem(spark, dir).exists(dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dir.toString)
      .filter(col(key).isin(ids: _*))
  }

  /** Delete `key=` partitions no marker vouches for — a crashed append's
    * partial writes. Cheap directory ops. */
  def cleanOrphans(spark: SparkSession, root: String): Unit = {
    val ids = committed(spark, root).toSet
    subs.foreach { sub =>
      val dir = subDir(root, sub)
      val fs = fileSystem(spark, dir)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(s"$key=") &&
            !ids.contains(name.stripPrefix(s"$key=").toLong))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Commit `id`: write its marker carrying the batch signature. */
  def commit(spark: SparkSession, root: String, id: Long, sig: Long): Unit =
    writeLong(spark, new Path(new Path(root, markerDir), id.toString), sig)

  /** The signature in `id`'s marker; None when `id` is not committed. */
  def sig(spark: SparkSession, root: String, id: Long): Option[Long] =
    readLong(spark, new Path(new Path(root, markerDir), id.toString))

  private def subDir(root: String, sub: String): Path =
    if (sub.isEmpty) new Path(root) else new Path(root, sub)
}

object AppendLog {

  /** Order-free signature of a batch's (id, text) multiset — what a replay
    * skip verifies. SUM + bit_xor of per-row hashes: both commutative
    * (order-free under any partitioning), and the sum term is
    * cancellation-free — bit_xor alone lets any row repeated an even
    * number of times vanish, so {r1, r1, r2} and {r3, r3, r2} would
    * collide. The hash is summed as two 32-bit halves (each sum ≤
    * 2³²·rows, overflow-safe under ANSI mode for any batch under 2³¹
    * rows) and recombined. One map-only pass. */
  def batchSig(batch: DataFrame, idCol: String, textCol: String): Long = {
    val row = batch
      .select(xxhash64(col(idCol).cast(LongType), col(textCol)).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("bx"),
        coalesce(expr("sum(h & 4294967295)"), lit(0L)).as("slo"),
        coalesce(expr("sum(shiftright(h, 32) & 4294967295)"), lit(0L))
          .as("shi"),
        count(lit(1)).as("bn"))
      .collect()(0)
    row.getLong(0) ^ java.lang.Long.rotateLeft(row.getLong(1), 13) ^
      java.lang.Long.rotateLeft(row.getLong(2), 27) ^
      java.lang.Long.rotateLeft(row.getLong(3), 45) ^
      0x5851f42d4c957f2dL
  }

  /** The replay rule. `latest` is the highest committed id, `explicit` the
    * caller's (engine) batch id, None to auto-increment. Returns the id to
    * write, or None for a verified replay of `latest` (skip it). A replay
    * whose `sig` differs from `committedSig` is a reset checkpoint one
    * batch behind and fails loudly, as does any id older than `latest`.
    * Only the replay path evaluates the signatures. `noun` names the
    * log's owner in the messages, e.g. "store at <path>". */
  def resolveId(latest: Long, explicit: Option[Long],
      committedSig: => Option[Long], sig: => Long,
      noun: String): Option[Long] = explicit match {
    case None => Some(latest + 1L)
    case Some(id) if id == latest =>
      require(committedSig.forall(_ == sig),
        s"batch id $id matches the latest committed id of the $noun but " +
          "its rows differ from the committed batch — this is a reset " +
          "checkpoint one batch behind, not a replay; reset the " +
          s"checkpoint and the $noun together")
      None
    case Some(id) =>
      require(id > latest,
        s"batch id $id is older than the latest committed id $latest of " +
          s"the $noun — a replay can only repeat the latest batch; reset " +
          s"the checkpoint and the $noun together")
      Some(id)
  }

  /** Overwrite `file` with one decimal Long. */
  def writeLong(spark: SparkSession, file: Path, v: Long): Unit = {
    val out = fileSystem(spark, file).create(file, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The Long in `file`; None when the file does not exist. */
  def readLong(spark: SparkSession, file: Path): Option[Long] = {
    val fs = fileSystem(spark, file)
    if (!fs.exists(file)) None
    else {
      val in = fs.open(file)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(txt.trim.toLong)
    }
  }

  private def fileSystem(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
}
