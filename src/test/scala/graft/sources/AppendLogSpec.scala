package graft.sources

import graft.{JobProbe, SparkTestBase}
import graft.llm.{NightlyCuration, SimGraphStore}
import graft.streaming.StreamingNightlyCuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The marker-committed append log's shared contract (AppendLog): orphan
  * partitions are invisible and cleaned, the latest id replays only with
  * its committed rows, older ids fail, a compaction's commit into the
  * rewrite temp carries the signature, and the batch signature cannot
  * cancel repeated rows. The per-store specs pin each store's use of it. */
class AppendLogSpec extends SparkTestBase {

  private val log = AppendLog("_marks", "k", Seq("x", "y"))
  private val schema = StructType.fromDDL("v STRING, k BIGINT")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-appendlog-$tag").toString

  private def rows(vs: String*): DataFrame = {
    import spark.implicits._
    vs.toDF("v")
  }

  private def append(root: String, sub: String, id: Long,
      vs: String*): Unit =
    rows(vs: _*).withColumn("k", lit(id))
      .write.mode("append").partitionBy("k").parquet(s"$root/$sub")

  private def readV(root: String, sub: String): Set[String] =
    log.read(spark, root, sub, schema).collect().map(_.getString(0)).toSet

  private def docs(rs: (Long, String)*): DataFrame = {
    import spark.implicits._
    rs.toDF("doc_id", "text")
  }

  private def exists(p: String): Boolean =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(p))

  test("an orphan partition is invisible to read and removed by " +
      "cleanOrphans; committed partitions stay") {
    val root = tmp("orphan")
    assert(log.read(spark, root, "x", schema).schema == schema)
    assert(readV(root, "x").isEmpty)
    append(root, "x", 0L, "a", "b")
    append(root, "y", 0L, "c")
    log.commit(spark, root, 0L, 7L)
    // a crashed append: partitions written, marker never committed
    append(root, "x", 1L, "orphan")
    assert(log.committed(spark, root) == Seq(0L))
    assert(log.latest(spark, root) == 0L)
    assert(readV(root, "x") == Set("a", "b"))
    log.cleanOrphans(spark, root)
    assert(!exists(s"$root/x/k=1"))
    assert(exists(s"$root/x/k=0") && exists(s"$root/y/k=0"))
    assert(readV(root, "x") == Set("a", "b"))
    assert(readV(root, "y") == Set("c"))
  }

  test("a latest-id replay with the same rows is skipped, with different " +
      "rows it fails; an older id fails; a new id passes") {
    val root = tmp("replay")
    val b0 = docs(1L -> "x y z", 2L -> "p q")
    val b1 = docs(3L -> "u v", 4L -> "w")
    log.commit(spark, root, 0L, AppendLog.batchSig(b0, "doc_id", "text"))
    log.commit(spark, root, 1L, AppendLog.batchSig(b1, "doc_id", "text"))
    val latest = log.latest(spark, root)
    def resolve(id: Long, batch: DataFrame) = AppendLog.resolveId(latest,
      Some(id), log.sig(spark, root, latest),
      AppendLog.batchSig(batch, "doc_id", "text"), s"store at $root")
    // order-free: the same rows in another order replay too
    assert(resolve(1L, b1) == None)
    assert(resolve(1L, b1.orderBy(desc("doc_id"))) == None)
    val e1 = intercept[IllegalArgumentException](resolve(1L, b0))
    assert(e1.getMessage.contains("rows differ from the committed batch"))
    assert(e1.getMessage.contains("reset the checkpoint and the store"))
    val e2 = intercept[IllegalArgumentException](resolve(0L, b0))
    assert(e2.getMessage.contains("older than the latest committed id 1"))
    assert(resolve(2L, b0) == Some(2L))
    assert(AppendLog.resolveId(latest, None, None, 0L, "store") == Some(2L))
  }

  test("only the replay path evaluates the signatures") {
    def boom: Long = throw new IllegalStateException("evaluated")
    def boomOpt: Option[Long] = throw new IllegalStateException("evaluated")
    assert(AppendLog.resolveId(4L, Some(5L), boomOpt, boom, "store") ==
      Some(5L))
    assert(AppendLog.resolveId(4L, None, boomOpt, boom, "store") == Some(5L))
    intercept[IllegalArgumentException](
      AppendLog.resolveId(4L, Some(3L), boomOpt, boom, "store"))
    intercept[IllegalStateException](
      AppendLog.resolveId(4L, Some(4L), boomOpt, boom, "store"))
  }

  test("a commit into a rewrite temp carries the signature through the " +
      "swap") {
    val root = tmp("rewrite")
    append(root, "x", 0L, "a")
    log.commit(spark, root, 0L, 11L)
    append(root, "x", 1L, "b")
    log.commit(spark, root, 1L, 22L)
    val keep = log.latest(spark, root)
    val keepSig = log.sig(spark, root, keep).get
    val folded = log.read(spark, root, "x", schema).select("v")
      .localCheckpoint()
    ParquetCompaction.rewrite(spark, root) { t =>
      folded.withColumn("k", lit(keep))
        .write.partitionBy("k").parquet(s"$t/x")
      log.commit(spark, t, keep, keepSig)
    }
    assert(log.committed(spark, root) == Seq(1L))
    assert(log.sig(spark, root, 1L) == Some(22L))
    assert(log.sig(spark, root, 0L) == None)
    assert(readV(root, "x") == Set("a", "b"))
  }

  test("batchSig cannot cancel repeated rows: {r1, r1, r2} and " +
      "{r3, r3, r2} differ, and a SimGraphStore replay of one with the " +
      "other's id fails") {
    val r1 = 1L -> "a b c d"
    val r2 = 2L -> "b c d e"
    val r3 = 3L -> "c d e f"
    val a = docs(r1, r1, r2)
    val b = docs(r3, r3, r2)
    assert(AppendLog.batchSig(a, "doc_id", "text") !=
      AppendLog.batchSig(b, "doc_id", "text"))
    val dir = tmp("cancel")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 1L)
    assert(SimGraphStore.update(spark, dir, a, "doc_id", "text",
      explicitBid = Some(0L)) == 0L)
    val e = intercept[IllegalArgumentException](
      SimGraphStore.update(spark, dir, b, "doc_id", "text",
        explicitBid = Some(0L)))
    assert(e.getMessage.contains("rows differ from the committed batch"))
  }

  test("the staging manifest reads through the log: stagedAdmitted has " +
      "one declared schema before and after staging, with no job to " +
      "infer it") {
    import spark.implicits._
    val hist = (0L until 20L).map(i => (i, (0 until 12)
      .map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")))
    val stores = NightlyCuration.Stores(tmp("staged"))
    NightlyCuration.initStores(spark, stores,
      hist.toDF("doc_id", "text"),
      hist.map { case (i, _) => (i, Seq.fill(8)(0.3f)) }
        .toDF("vec_id", "embedding"),
      "doc_id", "text", dim = 8, nCentroids = 2)
    val want = StructType.fromDDL("doc_id BIGINT, text STRING")
    val before = StreamingNightlyCuration.stagedAdmitted(spark, stores)
    assert(before.schema == want)
    assert(before.isEmpty)
    val batch = (100L until 104L).map(i => (i, (0 until 12)
      .map(j => s"v${i + j}").mkString(" ")))
    StreamingNightlyCuration.stageBatch(batch.toDF("doc_id", "text"), 0L,
      stores)
    var after: DataFrame = null
    val jobs = JobProbe(spark) {
      after = StreamingNightlyCuration.stagedAdmitted(spark, stores)
    }
    assert(jobs.isEmpty, jobs)
    assert(after.schema == want)
    assert(after.as[(Long, String)].collect().toSet == batch.toSet)
  }
}
