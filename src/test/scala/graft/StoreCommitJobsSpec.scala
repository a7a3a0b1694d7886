package graft

import graft.llm.{BloomHistory, ShingleIndex, SimGraphStore, TextIndex}
import graft.sources.AppendLog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.concurrent.Promise
import scala.concurrent.duration._

/** The curation stores' commits read the batch signature from a pass that
  * already runs: a non-replay append fires no signature job of its own
  * (`collect at AppendLog`), BloomHistory's append and serve no count
  * or collect of their own, and TextIndex's build and append no stats
  * collect. The observed signature equals [[AppendLog.batchSig]] on
  * the same rows, and a signature that never arrives falls back to the
  * same value within its bound. */
class StoreCommitJobsSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-commitjobs-$tag").toString

  private def docs(rs: (Long, String)*): DataFrame = {
    import spark.implicits._
    rs.toDF("doc_id", "text")
  }

  private val batch0 = docs(1L -> "a b c d e", 2L -> "a b c e f",
    3L -> "x y z w", 4L -> "b c d e f")
  private val batch1 = docs(5L -> "a b c d f", 6L -> "x y z q",
    7L -> "c d e f g")

  /** Call sites of the jobs `body` fired that are signature, count or
    * collect jobs of the stores' own (not the passes they ride). */
  private def ownJobs(body: => Any): Seq[String] =
    JobProbe(spark)(body).map(_.callSite).filter { s =>
      s.startsWith("collect at AppendLog") ||
      s.startsWith("count at BloomHistory") ||
      s.startsWith("collect at BloomHistory")
    }

  test("a non-replay SimGraphStore.update fires no signature job, and " +
      "its marker carries batchSig") {
    val dir = tmp("simgraph")
    SimGraphStore.init(spark, dir, n = 2, cap = 3L, minCommon = 1L)
    SimGraphStore.update(spark, dir, batch0, "doc_id", "text")
    var bid = -1L
    val own = ownJobs {
      bid = SimGraphStore.update(spark, dir, batch1, "doc_id", "text",
        explicitBid = Some(1L))
    }
    assert(own.isEmpty, own)
    assert(bid == 1L)
    assert(AppendLog("_batches", "bid", Nil).sig(spark, dir, 1L) ==
      Some(AppendLog.batchSig(batch1, "doc_id", "text")))
    // the verified replay still recognises the committed rows
    assert(SimGraphStore.update(spark, dir, batch1, "doc_id", "text",
      explicitBid = Some(1L)) == 1L)
  }

  test("ShingleIndex build and appendToIndex fire no signature job, and " +
      "their markers carry batchSig") {
    val dir = tmp("shingle")
    val log = AppendLog("_epochs", "ep", Nil)
    val own0 = ownJobs(ShingleIndex.build(batch0, "doc_id", "text", dir,
      n = 2, nBuckets = 4))
    assert(own0.isEmpty, own0)
    var ep = -1L
    val own1 = ownJobs {
      ep = ShingleIndex.appendToIndex(spark, dir, batch1, "doc_id", "text")
    }
    assert(own1.isEmpty, own1)
    assert(log.sig(spark, dir, 0L) ==
      Some(AppendLog.batchSig(batch0, "doc_id", "text")))
    assert(log.sig(spark, dir, ep) ==
      Some(AppendLog.batchSig(batch1, "doc_id", "text")))
  }

  test("TextIndex buildIndex and appendToIndex fire no signature or " +
      "stats job, their markers carry batchSig, and serving stays within " +
      "its job budget") {
    val dir = tmp("text")
    val log = AppendLog("_epochs", "ep", Nil)
    def serveJobs() = {
      def serve() = TextIndex.bm25FromIndex(spark, dir, Seq("a", "c", "x"),
        topK = 3).collect()
      serve()
      JobProbe(spark)(serve())
    }
    // the stats and the signature ride the first checkpoint; with a stats
    // collect of their own, build fired 9 jobs and append 13
    val built = JobProbe(spark)(TextIndex.buildIndex(batch0, "doc_id",
      "text", dir, nBuckets = 4))
    assert(built.forall(!_.callSite.startsWith("collect at")), built)
    assert(built.size <= 8, built)
    val served1 = serveJobs()
    var ep = -1L
    val appended = JobProbe(spark) {
      ep = TextIndex.appendToIndex(spark, dir, batch1, "doc_id", "text")
    }
    assert(appended.forall(!_.callSite.startsWith("collect at")), appended)
    assert(appended.size <= 8, appended)
    assert(ep == 1L)
    assert(log.sig(spark, dir, 0L) ==
      Some(AppendLog.batchSig(batch0, "doc_id", "text")))
    assert(log.sig(spark, dir, 1L) ==
      Some(AppendLog.batchSig(batch1, "doc_id", "text")))
    assert(TextIndex.readMeta(spark, dir) == ((4, 7L, 33L)))
    // serving read one merged df table in 8 jobs, two of them schema
    // inference; the declared schemas drop those, and summing the
    // epochs' df deltas costs one
    val served2 = serveJobs()
    assert(served1.size <= 7, served1)
    assert(served2.size <= 7, served2)
  }

  test("a non-replay BloomHistory.append fires no signature, count or " +
      "collect job of its own, and records the batch's row count") {
    val dir = tmp("bloom")
    BloomHistory.init(spark, dir, mBits = 1 << 12, k = 3)
    BloomHistory.append(spark, dir, batch0, "text", explicitBid = Some(0L))
    val own = ownJobs(BloomHistory.append(spark, dir, batch1, "text",
      explicitBid = Some(1L)))
    assert(own.isEmpty, own)
    val (_, _, nItems, lastBid) = BloomHistory.readMeta(spark, dir)
    assert(nItems == 7L && lastBid == 1L)
    // the verified replay recomputes the same signature by name
    assert(BloomHistory.append(spark, dir, batch1, "text",
      explicitBid = Some(1L)) == 1L)
    // serving: the hit buckets and count ride the hits checkpoint
    var served = Set.empty[Long]
    val own2 = ownJobs {
      served = BloomHistory.dedupFromStore(spark, dir,
        batch1.union(docs(8L -> "q r s t")), "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
    }
    assert(own2.isEmpty, own2)
    assert(served == Set(5L, 6L, 7L))
  }

  test("BloomHistory's replay signature cannot cancel repeated rows: " +
      "append(A, 0) then append(B, 0) with A = {r1, r1, r2} and " +
      "B = {r3, r3, r2} fails") {
    val r1 = 1L -> "a b c d"
    val r2 = 2L -> "b c d e"
    val r3 = 3L -> "c d e f"
    val dir = tmp("bloom-cancel")
    BloomHistory.init(spark, dir, mBits = 1 << 12, k = 3)
    assert(BloomHistory.append(spark, dir, docs(r1, r1, r2), "text",
      explicitBid = Some(0L)) == 0L)
    val e = intercept[IllegalArgumentException](
      BloomHistory.append(spark, dir, docs(r3, r3, r2), "text",
        explicitBid = Some(0L)))
    assert(e.getMessage.contains("rows differ from the committed batch"))
  }

  test("the observed signature equals batchSig on the same rows, for a " +
      "0-row, a limit-0 and a filtered-out batch too") {
    val cases = Seq(
      "rows" -> batch0.union(batch0.limit(1)),
      "0-row" -> docs(),
      "limit 0" -> batch0.limit(0),
      "filtered out" -> batch0.filter(col("doc_id") < 0L))
    cases.foreach { case (name, b) =>
      val observed = AppendLog.observeSig(b, "doc_id", "text")
      observed.frame.select(col("doc_id")).localCheckpoint()
      var sig = 0L
      // read from the observation, not from a fallback job
      val jobs = JobProbe(spark) { sig = observed.sig }
      assert(jobs.isEmpty, s"$name: $jobs")
      assert(sig == AppendLog.batchSig(b, "doc_id", "text"), name)
      assert(observed.rows == b.count(), name)
    }
  }

  test("a signature that never arrives falls back to the same value " +
      "within its bound") {
    val bound = 300.millis
    val stalled = AppendLog.observeSig(batch0, "doc_id", "text")
      .awaiting(Promise[Row]().future, bound)
    val t0 = System.nanoTime()
    val sig = stalled.sig
    val waited = (System.nanoTime() - t0).nanos
    assert(sig == AppendLog.batchSig(batch0, "doc_id", "text"))
    assert(stalled.rows == 4L)
    // the bound, then one small fallback job
    assert(waited >= bound && waited < bound + 20.seconds, waited)
  }
}
