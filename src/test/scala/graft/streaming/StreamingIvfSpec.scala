package graft.streaming

import graft.SparkTestBase
import graft.llm.AnnOps
import org.apache.spark.sql.functions._

/** Streaming IVF appends == the batch append: the same vectors streamed
  * through StreamingIvf land in the same cells and serve identical top-k
  * as AnnOps.appendToIvfIndex, and a full replay of the stream (lost
  * checkpoint) appends nothing. */
class StreamingIvfSpec extends SparkTestBase {

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  test("streamed vectors serve identically to a batch append; replay is a no-op") {
    val emb = graft.T.embeddings(spark, sf)
      .localCheckpoint()
    val first = emb.filter(col("vec_id") % 2 === 0)
    val late = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 200)
      .localCheckpoint()

    val tmp = java.nio.file.Files.createTempDirectory("graft-sivf")
    val idxStream = tmp.resolve("idx-stream")
    val idxBatch = tmp.resolve("idx-batch")
    AnnOps.buildIvfIndex(first, idxStream.toString, nCentroids = 8)
    copyDir(idxStream, idxBatch) // identical starting index (same centroids)

    // batch reference append
    AnnOps.appendToIvfIndex(spark, idxBatch.toString, late)

    // streamed append: two files so the AvailableNow drain runs two batches
    val src = tmp.resolve("src")
    late.filter(col("vec_id") < 100).coalesce(1)
      .write.parquet(src.resolve("f1").toString)
    late.filter(col("vec_id") >= 100).coalesce(1)
      .write.parquet(src.resolve("f2").toString)
    val srcGlob = src.toString + "/*"
    StreamingIvf.run(spark, srcGlob, idxStream.toString,
      tmp.resolve("ckpt1").toString)

    val queries = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40)
    def serve(path: java.nio.file.Path): Seq[(Long, Long, Long)] =
      AnnOps.ivfTopKFromIndex(spark, path.toString, queries, 5, nProbe = 3)
        .select("qid", "rk", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(serve(idxStream) == serve(idxBatch),
      "streamed appends serve differently from the batch append")
    // the streamed vectors are actually findable (not an empty-index tie)
    val servedIds = serve(idxStream).map(_._3).toSet
    assert(servedIds.exists(id => id % 2 == 1 && id < 200),
      "no appended vector ever surfaced in the served top-k")

    // lost checkpoint: replaying the whole stream must append nothing
    val cellsBefore = spark.read.parquet(s"$idxStream/cells").count()
    StreamingIvf.run(spark, srcGlob, idxStream.toString,
      tmp.resolve("ckpt2").toString)
    val cellsAfter = spark.read.parquet(s"$idxStream/cells").count()
    assert(cellsBefore == cellsAfter,
      s"replay duplicated index rows: $cellsBefore -> $cellsAfter")
    assert(serve(idxStream) == serve(idxBatch))
  }
}
