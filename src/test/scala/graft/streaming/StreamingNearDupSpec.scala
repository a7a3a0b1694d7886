package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Streaming near-dup suppression == an independent sequential reference:
  * files processed in arrival order; within a batch, transitive clusters
  * keep their lowest id; a doc matching anything already emitted drops.
  * The reference is a driver-side brute-force fold (exact Jaccard over all
  * pairs, no LSH) — at the spec's band parameters LSH recall at the
  * threshold is ~1−1e-8, so the two implementations must agree. */
class StreamingNearDupSpec extends SparkTestBase {

  private def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.split(" ", -1)
    (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  /** Greedy fold: per file, components over verified pairs among
    * (kept ∪ file); a file doc survives iff its component touches no kept
    * doc and it is the component's min-id file doc. */
  private def referenceFold(files: Seq[Seq[(Long, String)]],
      threshold: Double): Seq[Long] = {
    val kept = scala.collection.mutable.LinkedHashMap.empty[Long, Set[String]]
    files.foreach { docs =>
      val pool = kept.toSeq ++ docs.map { case (id, t) => id -> shingles(t) }
      val ids = pool.map(_._1)
      val sh = pool.toMap
      // union-find over verified pairs
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for (i <- ids; j <- ids if i < j
           if jaccard(sh(i), sh(j)) >= threshold) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(rj) = ri
      }
      val byComp = ids.groupBy(find)
      val keptIds = kept.keySet.toSet
      val newKept = docs.filter { case (id, _) =>
        val comp = byComp(find(id))
        !comp.exists(keptIds) && comp.filter(c => !keptIds(c)).min == id
      }
      newKept.foreach { case (id, t) => kept(id) = shingles(t) }
    }
    kept.keys.toSeq
  }

  private def docs(rows: (Long, String)*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(d => Row(d._1, d._2, "en")), 1),
    StreamingFold.docSchema)

  private def processBatch(batch: org.apache.spark.sql.DataFrame,
      batchId: Long, store: String): Unit =
    StreamingNearDup.processBatch(batch, batchId, store, shingleN = 3,
      numHashes = 128, rowsPerBand = 2, threshold = 0.5, numBands = 64)

  private def survivorIds(store: String): Set[Long] =
    StreamingNearDup.survivors(spark, store).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  private val fox = "the quick brown fox jumps over the lazy dog"
  private val b0 = docs(1L -> "pack my box with five dozen liquor jugs now")
  // doc 11 is doc 10's text plus one word: J = 7/8, a near-dup of 10
  private val b1 = docs(10L -> fox, 11L -> s"$fox brown",
    12L -> "how vexingly quick daft zebras jump over walls")

  private def tmpStore(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-neardup-$tag").toString

  test("a batch replayed after a crash before the marker keeps its " +
      "survivors (its own index partition never counts against it)") {
    val clean = tmpStore("clean")
    processBatch(b0, 0L, clean)
    processBatch(b1, 1L, clean)
    assert(survivorIds(clean) == Set(1L, 10L, 12L))

    // the index append landed, the output append was lost, and the
    // marker never committed; then the engine replays batch 1
    val crashed = tmpStore("crashed")
    processBatch(b0, 0L, crashed)
    graft.sources.ParquetCompaction.crashHook =
      p => if (p == "append-written") throw new RuntimeException("kill")
    try intercept[RuntimeException](processBatch(b1, 1L, crashed))
    finally graft.sources.ParquetCompaction.crashHook = _ => ()
    assert(new java.io.File(s"$crashed/index/bid=1").exists())
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$crashed/out/bid=1"))
    processBatch(b1, 1L, crashed)
    assert(survivorIds(crashed) == Set(1L, 10L, 12L))
  }

  test("a fresh checkpoint against a committed store fails loudly") {
    val store = tmpStore("fresh")
    processBatch(b0, 0L, store)
    processBatch(b1, 1L, store)
    // engine batch ids restart at 0 under a reset checkpoint
    val e0 = intercept[IllegalArgumentException](
      processBatch(docs(20L -> "sphinx of black quartz judge my vow"), 0L,
        store))
    assert(e0.getMessage.contains("reset the checkpoint and the"))
    // one batch behind: the same id as the latest, different rows
    val e1 = intercept[IllegalArgumentException](processBatch(b0, 1L, store))
    assert(e1.getMessage.contains("rows differ from the committed batch"))
    assert(survivorIds(store) == Set(1L, 10L, 12L))
  }

  test("streamed near-dup suppression equals the sequential reference") {
    val base = graft.T.documents(spark, sf)
      .select("doc_id", "text", "lang").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val maxId = base.map(_._1).max
    // near-dups: copies with a small head edit (J >> 0.5 vs the original),
    // some in the same file as their original, some in the later file
    def mutate(t: String): String = {
      val toks = t.trim.split(" ", -1)
      ("zzz" +: toks.drop(1)).mkString(" ")
    }
    val fileA = base.take(20).map { case (id, t, l) => (id, t, l) } ++
      base.take(3).map { case (id, t, l) => (maxId + 1 + id, mutate(t), l) }
    val fileB = base.drop(20).map { case (id, t, l) => (id, t, l) } ++
      base.slice(5, 12).map { case (id, t, l) => (maxId + 100 + id, mutate(t), l) }

    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup")
    val src = tmp.resolve("src"); java.nio.file.Files.createDirectory(src)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    def writeFile(docs: Seq[(Long, String, String)], name: String): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map(d => Row(d._1, d._2, d._3)), 1),
        schema)
      val stage = tmp.resolve("stage-" + name).toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, src.resolve(name))
    }
    writeFile(fileA, "a.parquet")
    // distinct mtimes so the file source processes a before b
    val fa = src.resolve("a.parquet").toFile
    fa.setLastModified(fa.lastModified() - 60000)
    writeFile(fileB, "b.parquet")

    val store = tmp.resolve("store").toString
    StreamingNearDup.run(spark, src.toString, store,
      tmp.resolve("ckpt").toString)

    val got = StreamingNearDup.survivors(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = referenceFold(Seq(
      fileA.map(d => (d._1, d._2)), fileB.map(d => (d._1, d._2))), 0.5).toSet

    // the mutated copies must actually have been suppressed
    assert(expected.size < fileA.size + fileB.size)
    assert(got == expected,
      s"stream=${got.toSeq.sorted} reference=${expected.toSeq.sorted}")

    // crash-replay idempotency: re-running an already-committed batch
    // (store commit done, checkpoint commit lost) under its engine batch
    // id must not self-match the replayed survivors out of existence,
    // re-drop them from the output, or duplicate them in the index/output
    val batchB = spark.createDataFrame(
      spark.sparkContext.parallelize(fileB.map(d => Row(d._1, d._2, d._3)), 1),
      schema)
    processBatch(batchB, 1L, store)
    val afterOut = StreamingNearDup.survivors(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(afterOut.sorted == got.toSeq.sorted,
      "replaying a committed batch changed the output")
    val idxIds = spark.read.parquet(s"$store/index")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(idxIds.distinct.size == idxIds.size,
      "replaying a committed batch duplicated index rows")
  }
}
