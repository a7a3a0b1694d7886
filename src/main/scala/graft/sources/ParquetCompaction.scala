package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Crash-safe small-files compaction for append-grown parquet datasets —
  * the one rewrite-then-swap protocol of every store here (VERDICT r10 #4:
  * the streaming curation sinks, the BM25 postings, the IVF cells and the
  * triples store ([[graft.graph.TriplesGraph.compact]]) all grow by one
  * small file per micro-batch/append forever; at lake scale that is the
  * classic small-files death and needs the same maintenance job every
  * table format schedules).
  *
  * Protocol:
  *  1. recover any earlier crash;
  *  2. rewrite the dataset into a sibling `<path>__compacting` temp —
  *     repartitioned BY the partition columns (one task → one file per
  *     partition directory), or to `targetFiles` files when
  *     unpartitioned;
  *  3. drop a READY marker into the temp (underscore-prefixed, invisible
  *     to parquet readers) — this is the commit;
  *  4. delete the live root, rename the temp in.
  *
  * A kill before the marker leaves the live dataset untouched (the temp
  * is garbage, discarded by [[recover]]); after the marker, [[recover]]
  * finishes the swap when the root is missing. Readers racing the
  * delete+rename window can observe a missing directory — run compaction
  * in the maintenance slot between micro-batches, like every
  * non-transactional parquet layout here (a production deployment puts
  * Delta/Iceberg under these sinks and gets OPTIMIZE instead).
  *
  * THE ONE INVARIANT (TriplesGraph enforces it through load()): every
  * reader and writer of a compacted dataset must call
  * [[recover]] before first touch — two exists() probes when nothing
  * crashed. The failure mode it prevents: a compact() killed between
  * root-delete and rename leaves ALL data in the READY temp; a writer
  * that blindly append-creates the missing root makes the state
  * ambiguous, and the next [[recover]] — seeing a live root — discards
  * the temp, silently losing the pre-crash history. All in-repo
  * consumers (the [[AppendLog]] stores, through [[AppendLog.begin]] and
  * [[AppendLog.fold]] on the write side, and AnnOps appendToIvfIndex/
  * ivfTopKFromIndex) recover first; external callers must too.
  *
  * Row-for-row identical contents, so replay/idempotence discipline
  * built on these sinks is unchanged — spec-pinned by
  * StreamingCompactionSpec. */
object ParquetCompaction {

  private val readyFileName = "_graft_compact_ready"

  /** Sibling-directory suffix of the rewrite's temp. */
  private[graft] val compactingSuffix = "__compacting"

  /** Test failpoint: throws at named protocol points when a spec installs
    * a hook; a no-op in production. The crash-consistency specs use it to
    * kill a rewrite (or the triples store's saveDelta, or a streaming
    * sink's append before its marker) mid-protocol and assert recovery
    * lands on a whole state. */
  private[graft] var crashHook: String => Unit = _ => ()

  /** Compact the dataset at `path` in place. `partitionCols` must name
    * the dataset's directory-partition columns (empty for a flat
    * directory). */
  def compact(spark: SparkSession, path: String,
      partitionCols: Seq[String] = Nil, targetFiles: Int = 1): Unit = {
    import org.apache.hadoop.fs.Path
    require(targetFiles > 0, "targetFiles must be positive")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewrite(spark, path) { tmp =>
      require(fs.exists(root), s"nothing to compact at $path")
      val df = spark.read.parquet(path)
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*).parquet(tmp)
      else
        df.repartition(targetFiles).write.parquet(tmp)
    }
  }

  /** The bare rewrite-then-swap protocol: `write` populates the sibling
    * `<path>__compacting` temp (a whole directory tree is fine — the READY
    * marker sits at the temp ROOT, so a store with several parquet
    * sub-datasets swaps atomically as one unit), then the READY-marker
    * commit, root delete, and rename run exactly as [[compact]]'s. A kill
    * inside `write` leaves the live root untouched; [[recover]] finishes
    * or discards as usual. Callers whose `write` produces contents
    * DIFFERENT from the live root (semantic merges — e.g.
    * [[graft.llm.SimGraphStore.compact]]'s delta fold) get the same
    * crash-safety contract: the live root is always either the old whole
    * state or the new whole state. */
  def rewrite(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    recover(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + compactingSuffix)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString)
    val ready = fs.create(new Path(tmp, readyFileName), true)
    ready.close()
    crashHook("compact-ready")
    fs.delete(root, true)
    crashHook("compact-after-delete")
    if (!fs.rename(tmp, root))
      throw new IllegalStateException(s"rename $tmp -> $root failed")
    fs.delete(new Path(root, readyFileName), false)
    spark.catalog.refreshByPath(path)
  }

  /** Bring a dataset back to a whole state after a crashed [[compact]].
    * Idempotent: a READY temp whose root vanished is promoted; any other
    * temp is garbage and discarded. */
  def recover(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + compactingSuffix)
    if (!fs.exists(root)) {
      if (fs.exists(tmp) && fs.exists(new Path(tmp, readyFileName))) {
        if (!fs.rename(tmp, root))
          throw new IllegalStateException(
            s"recovery rename $tmp -> $root failed")
        fs.delete(new Path(root, readyFileName), false)
        spark.catalog.refreshByPath(path)
      }
      return
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Data files under `path` (recursive, parquet part files only) — the
    * small-files metric compaction shrinks. */
  private[graft] def dataFileCount(spark: SparkSession, path: String): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") ||
          f.getPath.getName.startsWith("part-")) n += 1
    }
    n
  }
}
