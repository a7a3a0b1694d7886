package graft.sources

import org.apache.spark.sql.SparkSession

/** Tiny flat-JSON sidecar shared by the persisted index layouts (BM25
  * text index and its per-epoch stats, shingle-postings index, triples
  * store, IVF meta). One writer at a time; in the [[AppendLog]] stores the
  * marker written after a sidecar commits it, elsewhere a whole-file
  * rewrite is the commit. Extracted because three structurally identical
  * copies of the create/open + regex-field logic had grown (code-review
  * r11) — a quoting or charset fix must land once, not thrice. */
object MetaSidecar {

  private def fileSystem(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Overwrite `dir/file` with a one-line JSON object. Values are
    * rendered verbatim (callers pass numbers/booleans already
    * JSON-shaped). */
  def write(spark: SparkSession, dir: String, file: String,
      fields: Seq[(String, String)]): Unit = {
    val out = fileSystem(spark, dir)
      .create(new org.apache.hadoop.fs.Path(dir, file), true)
    try out.write(
      fields.map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}").getBytes("UTF-8"))
    finally out.close()
  }

  /** The sidecar's raw text, or None when the file does not exist. */
  def readText(spark: SparkSession, dir: String,
      file: String): Option[String] = {
    val fs = fileSystem(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, file)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Integer field lookup inside a sidecar's text (negatives allowed —
    * BloomHistory's pre-first-batch lastBid is -1). */
  def longField(txt: String, key: String): Option[Long] =
    (s""""$key"\\s*:\\s*(-?\\d+)""").r.findFirstMatchIn(txt)
      .map(_.group(1).toLong)

  /** Integer field that must be present — loud failure names the file. */
  def requireLong(txt: String, dir: String, key: String): Long =
    longField(txt, key).getOrElse(throw new IllegalStateException(
      s"malformed index meta at $dir: missing $key in $txt"))
}
