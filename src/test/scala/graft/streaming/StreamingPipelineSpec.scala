package graft.streaming

import graft.SparkTestBase
import graft.llm.{SampleOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The stateless pipeline ops (PII scrub, deterministic sampling, quality
  * columns) are pure row transforms, so the SAME code runs over a stream —
  * this is the "scrub and sample documents as they land" deployment shape.
  * Each test proves stream == batch on the sf0.001 documents. */
class StreamingPipelineSpec extends SparkTestBase {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def stage(): String = {
    val src = java.nio.file.Files.createTempDirectory("graft-docs").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(src)
    src
  }

  private def scrubAndSample(docs: DataFrame): DataFrame =
    SampleOps.hashStratifiedSample(docs, "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.25)
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("red"),
        TextOps.langId(col("text")).as("lang_guess"))

  test("streaming scrub+sample equals the batch computation") {
    val src = stage()
    val stream = spark.readStream.schema(docSchema).parquet(src)
    val streamed = StreamingIngest.runAvailableNow(
      scrubAndSample(stream), "docs_scrubbed", mode = "append")
    val batch = scrubAndSample(spark.read.parquet(src))
    def canon(df: DataFrame): Seq[String] = df.collect().toSeq
      .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}").sorted
    val s = canon(streamed)
    assert(s.nonEmpty && s == canon(batch))
  }

  test("streaming embedding chunking equals the batch computation") {
    // chunkForEmbedding is map-only (zero Exchange, asserted in
    // TextFeatureSpec), so the identical call runs over a stream — the
    // "chunk documents as they land for the embedder" deployment shape.
    val src = stage()
    val stream = spark.readStream.schema(docSchema).parquet(src)
    val streamed = StreamingIngest.runAvailableNow(
      TextOps.chunkForEmbedding(stream, "doc_id", "text", window = 30,
        stride = 20),
      "docs_chunked", mode = "append")
    val batch = TextOps.chunkForEmbedding(spark.read.parquet(src),
      "doc_id", "text", window = 30, stride = 20)
    def canon(df: DataFrame): Seq[String] = df.collect().toSeq
      .map(r => s"${r.getLong(0)}|${r.getInt(1)}|${r.getString(2)}|${r.getLong(3)}")
      .sorted
    val s = canon(streamed)
    assert(s.nonEmpty && s == canon(batch))
  }
}
