package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The file-source → `foreachBatch` drain every streaming maintainer here
  * runs: each micro-batch goes to a `processBatch` body with the engine's
  * batch id, which the id-disciplined stores use as their commit id (the
  * Structured Streaming exactly-once argument: an idempotent sink keyed by
  * the batch id, [[graft.sources.AppendLog]]). */
object StreamingFold {

  /** documents.parquet schema for the file-source streams. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** Drain the parquet files currently available in `srcDir`
    * (Trigger.AvailableNow, at most `maxFilesPerTrigger` files per
    * micro-batch) through `body`, resuming from `checkpointDir`. Returns
    * when the drain ends; a failing `body` stops the query and its cause
    * surfaces from `awaitTermination` as a StreamingQueryException. */
  def drain(spark: SparkSession, schema: StructType, srcDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int)(
      body: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .start()
      .awaitTermination()
}
