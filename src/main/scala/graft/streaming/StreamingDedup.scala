package graft.streaming

import graft.llm.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Streaming exact deduplication for a document firehose (beyond-reference
  * north star, SURVEY §2.8): the streaming counterpart of the batch exact
  * dedup (q44) — same order-insensitive token-set fingerprint, but applied
  * continuously with keyed state, so only the FIRST document of each
  * near-identical family ever leaves the pipeline.
  *
  * Scale design: state is one boolean per distinct fingerprint, sharded by
  * the groupByKey shuffle across executors (RocksDB state store at fleet
  * scale). For an unbounded firehose add a state TTL via
  * GroupStateTimeout.ProcessingTimeTimeout — kept NoTimeout here because
  * dedup-forever is the semantically honest default and the test drains
  * bounded input.
  */
object StreamingDedup {

  final case class DocFp(doc_id: Long, fp: String)

  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(StreamingFold.docSchema).parquet(dir)

  /** First-occurrence-only pass-through: emits a document iff its
    * fingerprint has never been seen in the stream's lifetime. */
  def dedupStream(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[DocFp] = {
    import docs.sparkSession.implicits._
    val withFp = docs.select(
      col(idCol).cast(LongType).as("doc_id"),
      TextOps.tokenSetFingerprint(col(textCol)).as("fp")).as[DocFp]
    withFp
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[DocFp], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1) // first arrival in this batch wins
          })
  }

  /** Drain all currently-available input through the dedup into an
    * in-memory table (test/backfill entry point). */
  def runAvailableNow(out: Dataset[DocFp], name: String): DataFrame = {
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out.sparkSession.table(name)
  }
}
