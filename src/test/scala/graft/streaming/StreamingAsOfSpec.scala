package graft.streaming

import graft.SparkTestBase
import graft.relational.{AsOfJoin, Resample}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stream == batch for the as-of enrichment, on the sensors fixture —
  * mirroring StreamingPipelineSpec's pattern: the same inputs through the
  * streaming operator (file source, Trigger.AvailableNow) and the batch
  * operator must agree row for row. */
class StreamingAsOfSpec extends SparkTestBase {

  private def events(): DataFrame =
    graft.T.events(spark, sf)
      .select(col("event_type").as("id"), col("ts"), col("value"))

  private def stage(df: DataFrame): (String, StructType) = {
    val src = java.nio.file.Files.createTempDirectory("graft-asof").toString
    df.write.mode("overwrite").parquet(src)
    (src, df.schema)
  }

  test("streaming as-of enrichment equals the batch as-of join") {
    val ev = events()
    // reference: a sparse per-series "calibration" series — the latest
    // value at each day boundary the series has data before
    val ref = ev.groupBy(col("id"), date_trunc("day", col("ts")).as("ts"))
      .agg(avg(col("value")).as("cal"))
    val (src, schema) = stage(ev)
    val stream = spark.readStream.schema(schema).parquet(src)
    val streamed = StreamingIngest.runAvailableNow(
      StreamingAsOf.asofEnrich(stream, ref, Seq("id"), "ts"),
      "asof_enriched", mode = "append")
    val batch = AsOfJoin.backward(spark.read.parquet(src), ref, Seq("id"), "ts")
    def canon(df: DataFrame): Seq[String] = df
      .select(col("id"), unix_micros(col("ts")), col("value"),
        unix_micros(col("r_ts")), col("r_cal"))
      .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val s = canon(streamed)
    assert(s.nonEmpty && s == canon(batch))
  }

  test("tied reference rows resolve identically in stream and batch") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l"))
      .toDF("k", "ts", "lv")
    val ref = Seq(
      (1L, ts("2024-01-01 11:00:00"), 2.0, "b"),
      (1L, ts("2024-01-01 11:00:00"), 9.0, "z"),
      (1L, ts("2024-01-01 11:00:00"), 2.0, "a"))
      .toDF("k", "ts", "rv", "tag")
    val (src, schema) = stage(left)
    val stream = spark.readStream.schema(schema).parquet(src)
    val streamed = StreamingIngest.runAvailableNow(
      StreamingAsOf.asofEnrich(stream, ref, Seq("k"), "ts"),
      "asof_ties", mode = "append").collect()
    assert(streamed.length == 1)
    val r = streamed.head
    assert(r.getAs[Double]("r_rv") == 9.0 && r.getAs[String]("r_tag") == "z",
      "payload-wise max — the batch tie rule")
  }

  test("streaming LOCF resample: grid ticks through as-of equal batch locf") {
    val stepMicros = 3600L * 1000 * 1000 // hourly grid
    val ev = events()
    // batch truth: Resample in locf mode (dedups equal-ts obs by MIN)
    val batchLocf = Resample.interpolate(ev, Seq("id"), "ts", "value",
      stepMicros, mode = "locf")
    // the same deduped observations feed the streaming spelling
    val obs = ev.select(col("id"), unix_micros(col("ts")).as("us"), col("value"))
      .groupBy("id", "us").agg(min("value").as("value"))
      .select(col("id"), timestamp_micros(col("us")).as("ts"), col("value"))
    // grid ticks per key, exactly Resample's span rule, staged as a stream
    val grid = ev.groupBy("id")
      .agg(expr(s"(min(unix_micros(ts)) + ${stepMicros - 1}) DIV $stepMicros").as("b0"),
        expr(s"max(unix_micros(ts)) DIV $stepMicros").as("b1"))
      .filter(col("b0") <= col("b1"))
      .select(col("id"), explode(sequence(col("b0"), col("b1"))).as("bkt"))
      .select(col("id"), timestamp_micros(col("bkt") * stepMicros).as("ts"))
    val (src, schema) = stage(grid)
    val stream = spark.readStream.schema(schema).parquet(src)
    val streamed = StreamingIngest.runAvailableNow(
      StreamingAsOf.asofEnrich(stream, obs, Seq("id"), "ts"),
      "locf_grid", mode = "append")
    def canonS(df: DataFrame) = df
      .select(col("id"), unix_micros(col("ts")).as("gus"), col("r_value").as("v"))
      .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    def canonB(df: DataFrame) = df
      .select(col("id"), col("gus"), col("v"))
      .collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val s = canonS(streamed)
    assert(s.nonEmpty && s == canonB(batchLocf))
  }
}
