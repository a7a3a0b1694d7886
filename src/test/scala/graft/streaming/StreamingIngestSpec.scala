package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class StreamingIngestSpec extends SparkTestBase {

  test("streaming windowed agg over a file source equals the batch computation") {
    val src = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // stage the sf0.001 events as the "landed" sensor files
    val batchRaw = spark.read.parquet(s"$sf/events.parquet")
    batchRaw.write.mode("overwrite").parquet(src)

    val streamed = StreamingIngest.runAvailableNow(
      StreamingIngest.windowedAgg(
        StreamingIngest.readEvents(spark, src), "1 hour", "30 minutes"),
      "events_hourly")

    val batch = graft.T.events(spark, sf)
      .select(col("event_type").as("id"), col("ts"), col("value"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .select(col("w.start").as("window_start"), col("id"), col("n"),
        col("sum_value"), col("lo"), col("hi"))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq
        .map(r => Seq(r.get(0), r.get(1), r.get(2),
          f"${r.getDouble(3)}%.6f", r.get(4), r.get(5)).mkString("|"))
        .sorted

    val s = canon(streamed)
    val b = canon(batch)
    assert(s.nonEmpty && s == b,
      s"stream rows=${s.size} batch rows=${b.size}")
  }

  test("streaming session windows equal the batch session computation") {
    val src = java.nio.file.Files.createTempDirectory("graft-sess").toString
    spark.read.parquet(s"$sf/events.parquet")
      .write.mode("overwrite").parquet(src)

    val streamed = StreamingIngest.runAvailableNow(
      StreamingIngest.sessionAgg(StreamingIngest.readEvents(spark, src)),
      "events_sessions")

    val batch = graft.T.events(spark, sf)
      .select(col("event_type").as("id"), col("ts"), col("value"))
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("id"), col("n"), col("sum_value"))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq
        .map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3),
          f"${r.getDouble(4)}%.6f").mkString("|"))
        .sorted
    val s = canon(streamed)
    assert(s.nonEmpty && s == canon(batch))
  }

  test("stream-static hybrid join: graph-enriched streaming agg equals batch") {
    val src = java.nio.file.Files.createTempDirectory("graft-hybrid").toString
    spark.read.parquet(s"$sf/events.parquet")
      .write.mode("overwrite").parquet(src)
    val g = graft.sparql.TpchGraph.graph(spark, sf)

    // stream: events → static-graph sensor enrichment → per-sensor windows
    val enriched = StreamingIngest
      .enrichWithSensors(StreamingIngest.readEvents(spark, src), g)
      .select(col("sensor").as("id"), col("ts"), col("value"))
    val streamed = StreamingIngest.runAvailableNow(
      StreamingIngest.windowedAgg(enriched), "hybrid_hourly")

    // batch truth: identical transform over the batch frame
    val batchEvents = graft.T.events(spark, sf)
      .select(col("event_type").as("id"), col("ts"), col("value"))
    val batch = StreamingIngest.enrichWithSensors(batchEvents, g)
      .select(col("sensor").as("id"), col("ts"), col("value"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .select(col("w.start").as("window_start"), col("id"), col("n"),
        col("sum_value"), col("lo"), col("hi"))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq
        .map(r => Seq(r.get(0), r.get(1), r.get(2),
          f"${r.getDouble(3)}%.6f", r.get(4), r.get(5)).mkString("|"))
        .sorted
    val s = canon(streamed)
    assert(s.nonEmpty && s == canon(batch))
    // the graph entity really is in the output (sensor IRIs, not raw ids)
    assert(streamed.collect().forall(_.getString(1).startsWith("urn:graft:sensor:")))
  }

  test("streaming dedup emits exactly one document per fingerprint (stream == batch)") {
    val src = java.nio.file.Files.createTempDirectory("graft-docs").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.mode("overwrite").parquet(src)

    val streamed = StreamingDedup.runAvailableNow(
      StreamingDedup.dedupStream(StreamingDedup.readDocuments(spark, src)),
      "docs_dedup").collect()

    // batch truth: the distinct fingerprint set
    val batchFps = docs
      .select(graft.llm.TextOps.tokenSetFingerprint(col("text")).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    val fpOf = docs
      .select(col("doc_id"), graft.llm.TextOps.tokenSetFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val emittedFps = streamed.map(_.getString(1))
    assert(emittedFps.length == emittedFps.distinct.length, "a fingerprint was emitted twice")
    assert(emittedFps.toSet == batchFps, "stream missed or invented fingerprints")
    // every emitted (doc_id, fp) pair is consistent with the batch fingerprint
    assert(streamed.forall(r => fpOf(r.getLong(0)) == r.getString(1)))
    // and duplicates were actually suppressed (sf0.001 has dup families)
    assert(emittedFps.length < docs.count())
  }

  test("stream-stream interval join equals the batch interval join") {
    val src = java.nio.file.Files.createTempDirectory("graft-ssj").toString
    spark.read.parquet(s"$sf/events.parquet")
      .write.mode("overwrite").parquet(src)

    val streamed = StreamingIngest.runAvailableNow(
      StreamingIngest.intervalJoin(
        StreamingIngest.readEvents(spark, src),
        StreamingIngest.readEvents(spark, src),
        interval = "10 minutes"),
      "events_interval_join", mode = "append")

    // batch truth: the same per-series bounded-interval pairing
    val base = graft.T.events(spark, sf)
      .select(col("event_type").as("id"), col("ts"), col("value"))
    val l = base.select(col("id"), col("ts").as("l_ts"), col("value").as("l_value"))
    val r = base.select(col("id").as("r_id"), col("ts").as("r_ts"),
      col("value").as("r_value"))
    val batch = l.join(r,
      col("id") === col("r_id") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 10 minutes") &&
        col("r_ts") <= col("l_ts"))
      .select(col("id"), col("l_ts"), col("l_value"), col("r_ts"), col("r_value"))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq
        .map(x => Seq(x.get(0), x.get(1), f"${x.getDouble(2)}%.6f",
          x.get(3), f"${x.getDouble(4)}%.6f").mkString("|"))
        .sorted
    val s = canon(streamed)
    val b = canon(batch)
    assert(s.nonEmpty && s == b, s"stream rows=${s.size} batch rows=${b.size}")
  }
}
