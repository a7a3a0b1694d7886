package graft

import org.apache.spark.sql.types.{LongType, TimestampType}

/** `T` reads the driver tables with declared schemas instead of inferring
  * them. A declaration that drifted from the data would silently change
  * outputs, so each must equal what Spark infers from the tables; and
  * `T.events` must give one micros TimestampType `ts` whichever physical
  * encoding the file holds. */
class DeclaredSchemaSpec extends SparkTestBase {

  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath
  /** Five rows of sf0.001's events with `ts` as INT64 TIMESTAMP(NANOS),
    * written once with pyarrow. */
  private val nanosDir = new java.io.File(
    getClass.getResource("/events_nanos/events.parquet").toURI).getParent

  T.schemas.keys.toSeq.sorted.foreach { name =>
    test(s"$name: the declared schema equals the inferred one") {
      assert(T.schemas(name) == spark.read.parquet(T.path(sf, name)).schema)
    }
  }

  test("events: NTZ-micros and NANOS files give the same micros ts") {
    def ts(dir: String) = T.events(spark, dir)
    assert(spark.read.parquet(T.path(nanosDir, "events")).schema("ts")
      .dataType == LongType, "the fixture must hold TIMESTAMP(NANOS)")
    assert(ts(sf).schema == ts(nanosDir).schema)
    assert(ts(sf).schema("ts").dataType == TimestampType)
    val fromNanos = ts(nanosDir).orderBy("event_id").collect().toSeq
    val fromMicros = ts(sf).orderBy("event_id").limit(fromNanos.size)
      .collect().toSeq
    assert(fromNanos.size == 5 && fromNanos == fromMicros)
  }
}
