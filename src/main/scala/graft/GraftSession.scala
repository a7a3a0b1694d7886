package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every harness plans catalog entries in: Bench,
  * Verify, the tools and the test suites. An entry's plan depends on these
  * settings (AQE, the initial shuffle width, how the time-series table's
  * TIMESTAMP(NANOS) column reads), so one factory keeps the correctness
  * run, the bench and the tests on the same plan. They are the benchmark's
  * own (perfbench `Main`), apart from its local-dir, warehouse and
  * listener-queue settings. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // start every shuffle wide and let AQE coalesce: with only
      // shuffle.partitions=cpus, a 100× corpus forces GB-scale partitions
      // that spill (the 100× rehearsal measured q67 4× over linear on
      // exactly this); 256 initial partitions cost nothing at sf0.1
      // (AQE merges them back) and are the cluster-realistic shape.
      // coalescePartitions.parallelismFirst stays at Spark's default
      // (true): false was A/B'd at sf0.1 and lost 8 % in total (STATUS.md)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256"))
      // events.parquet carries TIMESTAMP(NANOS): read it as Long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // ERROR, not WARN: the driver keeps only a bounded tail of stdout, and
    // localCheckpoint-unpersist WARN spam was crowding Bench's per-query
    // summary line out of that window
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Releases every persisted and localCheckpointed RDD. Checkpointed
    * blocks are otherwise freed only when the driver GC notices the
    * DataFrame is unreachable, and across a catalog pass the leaked blocks
    * thrash the block manager (q67 measured 7.7 s → 328 s on pass 3).
    * Entries never share persisted state, so a harness calls this between
    * entries. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
}
