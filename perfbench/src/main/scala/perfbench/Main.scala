package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark process for one workload: set-up (Spark session plus the
  * workload's unmeasured warm-up passes), then closed-loop measured passes
  * with one client. Results go to `--out` as one JSON object.
  *
  * The first warm-up pass writes every entry's output as parquet under
  * `--verify-dir`, with the oracle SQL beside it, for the oracle check that
  * runs after this process ends. A measured pass runs every entry of the
  * workload once, in an order drawn from `--seed`; the next entry starts
  * only after the previous entry's output has been fully written to the
  * `noop` sink. Passes repeat until `--seconds` have elapsed, and at least
  * three times. With
  * `--trace 1`, every second pass is traced (spans plus Spark listeners)
  * and the others run untraced, so the tracing overhead is measured in the
  * same process; the spans go to `--spans`.
  *
  *   Main --workload W --data DIR --seed N --seconds S --trace 0|1
  *        --out FILE --verify-dir DIR [--spans FILE]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val dir = opt("data")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val out = opt("out")

    val entries = Workloads.entries(workload)
    val cpus = Runtime.getRuntime.availableProcessors()
    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "256")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      // traced passes post one event per task; a full queue drops events
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)

    val failures = mutable.ArrayBuffer.empty[String]
    def fail(entry: String, phase: String, pass: Int, e: Throwable): Unit = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      failures += Json.obj("entry" -> entry, "phase" -> phase, "pass" -> pass,
        "class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage)
          .take(500),
        "root_class" -> root.getClass.getName,
        "root_message" -> String.valueOf(root.getMessage).take(500))
    }
    // release localCheckpoint and cache blocks between entries, as Bench
    // does: entries never share persisted state
    def release(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    /** Runs one entry, writing its output to `sink`; returns its wall time
      * in ms, or None if it threw. */
    def runEntry(e: Entry, phase: String, pass: Int,
        sink: org.apache.spark.sql.DataFrame => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try {
        tracer.entry(e.name) {
          val df = e.build(spark, dir, tracer)
          tracer.span("execution")(sink(df))
        }
        true
      } catch { case t: Throwable => fail(e.name, phase, pass, t); false }
      val ms = (System.nanoTime() - t0) / 1e6
      release()
      if (ok) Some(ms) else None
    }
    val noop = (df: org.apache.spark.sql.DataFrame) =>
      df.write.format("noop").mode("overwrite").save()
    // warm-up: the first pass writes the outputs the oracle check reads
    // (micros timestamps, as the catalog's Verify writes them); the others
    // let the JIT settle before anything is measured
    val vdir = opt("verify-dir")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    entries.foreach(e => runEntry(e, "warmup", -1,
      _.write.mode("overwrite").parquet(s"$vdir/${e.name}")))
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$vdir/oracle_sql.json"),
      Json.value(entries.flatMap(e => e.oracle.map(e.name -> _)).toMap))
    (2 to Workloads.warmupPasses(workload)).foreach { w =>
      entries.foreach(e => runEntry(e, "warmup", -w, noop))
    }
    val setupEnd = System.currentTimeMillis() / 1000.0

    val passes = mutable.ArrayBuffer.empty[String]
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least three passes: the median then sets aside a first pass that
    // is still getting faster, and a traced run has untraced passes on
    // both sides of a traced one, so its overhead ratio is not skewed
    while (elapsed < seconds || pass < 3) {
      val order = rng.shuffle(entries)
      val traced = trace && pass % 2 == 1
      if (traced) tracer.start(pass)
      val p0 = System.nanoTime()
      val times = order.map(e => e.name -> runEntry(e, "measure", pass, noop))
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) tracer.stop()
      passes += Json.obj("pass" -> pass, "traced" -> traced,
        "wall_s" -> wall, "order" -> order.map(_.name),
        "entry_ms" -> times.collect { case (n, Some(ms)) => n -> ms }.toMap)
      pass += 1
    }
    val rssPeakKb = vmHwmKb()
    opt.get("spans").filter(_ => trace).foreach(tracer.write)

    val sc = spark.sparkContext
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "entries" -> entries.map(_.name),
      "warmup_runs" -> entries.size * Workloads.warmupPasses(workload),
      "setup_end_epoch_s" -> setupEnd,
      "rss_peak_mb" -> rssPeakKb / 1024.0,
      "env" -> Map("nproc" -> cpus, "task_slots" -> sc.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "data_dir" -> dir, "spark" -> sc.version,
        "java" -> sys.props("java.version")),
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
      "failures" -> Json.Raw(failures.mkString("[", ",", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), result)
    spark.stop()
  }

  /** Peak resident set size of this process, from /proc (0 if absent). */
  private def vmHwmKb(): Long = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0L
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
    }
  }
}
