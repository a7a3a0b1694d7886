package graft
import java.nio.file.{Files, Paths}

/** Headline benchmark: one warmup pass (JIT + codegen + file-listing caches)
  * then THREE measured passes over every catalog query on
  * SPARK_GRAFT_SF_DIR, materializing through the noop sink so the full plan
  * (sorts/projections included — `.count()` lets Catalyst elide them) is
  * executed. Each query reports its per-pass MEDIAN (min/max kept in
  * bench.json): a single-sample run attributes whatever JIT/GC noise lands
  * on it to the query, which made round-over-round comparisons folklore —
  * identical code measured anywhere in a 44–70 s band. Medians across
  * interleaved passes make "did this round regress?" answerable from the
  * artifact itself. Emits ONE JSON line on stdout and mirrors it to
  * bench.json so the driver can parse it even if sbt pollutes stdout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = GraftSession.local(GraftSession.cpus)

    def runOnce(q: Q): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val out =
        try {
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, true)
        } catch {
          case _: Throwable => ((System.nanoTime() - t0) / 1e9, false)
        }
      GraftSession.release(spark) // untimed
      out
    }

    // CALIBRATION (reworked, VERDICT r12 "What's wrong" #1): the old
    // fixed CPU loop (xorshift, constant iterations) demonstrably failed
    // to index the host band — four same-code runs on 2026-08-15 spanned
    // 93.4–182.9 s on the query subtotal while the loop sat flat at
    // 0.76–0.79, because the band's noise lives in I/O, shuffle, and
    // scheduler stalls, not scalar CPU. The calibration is now a
    // miniature REPRESENTATIVE workload over a fixed sf0.01 slice —
    // parquet scan + filter, a hash join, a shuffle aggregation, and a
    // window, the catalog's own resource mix — so a slow window moves it
    // by (approximately) the factor it moves the query subtotal;
    // validated on an A/A pair in one window (STATUS r13). The scalar
    // loop is kept as calibration_cpu so the two noise axes (CPU band
    // vs I/O+scheduler band) stay separable in the artifact.
    val calDir =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_DIR", "/root/testdata/sf0.01")
    def calibrateOnce(): Double = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val t0 = System.nanoTime()
      val li = spark.read.parquet(s"$calDir/lineitem.parquet")
        .filter(col("l_quantity") > lit(10.0))
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val ord = spark.read.parquet(s"$calDir/orders.parquet")
        .select("o_orderkey", "o_custkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(pmod(col("o_custkey"), lit(16)))
            .orderBy(col("q").desc, col("o_custkey"))))
        .filter(col("rk") <= 100)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // MIN of three back-to-back mini-suite runs per sample (r13 D-window
    // finding): a single ~0.7 s run is hostage to whatever scheduler
    // stall it lands on — one turbulent window measured an in-run spread
    // of [0.63, 0.968] against a real per-entry drift of only 1.13×.
    // Stall noise is strictly additive (the suite is never accidentally
    // faster than the machine), so the min is the bench's own one-sided
    // estimator, at ~1.4 s/pass extra cost.
    def calibrate(): Double =
      Seq(calibrateOnce(), calibrateOnce(), calibrateOnce()).min
    def calibrateCpu(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < 400000000L) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("") // keep the loop live under JIT
      (System.nanoTime() - t0) / 1e9
    }

    // MAINTENANCE entries (store build/fold/compact cycles — q134-q136,
    // q140/q141/q143) run in a SEPARATE TAIL GROUP after the query
    // entries' measured passes (VERDICT r11 #4: interleaving three
    // store-churning entries with 136 query entries plausibly perturbed
    // their neighbors' medians and inflated the r11 headline by ~15%):
    // the query group's medians are store-churn-free, and the two
    // subtotals are reported separately so the headline is comparable
    // across rounds on the common query set.
    val (maintEntries, queryEntries) =
      SparkEntry.catalog.partition(_.maint)
    // Warmup: full pass, unmeasured (calibrations too — first run JITs +
    // warms the calibration slice's file listing and page cache).
    calibrate()
    calibrateCpu()
    queryEntries.foreach(runOnce)
    maintEntries.foreach(runOnce)
    // Measured passes are INTERLEAVED (pass 1 runs every query, then pass 2,
    // ...) so a JIT/GC hiccup lands on one pass of many queries, not three
    // back-to-back samples of one query. A wall-clock budget bounds the
    // total: on a machine having a bad day (shared-box stall episodes have
    // measured 100-200s on single map-only queries) we keep whatever full
    // passes fit rather than risk the harness timing out — at least one
    // measured pass always runs.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "900").toDouble
    val tStart = System.nanoTime()
    def withinBudget: Boolean = (System.nanoTime() - tStart) / 1e9 < budgetSec
    val samples = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Double, Boolean)]]
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calibCpuSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pass = 0
    while (pass < passes && (pass == 0 || withinBudget)) {
      calibSamples += calibrate()
      calibCpuSamples += calibrateCpu()
      samples += queryEntries.map(runOnce)
      pass += 1
    }
    // the maintenance tail: same interleaved-median protocol, after every
    // query sample is already taken. AT LEAST TWO passes regardless of
    // the wall-clock budget (VERDICT r14 #2a: a single-pass maintenance
    // median hands any host stall straight to the per-entry numbers —
    // the r14 artifact printed q152=181.6 s where the same code measured
    // 42.0 s three hours earlier), and a calibration sample BEFORE each
    // pass so a mid-run stall is visible in the artifact itself (#2c)
    val maintSamples = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Double, Boolean)]]
    val maintCalibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minMaintPasses = math.min(2, passes)
    pass = 0
    while (maintEntries.nonEmpty && pass < passes &&
        (pass < minMaintPasses || withinBudget)) {
      maintCalibSamples += calibrate()
      maintSamples += maintEntries.map(runOnce)
      pass += 1
    }
    def medians(entries: Seq[Q],
        group: scala.collection.mutable.ArrayBuffer[Seq[(Double, Boolean)]])
      : Seq[(String, Double, Double, Double, Boolean)] =
      entries.zipWithIndex.map { case (q, i) =>
        val runs = group.map(_(i))
        val secs = runs.map(_._1).sorted
        // LOWER-middle median: shared-box stall episodes are strictly
        // additive noise (a query is never accidentally 100x faster), so for
        // even sample counts the lower middle is the unbiased pick — with 2
        // passes the upper middle would report the max and a single stalled
        // pass would dominate the whole artifact
        val median = secs((secs.size - 1) / 2)
        val ok = runs.forall(_._2)
        (q.name, median, secs.head, secs.last, ok)
      }
    val queryResults = medians(queryEntries, samples)
    val maintResults = medians(maintEntries, maintSamples)
    val results = queryResults ++ maintResults
    val qs = results.map { case (k, med, _, _, _) => "\"" + k + "\":" + f"$med%.3f" }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, _, lo, hi, _) =>
      "\"" + k + "\":[" + f"$lo%.3f" + "," + f"$hi%.3f" + "]"
    }.mkString("{", ",", "}")
    val status = results.map { case (k, _, _, _, ok) => "\"" + k + "\":" + ok }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // sum of per-query minimums: under one-sided shared-box noise (stall
    // episodes only ever ADD time) the fastest sample is the closest
    // estimate of true cost — reported alongside the median total so a
    // noisy window can't masquerade as a regression
    val totalMin = results.map(_._3).sum
    // split subtotals: value_queries is the cross-round headline (the
    // common query set, store-churn-free); value_maint prices the
    // maintenance cycles separately
    val totalQueries = queryResults.map(_._2).sum
    val totalMaint = maintResults.map(_._2).sum
    val nFail = results.count(!_._5)
    // Full detail (per-query ok + min/max spread) goes to bench.json; the
    // stdout line is kept SHORT and printed LAST (after spark.stop())
    // because the driver captures only a bounded tail of sbt stdout — in
    // rounds 1–3 the long line fell off the window and "parsed" came back
    // null.
    val calibSorted = calibSamples.sorted
    val calib = calibSorted((calibSorted.size - 1) / 2)
    val calibSpread =
      "[" + f"${calibSorted.head}%.3f" + "," + f"${calibSorted.last}%.3f" + "]"
    val calibCpuSorted = calibCpuSamples.sorted
    val calibCpu = calibCpuSorted((calibCpuSorted.size - 1) / 2)
    // BLENDED calibration: the geometric mean of the two probe axes.
    // The r13 A/A pair (same code, one window, subtotals 134.3 vs
    // 110.5 s = 1.22×) showed the mini-suite alone OVERSHOOTS the band
    // (ratio 1.47 — it is I/O/scheduler-heavier than the average
    // catalog entry) while the CPU loop alone is blind (1.06); their
    // geometric mean hit 1.25, within 3% of the subtotal ratio.
    //
    // SCOPE OF THE CLAIM (revised, VERDICT r14 #7): the blend tracks
    // WITHIN-SESSION A/A pairs to ±10%; it does NOT make cross-session
    // normalized subtotals comparable. Same-day same-code sessions on
    // 2026-08-16 spanned NORMALIZED 227–336 (1.48×) because the blend's
    // √ under-corrects when degradation is purely parallel-side (scalar
    // calibration flat at ~0.86 while the mini-suite halved — the
    // fleet's noisy-neighbor shape). Cross-round/-session comparisons
    // should use PER-ENTRY RATIOS against the per-pass calibrations
    // recorded below, not the normalized headline; value_queries_norm
    // stays in the artifact as a same-session index only.
    val calibBlend = math.sqrt(calib * calibCpu)
    // calibration-normalized headline: query subtotal in units of the
    // blended calibration (same-session index — see scope note above)
    val totalQueriesNorm = if (calibBlend > 0) totalQueries / calibBlend
      else 0.0
    // CALIBRATION BAND GATE (VERDICT r14 #2b: the r14 artifact was
    // stamped in the day's worst window — blend 0.619 vs a same-day
    // same-code 0.563/0.446 — and shipped as the round's performance
    // record with nothing in the artifact saying so). The bench can't
    // refuse to produce an artifact (the driver invokes it once,
    // unattended), so it LABELS: this run's blend against the best
    // same-sf blend in bench_history.jsonl; past 1.5× the artifact
    // carries calibration_band="degraded" and readers treat per-entry
    // numbers as upper bounds.
    val calibBand: String = {
      val hist = new java.io.File("bench_history.jsonl")
      val best =
        if (!hist.exists()) None
        else {
          val sfRe = ("\"sf\":\"" + java.util.regex.Pattern.quote(sfDir) +
            "\"").r
          val blendRe = "\"calibration_blend\":([0-9.]+)".r
          val lines = scala.io.Source.fromFile(hist, "UTF-8")
          try {
            val blends = lines.getLines()
              .filter(l => sfRe.findFirstIn(l).isDefined)
              .flatMap(l => blendRe.findFirstMatchIn(l)
                .flatMap(_.group(1).toDoubleOption))
              .toSeq
            if (blends.isEmpty) None else Some(blends.min)
          } finally lines.close()
        }
      best match {
        case None => "no-history"
        case Some(b) if b <= 0 => "no-history"
        case Some(b) =>
          val ratio = calibBlend / b
          if (ratio > 1.5) f"degraded:${ratio}%.2fx_vs_best_$b%.3f"
          else f"ok:${ratio}%.2fx_vs_best_$b%.3f"
      }
    }
    def passesJson(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","value_queries":${f"$totalQueries%.3f"},"value_queries_norm":${f"$totalQueriesNorm%.1f"},"value_maint":${f"$totalMaint%.3f"},"value_min":${f"$totalMin%.3f"},"passes":${samples.size},"maint_passes":${maintSamples.size},"calibration":${f"$calib%.3f"},"calibration_cpu":${f"$calibCpu%.3f"},"calibration_blend":${f"$calibBlend%.3f"},"calibration_band":"$calibBand","calibration_spread":$calibSpread,"calibration_passes":${passesJson(calibSamples.toSeq)},"calibration_cpu_passes":${passesJson(calibCpuSamples.toSeq)},"calibration_maint_passes":${passesJson(maintCalibSamples.toSeq)},"queries":$qs,"spread":$spread,"ok":$status,"failed":$nFail,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench.json"), full + "\n")
    // Append-only history (VERDICT r10 "What's wrong" #2): bench.json is
    // overwritten every run and the driver's BENCH_rNN artifact keeps only
    // a bounded stdout tail, so cross-round per-query deltas required log
    // scraping. Each run appends its full structured record here, stamped
    // with the wall-clock time — committed to the repo, diffable across
    // rounds.
    val stamped = s"""{"ts":"${java.time.Instant.now()}",""" + full.tail
    Files.write(Paths.get("bench_history.jsonl"),
      (stamped + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    // TWO stdout lines, printed LAST (after spark.stop()), inside the
    // driver's bounded (~2 KB) stdout tail:
    //  1. a COMPACT per-query map — keys are the catalog qNN numbers
    //    ("134" = q134_…), values integer CENTISECONDS (~9 B/entry; the
    //    2-decimal seconds spelling was ~11 B/entry and still truncated
    //    mid-map in the r14 AND r15 artifacts — see the unit note below).
    //    This makes the driver's BENCH_rNN.json self-contained (VERDICT
    //    r11 #4c): the map rides WHOLE in the captured tail even though
    //    the driver parses only the totals line.
    //  2. the totals line LAST — the one the driver parses; if a future
    //    catalog outgrows the window, the compact line loses its head
    //    first and the totals line still parses.
    // INTEGER CENTISECONDS ("unit":"cs", r16 — VERDICT r15 #2/#6): the
    // former 2-decimal SECONDS map was arithmetically too long to ever
    // survive — the driver stores (and parses from) only a ~2000-char
    // stdout tail, and seconds-map (~1.7 KB) + totals line (~0.4 KB) +
    // sbt's trailing success line cannot all fit, so r14 AND r15 both
    // shipped the map truncated mid-JSON and PERF per_query came back
    // empty. The cs map measures ~1.43 KB for 159 entries; cs line +
    // totals + success ≈ 1.91 KB fits the window whole, and exactly ONE
    // complete per_query line sits in the tail (printing the seconds
    // line too would leave its truncated torso as broken JSON right
    // above this line). Same 10-ms precision; the full-name 3-decimal
    // SECONDS map still lands in bench.json and bench_history.jsonl
    // every run, and the parsed totals line is unchanged.
    val perQCs = results.map { case (k, med, _, _, _) =>
      "\"" + k.drop(1).takeWhile(_.isDigit) + "\":" +
        math.round(med * 100).toString
    }.mkString("{", ",", "}")
    println(s"""{"metric":"per_query","unit":"cs","q":$perQCs}""")
    // maint_passes rides on the parsed totals line too (ADVICE r12): a
    // single-sample maintenance median is visible in the artifact itself
    // per-pass calibrations + band ride the PARSED totals line (VERDICT
    // r14 #2: the round artifact must carry the window evidence itself)
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","value_queries":${f"$totalQueries%.3f"},"value_queries_norm":${f"$totalQueriesNorm%.1f"},"value_maint":${f"$totalMaint%.3f"},"value_min":${f"$totalMin%.3f"},"passes":${samples.size},"maint_passes":${maintSamples.size},"calibration":${f"$calib%.3f"},"calibration_cpu":${f"$calibCpu%.3f"},"calibration_blend":${f"$calibBlend%.3f"},"calibration_band":"$calibBand","calibration_passes":${passesJson(calibSamples.toSeq)},"calibration_maint_passes":${passesJson(maintCalibSamples.toSeq)},"failed":$nFail,"sf":"$sfDir"}"""
    println(line)
    Console.out.flush()
  }
}
