package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Per-JOB wall-time attribution inside one catalog entry — the
  * measure-first tool for the composite lifecycle entries (q144/q147/
  * q152/q156/q157) whose cost is spread over dozens of Spark jobs the
  * final frame's explain can't see. A SparkListener records every job's
  * call site + duration while the entry runs (entry fn + noop sink,
  * exactly the bench's timed region), then prints jobs sorted by time
  * with a per-call-site rollup.
  *
  * Run: runMain graft.tools.EntryProfile <sfDir> <entry>[,entry...]
  *        [passes] [planDir]
  *
  * Entries are named as `Catalog.select` reads tokens. With a plan dir,
  * the first pass also writes each entry's `explain("formatted")` to
  * `<planDir>/<entry>.txt`, untimed — the optimization rounds' evidence
  * trail (plans/rNN/). Building an entry's DataFrame runs whatever
  * lifecycle work the entry does before it returns its final frame (store
  * bootstraps, streamed nights), so that file is the SERVE plan.
  */
object EntryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val entries = graft.Catalog.select(args(1).split(","))
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val planDir = args.lift(3)
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)

    final case class Rec(id: Int, site: String, var startNs: Long,
      var durMs: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Rec]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // prefer an explicit description; else the first graft.* frame in
        // the job's last stage's stack-trace details (SQL jobs don't set
        // callSite.short as a local property)
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse {
            js.stageInfos.lastOption.flatMap(_.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("EntryProfile"))
              .map(_.trim.stripPrefix("at ")))
          }
          .getOrElse("?")
        val r = Rec(js.jobId, site, System.nanoTime(), -1L)
        jobs.put(js.jobId, r)
        order.add(r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.durMs = (System.nanoTime() - r.startNs) / 1000000L
      }
    }
    spark.sparkContext.addSparkListener(listener)
    entries.foreach { q =>
      (1 to passes).foreach { p =>
        jobs.clear(); order.clear()
        val t0 = System.nanoTime()
        val df = q.fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        // give in-flight listener events a beat to land
        Thread.sleep(300)
        val snap = order.toArray(Array.empty[Rec]).toSeq.filter(_.durMs >= 0)
        println(f"%n==== ${q.name} pass $p: $total%.2f s, " +
          f"${snap.size} jobs, ${snap.map(_.durMs).sum / 1e3}%.2f s in jobs")
        println("---- top jobs:")
        snap.sortBy(-_.durMs).take(25).foreach(r =>
          println(f"  ${r.durMs / 1e3}%7.2f s  job=${r.id}%-5d ${r.site}"))
        println("---- by call site:")
        snap.groupBy(_.site).map { case (s, rs) =>
          (rs.map(_.durMs).sum, rs.size, s)
        }.toSeq.sortBy(-_._1).take(30).foreach { case (ms, n, s) =>
          println(f"  ${ms / 1e3}%7.2f s  n=$n%-4d $s")
        }
        planDir.filter(_ => p == 1).foreach { d =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/${q.name}.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        }
        graft.GraftSession.release(spark)
      }
    }
    spark.stop()
  }
}
