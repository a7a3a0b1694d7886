package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch,
  TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One Spark job a probed body fired: the call site Spark names its result
  * stage by (e.g. `isEmpty at SparqlExecutor.scala:75`), its stage count
  * and the bytes its stages wrote. */
final case class ProbedJob(callSite: String, stages: Int, bytesWritten: Long)

object JobProbe {

  private val drainGroup = "job-probe-drain"

  /** Every job `body` fires, in start order. A listener records job starts
    * and stage outputs; after `body`, a marker job in its own group drains
    * the listener bus — events arrive asynchronously but in order, so once
    * the marker's start is seen every event of `body`'s jobs has been too. */
  def apply(spark: SparkSession)(body: => Any): Seq[ProbedJob] = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    val written = new ConcurrentHashMap[Int, Long]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == drainGroup))
          drained.countDown()
        else {
          val stages = js.stageInfos.sortBy(_.stageId)
          started.add((stages.last.name, stages.map(_.stageId)))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        written.put(e.stageInfo.stageId, Option(e.stageInfo.taskMetrics)
          .map(_.outputMetrics.bytesWritten).getOrElse(0L))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(drainGroup, "listener drain marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
    } finally sc.removeSparkListener(listener)
    started.asScala.toSeq.map { case (site, stages) =>
      ProbedJob(site, stages.size, stages.map(written.getOrDefault(_, 0L)).sum)
    }
  }
}
