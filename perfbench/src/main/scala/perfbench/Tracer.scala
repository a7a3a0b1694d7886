package perfbench

import java.util.UUID
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed call into one layer. `run` is shared by every span of one entry
  * run; `parent` is -1 for the entry's root span. Times are nanoTime. */
final case class Span(id: Int, layer: String, parent: Int, run: Int,
    entry: String, pass: Int, start: Long, var end: Long = -1L)

/** Spans around the benchmark's calls into each layer, and the Spark
  * listeners that count the work those calls cause. Off by default: when
  * off, `span` only runs its body. When on, each span sets its own Spark
  * job group, and every job, stage, task, SQL execution, Catalyst phase
  * record and streaming trigger is tagged with the group it ran under, so
  * the counts can be attributed to spans afterwards. Everything stays in
  * memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var on = false
  private var pass = -1
  private var stack: List[Span] = Nil
  private var nextRun = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  /** The main thread's current job group, read by the streaming
    * listener, which Spark calls from the stream's own thread. */
  @volatile private var currentGroup: String = null

  def group(id: Int): String = s"pb-$id"

  /** The root span of one entry run; the spans opened inside it share
    * its run id. */
  def entry[A](name: String)(body: => A): A = {
    nextRun += 1
    open("entry", name, nextRun)(body)
  }

  /** A call into `layer`, as a child of the innermost open span. */
  def span[A](layer: String)(body: => A): A = stack.headOption match {
    case Some(p) => open(layer, p.entry, p.run)(body)
    case None => body
  }

  private def open[A](layer: String, entry: String, run: Int)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, layer, stack.headOption.map(_.id).getOrElse(-1),
        run, entry, pass, System.nanoTime())
      spans += s
      enter(s)
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => enter(p)
          case None => currentGroup = null; sc.clearJobGroup()
        }
      }
    }

  private def enter(s: Span): Unit = {
    currentGroup = group(s.id)
    sc.setJobGroup(currentGroup, s.layer, interruptOnCancel = false)
  }

  // ---- listener records (written on Spark's listener-bus threads)
  private val lines = mutable.ArrayBuffer.empty[String]
  private def rec(fields: (String, Any)*): Unit =
    lines.synchronized { lines += Json.obj(fields: _*) }
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = rec(
      "kind" -> "job_start", "job" -> e.jobId, "time_ms" -> e.time,
      "group" -> groupOf(e.properties),
      "call_site" -> e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.name).orNull,
      "stages" -> e.stageIds)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = rec(
      "kind" -> "job_end", "job" -> e.jobId, "time_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = rec(
      "kind" -> "stage", "stage" -> e.stageInfo.stageId,
      "attempt" -> e.stageInfo.attemptNumber(),
      "group" -> groupOf(e.properties), "name" -> e.stageInfo.name)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        rec("kind" -> "task", "stage" -> e.stageId,
          "attempt" -> e.stageAttemptId,
          "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> m.diskBytesSpilled,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "output_records" -> m.outputMetrics.recordsWritten)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => rec(
        "kind" -> "sql", "execution" -> s.executionId,
        "root" -> s.rootExecutionId.getOrElse(s.executionId),
        "group" -> s.jobGroupId.orNull)
      case s: SparkListenerSQLExecutionEnd => rec(
        "kind" -> "sql_end", "execution" -> s.executionId,
        "query_execution" -> PerfbenchSql.queryExecutionId(s))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = rec(
      "kind" -> "phases", "query_execution" -> qe.id,
      "phases" -> qe.tracker.phases.map { case (k, v) =>
        k -> Seq(v.startTimeMs, v.endTimeMs) })
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    // Spark calls this synchronously while the main thread waits in
    // start(), so currentGroup is the span that started the stream.
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      rec("kind" -> "stream", "run_id" -> e.runId.toString,
        "group" -> currentGroup)
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      rec("kind" -> "trigger", "run_id" -> p.runId.toString,
        "input_rows" -> p.numInputRows,
        "trigger_ms" -> Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start tracing pass `p`: register the listeners. */
  def start(p: Int): Unit = {
    pass = p
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop tracing: wait until every event of the pass is delivered, then
    * remove the listeners so untraced passes run without them. */
  def stop(): Unit = {
    on = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Write spans and listener records as JSON lines. The first line maps
    * the spans' nanoTime clock onto the listener records' epoch millis. */
  def write(path: String): Unit = {
    val clock = Json.obj("kind" -> "clock",
      "epoch_ns_minus_nano" -> (System.currentTimeMillis() * 1000000L -
        System.nanoTime()))
    val spanLines = spans.map(s => Json.obj("kind" -> "span", "id" -> s.id,
      "layer" -> s.layer, "parent" -> s.parent, "run" -> s.run,
      "entry" -> s.entry, "pass" -> s.pass, "start_ns" -> s.start,
      "end_ns" -> s.end, "group" -> group(s.id)))
    val all = (clock +: spanLines.toSeq) ++ lines.synchronized(lines.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      all.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the benchmark's records. */
object Json {
  /** Text that is already JSON. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case u: UUID => str(u.toString)
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
