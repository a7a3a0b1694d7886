package graft.sources

import java.util.concurrent.TimeoutException
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** Aggregates that ride a pass the caller already runs instead of a job of
  * their own: `frame` is the input with the aggregates attached by
  * `Dataset.observe`, and [[row]] is their value once one action has read
  * `frame` (a `localCheckpoint` is the intended carrier). Place that action
  * so that no exchange sits between the observation and its result stage:
  * a retried result task counts once, a recomputed map stage would not.
  *
  * The observation completes through the session's listener bus, so
  * [[row]] waits for it at most `bound`; when it has not arrived by then,
  * `fallback` computes the same aggregates with a job of its own and the
  * miss is logged. `Observation.get`, which waits without a bound, is never
  * called. */
final class Observed private (val frame: DataFrame, observed: Future[Row],
    fallback: () => Row, bound: FiniteDuration) {

  /** The aggregates' values, in the order they were given. */
  lazy val row: Row =
    try Await.result(observed, bound)
    catch {
      case _: TimeoutException =>
        Observed.logger.warn(s"observed metrics did not arrive within " +
          s"$bound; computing them with a job of their own")
        fallback()
    }

  /** The same aggregates read from `observation` with `wait` — the seam for
    * testing an observation that does not arrive. */
  private[graft] def awaiting(observation: Future[Row],
      wait: FiniteDuration): Observed =
    new Observed(frame, observation, fallback, wait)
}

object Observed {

  /** How long [[Observed.row]] waits before it pays the fallback job. The
    * observation normally arrives within tens of milliseconds of the pass
    * that carries it. */
  val bound: FiniteDuration = 5.seconds

  /** `aggs` (named aggregate expressions over `frame`'s columns) attached
    * to `frame`. */
  def apply(frame: DataFrame, aggs: Seq[Column]): Observed = {
    val obs = Observation()
    new Observed(frame.observe(obs, aggs.head, aggs.tail: _*), obs.future,
      () => frame.agg(aggs.head, aggs.tail: _*).collect()(0), bound)
  }

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)
}
