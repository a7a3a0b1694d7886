package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization with TIME-RANGE SALTING — the documented cure
  * for the per-user window's skew cliff (STATUS.md "Skew stress probe": at
  * a 50% hot key, half the corpus lands in ONE window partition; a real
  * celebrity/bot key does the same at lake scale).
  *
  * The naive spelling partitions a window by user alone, so a user's whole
  * history serializes through one task. Here every event first salts into
  * a coarse time range (`saltRangeUs`), the break/running-sum window
  * partitions by (user, salt) — bounded by events-per-user-per-range, not
  * events-per-user — and sessions are then stitched across salt boundaries
  * with per-(user, salt) BUCKET SUMMARIES (one row per user per range:
  * local session count, first/last timestamp). The stitch logic:
  *
  *  - within a bucket, break flags and 1-based local session ids are the
  *    classic lag + running sum, exact because all of a bucket's events
  *    are in one window partition;
  *  - a bucket's FIRST session continues the previous bucket's LAST
  *    session iff `first_us − prev_last_us ≤ gapUs` (the same half-open
  *    break rule the unsalted window applies — consecutive buckets of one
  *    user can never share a timestamp, so the boundary comparison is
  *    exactly the lag the window would have computed);
  *  - each bucket's global offset = (sessions in all earlier buckets) −
  *    (boundary merges up to and including this bucket), both running
  *    sums over the per-user BUCKET frame — at most
  *    time-span/saltRangeUs rows per user, so that window is metadata-
  *    sized and chains of merges (a session spanning many buckets)
  *    resolve through the cumulative count.
  *
  * global sess = local sess + offset reproduces the unsalted numbering
  * BIT-IDENTICALLY (spec-pinned against the plain window on random data),
  * while the biggest window partition shrinks from |user's history| to
  * |user's history ∩ one salt range|.
  */
object Sessionize {

  /** Assign a 1-based per-user session id (column `sess`) to every row.
    *
    * @param usCol   microsecond epoch column (Long)
    * @param tieCol  unique-per-user tiebreak column for equal timestamps
    * @param gapUs   max intra-session gap; a larger gap starts a session
    * @param saltRangeUs  coarse salting range; must be ≥ gapUs (a range
    *                     smaller than the gap still stitches correctly but
    *                     buys nothing) */
  def assign(df: DataFrame, userCol: String, usCol: String, tieCol: String,
      gapUs: Long, saltRangeUs: Long): DataFrame = {
    require(gapUs > 0 && saltRangeUs >= gapUs,
      "gapUs must be positive and saltRangeUs >= gapUs")
    val user = col(userCol)
    val us = col(usCol)
    val wLoc = Window.partitionBy(user, col("__salt")).orderBy(us, col(tieCol))
    val wLocRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = df
      .withColumn("__salt", floor(us / saltRangeUs))
      .withColumn("__brk",
        when(us - lag(us, 1).over(wLoc) > gapUs ||
          lag(us, 1).over(wLoc).isNull, 1L).otherwise(0L))
      .withColumn("__sloc", sum(col("__brk")).over(wLocRun))

    // one row per (user, salt): the metadata-sized stitch frame
    val wB = Window.partitionBy(user).orderBy(col("__salt"))
    val wBRun = wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = local.groupBy(user, col("__salt"))
      .agg(max(col("__sloc")).as("__nsess"),
        min(us).as("__first"), max(us).as("__last"))
      .withColumn("__merge",
        when(col("__first") - lag(col("__last"), 1).over(wB) <= gapUs, 1L)
          .otherwise(0L))
      .withColumn("__offset",
        (sum(col("__nsess")).over(wBRun) - col("__nsess")) -
          sum(col("__merge")).over(wBRun))
      .select(user, col("__salt"), col("__offset"))

    local
      .join(offsets, Seq(userCol, "__salt"))
      .withColumn("sess", col("__sloc") + col("__offset"))
      .drop("__salt", "__brk", "__sloc", "__offset")
  }
}
