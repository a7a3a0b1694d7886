package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The file scans of a physical plan, found by plan node rather than by
  * plan text: Spark prints a scan's location cut to
  * `spark.sql.maxMetadataStringLength` characters, so a path looked up in
  * `executedPlan.toString` vanishes once it is long enough. */
object PlanScans extends AdaptiveSparkPlanHelper {

  /** Every file scan of `plan`, subqueries and adaptive stages included. */
  def all(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }

  /** The scans with a root path containing one of `fragments`. */
  def under(plan: SparkPlan, fragments: String*): Seq[FileSourceScanExec] =
    all(plan).filter(_.relation.location.rootPaths
      .exists(p => fragments.exists(p.toUri.getPath.contains)))
}
