package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Leaf-signature extraction for the count-prunability gate
  * (CountPruneSpec): the one definition of "which relation is this
  * leaf". */
private[graft] object PlanLeaves {

  def sigs(plan: LogicalPlan): Seq[String] =
    plan.collectLeaves().map { l => l.nodeName + ":" + (l match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString.take(60)
        }
      case other => other.schema.fieldNames.take(4).mkString(",")
    }) }

  /** Leaves of `df`'s own optimized plan that do NOT survive its
    * count() plan — multiset-compared, so a leaf appearing twice in
    * the query but once under count is reported. */
  def prunedUnderCount(df: DataFrame): Seq[String] = {
    val qLeaves = sigs(df.queryExecution.optimizedPlan)
    val cLeaves = sigs(df.groupBy().count().queryExecution.optimizedPlan)
    qLeaves.groupBy(identity).flatMap { case (k, v) =>
      val c = cLeaves.count(_ == k)
      if (c < v.size) Seq(s"$k (x${v.size} -> x$c)") else Nil
    }.toSeq
  }
}
