package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one SparkContext per forked test
  * JVM): the [[GraftSession]] profile the mains run, at local[4] with 4
  * shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder(GraftSession.profile("4", "4")).getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  spark.sparkContext.setLogLevel("WARN")

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** AQE-aware physical-plan walk: AdaptiveSparkPlanExec and the
    * QueryStageExec wrappers are LEAVES whose real plan hangs off a
    * field, not children — a naive collect misses every node below
    * them. Shared here because the recursion is correctness-critical
    * for plan-shape assertions (TopKSpec, ScaleJoinSpec). */
  def collectExec(plan: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    plan.collect {
      case a: AdaptiveSparkPlanExec => collectExec(a.executedPlan)
      case qs: QueryStageExec => qs +: collectExec(qs.plan)
      case p => Seq(p)
    }.flatten
  }

  /** [[collectExec]] that ALSO descends into cached relations
    * (InMemoryTableScan → relation.cachedPlan): the dedup/ANN operators
    * cache their final and intermediate relations, so their real
    * exchange structure lives INSIDE the InMemoryRelations — a shallow
    * walk over such a query sees only the cache scan and proves
    * nothing. Each cached plan is descended ONCE no matter how many
    * scan sites reference it (a cache computes once; recounting its
    * exchanges per consumer would overstate the work). Use on a cold
    * cache (clearCache first) so the counted plan is the one that
    * actually computes. */
  def collectExecDeep(plan: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: QueryStageExec => qs +: walk(qs.plan)
        case im: InMemoryTableScanExec =>
          if (visited.add(im.relation.cachedPlan)) im +: walk(im.relation.cachedPlan)
          else Seq(im)
        case n => Seq(n)
      }.flatten
    walk(plan)
  }
}
