package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named graded queries to files —
  * the plans/r15/<query>_<tag>.txt artifacts the optimization round
  * commits so plan-shape claims are checkable without running Spark.
  *
  *   sbt "runMain graft.FormattedPlanDump <outDir> <tag> q_a q_b ..."
  *
  * Bench's session ([[GraftSession]], 32 shuffle partitions at
  * local[32]), so the dumped shapes are the shapes the bench measures.
  * Queries whose operators memoize cached relations are dumped on the SECOND
  * build (after one full count()) — the steady-state plan the warm
  * bench run executes, which is where the round's plan-shape changes
  * (IMR-leaf consumers) are visible. */
object FormattedPlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // q_funnel_tws warms the batch transformWithState path: the FIRST
    // tws query in a session can race RocksDB's snapshot-upload report
    // against StateStoreCoordinator endpoint creation and fail with
    // CANNOT_LOAD_STATE_STORE
    Seq("q_funnel_tws").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count() catch { case _: Throwable => () }
    }
    names.foreach { q =>
      try {
        val fn = SparkEntry.queries(q)
        fn(spark, sfDir).count() // populate caches/memos: steady-state plan
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${q}_$tag.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"DUMPED $q -> $outDir/${q}_$tag.txt")
      } catch { case e: Throwable => println(s"DUMP-FAILED $q: $e") }
    }
    spark.stop()
  }
}
