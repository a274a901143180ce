package graft

import graft.api.Observe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** graft.api.Observe — one-pass pipeline metrics (Observation API).
  * The load-bearing claim is the JOB COUNT: stage-level row counts and
  * checksums arrive as a side channel of the single output action, not
  * as extra `count()` jobs that would re-scan a 100 TB upstream once
  * per metric. */
class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("stage metrics ride the single output action — no extra jobs, exact values") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "driver testdata not present")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", size(split($"text", " ")).as("n_tok"))
    val (observedDf, obs) = Observe.observed(base, "pre_filter",
      count(lit(1)).as("rows_in"), sum($"n_tok".cast("long")).as("toks_in"))
    val filtered = observedDf.filter($"n_tok" >= 20)
    val (observedOut, obsOut) = Observe.observed(filtered, "post_filter",
      count(lit(1)).as("rows_out"))

    spark.sparkContext.addSparkListener(listener)
    try {
      val out = observedOut.groupBy($"lang").agg(count(lit(1)).as("n")).collect()
      // listenerBus is private[spark]: reflection, as graft.Bench drains it
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      assert(out.nonEmpty)
      // both observation points drained by the ONE action
      val rowsIn = obs.get("rows_in").asInstanceOf[Long]
      val toksIn = obs.get("toks_in").asInstanceOf[Long]
      val rowsOut = obsOut.get("rows_out").asInstanceOf[Long]
      assert(jobs.get() <= 2,
        s"metrics must ride the output action (1 job, +1 AQE final at most), got ${jobs.get()}")
      // exact-value cross-check against independent computations
      assert(rowsIn === base.count())
      assert(toksIn === base.agg(sum($"n_tok".cast("long"))).head.getLong(0))
      assert(rowsOut === base.filter($"n_tok" >= 20).count())
      assert(rowsOut <= rowsIn)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("observed with zero metrics is a contract error, not a head-of-empty crash") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      graft.api.Observe.observed(df, "empty")
    }
    assert(e.getMessage.contains("at least one metric"), e.getMessage)
  }
}
