package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Concurrent-caller robustness for the operators that write a derived
  * copy of their source once per source version (the partitioned
  * orders copy behind q_scan_partition, the bucketed tables behind
  * q_join_bucketed) and remember it as a `ResultCache` entry keyed by
  * the copy's path or table name plus the source's `planKey`. Both
  * publish via write-to-temp + atomic rename (or a synchronized
  * one-time write), so N racing callers must all see a complete,
  * correct copy — this spec actually races them from a cold cache
  * rather than trusting the comment. A multi-tenant Spark driver
  * (thriftserver, notebook server) IS this situation.
  */
class ConcurrencySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def race[T](n: Int)(f: () => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val gate = new CountDownLatch(1)
    try {
      val futs = (1 to n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = { gate.await(); f() }
        })
      }
      gate.countDown()
      futs.map(_.get(300, TimeUnit.SECONDS))
    } finally { pool.shutdownNow(); () }
  }

  test("q_scan_partition: four concurrent cold callers agree and match the plain scan") {
    // fresh cache root via the graft.part.cache.dir SYSTEM PROPERTY —
    // highest precedence in scanPartition's resolution, so all callers
    // start cold (the memo key holds the copy's path, so an earlier
    // suite's entry does not match) and race the copy/validate/rename
    // path even if the GRAFT_PART_CACHE_DIR env var is set, and no
    // process-global state (tmpdir) is touched for other tests.
    //
    // The property is JVM-GLOBAL: this spec assumes ScalaTest's
    // default sequential suite execution (parallelExecution stays off
    // in build.sbt) — a suite running scanPartition concurrently with
    // this block would see the temporary root. The finally RESTORES
    // the prior value rather than clearing, so an externally-set
    // property survives the test either way.
    val fresh = java.nio.file.Files.createTempDirectory("graft_race_part").toString
    val prev = System.getProperty("graft.part.cache.dir")
    System.setProperty("graft.part.cache.dir", fresh)
    try {
      val counts = race(4)(() =>
        graft.ops.Relational.scanPartition(spark, dir).count())
      assert(counts.distinct.size == 1, s"racing callers disagreed: $counts")
      val expected = graft.ops.Relational.scanPartition(spark, dir).count()
      assert(counts.head == expected && expected > 0)
    } finally {
      if (prev == null) System.clearProperty("graft.part.cache.dir")
      else System.setProperty("graft.part.cache.dir", prev)
      ()
    }
  }

  test("q_join_bucketed: concurrent callers share one bucketed write and agree") {
    val rows = race(4)(() =>
      graft.ops.Relational.joinBucketed(spark, dir).collect().toSeq)
    assert(rows.distinct.size == 1, "racing callers returned different results")
    assert(rows.head.nonEmpty)
  }

  test("ResultCache: racing cold callers all get usable results; a warm caller never recomputes") {
    import org.apache.spark.sql.functions._
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = "test:resultcache:race:" + System.nanoTime()
    def build() = graft.api.ResultCache.getOrCompute[org.apache.spark.sql.DataFrame](
      key, graft.api.ResultCache.isCached) {
      computes.incrementAndGet()
      val df = spark.range(100).select(col("id"), (col("id") % 7).as("m")).cache()
      df.count() // materialize like a real eager-loop operator would
      df
    }
    // cold race: every caller must come back with a correct result —
    // duplicated computes are allowed by the contract (last writer
    // wins), torn/blocked/corrupt results are not
    val raced = race(8)(() => build().agg(sum("id")).head().getLong(0))
    assert(raced.forall(_ == 4950L), s"racing callers disagreed: $raced")
    assert(computes.get() >= 1 && computes.get() <= 8)
    // steady state: the published entry is valid (cached), so a new
    // caller must be served the memo without recomputing
    val after = computes.get()
    assert(build().count() == 100L)
    assert(computes.get() == after, "warm caller recomputed despite a valid memo entry")
  }

  test("clusterPairs memo: identical input replays from the memo in ≤ 4 jobs; clearCache invalidates") {
    // job counter with an explicit listener-bus drain (events are
    // delivered asynchronously; without the drain, counts attribute to
    // the wrong window) — same approach as graft.Bench
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    def drained(): Int = {
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => () }
      var prev = -1; var cur = jobs.get()
      while (cur != prev) { Thread.sleep(20); prev = cur; cur = jobs.get() }
      cur
    }
    // a real parquet source: the memo key of a scan-backed input
    // includes its file listing
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_pairs").toString
    try {
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L))
      edges.toDF("a_id", "b_id").write.mode("overwrite").parquet(tmp)
      val pairs = spark.read.parquet(tmp)
      val cold = graft.api.Dedup.clusterPairs(pairs, "a_id", "b_id").collect().toSeq
      assert(cold.nonEmpty)
      val before = drained()
      val warm = graft.api.Dedup.clusterPairs(pairs, "a_id", "b_id").collect().toSeq
      val warmJobs = drained() - before
      assert(warm == cold, "memoized result differs from the computed one")
      // the plan-keyed memo serves the labels: only the result collect
      // runs — no cache, localCheckpoint or propagation round
      assert(warmJobs <= 1, s"warm clusterPairs ran $warmJobs jobs — memo did not serve")
      // invalidation: dropping the cached labels must force a correct
      // recompute, never a stale or broken replay
      spark.catalog.clearCache()
      val recomputed = graft.api.Dedup.clusterPairs(pairs, "a_id", "b_id").collect().toSeq
      assert(recomputed == cold, "post-clearCache recompute disagrees")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("two concurrent newSession()s: dedup memo + bucketed tables, no cross-session contamination") {
    // clusterPairsRounds' documented concurrency contract is
    // "concurrent callers get their own spark.newSession()" (it toggles
    // the session-global AQE conf around its loop window). This test
    // IS that contract: two sessions, each hammering the memoized
    // dedup loop and the shared bucketed-table join at the same time,
    // with divergent session confs so any cross-session bleed — a conf
    // observed from the wrong session, a memoized handle served across
    // sessions, a torn catalog write — changes an assertion below.
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    assert(graft.api.ResultCache.sessionId(s1) != graft.api.ResultCache.sessionId(s2),
      "newSession()s must have distinct memo identities")
    s1.conf.set("spark.sql.shuffle.partitions", "3")
    s2.conf.set("spark.sql.shuffle.partitions", "11")
    val parentShuffle = spark.conf.get("spark.sql.shuffle.partitions")

    // identical parquet content read from BOTH sessions: the
    // clusterPairs memo keys then differ ONLY by session id, so a
    // session-identity collision would cross-serve handles right here
    val tmp = java.nio.file.Files.createTempDirectory("graft_xsession").toString
    try {
      import spark.implicits._
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
        .toDF("a_id", "b_id").write.mode("overwrite").parquet(tmp)
      val expectLabels = Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L)
      val expectJoin = graft.ops.Relational.joinBucketed(spark, dir).collect().toSeq

      def hammer(s: org.apache.spark.sql.SparkSession): Unit = {
        (1 to 3).foreach { i =>
          val labels = graft.api.Dedup.clusterPairs(s.read.parquet(tmp), "a_id", "b_id")
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(labels == expectLabels, s"iter $i: wrong components: $labels")
          val rows = graft.ops.Relational.joinBucketed(s, dir).collect().toSeq
          assert(rows == expectJoin, s"iter $i: bucketed join disagrees with the parent session's")
        }
      }
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      try {
        val futs = Seq(s1, s2).map { s =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = { gate.await(); hammer(s) }
          })
        }
        gate.countDown()
        futs.foreach(_.get(300, TimeUnit.SECONDS))
      } finally { pool.shutdownNow(); () }

      // no conf bleed: each session keeps its own setting, the parent
      // is untouched, and clusterPairs restored the AQE toggle in BOTH
      // sessions despite the concurrent loop windows
      assert(s1.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s2.conf.get("spark.sql.shuffle.partitions") == "11")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parentShuffle)
      assert(s1.conf.get("spark.sql.adaptive.enabled") == "true",
        "s1's AQE toggle was not restored after the loop window")
      assert(s2.conf.get("spark.sql.adaptive.enabled") == "true",
        "s2's AQE toggle was not restored after the loop window")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }
}
