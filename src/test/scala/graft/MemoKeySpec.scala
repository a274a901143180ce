package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row}
import org.apache.spark.sql.functions._

import graft.api.ResultCache

/** The one memo key ([[ResultCache.planKey]]) and the contracts every
  * `ResultCache` site rests on:
  *   - the key of a memoized (cached-leaf) input is the same before and
  *     after its cache materializes and across a `clearCache()`
  *     rebuild, so a warm repeat hits the outer memo;
  *   - the key follows the source files, so after an in-place refresh
  *     plus `clearCache()` no memo serves a pre-refresh answer;
  *   - a warm repeat of the memoized dedup queries runs only the jobs
  *     of its final read.
  */
class MemoKeySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def withTempDir[T](prefix: String)(f: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(tmp.getPath) finally { FileUtils.deleteDirectory(tmp); () }
  }

  /** An aggregate over `path`, cached and handed out as its IMR leaf —
    * the shape every memoized relation takes. The aggregate has an
    * exchange, so the cached plan is an AdaptiveSparkPlan whose
    * rendering changes when the cache materializes. */
  private def memoizedLeaf(path: String): DataFrame =
    GraftExpressionBridge.cachedLeaf(
      spark.read.parquet(path).groupBy(col("k")).agg(sum(col("v")).as("s")).cache())

  private def consumer(leaf: DataFrame): DataFrame = leaf.filter(col("s") > 0)

  test("planKey of a cached leaf: stable across materialization and rebuild") {
    import spark.implicits._
    withTempDir("graft_key_leaf") { tmp =>
      val path = s"$tmp/t"
      (1L to 50L).map(i => (i % 7, i)).toDF("k", "v").write.parquet(path)
      spark.catalog.clearCache()
      val leaf = memoizedLeaf(path)
      val lazyKey = ResultCache.planKey(consumer(leaf))
      leaf.count()
      assert(ResultCache.planKey(consumer(leaf)) == lazyKey,
        "the key changed when the leaf's cache materialized")
      spark.catalog.clearCache()
      val rebuilt = memoizedLeaf(path)
      assert(ResultCache.planKey(consumer(rebuilt)) == lazyKey,
        "the key changed across a clearCache() rebuild")
      rebuilt.count()
      assert(ResultCache.planKey(consumer(rebuilt)) == lazyKey)
      spark.catalog.clearCache()
    }
  }

  test("planKey follows the source files: same listing same key, rewrite new key") {
    import spark.implicits._
    withTempDir("graft_key_files") { tmp =>
      val path = s"$tmp/t"
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("k", "v").write.parquet(path)
      def fresh() = spark.read.parquet(path)
      val k1 = ResultCache.planKey(fresh())
      assert(ResultCache.planKey(fresh()) == k1, "unchanged files must key identically")
      spark.catalog.clearCache()
      val leafKey = ResultCache.planKey(consumer(memoizedLeaf(path)))
      // rewrite in place with different content: file set, sizes and
      // mtimes change, so a fresh read (and anything cached over it)
      // must key differently
      Seq((1L, 2L), (2L, 3L), (3L, 99L)).toDF("k", "v")
        .write.mode("overwrite").parquet(path)
      assert(ResultCache.planKey(fresh()) != k1, "a rewrite must change the key")
      spark.catalog.clearCache()
      assert(ResultCache.planKey(consumer(memoizedLeaf(path))) != leafKey,
        "a leaf cached over rewritten files must change the key")
      spark.catalog.clearCache()
    }
  }

  test("planKey differs for different inputs") {
    import spark.implicits._
    withTempDir("graft_key_inputs") { tmp =>
      val rows = Seq((1L, 2L), (2L, 3L))
      rows.toDF("k", "v").write.parquet(s"$tmp/a")
      rows.toDF("k", "v").write.parquet(s"$tmp/b")
      val a = spark.read.parquet(s"$tmp/a")
      val keys = Seq(
        a,
        spark.read.parquet(s"$tmp/b"), // same content, other files
        a.filter(col("k") > 1),
        a.filter(col("k") > 2),
        a.select(col("v"), col("k")),
        rows.toDF("k", "v"),
        Seq((1L, 2L), (2L, 4L)).toDF("k", "v")
      ).map(ResultCache.planKey)
      assert(keys.distinct.size == keys.size, s"colliding keys: $keys")
    }
  }

  test("planKey hashes every projected column, past maxToStringFields") {
    val n = 30
    assert(n > spark.conf.get("spark.sql.debug.maxToStringFields", "25").toInt)
    def wide(diffAt: Int) = spark.range(1).select((0 until n).map { i =>
      (col("id") + (if (i == diffAt) 100 + i else i)).as(s"c$i")
    }: _*)
    val (ka, kb) = (ResultCache.planKey(wide(-1)), ResultCache.planKey(wide(n - 3)))
    assert(ka != kb)
    // the tree-string discriminator alone must tell them apart — a
    // rendering capped at 25 fields would print both plans identically
    def treeHash(k: String) = k.split(":")(2)
    assert(treeHash(ka) != treeHash(kb), s"tree hash ignores column ${n - 3}: $ka vs $kb")
  }

  /** Refresh contract (README "Session caching"): overwrite the
    * documents in place, `clearCache()`, and the next call must answer
    * exactly what a session with an empty memo answers. */
  private def refreshCase(query: String): Unit =
    test(s"refresh: $query after an in-place rewrite and clearCache") {
      import spark.implicits._
      withTempDir("graft_refresh") { tmp =>
        val docsPath = s"$tmp/documents.parquet"
        val src = Tables.documents(spark, dir)
        src.write.parquet(docsPath)
        def run(): Seq[Row] =
          SparkEntry.queries(query)(spark, tmp).collect().toSeq.sortBy(_.toString)
        spark.catalog.clearCache()
        val before = run()
        // the refreshed corpus: a third of the docs gone, two planted
        // docs sharing a long span of words no other doc uses
        val planted = (1 to 40).map(i => s"zq${i % 9}x").mkString(" ")
        val refreshed = src.filter(col("doc_id") % 3 =!= 0).union(Seq(
          (900001L, planted, "en", "planted", planted.length.toLong),
          (900002L, s"intro $planted outro", "en", "planted", planted.length + 12L)
        ).toDF(src.columns: _*))
        refreshed.write.parquet(s"$tmp/staged")
        FileUtils.deleteDirectory(new File(docsPath))
        assert(new File(s"$tmp/staged").renameTo(new File(docsPath)))
        spark.catalog.clearCache()
        val afterRefresh = run()
        ResultCache.clear()
        spark.catalog.clearCache()
        val fresh = run()
        assert(fresh != before, s"$query: the refresh did not change the answer")
        assert(afterRefresh == fresh,
          s"$query served a pre-refresh memo: ${afterRefresh.take(3)} vs fresh ${fresh.take(3)}")
        spark.catalog.clearCache()
      }
    }

  Seq("q_text_bpe_train", "q_text_longest_dup_span", "q_text_bigram_ll", "q_text_pmi")
    .foreach(refreshCase)

  /** Jobs of `f` as Bench counts them: a listener plus an explicit
    * listener-bus drain (events arrive asynchronously). */
  private def jobsOf(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def drained(): Int = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = drained()
      f
      drained() - before
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def warmJobsPin(query: String, maxJobs: Int): Unit =
    test(s"warm repeat: $query runs <= $maxJobs jobs") {
      spark.catalog.clearCache()
      ResultCache.clear()
      val run = SparkEntry.queries(query)
      val coldRows = run(spark, dir).count()
      val warm = jobsOf { assert(run(spark, dir).count() == coldRows) }
      assert(warm <= maxJobs, s"$query warm repeat ran $warm jobs (expected <= $maxJobs)")
      spark.catalog.clearCache()
    }

  warmJobsPin("q_dedup_cluster", 2)
  warmJobsPin("q_dedup_semantic", 2)
  warmJobsPin("q_dedup_keep_best", 4)
}
