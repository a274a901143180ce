package graft

import java.io.File

import scala.jdk.CollectionConverters._

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

  /** Refresh contract for the queries that read a DERIVED COPY of their
    * source (partitioned orders, CSV customer, JSONL part, bucketed
    * orders/lineitem): rewrite the sources in place, `clearCache()`,
    * and the next call must answer what a plain read of the refreshed
    * parquet answers — the oracle's aggregate, run by Spark over the
    * tables themselves, with no copy in between. A fresh copy root
    * (the `graft.part.cache.dir` property, restored afterwards as
    * ConcurrencySpec does) keeps other suites' copies out of it. */
  private def derivedRefreshCase(query: String): Unit =
    test(s"refresh: $query serves the refreshed sources, not its pre-refresh derived copy") {
      withTempDir("graft_refresh_copy") { tmp =>
        val copyRoot = s"$tmp/copies"
        val prev = System.getProperty("graft.part.cache.dir")
        System.setProperty("graft.part.cache.dir", copyRoot)
        val tables = Seq(
          "customer" -> "c_custkey", "part" -> "p_partkey",
          "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
        def read(t: String) = spark.read.parquet(s"$tmp/$t.parquet")
        def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
        def run(): Seq[Row] = sorted(SparkEntry.queries(query)(spark, tmp))
        try {
          tables.foreach { case (t, _) =>
            spark.read.parquet(s"$dir/$t.parquet").write.parquet(s"$tmp/$t.parquet")
          }
          spark.catalog.clearCache()
          val before = run()
          // the refresh: every table rewritten in place without every
          // third key
          tables.foreach { case (t, key) =>
            read(t).filter(col(key) % 3 =!= 0).write.parquet(s"$tmp/staged_$t")
            FileUtils.deleteDirectory(new File(s"$tmp/$t.parquet"))
            assert(new File(s"$tmp/staged_$t").renameTo(new File(s"$tmp/$t.parquet")))
          }
          spark.catalog.clearCache()
          val after = run()
          tables.foreach { case (t, _) => read(t).createOrReplaceTempView(t) }
          val plain = try sorted(spark.sql(Oracle.sql(query)))
            finally tables.foreach { case (t, _) => spark.catalog.dropTempView(t) }
          // plain booleans: a failing `==` inside assert prints both
          // whole answers
          val (changed, matches) = (after != before, after == plain)
          assert(changed, s"$query: the refresh did not change the answer")
          assert(matches,
            s"$query served a pre-refresh copy: ${after.take(3)} vs plain read ${plain.take(3)}")
        } finally {
          if (prev == null) System.clearProperty("graft.part.cache.dir")
          else System.setProperty("graft.part.cache.dir", prev)
          // the bucketed copies are catalog tables named after the dir
          val tag = tmp.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
          spark.catalog.listTables().collect().map(_.name).filter(_.contains(tag))
            .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
          spark.catalog.clearCache()
        }
      }
    }

  Seq("q_scan_partition", "q_join_dpp", "q_scan_csv", "q_scan_jsonl", "q_join_bucketed")
    .foreach(derivedRefreshCase)

  test("no file under src/main but ResultCache keeps a mutable collection at object level") {
    // a JVM-lifetime map or set beside the memo outlives a refresh: it
    // is keyed by something other than planKey (a path string, a table
    // name), so it answers for files that have since changed
    val holder = """ConcurrentHashMap|newKeySet|TrieMap|\bmutable\.|java\.util\.[A-Za-z]*(Map|Set|List)\b""".r
    val member = """^((private|protected)(\[\w+\])?\s+|final\s+|lazy\s+|@volatile\s+)*(val|var)\s""".r
    val owner = """^((private|protected)(\[\w+\])?\s+|case\s+|final\s+)*(object|class|trait|def|val|var)\b""".r
    def indent(l: String) = l.takeWhile(_ == ' ').length
    def code(l: String) = { val t = l.trim; t.nonEmpty && !t.startsWith("*") && !t.startsWith("/") }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "ResultCache.scala"))
    val found = files.filterNot(_.getFileName.toString == "ResultCache.scala").flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter(i => code(lines(i)) && member.findFirstIn(lines(i).trim).isDefined)
        .filter { i =>
          // the declaration plus its deeper-indented continuation lines
          val decl = lines(i) +: lines.drop(i + 1).takeWhile(indent(_) > indent(lines(i)))
          // the nearest enclosing definition is an object
          val encl = lines.take(i).reverse
            .find(l => code(l) && indent(l) < indent(lines(i)))
          holder.findFirstIn(decl.mkString("\n")).isDefined &&
            encl.flatMap(l => owner.findFirstMatchIn(l.trim)).exists(_.group(4) == "object")
        }
        .map(i => s"$p:${i + 1}: ${lines(i).trim}")
    }
    assert(found.isEmpty, s"object-level mutable state outside ResultCache:\n${found.mkString("\n")}")
  }

  test("no file under src/main but ResultCache calls sessionId or planKey") {
    // the key rule (tag, session or artifact, parameters, planKey of the
    // input) lives in ResultCache alone: a caller that builds its own
    // key can drop a field
    val keyPart = """\b(sessionId|planKey)\b""".r
    def code(l: String) = { val t = l.trim; !t.startsWith("*") && !t.startsWith("/") }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "ResultCache.scala"))
    val found = files.filterNot(_.getFileName.toString == "ResultCache.scala").flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if code(l) && keyPart.findFirstIn(l.split("//")(0)).isDefined =>
          s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(found.isEmpty, s"memo key built outside ResultCache:\n${found.mkString("\n")}")
  }

  /** The entries of one fresh tag, counting computes: each call returns
    * the stored value, which is the number of the compute that made it. */
  private class Counted(kind: String) {
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    private val tag = s"test-$kind-${System.nanoTime()}"
    def memo(input: DataFrame, params: Any*): Int =
      ResultCache.memo[java.lang.Integer](tag, input, params: _*)(_ => true)(
        Int.box(computes.incrementAndGet())).intValue()
    def shared(artifact: String, input: DataFrame): Int =
      ResultCache.shared[java.lang.Integer](tag, artifact, input)(_ => true)(
        Int.box(computes.incrementAndGet())).intValue()
  }

  test("ResultCache.memo and memoLeaf: identical calls compute once; a parameter or session change misses") {
    import spark.implicits._
    withTempDir("graft_memo_calls") { tmp =>
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.parquet(s"$tmp/t")
      val other = spark.newSession()
      def input(s: org.apache.spark.sql.SparkSession) = s.read.parquet(s"$tmp/t")

      val m = new Counted("memo")
      val first = m.memo(input(spark), 1, "a")
      assert(m.memo(input(spark), 1, "a") == first, "an identical call missed")
      assert(m.computes.get == 1)
      assert(m.memo(input(spark), 2, "a") != first, "a changed first parameter hit")
      assert(m.memo(input(spark), 1, "b") != first, "a changed second parameter hit")
      assert(m.memo(input(spark), 1) != first, "a dropped parameter hit")
      assert(m.memo(input(other), 1, "a") != first, "another session hit")
      assert(m.computes.get == 5)

      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val tag = s"test-memoLeaf-${System.nanoTime()}"
      def leaf(df: DataFrame, threshold: Int): DataFrame =
        ResultCache.memoLeaf(tag, df, threshold) {
          builds.incrementAndGet()
          df.filter(col("v") > threshold).cache()
        }
      val l1 = leaf(input(spark), 5)
      assert(l1.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation],
        "memoLeaf did not hand out the cached leaf")
      assert(leaf(input(spark), 5) eq l1, "an identical memoLeaf call missed")
      assert(builds.get == 1)
      assert(leaf(input(spark), 15).count() == 1L, "a changed parameter served the old leaf")
      leaf(input(other), 5)
      assert(builds.get == 3, "another session was served this session's leaf")
      spark.catalog.clearCache()
    }
  }

  test("ResultCache.shared: a second newSession() hits; another artifact misses") {
    import spark.implicits._
    withTempDir("graft_memo_shared") { tmp =>
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.parquet(s"$tmp/t")
      val (s1, s2) = (spark.newSession(), spark.newSession())
      val c = new Counted("shared")
      val first = c.shared(s"$tmp/copy", s1.read.parquet(s"$tmp/t"))
      assert(c.shared(s"$tmp/copy", s2.read.parquet(s"$tmp/t")) == first,
        "a second session missed a shared entry")
      assert(c.computes.get == 1)
      assert(c.shared(s"$tmp/other", s2.read.parquet(s"$tmp/t")) != first,
        "another artifact hit")
      assert(c.computes.get == 2)
    }
  }

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
