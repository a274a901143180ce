package graft

import org.apache.spark.sql.functions._

/** Guards against the round-5 failure mode: the driver swapped the
  * testdata's events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS)
  * between rounds and the hardcoded ns reader silently sheared every
  * timestamp 1000× into Jan 1970 — invisible to `sbt test` because all
  * suites used inline fixtures. Two layers of defense:
  *
  *   1. a dual-format fixture: the SAME logical events rows written
  *      both as a µs TIMESTAMP column and as a ns INT64 column must
  *      read back identical through Tables.events (the sniffing
  *      reader's two branches);
  *   2. a smoke pass over the REAL driver testdata (sf0.001): every
  *      table opens, has rows, matches its pinned schema, and events
  *      timestamps land in a sane decade — so the next environment
  *      drift fails THIS suite instead of shipping red oracle rows.
  */
class TablesFormatSpec extends SparkSpec {

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft-tables").toFile
    // deleteOnExit only removes EMPTY dirs; these get parquet written
    // into them, so clean recursively at JVM exit
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(d)
    }))
    d
  }

  test("events reader: µs TIMESTAMP and ns INT64 fixtures read back identical") {
    import spark.implicits._
    // 2024-01-15 00:00:00 UTC in epoch micros, plus odd µs offsets so
    // sub-millisecond precision is exercised (DIV 1000 on µs data — the
    // round-5 bug — would destroy these values by 3 decimal digits)
    val baseUs = 1705276800000000L
    val rows = (0 until 50).map { i =>
      (i.toLong, baseUs + i * 7919L * 1000003L, i.toLong % 7,
        Seq("view", "click", "purchase")(i % 3), i * 1.5, s"""{"k": $i}""")
    }

    val usDir = tmpDir()
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")

    val nsDir = tmpDir()
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", ($"us" * 1000L).as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")

    // the current driver testdata's shape: µs TIMESTAMP_NTZ
    // (isAdjustedToUTC=false). TIMESTAMP→NTZ cast relabels the same
    // digits under the UTC test session.
    val ntzDir = tmpDir()
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id",
        timestamp_micros($"us").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    val fromUs = Tables.events(spark, usDir.toString)
    val fromNs = Tables.events(spark, nsDir.toString)
    val fromNtz = Tables.events(spark, ntzDir.toString)
    assert(fromNtz.schema.map(f => (f.name, f.dataType)) ==
      Schemas.events.map(f => (f.name, f.dataType)),
      "ntz branch must yield the pinned logical schema")
    assert(fromUs.schema.map(f => (f.name, f.dataType)) ==
      Schemas.events.map(f => (f.name, f.dataType)),
      "µs branch must yield the pinned logical schema")
    assert(fromNs.schema.map(f => (f.name, f.dataType)) ==
      Schemas.events.map(f => (f.name, f.dataType)),
      "ns branch must yield the pinned logical schema")

    val a = fromUs.orderBy("event_id").collect().toSeq
    val b = fromNs.orderBy("event_id").collect().toSeq
    val c = fromNtz.orderBy("event_id").collect().toSeq
    assert(a == b, "µs-TIMESTAMP and ns-INT64 must decode to identical rows")
    assert(a == c, "µs-TIMESTAMP and µs-NTZ must decode to identical rows")
    // and the values are the REAL ones, not a 1970 collapse
    val years = fromUs.select(year($"ts")).distinct().as[Int].collect()
    assert(years.forall(y => y >= 2024 && y <= 2025), s"got years ${years.toSeq}")
  }

  test("events reader: in-place regeneration with a different unit re-sniffs (no stale memo)") {
    import spark.implicits._
    val d = tmpDir()
    val baseUs = 1705276800000000L
    def rows = Seq((1L, baseUs, 5L, "view", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    // generation 1: ns INT64
    rows.select($"event_id", ($"us" * 1000L).as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val first = Tables.events(spark, d.toString).select($"ts").head().getTimestamp(0)
    // regenerate IN PLACE as µs NTZ, with a different value; the
    // memoized sniff must invalidate (dir mtime changes on commit) or
    // the old ns branch would shear the new µs data 1000x
    val dir = new java.io.File(s"$d/events.parquet")
    val before = dir.lastModified
    rows.select($"event_id",
        timestamp_micros($"us" + 86400000000L).cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    if (dir.lastModified == before) dir.setLastModified(before + 1000) // FS mtime granularity guard
    val second = Tables.events(spark, d.toString).select($"ts").head().getTimestamp(0)
    assert(second.getTime == first.getTime + 86400000L,
      s"stale unit memo: expected first+1d, got $second vs $first")
  }

  test("events reader: rejects an unsupported ts physical type loudly") {
    import spark.implicits._
    val d = tmpDir()
    Seq((1L, "not-a-time", 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException] { Tables.events(spark, d.toString) }
    assert(e.getMessage.contains("unsupported physical type"))
  }

  test("events reader: building the reader on a fresh table version starts no job") {
    import spark.implicits._
    val d = tmpDir()
    Seq((1L, 1705276800000000L, 5L, "view", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // listenerBus is private[spark]: drained by reflection, as graft.Bench does
    def drain(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      val ev = Tables.events(spark, d.toString)
      drain()
      assert(ev.schema.map(f => (f.name, f.dataType)) ==
        Schemas.events.map(f => (f.name, f.dataType)))
      assert(jobs.get == 0, s"the ts-type sniff started ${jobs.get} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- real-testdata smoke (VERDICT r5 task 4) ----

  private val realSf = "/root/testdata/sf0.001"

  private def smoke(name: String, df: => org.apache.spark.sql.DataFrame,
      pinned: org.apache.spark.sql.types.StructType): Unit =
    test(s"testdata smoke: $name opens, has rows, matches pinned schema") {
      assume(new java.io.File(s"$realSf/$name.parquet").exists(),
        s"driver testdata not present at $realSf")
      assert(df.schema.map(f => (f.name, f.dataType)) ==
        pinned.map(f => (f.name, f.dataType)),
        s"$name schema drifted from Schemas.$name — update the reader")
      assert(df.count() > 0, s"$name is empty")
    }

  smoke("region", Tables.region(spark, realSf), Schemas.region)
  smoke("nation", Tables.nation(spark, realSf), Schemas.nation)
  smoke("supplier", Tables.supplier(spark, realSf), Schemas.supplier)
  smoke("customer", Tables.customer(spark, realSf), Schemas.customer)
  smoke("part", Tables.part(spark, realSf), Schemas.part)
  smoke("orders", Tables.orders(spark, realSf), Schemas.orders)
  smoke("lineitem", Tables.lineitem(spark, realSf), Schemas.lineitem)
  smoke("events", Tables.events(spark, realSf), Schemas.events)
  smoke("documents", Tables.documents(spark, realSf), Schemas.documents)
  smoke("embeddings", Tables.embeddings(spark, realSf), Schemas.embeddings)

  test("testdata smoke: events.ts lands in a sane decade (unit sniff is right)") {
    import spark.implicits._
    assume(new java.io.File(s"$realSf/events.parquet").exists(),
      s"driver testdata not present at $realSf")
    val (lo, hi) = Tables.events(spark, realSf)
      .select(min(year($"ts")), max(year($"ts"))).as[(Int, Int)].head()
    assert(lo >= 2020 && hi <= 2030,
      s"events.ts years [$lo, $hi] outside [2020, 2030] — the timestamp " +
        "unit sniff is wrong for the current testdata format")
  }
}
