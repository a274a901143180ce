package graft

import graft.Schemas.Event
import graft.ops.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics, proven deterministically with
  * MemoryStream + processAllAvailable (SURVEY.md §5.2-4): batch/stream
  * equivalence for the shared transformations, watermark late-data
  * behavior, stateful dedup, and arbitrary state. */
class StreamingSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String, value: Double = 1.0): Event =
    Event(id, ts(t), user, typ, value, "{}")

  private val batch1 = Seq(
    ev(1, "2024-01-01 10:05:00", 1, "click"),
    ev(2, "2024-01-01 10:15:00", 1, "view"),
    ev(3, "2024-01-01 10:55:00", 2, "click"),
    ev(4, "2024-01-01 11:05:00", 2, "click"),
  )

  test("streaming tumbling counts equal batch twin (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(batch1)
    val q = Streaming.tumblingCounts(ms.toDF)
      .writeStream.format("memory").queryName("tumb_complete").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumb_complete")
      .select($"hour_start", $"event_type", $"n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Streaming.tumblingCounts(batch1.toDF)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("stream-static enrichment joins the broadcast dim per micro-batch, equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("user_id", "segment")
    val ms = MemoryStream[Event]
    val q = Streaming.streamEnrich(ms.toDF, dim)
      .writeStream.format("memory").queryName("enrich").outputMode("complete").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      // a second micro-batch re-joins the same static dim
      ms.addData(Seq(ev(8, "2024-01-01 12:00:00", 3, "click", 2.0))); q.processAllAvailable()
    } finally q.stop()
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
    val streamed = norm(spark.table("enrich").collect())
    val batch = norm(Streaming.streamEnrich(
      (batch1 :+ ev(8, "2024-01-01 12:00:00", 3, "click", 2.0)).toDF, dim).collect())
    assert(streamed === batch)
    assert(streamed.exists(_._1.contains("gold")))
    assert(streamed.exists(_._1.contains("silver")))
    assert(streamed.exists(_._1.isEmpty), "unknown users must keep rows under NULL segment")
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.streamTumbling(ms.toDF)
      .writeStream.format("memory").queryName("tumb_append").outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      // advance watermark far past 10:00-11:00 (max ts 13:00 → wm 12:50);
      // watermark commits at batch boundaries, so pad one more on-time
      // batch to guarantee the next batch runs with wm = 12:50
      ms.addData(Seq(ev(5, "2024-01-01 13:00:00", 1, "click"))); q.processAllAvailable()
      ms.addData(Seq(ev(9, "2024-01-01 13:05:00", 2, "view"))); q.processAllAvailable()
      // late event for the long-closed 10:00 window → must be dropped
      ms.addData(Seq(ev(6, "2024-01-01 10:07:00", 1, "click"))); q.processAllAvailable()
      // one more batch so any (incorrect) re-emission would flush
      ms.addData(Seq(ev(7, "2024-01-01 13:30:00", 1, "view"))); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("tumb_append")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // the 10:00 click window emitted exactly once, with the on-time count
    // (events 1 + 3; the late event 6 would have made it 3)
    assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L)), rows.toString)
    assert(!rows.exists(r => r._1 == ts("2024-01-01 10:00:00") && r._2 == "click" && r._3 == 3L))
  }

  test("stream-stream interval join equals its batch twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:40:00", 1, "view"),  // within 1h of click 1 → joins
      ev(3, "2024-01-01 11:30:00", 1, "view"),  // 90min after click 1 → dropped
      ev(4, "2024-01-01 10:20:00", 2, "view"),  // user 2 has no click → dropped
      ev(5, "2024-01-01 12:00:00", 3, "click"), // click with no view
      ev(6, "2024-01-01 09:50:00", 1, "view"),  // BEFORE the click → dropped
    )
    val ms = MemoryStream[Event]
    val q = Streaming.streamClickView(ms.toDF)
      .writeStream.format("memory").queryName("ss_join").outputMode("append").start()
    try {
      ms.addData(data); q.processAllAvailable()
      // advance both watermarks so all joinable pairs are emitted
      ms.addData(Seq(ev(7, "2024-01-01 18:00:00", 9, "click"))); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ss_join")
      .select($"user_id", $"click_id", $"view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Streaming.streamClickView(data.toDF)
      .select($"user_id", $"click_id", $"view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((1L, 1L, 2L)), streamed.toString)
    assert(batch == streamed)
  }

  test("dropDuplicatesWithinWatermark dedupes by event_id") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.streamDedup(ms.toDF)
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      // wm after batch1 = 11:05 - 10min = 10:55: the dup must carry an
      // event time ABOVE the watermark or it is (correctly) dropped as
      // late before dedup even sees it — so replay event 4 (11:05)
      ms.addData(Seq(ev(4, "2024-01-01 11:05:00", 2, "click"),  // dup within watermark
        ev(8, "2024-01-01 11:30:00", 3, "view"))); q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").select($"event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L, 4L, 8L), ids.toString)
  }

  test("flatMapGroupsWithState keeps per-user running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.runningPerUser(ms.toDS)
      .writeStream.format("memory").queryName("running_user").outputMode("append").start()
    try {
      ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "click", 2.0),
        ev(2, "2024-01-01 10:01:00", 1, "click", 3.0))); q.processAllAvailable()
      ms.addData(Seq(ev(3, "2024-01-01 10:02:00", 1, "click", 5.0))); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("running_user")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.contains((1L, 2L, 5.0)))  // after batch 1
    assert(rows.contains((1L, 3L, 10.0))) // state carried into batch 2
  }

  test("transformWithState keeps per-user running totals (RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = Streaming.runningPerUserTws(ms.toDS)
        .writeStream.format("memory").queryName("running_tws").outputMode("append").start()
      try {
        ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "click", 2.0),
          ev(2, "2024-01-01 10:01:00", 1, "click", 3.0))); q.processAllAvailable()
        ms.addData(Seq(ev(3, "2024-01-01 10:02:00", 1, "click", 5.0))); q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("running_tws")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 5.0)))
      assert(rows.contains((1L, 3L, 10.0)))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming simhash near-dup dedup equals the batch twin across micro-batches (state carried)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // hand-built signatures: doc 2 within hamming 2 of doc 1; doc 3 far
    // from both; doc 4 (LATER BATCH) within hamming 1 of doc 3 — its
    // verdict depends on state carried across the batch boundary; doc 5
    // far from everything.
    val sigs = Seq(
      1L -> 0x0123456789abcdefL,
      2L -> (0x0123456789abcdefL ^ 0x3L),
      3L -> 0xfedcba9876543210L,
      4L -> (0xfedcba9876543210L ^ 0x10000L),
      5L -> 0x5555aaaa3333ccccL)
    def bands(docSig: (Long, Long)): Seq[Streaming.SigBand] =
      (0 until 4).map(c => Streaming.SigBand(
        docSig._1, docSig._2, c, (docSig._2 >>> (c * 16)) & 0xFFFFL))
    val expected = Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 0)

    // batch twin over all bands at once
    val batchGot = Streaming.simhashDedupFlags(sigs.flatMap(bands).toDS()).toDF()
      .groupBy($"doc_id").agg(max($"matched").as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(batchGot == expected, s"batch: $batchGot")

    // stream in three micro-batches, doc_id order
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Streaming.SigBand]
      val q = Streaming.simhashDedupFlags(ms.toDS())
        .writeStream.format("memory").queryName("simdedup_tws").outputMode("append").start()
      try {
        ms.addData(sigs.take(2).flatMap(bands)); q.processAllAvailable()
        ms.addData(sigs.slice(2, 3).flatMap(bands)); q.processAllAvailable()
        ms.addData(sigs.drop(3).flatMap(bands)); q.processAllAvailable()
      } finally q.stop()
      val streamGot = spark.table("simdedup_tws")
        .groupBy($"doc_id").agg(max($"matched").as("m"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamGot == expected, s"stream: $streamGot")
      // every (doc, band) admission emits exactly one verdict row
      assert(spark.table("simdedup_tws").count() == sigs.size * 4L)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("simhash dedup kernel matches a driver O(n²) replay on randomized signatures") {
    import spark.implicits._
    // dense small signature space (low bits perturbed) so hamming ≤ 3
    // matches, band collisions and non-matching collisions all occur
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 52361)
      val base = Array.fill(4)(rnd.nextLong())
      val sigs = (1L to 50L).map { d =>
        d -> (base(rnd.nextInt(4)) ^ (rnd.nextLong() & ((1L << rnd.nextInt(8)) - 1)))
      }
      val expected = sigs.map { case (d, s) =>
        d -> (if (sigs.exists { case (e, t) =>
          e < d && java.lang.Long.bitCount(s ^ t) <= 3 }) 1 else 0)
      }.toMap
      val bands = sigs.flatMap { case (d, s) =>
        (0 until 4).map(c => Streaming.SigBand(d, s, c, (s >>> (c * 16)) & 0xFFFFL))
      }
      val got = Streaming.simhashDedupFlags(bands.toDS()).toDF()
        .groupBy($"doc_id").agg(max($"matched").as("m"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expected, s"seed=$seed: ${got.toSeq.sorted.diff(expected.toSeq.sorted)}")
    }
  }

  test("streaming simhash dedup with TTL: expired predecessors stop flagging (dedup-against-recent)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // doc 2 is within hamming 2 of doc 1. Control query (60 s TTL —
    // ProcessingTime mode active, nothing expires inside the test):
    // doc 2 flags. Eviction query (1 s TTL, 3.5 s between the
    // micro-batches): doc 1's state entry has expired when doc 2
    // arrives, so doc 2 does NOT flag — the dedup-against-recent
    // contract. Also proves the TTL hook itself is usable (a hardcoded
    // TimeMode.None() used to fail any non-NONE TTL at query start).
    // POLL the sink rather than processAllAvailable: under a TTL the
    // engine retriggers empty micro-batches continuously for state
    // cleanup, so processAllAvailable never returns (measured: batchId 87,
    // numInputRows 0, after 60 s on a two-row stream; SURVEY.md).
    val sigA = 0x0123456789abcdefL
    val sigs = Seq(1L -> sigA, 2L -> (sigA ^ 0x3L))
    def bands(docSig: (Long, Long)): Seq[Streaming.SigBand] =
      (0 until 4).map(c => Streaming.SigBand(
        docSig._1, docSig._2, c, (docSig._2 >>> (c * 16)) & 0xFFFFL))
    def awaitRows(table: String, n: Long): Unit = {
      val t0 = System.nanoTime()
      while (spark.table(table).count() < n) {
        assert((System.nanoTime() - t0) / 1e9 < 60, s"$table: rows never reached $n")
        Thread.sleep(100)
      }
    }
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(name: String, ttlMs: Long, gapMs: Long): Map[Long, Int] = {
        val ms = MemoryStream[Streaming.SigBand]
        val q = Streaming.simhashDedupFlags(ms.toDS(),
            ttl = org.apache.spark.sql.streaming.TTLConfig(
              java.time.Duration.ofMillis(ttlMs)))
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          ms.addData(bands(sigs.head)); awaitRows(name, 4)
          if (gapMs > 0) Thread.sleep(gapMs)
          ms.addData(bands(sigs(1))); awaitRows(name, 8)
        } finally q.stop()
        spark.table(name)
          .groupBy($"doc_id").agg(max($"matched").as("m"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      }
      assert(run("simdedup_ttl_ctl", 60000L, 0L) == Map(1L -> 0, 2L -> 1))
      assert(run("simdedup_ttl_evict", 1000L, 3500L) == Map(1L -> 0, 2L -> 0))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("sliding window counts match hand-rolled expansion") {
    import spark.implicits._
    val df = Seq(ev(1, "2024-01-01 10:05:00", 1, "click")).toDF
    val wins = Streaming.slidingCounts(df)
      .select($"win_start", $"n_events")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    // 1h window sliding 15min: event at 10:05 falls in starts 09:15..10:00
    val expected = Seq("09:15", "09:30", "09:45", "10:00")
      .map(m => (ts(s"2024-01-01 $m:00"), 1L)).toSet
    assert(wins == expected)
  }

  test("session windows merge events within 30min gaps") {
    import spark.implicits._
    val df = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:20:00", 1, "click"),  // same session (gap 20m)
      ev(3, "2024-01-01 11:30:00", 1, "click"),  // new session (gap 70m)
    ).toDF
    val sess = Streaming.sessionCounts(df)
      .select($"user_id", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(sess == Seq((1L, 1L), (1L, 2L)))
  }

  test("foreachBatch parquet sink lands streamed rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ms = MemoryStream[Event]
    val q = Streaming.sinkToParquet(ms.toDF, out, ckpt)
    try { ms.addData(batch1); q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(out).count() == batch1.size)
  }

  test("rate source drives the tumbling aggregation end-to-end (wiring, not MemoryStream)") {
    import spark.implicits._
    // the built-in rate source generates (timestamp, value) rows from
    // executor tasks — a live source exercising real source wiring:
    // offset tracking, micro-batch planning, trigger loop
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
    val events = rate.select($"timestamp".as("ts"),
      concat(lit("t"), ($"value" % 3)).as("event_type"))
    val q = Streaming.tumblingCounts(events)
      .writeStream.format("memory").queryName("rate_tumbling")
      .outputMode("complete").start()
    try {
      // bounded poll, not one fixed sleep: on a loaded machine a single
      // sleep may elapse before the source emits a complete batch's
      // offsets, and a one-shot processAllAvailable would then observe
      // zero rows — retry until rows appear or the deadline passes
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var rows = 0L
      while (rows == 0 && System.nanoTime() < deadline) {
        Thread.sleep(250)
        q.processAllAvailable()
        rows = spark.table("rate_tumbling")
          .agg(coalesce(sum($"n_events"), lit(0L))).head().getLong(0)
      }
      assert(rows > 0, "rate source produced no aggregated rows within 30s")
    } finally q.stop()
  }

  test("key-value sink: streamed upserts land; batch replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    StreamingSpecKv.store.clear()
    StreamingSpecKv.puts.set(0L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kv").toString
    val ms = MemoryStream[Event]
    val counts = ms.toDF.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val q = graft.api.Sinks.toKeyValue(counts, new MapSink, "event_type", "n", ckpt)
    try { ms.addData(batch1); q.processAllAvailable() } finally q.stop()
    assert(StreamingSpecKv.store.get("click") == "3" && StreamingSpecKv.store.get("view") == "1",
      StreamingSpecKv.store.toString)
    // at-least-once: replaying the same batch re-puts rows but — because
    // put is an upsert keyed on event_type — the store state is unchanged
    val putsBefore = StreamingSpecKv.puts.get()
    val replay = Seq(("click", 3L), ("view", 1L)).toDF("event_type", "n")
    graft.api.Sinks.writeBatch(replay, new MapSink, "event_type", "n", batchId = 0L)
    assert(StreamingSpecKv.puts.get() > putsBefore, "replay did not re-put")
    assert(StreamingSpecKv.store.get("click") == "3" && StreamingSpecKv.store.get("view") == "1",
      "replay changed the store: " + StreamingSpecKv.store.toString)
  }

  test("key-value sink contract: a transactional sink skips replayed (partition, batch) deliveries") {
    import spark.implicits._
    // The scaladoc's OTHER idempotence strategy, proven end to end: a
    // transactional store dedupes WHOLE batches on the (partitionId,
    // batchId) handed to open() — the foreach-writer protocol a JDBC
    // sink implements with a commits table. The replay deliberately
    // carries DIFFERENT values: with upsert-style idempotence the
    // replay would overwrite (harmlessly for identical content, but a
    // STALE recomputation would clobber newer data); the batch-dedupe
    // contract must not apply the replayed delivery at all.
    StreamingSpecKv.txnStore.clear()
    StreamingSpecKv.committed.clear()
    val first = Seq(("click", 3L), ("view", 1L)).toDF("event_type", "n")
      .coalesce(1) // one partition → deterministic (pid=0, batchId) key
    graft.api.Sinks.writeBatch(first, new TxnMapSink, "event_type", "n", batchId = 7L)
    assert(StreamingSpecKv.txnStore.get("click") == "3"
      && StreamingSpecKv.txnStore.get("view") == "1", StreamingSpecKv.txnStore.toString)
    // replay of an already-committed (partition, batch) with stale data
    val replay = Seq(("click", 999L), ("view", 999L)).toDF("event_type", "n")
      .coalesce(1)
    graft.api.Sinks.writeBatch(replay, new TxnMapSink, "event_type", "n", batchId = 7L)
    assert(StreamingSpecKv.txnStore.get("click") == "3"
      && StreamingSpecKv.txnStore.get("view") == "1",
      "replayed batch was applied despite being committed: " + StreamingSpecKv.txnStore.toString)
    // a NEW batch id is not a replay and must land
    graft.api.Sinks.writeBatch(replay, new TxnMapSink, "event_type", "n", batchId = 8L)
    assert(StreamingSpecKv.txnStore.get("click") == "999",
      "new batch id was wrongly deduped: " + StreamingSpecKv.txnStore.toString)
  }

  test("stateful streaming funnel equals a driver replay; state crosses batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 1: view → click (qualified) | batch boundary | purchase ≤1h
    // after the batch-1 click → completed=true ONLY if state crossed
    // user 2: purchase with no prior qualified click → false
    // user 3: view, then click 2h later (NOT qualified), purchase → false
    val b1 = Seq(
      ev(10, "2024-01-01 10:00:00", 1, "view"),
      ev(11, "2024-01-01 10:20:00", 1, "click"),
      ev(12, "2024-01-01 09:00:00", 3, "view"),
      ev(13, "2024-01-01 11:30:00", 3, "click"))
    // user 4: purchase lands exactly 1h + 700µs after the qualified
    // click — late in true microseconds, but a millisecond-floored
    // implementation would see exactly 1h and call it completed (the
    // regression this case pins)
    val lateByMicros = {
      val t = ts("2024-01-01 11:20:00"); t.setNanos(700000); t
    }
    val b2 = Seq(
      ev(20, "2024-01-01 10:50:00", 1, "purchase"),
      ev(21, "2024-01-01 10:55:00", 2, "purchase"),
      ev(22, "2024-01-01 11:40:00", 3, "purchase"),
      ev(30, "2024-01-01 10:00:00", 4, "view"),
      ev(31, "2024-01-01 10:20:00", 4, "click"),
      Event(32, lateByMicros, 4, "purchase", 1.0, "{}"))
    val ms = MemoryStream[Event]
    val q = Streaming.funnelPerUser(ms.toDS)
      .writeStream.format("memory").queryName("funnel_stream").outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_stream")
      .collect().map(r => (r.getLong(1), r.getBoolean(2))).toMap
    // driver replay over the full ordered stream, in the SAME true
    // microseconds the implementation (and the batch twin's
    // unix_micros) uses
    val hourUs = 3600000000L
    def us(e: Event) = Streaming.eventMicros(e.ts)
    val expected = (b1 ++ b2).groupBy(_.user_id).flatMap { case (_, es) =>
      var lastView = -1L; var lastQual = -1L
      es.sortBy(e => (us(e), e.event_id)).flatMap { e =>
        e.event_type match {
          case "view" => lastView = math.max(lastView, us(e)); None
          case "click" =>
            if (lastView >= 0 && us(e) - lastView <= hourUs)
              lastQual = math.max(lastQual, us(e))
            None
          case "purchase" =>
            Some(e.event_id -> (lastQual >= 0 && us(e) - lastQual <= hourUs))
          case _ => None
        }
      }
    }.toMap
    assert(got == expected, s"got=$got expected=$expected")
    assert(got(20L) && !got(21L) && !got(22L)) // cross-batch completion is the point
    assert(!got(32L), "1h + 700µs must be late: ms-floored arithmetic would pass it")
  }

  test("transformWithState event-time timers close sessions on watermark advance") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = Streaming.sessionizeTws(ms.toDS)
        .writeStream.format("memory").queryName("tws_sessions").outputMode("append").start()
      def snap() = spark.table("tws_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def msOf(t: String) = ts(t).getTime
      try {
        // b1: u1 one session (10:00,10:10); u3 opens at 10:00. The
        // watermark is GLOBAL (max event time): 10:10 < every expiry,
        // so nothing may emit.
        ms.addData(Seq(
          ev(1, "2024-01-01 10:00:00", 1, "click"),
          ev(2, "2024-01-01 10:10:00", 1, "click"),
          ev(3, "2024-01-01 10:00:00", 3, "click")))
        q.processAllAvailable()
        assert(snap() == Set(), s"emitted before any watermark advance: ${snap()}")
        // b2: u3 EXTENDS (its timer must move 10:30 -> 10:50); u2's
        // event at 10:45 advances the watermark to 10:45 — u1's timer
        // (10:40) fires and u1's session emits; u3's MOVED timer
        // (10:50) must not (had the 10:30 timer survived the move, it
        // would have fired here and emitted a 1-event session)
        ms.addData(Seq(
          ev(6, "2024-01-01 10:20:00", 3, "click"),
          ev(7, "2024-01-01 10:45:00", 2, "click")))
        q.processAllAvailable()
        val s2 = snap()
        assert(s2 == Set((1L, msOf("2024-01-01 10:00:00"), msOf("2024-01-01 10:10:00"), 2L)),
          s"after b2: $s2")
        // b3: u4 arrives with an IN-BATCH gap > 30 min (first session
        // closes inline, no timer involved) plus a far-future event —
        // watermark 18:00 fires every remaining timer: u3 closes as
        // ONE extended session (10:00-10:20, n=2), u2 and u4's tail
        // session close by timer within the same drain
        ms.addData(Seq(
          ev(8, "2024-01-01 11:00:00", 4, "click"),
          ev(9, "2024-01-01 11:40:00", 4, "click"),
          ev(10, "2024-01-01 18:00:00", 9, "click")))
        q.processAllAvailable()
        val s3 = snap()
        assert(s3.contains((3L, msOf("2024-01-01 10:00:00"), msOf("2024-01-01 10:20:00"), 2L)), s3.toString)
        assert(s3.contains((4L, msOf("2024-01-01 11:00:00"), msOf("2024-01-01 11:00:00"), 1L)), s3.toString)
        assert(s3.contains((4L, msOf("2024-01-01 11:40:00"), msOf("2024-01-01 11:40:00"), 1L)), s3.toString)
        assert(s3.contains((2L, msOf("2024-01-01 10:45:00"), msOf("2024-01-01 10:45:00"), 1L)), s3.toString)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState funnel equals the fMGWS kernel and the driver replay across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same scenario as the fMGWS funnel spec: user 1 completes ONLY
      // if the qualified-click state crossed the batch boundary;
      // user 2 has no qualified click; user 3's click is unqualified;
      // user 4 pins the microsecond boundary (1h + 700us late)
      val b1 = Seq(
        ev(10, "2024-01-01 10:00:00", 1, "view"),
        ev(11, "2024-01-01 10:20:00", 1, "click"),
        ev(12, "2024-01-01 09:00:00", 3, "view"),
        ev(13, "2024-01-01 11:30:00", 3, "click"))
      val lateByMicros = {
        val t = ts("2024-01-01 11:20:00"); t.setNanos(700000); t
      }
      val b2 = Seq(
        ev(20, "2024-01-01 10:50:00", 1, "purchase"),
        ev(21, "2024-01-01 10:55:00", 2, "purchase"),
        ev(22, "2024-01-01 11:40:00", 3, "purchase"),
        ev(30, "2024-01-01 10:00:00", 4, "view"),
        ev(31, "2024-01-01 10:20:00", 4, "click"),
        Event(32, lateByMicros, 4, "purchase", 1.0, "{}"))
      val ms = MemoryStream[Event]
      val q = Streaming.funnelPerUserTws(ms.toDS)
        .writeStream.format("memory").queryName("funnel_tws").outputMode("append").start()
      try {
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("funnel_tws")
        .collect().map(r => (r.getLong(1), r.getBoolean(2))).toMap
      // the two arbitrary-state APIs must agree event for event: run
      // the SAME batches through the fMGWS kernel
      val ms2 = MemoryStream[Event]
      val q2 = Streaming.funnelPerUser(ms2.toDS)
        .writeStream.format("memory").queryName("funnel_fmgws_twin").outputMode("append").start()
      try {
        ms2.addData(b1); q2.processAllAvailable()
        ms2.addData(b2); q2.processAllAvailable()
      } finally q2.stop()
      val gotFmgws = spark.table("funnel_fmgws_twin")
        .collect().map(r => (r.getLong(1), r.getBoolean(2))).toMap
      assert(got == gotFmgws, s"tws $got != fMGWS $gotFmgws")
      // and both must match the driver replay in true microseconds
      val hourUs = 3600000000L
      def us(e: Event) = Streaming.eventMicros(e.ts)
      val expected = (b1 ++ b2).groupBy(_.user_id).flatMap { case (_, es) =>
        var lastView = -1L; var lastQual = -1L
        es.sortBy(e => (us(e), e.event_id)).flatMap { e =>
          e.event_type match {
            case "view" => lastView = math.max(lastView, us(e)); None
            case "click" =>
              if (lastView >= 0 && us(e) - lastView <= hourUs)
                lastQual = math.max(lastQual, us(e))
              None
            case "purchase" =>
              Some(e.event_id -> (lastQual >= 0 && us(e) - lastQual <= hourUs))
            case _ => None
          }
        }
      }.toMap
      assert(got == expected, s"tws $got != replay $expected")
      assert(got(20L) == true)   // completed only because state crossed the boundary
      assert(got(21L) == false)
      assert(got(22L) == false)
      assert(got(32L) == false)  // 1h + 700us: microsecond-exact lateness
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("output-mode matrix: append/update/complete emissions per batch for one windowed aggregate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batches: b1 fills windows A(10:00-10:10)x2 and B(10:10-10:20)x1;
    // b2 adds D(10:30-10:40)x1; b3 adds E(10:50-11:00)x1. Append-mode
    // finalization lands within the SAME processAllAvailable call that
    // advances the watermark: each drain also runs the no-data
    // micro-batch (spark.sql.streaming.noDataMicroBatches, default on)
    // that evicts/emits state under the batch's own new watermark —
    // b2's max 10:31 -> wm 10:21 finalizes A and B immediately, b3's
    // max 10:55 -> wm 10:45 finalizes D; E stays open.
    val b1 = Seq(ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:05:00", 1, "click"),
      ev(3, "2024-01-01 10:12:00", 2, "click"))
    val b2 = Seq(ev(4, "2024-01-01 10:31:00", 1, "click"))
    val b3 = Seq(ev(5, "2024-01-01 10:55:00", 2, "click"))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format($"w.start", "HH:mm").as("ws"), $"n")
    def runMode(mode: String): Seq[Set[(String, Long)]] = {
      val ms = MemoryStream[Event]
      val name = s"om_$mode"
      val q = agg(ms.toDF).writeStream.format("memory")
        .queryName(name).outputMode(mode).start()
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long)]]
      try {
        for (b <- Seq(b1, b2, b3)) {
          ms.addData(b); q.processAllAvailable()
          snaps += spark.table(name).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSet
        }
      } finally q.stop()
      snaps.toSeq
    }
    val A = ("10:00", 2L); val B = ("10:10", 1L)
    val D = ("10:30", 1L); val E = ("10:50", 1L)
    // complete: the sink holds ALL groups after every batch
    assert(runMode("complete") == Seq(Set(A, B), Set(A, B, D), Set(A, B, D, E)))
    // update: the sink accumulates exactly the groups CHANGED per batch
    assert(runMode("update") == Seq(Set(A, B), Set(A, B, D), Set(A, B, D, E)))
    // append: emissions only when the watermark passes a window's end
    assert(runMode("append") == Seq(Set(), Set(A, B), Set(A, B, D)))
  }

  test("stream-stream interval join at x10 rehearsal scale equals its batch twin") {
    // rehearsal data is regenerable and gitignored — skip cleanly when
    // this environment has not generated it
    assume(new java.io.File("/root/repo/scaledata/x10/events.parquet").exists(),
      "scaledata/x10 not generated")
    import spark.implicits._
    val dir = "/root/repo/scaledata/x10"
    val batchEvents = graft.Tables.events(spark, dir)
    val expected = Streaming.streamClickView(batchEvents).count()
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // ScaleGen writes ts as TIMESTAMP_NTZ; watermarks require TIMESTAMP.
    // Session tz is UTC, so the cast is the same wall-clock the batch
    // twin's Tables.events normalization produces.
    val stream = spark.readStream.schema(schema).parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    // count via foreachBatch accumulation — the join output is too
    // large to hold in a memory sink at rehearsal scale
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = Streaming.streamClickView(stream).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        n.addAndGet(batch.count()); ()
      }
      .start()
    try q.awaitTermination(600000) finally q.stop()
    assert(n.get() == expected,
      s"stream ${n.get()} != batch $expected at x10")
    assert(expected > 0L, "rehearsal join matched zero rows — fixture too weak")
  }
}

/** Executor-visible in-memory store (local mode shares the JVM). */
object StreamingSpecKv {
  val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val puts = new java.util.concurrent.atomic.AtomicLong()
  val txnStore = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val committed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()
}

/** The production shape would hold a JDBC/Redis connection opened in
  * open() — here the "connection" is the shared map. */
class MapSink extends graft.api.KeyValueSink {
  override def put(key: String, value: String): Unit = {
    StreamingSpecKv.store.put(key, value)
    StreamingSpecKv.puts.incrementAndGet()
    ()
  }

}

/** The transactional dedupe shape from KeyValueSink's scaladoc: open()
  * consults a commits set keyed (partitionId, batchId) — a replayed
  * delivery is skipped wholesale, close() records the commit. A JDBC
  * implementation does the same with a commits table in the SAME
  * transaction as the batch's upserts. */
class TxnMapSink extends graft.api.KeyValueSink {
  private var skip = false
  private var id: (Int, Long) = (0, 0L)

  override def open(partitionId: Int, batchId: Long): Unit = {
    id = (partitionId, batchId)
    skip = StreamingSpecKv.committed.contains(id)
  }

  override def put(key: String, value: String): Unit =
    if (!skip) { StreamingSpecKv.txnStore.put(key, value); () }

  override def close(): Unit = {
    StreamingSpecKv.committed.add(id)
    ()
  }
}
