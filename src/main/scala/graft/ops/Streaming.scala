package graft.ops

import graft.Schemas.Event
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.9). The transformation
  * logic is written as plain DataFrame => DataFrame functions so the
  * exact same code runs in batch (oracle-checked via the batch twins in
  * Relational) and under readStream (asserted with MemoryStream in
  * StreamingSpec — deterministic, no Kafka dependency in this offline
  * environment; in production the source swaps to kafka/files without
  * touching the logic).
  *
  * Scale notes: every stateful op keys by user_id/event_id — state is
  * partitioned across executors by key hash; watermarks bound state
  * (late data beyond 10 min is dropped, so state size is
  * O(active keys × window), not O(stream length)).
  */
object Streaming {

  val watermarkDelay = "10 minutes"

  // ---------------------------------------------------------------------------
  // shared transformations (batch ≡ streaming)
  // ---------------------------------------------------------------------------

  /** Tumbling 1-hour counts per event type — the streaming form of
    * Relational.streamTumblingBatch. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))

  /** Sliding 1-hour windows every 15 minutes (no DuckDB twin — each event
    * lands in 4 windows; asserted against a hand-rolled self-join in
    * tests). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))

  /** Session windows (30-minute gap) per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  // ---------------------------------------------------------------------------
  // streaming wiring
  // ---------------------------------------------------------------------------

  /** Watermarked tumbling aggregation — append-mode-compatible: a window
    * emits once its end passes the watermark; late rows past the
    * watermark are dropped (bounded state). */
  def streamTumbling(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", watermarkDelay))

  /** Stream-stream inner join (click → view attribution within 1 hour):
    * the canonical two-feed correlation. Both sides carry a watermark
    * AND the join condition bounds view_ts to a finite interval after
    * click_ts, so Spark can expire join state — without the time bound
    * the state store grows forever (the 100 TB-stream failure mode).
    * Works identically on batch inputs (the spec's equivalence check). */
  def streamClickView(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermarkDelay)
    clicks.join(views,
      expr("""c_user = v_user
             |AND view_ts >= click_ts
             |AND view_ts <= click_ts + INTERVAL 1 HOUR""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  /** Stream-static enrichment join — the most common production
    * streaming shape: each micro-batch of the stream joins a STATIC
    * dimension (user → segment), broadcast per batch, then aggregates
    * per segment. No streaming state at all (the static side is not a
    * stream, so no watermark bookkeeping) — at 100 TB/day the stream
    * side stays row-at-a-time while the dim rides the broadcast; a
    * dim too big to broadcast becomes a shuffled join per micro-batch,
    * which is exactly when the ForeachBatch + bucketed-table layout
    * takes over. Left join: unknown users keep their rows under a NULL
    * segment rather than silently dropping events. */
  def streamEnrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Stateful exact dedup by event_id with watermark-bounded state. */
  def streamDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Per-user running aggregate via arbitrary stateful processing
    * (flatMapGroupsWithState): emits the updated running count + total
    * value per user on every input batch. */
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  def runningPerUser(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          rows.foreach { e => n += 1; total += e.value }
          val next = UserRunning(userId, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming twin of the batch funnel (Relational.eventsFunnel):
    * view → click → purchase with 1 h step windows, as arbitrary
    * stateful processing. Per-user state is just TWO timestamps (last
    * view, last QUALIFIED click) — constant bytes per user no matter
    * how long the stream runs, which is why the pattern scales where
    * "keep the whole history per user" does not. Rows are sorted by
    * event time within each batch; cross-batch order relies on the
    * source delivering event-time-ordered batches (the general case
    * buffers under a watermark — same trade documented on
    * streamClickView). StreamingSpec proves stream ≡ driver replay,
    * including a purchase completed by a click from an EARLIER batch.
    */
  case class FunnelState(lastViewUs: Long, lastQualClickUs: Long)
  case class FunnelHit(user_id: Long, event_id: Long, completed: Boolean)

  /** Event-time in MICROSECONDS, matching the batch twin's unix_micros
    * exactly. getTime alone floors to milliseconds — on sub-ms data
    * that silently shifts the 1 h window boundary by up to 999 µs
    * relative to the batch query (a real divergence, not a rounding
    * nicety: a gap of exactly 1 h + 700 µs is late in batch but
    * "floored on time" in ms). getNanos carries the sub-second part;
    * its sub-ms remainder is what getTime dropped. */
  private[graft] def eventMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  def funnelPerUser(events: Dataset[Event]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val hourUs = 3600L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
          rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
            val us = eventMicros(e.ts)
            e.event_type match {
              case "view" =>
                st = st.copy(lastViewUs = math.max(st.lastViewUs, us))
              case "click" =>
                if (st.lastViewUs >= 0 && us - st.lastViewUs <= hourUs)
                  st = st.copy(lastQualClickUs = math.max(st.lastQualClickUs, us))
              case "purchase" =>
                out += FunnelHit(uid, e.event_id,
                  st.lastQualClickUs >= 0 && us - st.lastQualClickUs <= hourUs)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** [[funnelPerUser]] run in BATCH mode as an oracle-gradeable query:
    * flatMapGroupsWithState executes on a batch Dataset too (each group
    * processed once, state transient), so the SAME stateful kernel that
    * serves the stream gets hash-checked against DuckDB's window-based
    * replay of the funnel on real data — a far stronger guarantee for
    * the stateful path than unit replays. Booleans cast to int at the
    * output boundary per the repo convention. */
  def funnelBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    funnelPerUser(graft.Tables.events(spark, dir).as[Event]).toDF()
      .select(col("user_id"), col("event_id"),
        col("completed").cast("int").as("completed"))
      .orderBy(col("event_id"))
  }

  /** The same running aggregate on Spark 4's transformWithState API
    * (arbitrary state v2): typed ValueState, explicit TTL hooks, timer
    * support — the forward-looking replacement for
    * flatMapGroupsWithState. Requires the RocksDB state store provider
    * (spark.sql.streaming.stateStore.providerClass). */
  class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserRunning] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
      var n = prev.n_events
      var total = prev.total_value
      rows.foreach { e => n += 1; total += e.value }
      val next = UserRunning(key, n, total)
      state.update(next)
      Iterator.single(next)
    }
  }

  def runningPerUserTws(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** The view→click→purchase funnel kernel on Spark 4's
    * transformWithState API — the SAME semantics as [[funnelPerUser]]
    * (flatMapGroupsWithState), so StreamingSpec can pin the two APIs
    * equal to each other AND to the batch twin across micro-batches,
    * including state carried across the batch boundary. Within a
    * micro-batch, rows are ordered by (event time µs, event_id)
    * exactly like the fMGWS kernel; state is one typed
    * ValueState[FunnelState] per user (the v2 store's per-key value
    * column family — RocksDB-backed, so state size is bounded by the
    * store, not the heap). */
  class FunnelProcessorTws
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, FunnelHit] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[FunnelHit] = {
      val hourUs = 3600L * 1000000L
      var st = if (state.exists()) state.get() else FunnelState(-1L, -1L)
      val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
      rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
        val us = eventMicros(e.ts)
        e.event_type match {
          case "view" =>
            st = st.copy(lastViewUs = math.max(st.lastViewUs, us))
          case "click" =>
            if (st.lastViewUs >= 0 && us - st.lastViewUs <= hourUs)
              st = st.copy(lastQualClickUs = math.max(st.lastQualClickUs, us))
          case "purchase" =>
            out += FunnelHit(uid, e.event_id,
              st.lastQualClickUs >= 0 && us - st.lastQualClickUs <= hourUs)
          case _ => ()
        }
      }
      state.update(st)
      out.iterator
    }
  }

  def funnelPerUserTws(events: Dataset[Event]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessorTws,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** [[funnelPerUserTws]] run in BATCH mode as an oracle-gradeable
    * query — the same end-to-end treatment [[funnelBatch]] gives the
    * fMGWS kernel, so BOTH arbitrary-state APIs are hash-checked
    * against DuckDB's window replay on real data. Touching
    * `spark.streams` first is load-bearing: batch TransformWithState
    * reads state through a StateStoreCoordinator RPC endpoint that
    * only the StreamingQueryManager's construction registers — without
    * it the batch job dies CANNOT_LOAD_STATE_STORE (measured; a
    * streaming query would have created it as a side effect). */
  case class SessionState(startMs: Long, lastMs: Long, n: Long, timerMs: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Event-time-TIMER sessionization on transformWithState — the part
    * of the arbitrary-state v2 API the funnel port does not exercise:
    * a per-user session extends while gaps stay ≤ 30 min; when a later
    * batch advances the WATERMARK past lastEvent + 30 min, the
    * registered event-time timer fires and [[SessionGapProcessorTws]]
    * emits the closed session from handleExpiredTimer — the
    * timeout-emission pattern fMGWS spells GroupStateTimeout, expressed
    * with explicit timers. In-batch gaps > 30 min close inline; the
    * open tail session is emitted only by its timer, never by data.
    * Each re-extension DELETES the previous timer (state carries the
    * registered timestamp) so a session has exactly one live timer.
    * StreamingSpec pins the emission schedule per batch, including a
    * timer that moves when a session extends across batches and an
    * open session that must NOT emit while the watermark sits at its
    * expiry boundary. */
  class SessionGapProcessorTws(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var st = if (state.exists()) state.get() else null
      rows.toSeq.sortBy(e => (eventMicros(e.ts), e.event_id)).foreach { e =>
        val ms = eventMicros(e.ts) / 1000L
        if (st == null) st = SessionState(ms, ms, 1L, -1L)
        else if (ms - st.lastMs <= gapMs) st = st.copy(lastMs = ms, n = st.n + 1)
        else {
          out += SessionOut(uid, st.startMs, st.lastMs, st.n) // in-batch gap: close inline
          // delete the timer a PREVIOUS batch registered for the session
          // being closed — without this it lingers in the state store
          // until it fires into handleExpiredTimer's stale guard (output
          // stays correct, but dead timers accumulate on gap-heavy keys
          // and the one-live-timer-per-session invariant breaks)
          if (st.timerMs >= 0) getHandle.deleteTimer(st.timerMs)
          st = SessionState(ms, ms, 1L, -1L)
        }
      }
      if (st != null) {
        if (st.timerMs >= 0 && st.timerMs != st.lastMs + gapMs)
          getHandle.deleteTimer(st.timerMs)
        val t = st.lastMs + gapMs
        if (st.timerMs != t) getHandle.registerTimer(t)
        st = st.copy(timerMs = t)
        state.update(st)
      }
      out.iterator
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      // a stale timer (session re-extended in the same batch) never
      // reaches here — re-extension deletes it — but guard anyway
      if (state.exists() && state.get().timerMs == expired.getExpiryTimeInMs()) {
        val st = state.get()
        state.clear()
        Iterator.single(SessionOut(uid, st.startMs, st.lastMs, st.n))
      } else Iterator.empty
    }
  }

  def sessionizeTws(events: Dataset[Event], gapMs: Long = 30L * 60000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionGapProcessorTws(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  def funnelBatchTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // touch the StreamingQueryManager once before the first batch-mode
    // transformWithState plan builds (lazy session-state init ordering)
    spark.streams.active
    // and register the StateStoreCoordinator endpoint BEFORE any
    // RocksDB store opens: batch tws never starts a StreamingQuery, so
    // the manager's lazy coordinator is never created, and the first
    // store's snapshot-upload report raced endpoint creation
    // (CANNOT_LOAD_STATE_STORE on the session's first tws query —
    // round-15 finding, root-caused round-16)
    org.apache.spark.sql.GraftExpressionBridge.ensureStateStoreCoordinator(spark)
    funnelPerUserTws(graft.Tables.events(spark, dir).as[Event]).toDF()
      .select(col("user_id"), col("event_id"),
        col("completed").cast("int").as("completed"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------------------
  // streaming near-dup dedup (simhash signatures in transformWithState)
  // ---------------------------------------------------------------------------

  /** One (doc, band) admission row for the streaming near-dup dedup:
    * the doc's packed 64-bit simhash signature routed to one of its
    * chunk buckets (4 × 16-bit under maxHamming = 3 — pigeonhole makes
    * band blocking COMPLETE for hamming ≤ 3, so the banded kernel's
    * verdicts are exact, not approximate). */
  case class SigBand(doc_id: Long, sig: Long, chunk_idx: Int, chunk_key: Long)
  case class SigSeen(doc_id: Long, sig: Long)
  case class BandFlag(doc_id: Long, matched: Int)

  /** Stateful near-dup membership per chunk bucket: state is the list
    * of (doc_id, signature) pairs seen in this bucket; an incoming doc
    * MATCHES when some already-seen doc with a SMALLER doc_id sits
    * within hamming ≤ maxHamming of it (seen, not kept — chains of
    * near-dups all mark against whatever arrived before them, the
    * exactly-replayable rule). Rows within a micro-batch are processed
    * in doc_id order, so with in-order arrival the stream computes the
    * same verdicts as the batch twin (pinned in StreamingSpec across
    * micro-batches, state carried); out-of-order arrival degrades only
    * the verdicts of rows that overtook their predecessors — the
    * inherent streaming-dedup caveat, same as
    * dropDuplicatesWithinWatermark's.
    *
    * State size: one 16-byte entry per doc per band, partitioned by
    * bucket key across executors (RocksDB-backed); at web scale the
    * 16-bit-chunk config keeps occupancy near-uniform (Manku et al.
    * WWW'07), and a production stream bounds it further with a TTL on
    * the state (config hook below) — dedup-against-recent semantics. */
  class SimhashDedupProcessor(maxHamming: Int, ttl: org.apache.spark.sql.streaming.TTLConfig)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), SigBand, BandFlag] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders

    @transient private var seen: ListState[SigSeen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[SigSeen](
        "seen", Encoders.product[SigSeen], ttl)

    override def handleInputRows(key: (Int, Long), rows: Iterator[SigBand],
        timers: TimerValues): Iterator[BandFlag] = {
      val prior = seen.get().toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[BandFlag]
      val fresh = scala.collection.mutable.ArrayBuffer.empty[SigSeen]
      rows.toSeq.sortBy(_.doc_id).foreach { b =>
        def hits(e: SigSeen): Boolean =
          e.doc_id < b.doc_id &&
            java.lang.Long.bitCount(e.sig ^ b.sig) <= maxHamming
        val matched = prior.exists(hits) || fresh.exists(hits)
        out += BandFlag(b.doc_id, if (matched) 1 else 0)
        fresh += SigSeen(b.doc_id, b.sig)
      }
      if (fresh.nonEmpty) seen.appendList(fresh.toArray)
      out.iterator
    }
  }

  /** The banded verdict stream: groupByKey on the chunk bucket,
    * transformWithState with [[SimhashDedupProcessor]]. A doc's final
    * verdict is the OR of its band verdicts (computed downstream —
    * grouped per doc in batch, or collected per sink in streaming). */
  def simhashDedupFlags(bands: Dataset[SigBand], maxHamming: Int = 3,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): Dataset[BandFlag] = {
    import bands.sparkSession.implicits._
    // Spark rejects state TTL outside ProcessingTime time mode, so the
    // mode FOLLOWS the ttl argument (a hardcoded TimeMode.None() made
    // the advertised TTL hook fail at query start — advice finding,
    // now exercised by StreamingSpec's eviction case). Verdicts under
    // eviction: a doc whose only hamming-≤maxHamming predecessors have
    // TTL-expired is NOT flagged — dedup-against-RECENT, the documented
    // production semantics; the batch twin keeps TTLConfig.NONE so its
    // verdicts stay the full earlier-doc relation the oracle replays.
    val timeMode =
      if (ttl == org.apache.spark.sql.streaming.TTLConfig.NONE)
        org.apache.spark.sql.streaming.TimeMode.None()
      else org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    bands
      .groupByKey(b => (b.chunk_idx, b.chunk_key))
      .transformWithState(new SimhashDedupProcessor(maxHamming, ttl),
        timeMode, OutputMode.Append())
  }

  /** [[simhashDedupFlags]] in BATCH mode as an oracle-gradeable query
    * (the funnelBatchTws treatment): signatures + banding come from the
    * SAME kernels as q_dedup_simhash (graft.api.Dedup), the stateful
    * verdict from the SAME processor the stream runs, and DuckDB
    * replays signatures, banding, hamming and the earlier-doc rule
    * from scratch. Output: every document with its near-dup verdict
    * (docs under 3 tokens have no signature and are never dups). */
  def simhashDedupBatchTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same eager coordinator registration as funnelBatchTws: this query
    // must also survive being the SESSION'S FIRST tws query (solo runs
    // reproduced the CANNOT_LOAD_STATE_STORE race — round-15 finding)
    spark.streams.active
    org.apache.spark.sql.GraftExpressionBridge.ensureStateStoreCoordinator(spark)
    val docs = graft.Tables.documents(spark, dir)
    // Signature-less docs (< 3 tokens — no shingles) ride the SAME
    // stateful path under a sentinel band keyed by their own doc_id
    // (singleton bucket ⇒ no earlier member ⇒ matched = 0), so the
    // output covers every document WITHOUT a docs join-back. That
    // join-back shape is a count()-prunability trap twice over,
    // both measured: joining the pre-aggregated (unique-keyed) flags
    // lets Catalyst eliminate the outer join and the whole tws
    // subtree (0.25 s at x10 vs 16.5 s real); joining the RAW flags
    // and aggregating after still dies to distinct-over-left-keys
    // elimination (Distinct(left keys) over a left join needs no
    // right side — 5.9 s vs 13.3 s). With the union, the stateful
    // kernel is the only source of doc_ids and no consumer can prune
    // it.
    // coalesce: null-text docs must ride the sigless sentinel too — a
    // bare size(split(null)) comparison is null in BOTH branch filters,
    // silently dropping the doc while the oracle's LEFT JOIN emits it
    // with is_dup = 0 (advice finding)
    val sigless = docs
      .filter(coalesce(size(split(col("text"), " ")), lit(0)) < 3)
      .select(col("doc_id"), lit(0L).as("sig"),
        lit(-1).as("chunk_idx"), col("doc_id").as("chunk_key"))
    val bands = graft.api.Dedup.simhashChunkBuckets(
        graft.api.Dedup.simhashSignatures(docs, "doc_id", "text", n = 3),
        maxHamming = 3)
      .unionByName(sigless)
    simhashDedupFlags(bands.as[SigBand]).toDF()
      .groupBy(col("doc_id"))
      .agg(max(col("matched")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Land a stream into parquet via foreachBatch. Idempotent under
    * micro-batch REPLAY: each batch overwrites its own batch_id=N
    * subdirectory, so a batch re-run after a crash-before-commit lands
    * the same rows in the same place instead of duplicating them
    * (plain mode("append") would double-write on replay). Readers use
    * spark.read.parquet(outDir) — batch_id surfaces as a partition
    * column they can ignore or prune on. */
  def sinkToParquet(df: DataFrame, outDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
}
