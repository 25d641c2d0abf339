package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Spark 4 `transformWithState` — the successor API to
  * `flatMapGroupsWithState` (SPIP: arbitrary stateful processing v2):
  * state is declared as named, individually-evictable primitives
  * (ValueState / ListState / MapState with per-state TTL) on a handle
  * instead of one opaque case-class blob, timers are first-class, and
  * the operator requires the RocksDB state-store provider — the
  * state-bigger-than-heap path is the DEFAULT here, not an option.
  */
object TwsStreaming {

  /** Cumulative per-user running totals carried in ValueState. */
  case class UserTotals(n_events: Long, spend_c: Long)
  /** Per-batch emission: the key plus its updated totals. */
  case class TotalsRow(user_id: Long, n_events: Long, spend_c: Long)

  /** The processor: one ValueState cell per user holding (event count,
    * purchase cents). Each micro-batch it folds the user's new rows into
    * the cell and emits the updated snapshot — so the LAST emission per
    * user (highest n_events) is the final answer, and every retry
    * re-emits deterministically from checkpointed state.
    */
  private class RunningTotals
      extends StatefulProcessor[Long, (Long, Long), TotalsRow] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals](
        "totals", Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[TotalsRow] = {
      val prev = Option(totals.get()).getOrElse(UserTotals(0L, 0L))
      var n = prev.n_events
      var c = prev.spend_c
      rows.foreach { case (_, cents) => n += 1; c += cents }
      totals.update(UserTotals(n, c))
      Iterator.single(TotalsRow(key, n, c))
    }
  }

  /** Per-(user, event_type) emission from MapState. */
  case class TypeCountRow(user_id: Long, event_type: String, n: Long)

  /** MapState form: one map cell per user keyed by event type — the
    * sub-keyed state shape (per-user per-dimension counters) that a
    * single ValueState blob would have to deserialize/rewrite wholesale
    * on every update; MapState updates touch ONLY the sub-key, which is
    * the difference between O(1) and O(|map|) per event once per-user
    * maps grow wide.
    */
  private class PerTypeCounts
      extends StatefulProcessor[Long, (Long, String), TypeCountRow] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timers: TimerValues): Iterator[TypeCountRow] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { case (_, et) =>
        counts.updateValue(et,
          (if (counts.containsKey(et)) counts.getValue(et) else 0L) + 1L)
        touched += et
      }
      // emit updated snapshots for the touched sub-keys only
      touched.iterator.map(et => TypeCountRow(key, et, counts.getValue(et)))
    }
  }

  /** Streaming per-(user, event-type) counts via `transformWithState`
    * MapState — same last-snapshot-wins readback as `runningTotals`,
    * contract = the batch two-key aggregate.
    */
  def perTypeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val typed = EventsStreaming.eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new PerTypeCounts,
        TimeMode.None(), OutputMode.Update())
    val dumped = EventsStreaming.runToParquet(spark, out.toDF(), "graft_stream_twsmap",
      OutputMode.Update)
    dumped.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
  }

  /** Per-(user, rank) emission from ListState. */
  case class FirstTouchRow(user_id: Long, rank: Int, ts_us: Long, event_id: Long)

  /** ListState form: each user's FIRST-k event ids in event-time order —
    * the bounded-journey prefix an onboarding-analysis pipeline keeps
    * per user. ListState appends are O(new element): the store never
    * rewrites the existing list entries, where a ValueState carrying a
    * Seq would serialize the whole list every update. The k-cap bounds
    * state per user regardless of stream length.
    */
  private class FirstTouches(k: Int)
      extends StatefulProcessor[Long, (Long, Long, Long), FirstTouchRow] {
    @transient private var firsts: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      firsts = getHandle.getListState[(Long, Long)](
        "firsts", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[FirstTouchRow] = {
      val have = firsts.get().toSeq // ≤ k entries by construction
      val merged = (have ++ rows.map { case (_, ts, id) => (ts, id) })
        .sortBy(identity).take(k)
      firsts.clear()
      merged.foreach(firsts.appendValue) // k tiny entries; batches that
      // no longer change the prefix re-write nothing (merged == have)
      merged.iterator.zipWithIndex.map { case ((ts, id), i) =>
        FirstTouchRow(key, i + 1, ts, id)
      }
    }
  }

  /** Streaming first-k touchpoints per user via `transformWithState`
    * ListState; readback keeps the final (latest-batch) prefix, contract
    * = the batch rank-≤-k window.
    */
  def firstTouches(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val typed = EventsStreaming.eventsStream(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[(Long, Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new FirstTouches(k),
        TimeMode.None(), OutputMode.Update())
    EventsStreaming.runToParquet(spark, out.toDF(), "graft_stream_twslist", OutputMode.Update)
      // final prefix per user: a rank's value only ever moves EARLIER
      // in (ts, id) order as new batches refine the prefix, so the
      // latest emission at each rank is its (ts, id)-minimum
      .groupBy(col("user_id"), col("rank"))
      .agg(min(struct(col("ts_us"), col("event_id"))).as("m"))
      .select(col("user_id"), col("rank"), col("m.event_id").as("event_id"))
  }

  case class SessEv(event_id: Long, user_id: Long, ts_us: Long)
  case class SessRow(user_id: Long, session_id: Int, n_events: Long,
      session_start_us: Long)
  case class SessState(sessionId: Int, lastTsUs: Long, nEvents: Long,
      startUs: Long)

  /** Timer-driven sessionizer — the piece of `transformWithState` the
    * other two processors don't exercise: EVENT-TIME TIMERS. The
    * flatMapGroupsWithState sessionizer (`EventsStreaming.sessionize`)
    * needs explicit flush-marker rows routed to every user to close
    * trailing sessions; here the ENGINE closes them — each batch arms
    * one timer at last_event + gap, and when the watermark proves no
    * continuation can arrive, `handleExpiredTimer` emits the session
    * and clears the state. No per-user sentinel fan-out, and state for
    * idle users dies exactly when their session closes.
    */
  private class TimerSessionizer
      extends StatefulProcessor[Long, SessEv, SessRow] {
    @transient private var st: ValueState[SessState] = _
    private val gapUs = graft.operators.Analytics.SessionGapUs

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState](
        "session", Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessEv],
        timers: TimerValues): Iterator[SessRow] = {
      // Sentinel rows (negative event_id) are watermark carriers only —
      // a sentinel-only batch input for this key must return BEFORE the
      // state read. The earlier shape read+rewrote every user's
      // ValueState and delete/re-armed an IDENTICAL timer on each
      // trailing sentinel batch (and wrote a junk zero-state for users
      // the processor had never seen) — at the sf100 probe that was two
      // extra full passes of per-user RocksDB read-modify-writes plus
      // 2×2M timer churn, the bulk of its 17.7× fence overage. State
      // and the armed timer are untouched by skipping: the re-arm wrote
      // the same expiry it deleted.
      val sorted = rows.toSeq.filter(_.event_id >= 0L)
        .sortBy(e => (e.ts_us, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var cur = Option(st.get()).getOrElse(SessState(0, Long.MinValue, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessRow]
      sorted.foreach { e =>
        if (cur.nEvents == 0L)
          cur = SessState(cur.sessionId + 1, e.ts_us, 1L, e.ts_us)
        else if (e.ts_us - cur.lastTsUs > gapUs) {
          out += SessRow(key, cur.sessionId, cur.nEvents, cur.startUs)
          cur = SessState(cur.sessionId + 1, e.ts_us, 1L, e.ts_us)
        } else cur = SessState(cur.sessionId, e.ts_us, cur.nEvents + 1L,
          cur.startUs)
      }
      st.update(cur)
      // exactly one armed timer per user: a stale (earlier) timer
      // would close a session that new rows just extended
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(cur.lastTsUs / 1000L + gapUs / 1000L + 1L)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessRow] = {
      val cur = st.get()
      // belt-and-braces: only close once the watermark really clears the
      // gap horizon (a re-armed timer makes this always true in practice)
      if (cur != null && cur.nEvents > 0L
          && timerValues.getCurrentWatermarkInMs() >= cur.lastTsUs / 1000L + gapUs / 1000L) {
        st.clear()
        Iterator.single(SessRow(key, cur.sessionId, cur.nEvents, cur.startUs))
      } else Iterator.empty
    }
  }

  /** Stage events + two PER-USER far-future sentinel batches. The shared
    * EOS staging's second batch is a single row — enough to advance the
    * watermark, but timer SWEEPS happen per state partition as data is
    * processed, so a one-row final batch leaves the other partitions'
    * armed timers unswept. One sentinel per user in every trailing batch
    * puts data in every state partition every batch, so every armed
    * timer is visited once the watermark clears it. (In an unbounded
    * production stream this is moot — data keeps arriving everywhere;
    * it is the finite-stream shutdown that needs the nudge.)
    */
  private def stagedTimerSrc(spark: SparkSession, sfDir: String): String =
    EventsStreaming.eventsLanding(spark, sfDir, "src_timer") { ev =>
      val users = ev.select(col("user_id")).distinct()
      Seq("zz_eos1.parquet" -> EventsStreaming.eosSentinels(ev, users, 2, -2),
        "zz_eos2.parquet" -> EventsStreaming.eosSentinels(ev, users, 4, -4))
    }

  /** Streaming 30-minute-gap sessionization with engine-managed session
    * close (event-time timers + watermark), contract-equal to the batch
    * gaps-and-islands form. The EOS sentinel rows only advance the
    * WATERMARK here — they are filtered out before the processor, so
    * unlike the flatMapGroupsWithState form nothing user-written ever
    * sees a flush marker.
    */
  def timerSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = EventsStreaming.landingStream(spark, stagedTimerSrc(spark, sfDir))
      // NO eos filter before the watermark: a pushed-down filter would
      // drop the sentinels at the scan, below the EventTimeWatermark
      // node, and the watermark would never advance past the last real
      // event (observed: trailing timers never fire). The processor
      // skips them instead.
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[SessEv]
    val out = src.groupByKey(_.user_id)
      .transformWithState(new TimerSessionizer,
        TimeMode.EventTime(), OutputMode.Append())
    EventsStreaming.runToParquet(spark, out.toDF(), "graft_stream_twssess")
  }

  /** Streaming per-user lifetime totals via `transformWithState` — the
    * contract is the plain batch per-user aggregate, computed instead by
    * keyed ValueState folded across micro-batches. Update-mode
    * `foreachBatch` parquet terminal; readback keeps each user's last
    * (max-n_events) snapshot. Runs under the RocksDB provider, which the
    * operator mandates — per-user state lives off-heap and scales to
    * key cardinalities a heap HashMap cannot.
    */
  def runningTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val typed = EventsStreaming.eventsStream(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase",
          (col("value").cast("decimal(12,2)") * 100).cast("long"))
          .otherwise(lit(0L)).as("cents"))
      .as[(Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new RunningTotals,
        TimeMode.None(), OutputMode.Update())
    val dumped = EventsStreaming.runToParquet(spark, out.toDF(), "graft_stream_tws",
      OutputMode.Update)
    dumped.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("spend_c"))).as("last"))
      .select(col("user_id"), col("last.n_events").as("n_events"),
        col("last.spend_c").as("spend_c"))
  }
}
