package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (SURVEY.md §2.10). The reference has no
  * streaming runtime — its "incremental" mode is a batch re-pull of a
  * rolling window (/root/reference/orchestrate.py:366-379) and its
  * sessionization is an offline state machine — so this module provides
  * the Spark-native streaming expression of the same semantics:
  * identical transform functions run over either a batch DataFrame or a
  * readStream DataFrame (Catalyst plans both), and the sessionizer maps
  * onto flatMapGroupsWithState with processing-time timeouts.
  */
object EventStream {

  /** Tumbling event-time window aggregation — exactly the batch query
    * st01_window_agg; pass a streaming DataFrame (with a watermark
    * applied by the caller) and it becomes a streaming windowed agg. */
  def windowAgg(events: DataFrame): DataFrame =
    events.groupBy(
        window(col("ts"), "6 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("bucket"),
        col("event_type"), col("n"), col("total"))

  /** Watermarked variant for append-mode streaming sinks. */
  def windowAggStreaming(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    windowAgg(events.withWatermark("ts", watermark))

  /** Gap sessionization through Spark's BUILT-IN merging session
    * windows — the declarative form of the same islands w06 computes
    * with lag + a running flag sum (the flatMapGroupsWithState
    * sessionizer below remains the arbitrary-state-machine form for
    * semantics session_window can't express). Boundary semantics are
    * IDENTICAL to w06's `diff > gap` rule, empirically pinned in
    * EventStreamSpec: a successor exactly `gap` after its predecessor
    * MERGES into the session (the inclusive boundary); one tick past
    * the gap opens a new one. The same call runs on a
    * batch frame or a watermarked readStream frame; streaming state is
    * one open session per user and the watermark evicts closed ones —
    * never corpus-sized. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("first_event_id"), col("last_event_id"),
        col("session_value"))

  /** Watermarked variant for streaming sinks (append emits a session
    * once the watermark passes its close). */
  def sessionWindowAggStreaming(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    sessionWindowAgg(events.withWatermark("ts", watermark), gap)

  /** Exactly-once repair for at-least-once delivery: drop redelivered
    * events by key. Batch form — plain dropDuplicates (redelivered rows
    * are bit-identical, so keep-any is deterministic); the reference
    * does the same offline (deduplicate_silver.py). */
  def dedupBatch(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** Streaming form: state is bounded by the watermark — a key is only
    * remembered until the watermark passes it, which is the correct
    * at-scale shape (unbounded dropDuplicates state would OOM a
    * 100 TB stream). */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment: join a (possibly streaming) event frame
    * against a static dimension on `key`. In Structured Streaming the
    * static side is planned per micro-batch and broadcast when small —
    * the canonical "enrich the stream with a dim table" shape; no
    * streaming state at all, because only the stream side is unbounded. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Event-time interval join ("clicks within `window` after a view"):
    * same-key right rows inside [l.ts, l.ts + window]. The SAME call
    * works on batch frames and on watermarked streaming frames — for
    * streams the time-range condition lets Spark bound both sides'
    * state to the watermark + window (an unconstrained stream-stream
    * join would buffer forever). Caller applies watermarks and selects
    * from the `l`/`r` aliases. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      window: String = "1 hour"): DataFrame =
    left.alias("l").join(right.alias("r"), expr(
      s"l.user_id = r.user_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window"))

  /** Left-outer event-time interval join — every left row survives,
    * null-padded when no right row lands in its window. On watermarked
    * streams this is the hard state-eviction case of stream-stream
    * joins: an unmatched left row emits its null-padded result only
    * once the watermark passes `l.ts + window` (until then a match
    * could still arrive), so both the buffered state AND the result
    * latency are bounded by watermark + window — never unbounded.
    * Parity with the batch left join is EventStreamSpec-pinned. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      window: String = "1 hour"): DataFrame =
    left.alias("l").join(right.alias("r"), expr(
      s"l.user_id = r.user_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window"),
      "left_outer")

  /** Full-outer event-time interval join — completes the outer family
    * (inner / left-outer above): unmatched LEFT rows null-pad the right
    * side AND unmatched RIGHT rows null-pad the left. On watermarked
    * streams this is symmetric state eviction: an unmatched left row
    * null-emits once the watermark passes `l.ts + window` (no click can
    * still arrive), an unmatched right row once it passes `r.ts` (no
    * view opening a window over it can still arrive) — so state and
    * result latency on BOTH sides stay watermark + window bounded.
    * Batch-vs-stream parity is EventStreamSpec-pinned. */
  def intervalJoinFullOuter(left: DataFrame, right: DataFrame,
      window: String = "1 hour"): DataFrame =
    left.alias("l").join(right.alias("r"), expr(
      s"l.user_id = r.user_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window"),
      "full_outer")

  /** Hopping (sliding) event-time windows: `width`-long windows every
    * `slide` (width > slide ⇒ each event lands in width/slide windows —
    * the overlapping-window trend view). Same declarative form batch
    * and streaming; on a watermarked stream state is one open window
    * set per key, evicted as the watermark passes each window end. */
  def hoppingWindowAgg(events: DataFrame, width: String = "6 hours",
      slide: String = "3 hours"): DataFrame =
    events.groupBy(
        window(col("ts"), width, slide).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total"))

  /** Left-semi event-time interval join — left rows that have AT LEAST
    * one same-key right row inside [l.ts, l.ts + window], emitted once
    * each with no right-side columns (the existence filter: "views
    * that converted", "docs that matched any blocklist entry in the
    * hour"). The last stream-stream join type Structured Streaming
    * supports (left-anti is not; its batch form is j06's anti join).
    * On watermarked streams a left row emits as soon as its first
    * match arrives and drops from state when the watermark passes
    * `l.ts + window` — state stays bounded, and unlike the inner join
    * the output never multiplies by match count. */
  def intervalJoinLeftSemi(left: DataFrame, right: DataFrame,
      window: String = "1 hour"): DataFrame =
    left.alias("l").join(right.alias("r"), expr(
      s"l.user_id = r.user_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window"),
      "left_semi")

  final case class Ev(user_id: Long, event_id: Long, ms: Long, value: Double)
  final case class SessionState(
      sessionId: Long,
      n: Long,
      firstId: Long,
      lastId: Long,
      minMs: Long,
      maxMs: Long,
      sum: Double)
  final case class SessionOut(
      user_id: Long,
      session_id: Long,
      n_events: Long,
      first_event_id: Long,
      last_event_id: Long,
      duration_ms: Long,
      session_value: Double)

  /** Streaming gap sessionization: per-user state carries the open
    * session; a batch's events are folded in ms order; sessions closed
    * by a gap are emitted, the open session stays in state until the
    * timeout fires. The batch flatMapGroups twin lives in
    * graft.operators.Sessionize.
    */
  def sessionizeStream(
      events: Dataset[Ev],
      gapMs: Long,
      useTimeout: Boolean = true): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeout =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          if (state.hasTimedOut) {
            state.getOption.foreach { st =>
              out += finish(uid, st)
            }
            state.remove()
          } else {
            var st = state.getOption.orNull
            it.toArray.sortBy(e => (e.ms, e.event_id)).foreach { e =>
              if (st == null) {
                st = SessionState(1L, 0, e.event_id, e.event_id, e.ms, e.ms, 0.0)
              } else if (e.ms - st.maxMs > gapMs) {
                out += finish(uid, st)
                st = SessionState(st.sessionId + 1, 0, e.event_id, e.event_id, e.ms, e.ms, 0.0)
              }
              st = st.copy(
                n = st.n + 1,
                firstId = math.min(st.firstId, e.event_id),
                lastId = math.max(st.lastId, e.event_id),
                minMs = math.min(st.minMs, e.ms),
                maxMs = math.max(st.maxMs, e.ms),
                sum = st.sum + e.value)
            }
            if (st != null) {
              state.update(st)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
          }
          out.iterator
      }
  }

  private def finish(uid: Long, st: SessionState): SessionOut =
    SessionOut(uid, st.sessionId, st.n, st.firstId, st.lastId,
      st.maxMs - st.minMs,
      BigDecimal(st.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
}
