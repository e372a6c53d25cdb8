package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` shape
  * (event_id, ts timestamp, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY §2.10) — this module extends the
  * engine with the streaming analogues of its incremental semantics:
  * watermarked tumbling-window aggregation (I2's run-scoped snapshots as
  * event-time windows) and stateful sessionization. Batch/stream parity:
  * [[windowedCounts]] over a bounded batch equals q33's groupBy, and
  * [[Sessions]] rows equal graft.operators.Sessionize output for in-order
  * data — both are asserted in StreamingSpec.
  */
object EventStreams {

  /** Watermarked tumbling-window aggregation. Append mode: a window emits
    * once, when the watermark passes its end — the streaming form of the
    * latest-slice/batch-snapshot discipline. */
  def windowedCounts(events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked SESSION-window aggregation — the native
    * `session_window` analogue of [[sessionize]] (state merging across
    * micro-batches handled by the session state store, no hand-rolled
    * GroupState). Append mode: a session emits once, when the watermark
    * passes its end (= last event + gap). Batch/stream parity: over a
    * bounded stream the emitted rows equal q39's batch session_window
    * aggregation restricted to sessions the final watermark closed —
    * oracle-gated end-to-end as q92. */
  def sessionWindowAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("total_value"))

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     n_events: Long, duration_sec: Long, total_value: Double)

  /** Stateful sessionization with `flatMapGroupsWithState`: per-user
    * state carries the open session; an optional processing-time timeout
    * flushes idle sessions (pass None for deterministic/batch-style runs
    * where sessions close only when a later event arrives). State is
    * O(users), partitioned by the group key — the scale path for
    * unbounded streams where the batch lag/cumsum formulation would need
    * the full history. */
  def sessionize(events: Dataset[Event], gapSeconds: Long,
                 idleTimeout: Option[String] = None)(
                 implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    def finish(uid: Long, st: SessionState): Session =
      Session(uid, new java.sql.Timestamp(st.startUs / 1000),
        st.n, (st.lastUs - st.startUs) / 1000000L, st.total)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(finish(uid, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              cur match {
                case Some(st) if us - st.lastUs <= gapUs =>
                  cur = Some(st.copy(lastUs = us, n = st.n + 1, total = st.total + e.value))
                case Some(st) =>
                  closed ::= finish(uid, st)
                  cur = Some(SessionState(us, us, 1, e.value))
                case None =>
                  cur = Some(SessionState(us, us, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              idleTimeout.foreach(state.setTimeoutDuration)
            }
            closed.reverseIterator
          }
      }
  }

  /** Exactly-once event dedup across batches: watermarked
    * `dropDuplicates` keeps O(events-in-watermark) state per key —
    * the streaming form of exact dedup (late duplicates beyond the
    * watermark age out of state and are accepted; pick the watermark to
    * bound both state size and re-delivery window). */
  def dedupeStream(events: DataFrame, idCol: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates(idCol, "ts")

  /** Watermarked STREAM-STREAM interval join — the attribution shape:
    * each left event pairs with the right events that FOLLOW it within
    * `maxDelaySec` on the same key (click → purchase-within-30-min).
    * Inner join, append mode: a pair emits in the micro-batch where its
    * second side arrives.
    *
    * The time-range condition is what BOUNDS state — the property that
    * keeps the join feasible on an unbounded stream: from `wm` (the
    * watermark both sides carry) Spark derives per-side state
    * watermarks, evicting left rows once `lTs < wm − maxDelay` (no
    * future right row can land in their window) and right rows once
    * `rTs < wm` (every left row they could trail has arrived or is
    * late). State is O(key-rate × (maxDelay + watermark delay))
    * regardless of stream length; eviction is observed via the state
    * operator's numRowsRemoved in the spec, and emitted pairs equal the
    * batch interval join whenever no input arrives later than the
    * watermark (q141's oracle replays exactly that).
    *
    * Caller contract: both inputs are watermarked on their ts column
    * (rename AFTER `withWatermark` — the delay rides the attribute),
    * and the four column names are pairwise distinct so the self-join
    * condition binds unambiguously. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lKey: String, rKey: String, lTs: String, rTs: String,
                   maxDelaySec: Long): DataFrame =
    left.join(right,
      col(lKey) === col(rKey) &&
        col(rTs) >= col(lTs) &&
        col(rTs) <= col(lTs) + expr(s"INTERVAL $maxDelaySec SECONDS"))
}
