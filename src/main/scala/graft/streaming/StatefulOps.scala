package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state on top of flatMapGroupsWithState — the escape hatch for
  * stream logic windows/dedup can't express (per-key running aggregates,
  * custom eviction). State is per-key and incremental: at scale it lives in
  * the state store (RocksDB on a real cluster), never in executor heaps.
  */
object StatefulOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  case class TopEvent(event_type: String, event_id: Long, value: Double,
                      rank: Int)

  /** Streaming per-key top-k — the streaming twin of plans.TopKPerKey:
    * per event_type the k highest-value events seen so far (event_id
    * tie-break → total order), state BOUNDED at k rows per key forever
    * (the whole point: an unbounded stream, O(keys·k) state). Each batch
    * re-emits a key's current top-k only when that key saw rows
    * (OutputMode.Update). On a single-batch source the one emission per
    * key equals the batch top-k — the driver-gated contract (s_topk); the
    * multi-batch incremental merge is asserted in StreamingSpec. */
  def streamingTopKPerType(spark: SparkSession, events: DataFrame,
                           k: Int): Dataset[TopEvent] = {
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select("event_type", "event_id", "value")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Double, Long)], TopEvent](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[Seq[(Double, Long)]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty)
              ++ rows.map(r => (r._3, r._2)))
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((v, id), i) =>
            TopEvent(etype, id, v, i + 1)
          }
      }
  }

  case class AnomalyAlert(event_type: String, event_id: Long, value: Double,
                          z: Double)

  /** Running moments per key in EXACT integer units: values have 2
    * decimals, so cents (×100) and squared-cents (×10⁴) are lossless
    * longs — the streaming twin of the batch DECIMAL-sum contract, and
    * O(1) state per key forever (3 longs). */
  case class RunningMoments(n: Long, sum_cents: Long, sumsq_e4: Long)

  /** Streaming running z-score alerts: flag events whose value sits >= 2σ
    * above the running mean of the PRIOR events of their type (Welford-
    * style online anomaly detection as keyed state). Rows are ordered
    * (us, event_id) within each batch so alerts are deterministic; the
    * moment state is integer-exact, and the mean/σ/z chain is the same
    * IEEE op sequence as the batch oracle's window formulation — a long
    * divided by 100.0 and a DECIMAL(18,2)→DOUBLE cast both round the
    * identical rational, so the doubles agree bit-for-bit. On the
    * single-batch file source the emission equals the batch
    * unbounded-preceding window query (the s_anomaly oracle). */
  def streamingAnomaly(spark: SparkSession, events: DataFrame,
                       minPrior: Int): Dataset[AnomalyAlert] = {
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RunningMoments, AnomalyAlert](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[(String, Long, Long, Double)],
         state: GroupState[RunningMoments]) =>
          var st = state.getOption.getOrElse(RunningMoments(0L, 0L, 0L))
          val out = Seq.newBuilder[AnomalyAlert]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, _, v) =>
            // exact: v has 2 decimals, the ×100 product is never within an
            // ulp of a .5 cent boundary
            val cents = Math.round(v * 100.0)
            if (st.n >= minPrior) {
              val nn = st.n.toDouble
              val sx = st.sum_cents / 100.0
              val sxx = st.sumsq_e4 / 10000.0
              val varNum = nn * sxx - sx * sx
              if (varNum > 0) {
                val z = (v - sx / nn) / Math.sqrt(varNum / (nn * nn))
                if (z >= 2.0) out += AnomalyAlert(etype, id, v, z)
              }
            }
            st = RunningMoments(st.n + 1, st.sum_cents + cents,
              st.sumsq_e4 + cents * cents)
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class ClosedSession(user_id: Long, session_start: Long,
                           session_end: Long, n_events: Long)

  /** Per-user session accumulator: bounds in event-time micros. */
  case class SessionAcc(start_us: Long, end_us: Long, n: Long)

  /** Timeout-driven sessionization — the state MACHINE the built-in
    * session_window cannot express when per-session logic grows custom
    * state: events extend the user's open session; when the event-time
    * WATERMARK passes the session's gap deadline the state times out and
    * the CLOSED session is emitted exactly once. State is one 3-field
    * record per open session (O(active users), evicted by the timeout —
    * the watermark, not the key count, bounds it). The stream must carry
    * `withWatermark("ts", ...)`; gap semantics match the batch
    * `q_sessionize` gap rule (new session when idle > gapSec).
    *
    * Timeout behavior is a multi-batch property (nothing times out inside
    * one batch), so the oracle gate replays the input as MULTIPLE
    * micro-batches with sentinel watermark drivers
    * ([[EventsStream.replay]] → `s_sessionize_timeout`);
    * watermark-advance eviction is additionally unit-tested in
    * `StreamingSpec`. */
  def streamingSessionize(spark: SparkSession, events: DataFrame,
                          gapSec: Long): Dataset[ClosedSession] = {
    import spark.implicits._
    // the WATERMARKED ts column must reach the stateful operator (Spark
    // rejects EventTimeTimeout if the event-time attribute was projected
    // away), so micros are derived inside the lambda, not in the plan
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rowsTs: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionAcc]) =>
          val rows = rowsTs.map { case (u, t) => (u, micros(t)) }
          val gapUs = gapSec * 1000000L
          if (state.hasTimedOut) {
            // watermark passed end + gap: close and evict
            val acc = state.get
            state.remove()
            Iterator.single(ClosedSession(user, acc.start_us, acc.end_us, acc.n))
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            val closed = Seq.newBuilder[ClosedSession]
            var acc = state.getOption.orNull
            sorted.foreach { us =>
              acc = if (acc == null) SessionAcc(us, us, 1L)
              else if (us - acc.end_us > gapUs) {
                // in-batch gap: the old session is provably closed already
                closed += ClosedSession(user, acc.start_us, acc.end_us, acc.n)
                SessionAcc(us, us, 1L)
              } else SessionAcc(acc.start_us, math.max(acc.end_us, us), acc.n + 1)
            }
            state.update(acc)
            // close when the WATERMARK (not processing time) passes the gap.
            // A late straggler can put the session deadline BEHIND the
            // current watermark — Spark rejects a timeout timestamp ≤
            // watermark with a runtime error that kills the whole query, so
            // clamp to watermark+1: the session then closes on the next
            // batch, the earliest legal moment.
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, (acc.end_us + gapUs) / 1000L))
            closed.result().iterator
          }
      }
  }

  case class KmvEstimate(event_type: String, kmv_users: Double)

  /** Streaming KMV distinct-user sketch per event type: the k-minima
    * synopsis as keyed state — bounded (k·32 bytes per key) and MERGEABLE,
    * so arrival order and batch boundaries cannot change it (a sorted
    * distinct set is order-independent). Each batch emits the current
    * estimate; on the single-batch file source that equals the batch
    * [[graft.functions.KmvDistinct]] aggregate, which the oracle replays
    * with window SQL. The streaming face of the production pattern:
    * sketches, not exact sets, as unbounded-stream state. */
  def streamingKmv(spark: SparkSession, events: DataFrame,
                   k: Int): Dataset[KmvEstimate] = {
    import spark.implicits._
    val agg = new graft.functions.KmvDistinct(k)
    events
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[String], KmvEstimate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[(String, Long)],
         state: GroupState[Array[String]]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          rows.foreach { case (_, uid) => buf = agg.reduce(buf, uid.toString) }
          state.update(buf)
          Iterator.single(KmvEstimate(etype, agg.finish(buf)))
      }
  }

  case class TypeStats(event_type: String, n_events: Long, sum_cents: Long)

  /** Per-type running totals on Spark 4's `transformWithState` — the
    * successor API to [flat]mapGroupsWithState: typed state handles
    * (ValueState/ListState/MapState) with optional TTL, timers decoupled
    * from output mode, and a processor OBJECT whose `init` acquires state
    * by name (so the same processor composes several state variables).
    * State here is one ValueState[(n, cents)] per event type — exact
    * integer units (the streaming twin of the DECIMAL-sum contract),
    * O(keys) state forever. Requires the RocksDB state store provider
    * (the HDFS-backed default does not implement the TWS column-family
    * API) — the declared query scopes that conf to its drain. */
  class TypeStatsProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[String, (String, Long), TypeStats] {
    @transient private var acc:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      acc = getHandle.getValueState[(Long, Long)]("acc",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeStats] = {
      var (n, cents) = if (acc.exists()) acc.get() else (0L, 0L)
      rows.foreach { r => n += 1; cents += r._2 }
      acc.update((n, cents))
      Iterator.single(TypeStats(key, n, cents))
    }
  }

  /** The transformWithState pipeline: events keyed by type → running
    * (count, cent-sum) per key, one emission per key per batch (update
    * mode). Single-batch emission equals the batch aggregate — the
    * driver-gated contract (s_tws_stats); the multi-batch incremental
    * merge is asserted in StreamingSpec. */
  def streamingTypeStatsTws(spark: SparkSession,
                            events: DataFrame): Dataset[TypeStats] = {
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .as[(String, Double)]
      .map { case (t, v) => (t, Math.round(v * 100.0)) }
      .groupByKey(_._1)
      .transformWithState(new TypeStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Running per-user totals, emitted on every update. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotals] = {
    import spark.implicits._
    events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          val buf = rows.foldLeft(prev)((acc, e) =>
            UserTotals(uid, acc.n_events + 1, acc.total_value + e.value))
          state.update(buf)
          Iterator.single(buf)
      }
  }
}
