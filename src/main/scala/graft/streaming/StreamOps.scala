package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured-Streaming operators for the event-stream surface (the
  * `events` fixture shape: event_id, ts, user_id, event_type, value).
  * The reference is pure batch (SURVEY.md §0); this is the engine's
  * north-star extension, built on watermarks + windowed state so it runs
  * identically over `readStream` sources at cluster scale.
  *
  * Scale notes: every operator here keys its state by a bounded-cardinality
  * key (window x type, user session, dedup id within the watermark) and
  * relies on the watermark to evict state — no unbounded state growth.
  * The same transforms run in batch mode (Spark unifies the APIs), which
  * is how the specs cross-check streamed results against batch answers.
  */
object StreamOps {

  /** Tumbling-window counts per key with a watermark: late events beyond
    * `lateness` are dropped and their window state evicted.
    */
  def tumblingCounts(
      df: DataFrame,
      tsCol: String,
      width: String,
      keys: Seq[Column],
      lateness: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), width) +: keys: _*)
      .agg(count(lit(1)).as("cnt"))

  /** Session windows: events for a key closer than `gap` merge into one
    * session row (start, end, n_events, sum_value).
    */
  def sessionize(
      df: DataFrame,
      tsCol: String,
      key: Column,
      gap: String,
      lateness: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), key)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        key,
        col("n_events"),
        col("sum_value"))

  /** Streaming exact dedup: first occurrence of each id wins; duplicate
    * state older than the watermark is evicted (the streaming face of
    * `Dedup.exact` — at 100 TB/day the watermark bound is what keeps the
    * dedup state finite; plain dropDuplicates would grow state forever).
    */
  def dedupStream(df: DataFrame, tsCol: String, idCols: Seq[String], lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(idCols)

  /** Typed event for the stateful operators below (mirrors the events
    * fixture schema).
    */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class UserTotals(user_id: Long, events: Long, sum_value: Double)

  /** Custom per-key state via mapGroupsWithState: running per-user totals
    * emitted on every trigger. The escape hatch for aggregations the
    * built-in windowed aggs can't express.
    *
    * `timeout = Some(d)` expires idle state after `d` of processing time
    * (unbounded-key safety valve in production). Note processing-time
    * timeouts make the engine schedule batches continuously —
    * `processAllAvailable` never quiesces — so tests use the None default.
    */
  def runningUserTotals(
      events: Dataset[Event],
      timeout: Option[String] = None): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val conf = timeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](conf) {
        (user: Long, batch: Iterator[Event], state: GroupState[UserTotals]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
            val (n, s) = batch.foldLeft((prev.events, prev.sum_value)) {
              case ((c, acc), e) => (c + 1, acc + e.value)
            }
            val next = UserTotals(user, n, s)
            state.update(next)
            timeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** The same running per-user totals on Spark 4's `transformWithState`
    * API — the successor to mapGroupsWithState: explicit named state
    * variables (`ValueState`/`ListState`/`MapState`) with per-state TTL,
    * timers decoupled from output, and state-schema evolution. One
    * `ValueState[UserTotals]` per user here; StreamSpec asserts this
    * processor and [[runningUserTotals]] emit identical totals over the
    * same input, pinning the migration path.
    */
  def runningUserTotalsTws(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningTotalsProcessor(),
        TimeMode.None(),
        OutputMode.Update())
  }

  /** StatefulProcessor for [[runningUserTotalsTws]]: one ValueState cell
    * per user (TTL none — the q-style safety valve would be a TTLConfig,
    * not a timer, under this API).
    */
  private class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals](
        "totals",
        org.apache.spark.sql.Encoders.product[UserTotals],
        TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTotals] = {
      val prev =
        if (totals.exists()) totals.get() else UserTotals(user, 0L, 0.0)
      val (n, s) = rows.foldLeft((prev.events, prev.sum_value)) {
        case ((c, acc), e) => (c + 1, acc + e.value)
      }
      val next = UserTotals(user, n, s)
      totals.update(next)
      Iterator.single(next)
    }
  }

  case class SessionSummary(user_id: Long, n_events: Long, sum_value: Double, last_ms: Long)

  /** Event-time session close on `transformWithState` TIMERS: a session
    * accumulates per-user state and registers an event-time timer at
    * last-event + gap; each later batch within the gap deletes the old
    * timer and re-arms. Nothing emits on input — the summary row emits
    * from `handleExpiredTimer` when the WATERMARK certifies the gap has
    * passed (Append semantics: each session exactly once). This is the
    * timer half of the Spark 4 stateful API that [[runningUserTotalsTws]]
    * doesn't touch, and the hand-rolled analogue of `session_window`
    * ([[sessionize]]) for sessions needing custom close-time logic.
    * State per key is one summary row + one timer, watermark-evicted.
    */
  def sessionCloseTws(
      events: Dataset[Event],
      gapMs: Long,
      lateness: String = "10 seconds"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionCloseProcessor(gapMs),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** StatefulProcessor for [[sessionCloseTws]]: ValueState summary +
    * one re-armed event-time timer per open session.
    */
  private class SessionCloseProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, SessionSummary] {
    @transient private var sess: ValueState[SessionSummary] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionSummary](
        "session",
        org.apache.spark.sql.Encoders.product[SessionSummary],
        TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionSummary] = {
      val prev = if (sess.exists()) Some(sess.get()) else None
      prev.foreach(p => getHandle.deleteTimer(p.last_ms + gapMs))
      val (n0, s0, l0) =
        prev.map(p => (p.n_events, p.sum_value, p.last_ms)).getOrElse((0L, 0.0, 0L))
      val (n, s, l) = rows.foldLeft((n0, s0, l0)) { case ((c, acc, lm), e) =>
        (c + 1, acc + e.value, math.max(lm, e.ts.getTime))
      }
      sess.update(SessionSummary(user, n, s, l))
      getHandle.registerTimer(l + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionSummary] = {
      val out =
        if (sess.exists()) Iterator.single(sess.get()) else Iterator.empty
      sess.clear()
      out
    }
  }

  /** Streaming NEAR-dup dedup: first document per SimHash fingerprint
    * wins within the watermark — the streaming face of the SimHash dedup
    * family (radius-0 form: content variations that sketch to the same
    * 64 bits collapse; state is one fingerprint per surviving doc,
    * evicted by the watermark).
    */
  def dedupStreamByFingerprint(
      df: DataFrame,
      tsCol: String,
      textCol: String,
      lateness: String): DataFrame =
    df.withColumn("__fp", graft.functions.exprs.simhash64(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming decontamination — the streaming face of the batch digest
    * anti-join (q53): every micro-batch's documents are content-digested
    * (sha2 over normalized text, same digest as the batch path) and LEFT
    * ANTI joined against the broadcast static blocklist, so blocklisted
    * content never emits, in any batch. Stream-static anti joins hold NO
    * stream state — the blocklist re-broadcasts per batch, which is the
    * point at scale: the corpus streams through map-side, only 32-byte
    * digests of the (small) contamination side ship to executors.
    */
  def decontaminateStream(
      docs: DataFrame,
      textCol: String,
      blocklist: DataFrame,
      blockTextCol: String): DataFrame = {
    val digest = sha2(graft.operators.llm.Dedup.normalize(col(textCol)), 256)
    val block = broadcast(
      blocklist.select(
        sha2(graft.operators.llm.Dedup.normalize(col(blockTextCol)), 256).as("__h")))
    docs.join(block, digest === col("__h"), "left_anti")
  }

  /** One emitted row per crossed threshold multiple. */
  case class SpendAlert(user_id: Long, events: Long, crossed: Double)

  /** Custom state emitting 0..N rows per group per trigger via
    * flatMapGroupsWithState — the generalization of
    * [[runningUserTotals]]'s one-row-per-group contract: an alert row for
    * EVERY multiple of `threshold` a user's running value total crosses
    * in a batch, and nothing when no threshold is crossed. State is the
    * same bounded per-user running total; Append output mode (each alert
    * is emitted exactly once, never revised).
    */
  def spendAlerts(
      events: Dataset[Event],
      threshold: Double): Dataset[SpendAlert] = {
    import events.sparkSession.implicits._
    require(threshold > 0, "threshold must be positive")
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, SpendAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          val (n, s) = batch.foldLeft((prev.events, prev.sum_value)) {
            case ((c, acc), e) => (c + 1, acc + e.value)
          }
          state.update(UserTotals(user, n, s))
          val before = math.floor(prev.sum_value / threshold).toLong
          val after = math.floor(s / threshold).toLong
          ((before + 1) to after).iterator.map(k => SpendAlert(user, n, k * threshold))
      }
  }

  /** Stream-stream inner join with an event-time range: each left event
    * pairs with right events of the same key whose timestamp falls in
    * `[leftTs - windowBefore, leftTs]`. Both sides carry watermarks and
    * the time-range condition bounds the join state (rows older than the
    * watermark + range are evicted) — the streaming face of the batch
    * RangeJoin/AsOfJoin pair. Column names must be disjoint across the
    * two inputs except for nothing (the key columns are passed
    * per-side).
    */
  def streamRangeJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      windowBefore: String,
      lateness: String = "1 hour"): DataFrame =
    streamRangeJoinImpl(left, right, leftKey, rightKey, leftTs, rightTs,
      windowBefore, lateness, "inner")

  /** LEFT OUTER stream-stream range join: same key + time-range condition
    * as [[streamRangeJoin]], but an unmatched left event still emits —
    * right columns null — once the watermark proves no in-range right row
    * can arrive anymore. This "emit on state expiry" is the semantics
    * that separates outer from inner streaming joins: the null-extended
    * row is necessarily LATE by up to (lateness + range) because
    * non-arrival can only be certified retrospectively. Same bounded
    * state as the inner form (both sides evicted past watermark + range).
    */
  def streamRangeJoinLeftOuter(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      windowBefore: String,
      lateness: String = "1 hour"): DataFrame =
    streamRangeJoinImpl(left, right, leftKey, rightKey, leftTs, rightTs,
      windowBefore, lateness, "left_outer")

  /** FULL OUTER stream-stream range join: unmatched rows from EITHER
    * side emit null-extended on state expiry (the left-outer semantics
    * of [[streamRangeJoinLeftOuter]], applied symmetrically). Completes
    * the streaming join-type matrix; same watermark-bounded state.
    */
  def streamRangeJoinFullOuter(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      windowBefore: String,
      lateness: String = "1 hour"): DataFrame =
    streamRangeJoinImpl(left, right, leftKey, rightKey, leftTs, rightTs,
      windowBefore, lateness, "full_outer")

  private def streamRangeJoinImpl(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      windowBefore: String,
      lateness: String,
      joinType: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(
      r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowBefore") &&
        col(rightTs) <= col(leftTs),
      joinType)
  }

  /** The flagship q68 pricing rollup as a continuous query: the same
    * exact-integer money discipline (cents / 1e-4 / 1e-6-dollar units —
    * see TpchQueries), aggregated per event-time window per
    * (returnflag, linestatus), state evicted by the watermark. Because
    * the per-window sums are exact integers, summing emitted windows
    * reproduces the batch rollup EXACTLY — the property StreamSpec pins
    * (a double-summed rollup could drift by accumulation order between
    * the batch and incremental paths). Input must carry the lineitem
    * money columns; runs identically over batch frames (unified API).
    */
  def pricingRollup(
      df: DataFrame,
      tsCol: String,
      width: String,
      lateness: String): DataFrame = {
    val priceCents = round(col("l_extendedprice") * 100)
    val discFactorCents = round((lit(1) - col("l_discount")) * 100)
    val taxFactorCents = round((lit(1) + col("l_tax")) * 100)
    df.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), width), col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(priceCents.cast("long")).as("sum_base_cents"),
        sum((priceCents * discFactorCents).cast("long")).as("sum_disc_e4"),
        sum((priceCents * discFactorCents * taxFactorCents).cast("long")).as("sum_charge_e6"),
        count(lit(1)).as("cnt"))
  }

  case class FunnelProgress(t1: Long, t2: Long, t3: Long) // -1 = stage not reached
  case class FunnelCompletion(user_id: Long, view_us: Long, click_us: Long, purchase_us: Long)

  /** True event-time MICROseconds of a Timestamp. `getTime` alone is
    * millisecond-truncated — events distinct at micro- but equal at
    * milli-granularity would collapse and the strict `>` stage gates
    * could diverge from the batch q121 (which compares true micros).
    */
  private def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000

  /** The q121 staged-min fold over events sorted by (event-time micros,
    * event_id): first view sets t1, first later click sets t2, first
    * still-later purchase sets t3 — identical to the batch staged-min
    * aggregates when applied in global event-time order.
    */
  private def foldFunnel(st0: FunnelProgress, evs: Seq[(Long, String)]): FunnelProgress =
    evs.foldLeft(st0) { case (st, (tus, tpe)) =>
      tpe match {
        case "view" if st.t1 < 0 => st.copy(t1 = tus)
        case "click" if st.t1 >= 0 && st.t2 < 0 && tus > st.t1 => st.copy(t2 = tus)
        case "purchase" if st.t2 >= 0 && st.t3 < 0 && tus > st.t2 => st.copy(t3 = tus)
        case _ => st
      }
    }

  /** Streaming ordered funnel (view → click → purchase) as a per-user
    * state machine on `flatMapGroupsWithState` — the CEP-style sequence
    * detection the batch q121 computes retrospectively, emitted LIVE:
    * one `FunnelCompletion` per user, exactly once, the moment the third
    * stage lands; users stuck mid-funnel stay silent. State is three
    * longs per user (the staged min timestamps), not an event list, so
    * power users cost the same as everyone else.
    *
    * Ordering semantics: each micro-batch's per-user events are sorted
    * by (event time, event_id) before applying the stage machine, so
    * in-order delivery reproduces q121's staged-min semantics exactly
    * (StreamSpec asserts completion parity with the batch formulation);
    * an event arriving AFTER a later-stage event already consumed its
    * slot (cross-batch out-of-order) cannot retroactively rewire stages
    * — the documented divergence window, bounded by delivery order, the
    * standard trade of O(1)-state streaming funnels.
    */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelCompletion] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelCompletion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[FunnelProgress]) =>
          val prev = state.getOption.getOrElse(FunnelProgress(-1L, -1L, -1L))
          if (prev.t3 >= 0) Iterator.empty // already completed and emitted
          else {
            val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val next = foldFunnel(prev, sorted.map(e => (micros(e.ts), e.event_type)))
            state.update(next)
            if (next.t3 >= 0) Iterator.single(
              FunnelCompletion(user, next.t1, next.t2, next.t3))
            else Iterator.empty
          }
      }
  }

  /** Per-user buffered-funnel state: the fold over the FINALIZED prefix
    * (every event older than the watermark, applied in event-time order)
    * plus the still-mutable tail buffer of (micros, type, event_id)
    * events at-or-after the watermark. `done` tombstones a user whose
    * completion has been emitted (exactly-once).
    */
  case class FunnelBuf(
      t1: Long, t2: Long, t3: Long,
      buf: Seq[(Long, String, Long)],
      done: Boolean)

  /** Event-time-buffered ordered funnel: batch-q121 parity under
    * arbitrary cross-batch reordering, the gap [[funnelStream]] documents.
    *
    * Where [[funnelStream]] consumes each micro-batch irrevocably (a
    * later stage arriving in an earlier micro-batch can steal a slot the
    * true event-time order would not give it), this variant BUFFERS
    * events until the watermark passes them. The staged-min fold is only
    * "finalized" over events strictly older than the watermark — which
    * is exactly the set that can no longer be reordered, because rows
    * later than `lateness` are dropped by the watermark — so the fold is
    * always computed in true global event-time order, and the result
    * equals the batch staged-min aggregates no matter how delivery
    * interleaved (StreamSpec asserts parity under adversarially shuffled
    * micro-batch delivery).
    *
    * A completion (t1 < t2 < t3) is emitted once the watermark passes t3:
    * any event that could still rewire a stage (a view before t1, a
    * click inside (t1, t2), a purchase inside (t2, t3)) has event time
    * < t3 and is therefore already dropped. Emission needs no new data
    * for the user — an event-time timer set at t3 fires on watermark
    * advance.
    *
    * State per user is the three staged longs plus ONLY the events inside
    * the lateness horizon (older ones compress into the fold as the
    * watermark passes them): bounded by per-user event rate x lateness,
    * the standard price of exact out-of-order CEP.
    */
  def funnelStreamBuffered(events: Dataset[Event], lateness: String): Dataset[FunnelCompletion] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelCompletion](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, batch: Iterator[Event], state: GroupState[FunnelBuf]) =>
          val prev = state.getOption.getOrElse(FunnelBuf(-1L, -1L, -1L, Nil, done = false))
          if (prev.done) Iterator.empty
          else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val all = (prev.buf ++ batch.map(e => (micros(e.ts), e.event_type, e.event_id)))
              .sortBy(t => (t._1, t._3))
            // finalize the prefix the watermark has passed; keep the tail
            val (expired, live) = all.partition(_._1 < wmUs)
            val base = foldFunnel(
              FunnelProgress(prev.t1, prev.t2, prev.t3),
              expired.map(t => (t._1, t._2)))
            // candidate result including the still-mutable tail
            val cand = foldFunnel(base, live.map(t => (t._1, t._2)))
            if (cand.t3 >= 0 && cand.t3 < wmUs) {
              // no admissible future event can precede t3 — final
              state.update(FunnelBuf(cand.t1, cand.t2, cand.t3, Nil, done = true))
              Iterator.single(FunnelCompletion(user, cand.t1, cand.t2, cand.t3))
            } else {
              state.update(FunnelBuf(base.t1, base.t2, base.t3, live, done = false))
              if (cand.t3 >= 0) {
                // completion pending: wake this user when the watermark
                // passes t3, even if no further events arrive for them
                state.setTimeoutTimestamp(cand.t3 / 1000L + 1)
              }
              Iterator.empty
            }
          }
      }
  }

  /** Streaming writer for the persisted distinct-sketch table
    * (`operators/SketchOps`): one HLL sketch row per event-time window of
    * `width`, emitted once on watermark close (Append). This is the
    * INGEST half of the pre-aggregate-at-ingest / merge-at-query
    * pattern — the streaming job appends (bucket, sketch) rows, and any
    * later rollup runs `SketchOps.rollup` over the table without
    * touching raw events. State per window is one HLL register array
    * (~KB), evicted by the watermark; register max-merge is commutative,
    * so partial aggregation applies and arrival order cannot change the
    * emitted sketch (StreamSpec asserts the emitted rows merge to the
    * IDENTICAL estimate as a direct batch sketch of the same events).
    */
  def sketchStream(
      df: DataFrame,
      tsCol: String,
      keyCol: String,
      width: String,
      lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), width))
      .agg(hll_sketch_agg(col(keyCol)).as("sketch"))
      .select(col("window.start").as("bucket"), col("sketch"))

  /** Streaming writer for the persisted quantile-histogram table
    * (`operators/HistSketch`): per event-time window of `width`, one
    * (bucket, hb, cnt) row per occupied histogram bucket, emitted on
    * watermark close — the streaming ingest half of the q116 rollup.
    * State per open window is the occupied-bucket count (a few thousand
    * longs at most, logarithmic in the value range); counts are plain
    * sums, so arrival order and partitioning cannot change the emitted
    * rows, and `HistSketch.rollup` over the table answers p50/p95/p99
    * for any grain without touching raw events (StreamSpec asserts
    * bit-identical quantiles vs a direct batch sketch).
    */
  def histStream(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      width: String,
      lateness: String,
      subBits: Int = 5): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(
        window(col(tsCol), width),
        graft.operators.HistSketch.bucketOf(col(valueCol), subBits).as("hb"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("hb"), col("cnt"))

  /** Streaming upsert into a [[graft.operators.LakeTable]]: each
    * micro-batch MERGEs (source-wins on `keyCols`) into the committed
    * table — the streaming face of the q130 transactional lake path, and
    * the missing sink for CDC-style feeds where events UPDATE entities
    * rather than append facts.
    *
    * Exactly-once effect without a two-phase sink: MERGE is IDEMPOTENT
    * for a replayed batch (re-applying "source wins on key" with the
    * same source rows rewrites the same rows to the same values), so the
    * at-least-once delivery a restart produces converges to the same
    * committed table — StreamSpec replays a batch through foreachBatch
    * restart and asserts the table is byte-stable. Contention with other
    * writers is handled by the optimistic-commit retry loop.
    *
    * Within one batch, rows sharing a key are pre-collapsed with
    * `max_by` on `orderCol` (latest wins, id tie-break) — MERGE requires
    * one row per key and micro-batches routinely carry several updates
    * for a hot entity.
    */
  def lakeMergeSink(
      df: DataFrame,
      root: String,
      keyCols: Seq[String],
      partitionCol: String,
      orderCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val valueCols = df.columns.filterNot(keyCols.contains)
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val latest = batch
          .groupBy(keyCols.map(col): _*)
          .agg(
            max_by(struct(valueCols.map(col): _*), struct(col(orderCol) +: keyCols.map(col): _*))
              .as("__latest"))
          .select(keyCols.map(col) ++ valueCols.map(c => col(s"__latest.$c")): _*)
        graft.operators.LakeTable.merge(
          batch.sparkSession, root, latest, keyCols, partitionCol)
        ()
      }
    }
  }

  /** Streaming blind-append lake sink — the FACT-stream face of the lake
    * (events only ever arrive; [[lakeMergeSink]] is for entity upserts):
    * each micro-batch commits as one transactional `LakeTable.append`,
    * O(batch) regardless of table size. Exactly-once comes from the
    * transactional-writer id: `appId` + foreachBatch's monotone batchId
    * are recorded in the manifest, so a replayed micro-batch (restart
    * from a checkpoint, stale-checkpoint re-run, speculative retry) is
    * recognized and skipped instead of double-inserted.
    *
    * The guarantee holds only while batchIds come from ONE checkpoint
    * lineage. Restarting WITHOUT a checkpoint resets batchIds to 0, and
    * for a real source batch 0 then re-reads from the source's current
    * beginning — potentially different data than the batch 0 the
    * manifest recorded, which the watermark would silently drop. A fresh
    * checkpoint therefore requires a fresh `appId` (the same caveat
    * Delta's txnAppId/txnVersion pattern documents).
    */
  def lakeAppendSink(
      df: DataFrame,
      root: String,
      appId: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        graft.operators.LakeTable.append(
          batch.sparkSession, root, batch, txnAppId = Some(appId), txnVersion = batchId)
        ()
      }
    }

  /** Output-mode guidance: windowed aggs with watermark support Append
    * (emit once, on watermark close) and Update; mapGroupsWithState
    * requires Update.
    */
  val appendMode: OutputMode = OutputMode.Append()
  val updateMode: OutputMode = OutputMode.Update()
}
