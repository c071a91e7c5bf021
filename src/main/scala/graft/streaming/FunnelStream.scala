package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming strict ordered funnel — the online twin of the batch
  * `window_funnel` operator (view → first click at-or-after it within the
  * tolerance → first purchase at-or-after that click within the
  * tolerance, ClickHouse windowFunnel-style).
  *
  * State per user is the two OPEN frontiers plus three counters:
  * pending views (no click at-or-after them yet), pending stage-1
  * completions (click time, awaiting their first purchase), and the
  * running (n_views, n_s1, n_s2). A click closes EVERY pending view at
  * or before it — it is by construction each one's first click-after —
  * converting those inside the tolerance and killing the rest (strict
  * funnel: a late first click cannot be rescued by a later one); a
  * purchase does the same to the pending stage-1 frontier. Both
  * frontiers are pruned past the tolerance horizon, so state is bounded
  * by each user's event count inside one tolerance window, not by
  * history.
  *
  * Within a batch the processor sorts by (ts, stage-rank, event_id) —
  * views before clicks before purchases at equal timestamps, matching
  * the oracle's at-or-after (`>=`) join semantics and its
  * (time, event_id) tie rule; across micro-batches rows must arrive in
  * per-user ts order (the TwapStream contract) and regressions are
  * dropped like a watermark discard. All state is integer arithmetic,
  * so the one-shot batch run hash-matches the same relational oracle as
  * the batch `window_funnel` query. */
object FunnelStream {

  final case class FunnelCounts(user_id: Long, n_views: Long, n_s1: Long, n_s2: Long)

  final case class FunnelState(lastTs: Long, lastRank: Int, lastEid: Long,
    nViews: Long, nS1: Long, nS2: Long,
    pendViews: Array[Long], pendS1: Array[Long])

  private val EmptyState = FunnelState(Long.MinValue, Int.MinValue, Long.MinValue,
    0L, 0L, 0L, Array.empty, Array.empty)

  /** Folds (ts, stage-rank, event_id) rows — already sorted by exactly
    * that triple — into the funnel state. The strict (ts, stage-rank,
    * event_id) frontier makes an at-least-once REPLAY of the frontier
    * row a no-op (idempotence) and drops a cross-batch regression, the
    * streaming analogue of a watermark discard. Shared by the
    * ordered-arrival processor (fold on arrival) and the event-time
    * processor (fold on watermark flush). */
  private[streaming] def foldSorted(state: FunnelState,
      sorted: Array[(Long, Int, Long)], tolUs: Long): FunnelState = {
    var pendV = state.pendViews
    var pendS = state.pendS1
    var nV = state.nViews; var n1 = state.nS1; var n2 = state.nS2
    var lastTs = state.lastTs; var lastRank = state.lastRank; var lastEid = state.lastEid
    sorted.foreach { case (ts, stageRank, eid) =>
      if (ts > lastTs || (ts == lastTs &&
          (stageRank > lastRank || (stageRank == lastRank && eid > lastEid)))) {
        lastTs = ts; lastRank = stageRank; lastEid = eid
        stageRank match {
          case 0 => // view: opens a pending-first-click slot
            nV += 1
            pendV = pendV :+ ts
          case 1 => // click: first click-after for every pending view <= ts
            val (fire, keep) = pendV.partition(_ <= ts)
            fire.foreach { vts => if (ts - vts <= tolUs) { n1 += 1; pendS = pendS :+ ts } }
            pendV = keep
          case _ => // purchase: first purchase-after for every pending s1 <= ts
            val (fire, keep) = pendS.partition(_ <= ts)
            fire.foreach { cts => if (ts - cts <= tolUs) n2 += 1 }
            pendS = keep
        }
        // Horizon prune: an entry more than tol behind the clock can
        // only die when its closer arrives (any future event is >= ts)
        // — retire it now so state stays bounded by the window.
        if (pendV.nonEmpty && ts - pendV(0) > tolUs) pendV = pendV.filter(ts - _ <= tolUs)
        if (pendS.nonEmpty && ts - pendS(0) > tolUs) pendS = pendS.filter(ts - _ <= tolUs)
      }
    }
    FunnelState(lastTs, lastRank, lastEid, nV, n1, n2, pendV, pendS)
  }

  /** K = user_id, I = (user_id, ts_us, stage_rank, event_id). */
  final class FunnelProcessor(tolUs: Long)
      extends StatefulProcessor[Long, (Long, Long, Int, Long), FunnelCounts] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // "funnel2": FunnelState gained the lastRank frontier field (an
      // incompatible ValueState encoding change); the name bump makes a
      // checkpoint written by the pre-frontier processor fail loudly on
      // state-name mismatch instead of misdecoding.
      st = getHandle.getValueState[FunnelState]("funnel2",
        Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Int, Long)],
        timers: TimerValues): Iterator[FunnelCounts] = {
      val sorted = rows.map(r => (r._2, r._3, r._4)).toArray.sorted
      val prev = if (st.exists()) st.get() else EmptyState
      val next = foldSorted(prev, sorted, tolUs)
      st.update(next)
      Iterator.single(FunnelCounts(key, next.nViews, next.nS1, next.nS2))
    }
  }

  /** Event-time edition: watermark buffering via
    * [[EventTimeBufferedProcessor]], folding flushes through the SAME
    * strict-frontier fold as the ordered processor in (ts, stage-rank,
    * event_id) order. */
  final class FunnelEventTimeProcessor(tolUs: Long)
      extends EventTimeBufferedProcessor[(Long, Long, Int, Long), FunnelState, FunnelCounts](
        Encoders.product[(Long, Long, Int, Long)], Encoders.product[FunnelState]) {
    override protected def tsOf(r: (Long, Long, Int, Long)): Long = r._2
    override protected def fold(key: Long, state: Option[FunnelState],
        ripe: Array[(Long, Long, Int, Long)]): (FunnelState, Iterator[FunnelCounts]) = {
      val s = foldSorted(state.getOrElse(EmptyState),
        ripe.map(r => (r._2, r._3, r._4)).sorted, tolUs)
      (s, Iterator.single(FunnelCounts(key, s.nViews, s.nS1, s.nS2)))
    }
  }

  /** Streaming with DISORDERED arrival: per-user strict-funnel stage
    * counts under a watermark. `delay` bounds the tolerated disorder —
    * a row arriving more than `delay` behind the max event time seen is
    * late and never folds (the standard watermark discard); anything
    * inside the bound lands in the buffer and folds in true event-time
    * order when the watermark passes it. Emits only on flush (Update
    * mode): the per-user max row is the finalized counts. */
  def funnelEventTime(events: DataFrame, tolUs: Long, delay: String): Dataset[FunnelCounts] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[FunnelCounts] =
      Encoders.product[FunnelCounts]
    events
      .withWatermark("ts", delay)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).cast("int"),
        col("event_id").cast("long"))
      .as(Encoders.product[(Long, Long, Int, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new FunnelEventTimeProcessor(tolUs),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Batch or streaming: per-user strict-funnel stage counts. */
  def funnel(events: DataFrame, tolUs: Long): Dataset[FunnelCounts] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[FunnelCounts] =
      Encoders.product[FunnelCounts]
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).cast("int"),
        col("event_id").cast("long"))
      .as(Encoders.product[(Long, Long, Int, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new FunnelProcessor(tolUs), TimeMode.None(), OutputMode.Update())
  }
}
