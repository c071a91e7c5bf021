package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming FIFO matcher — the online twin of the batch `fifo_match`
  * cumulative-range overlap: per user, unconsumed SUPPLY lots (views)
  * and unfilled DEMAND lots (purchases) wait in order; each arriving
  * event drains the opposite queue head-first and emits one match row
  * per (inflow, outflow) lot pair it closes. At most one of the two
  * queues is nonempty at any instant (an arrival that can't fully drain
  * the other side leaves ITS side queued), so per-user state is exactly
  * the current imbalance backlog — the minimal state any FIFO matcher
  * must carry.
  *
  * Matching is defined by per-side ARRIVAL ORDER (the batch operator's
  * cumulative ranges), so demand arriving before its supply matches the
  * later supply exactly as the batch join does, and the one-shot batch
  * run hash-matches the same relational oracle. In-batch rows sort by
  * (ts, event_id); quantities are exact integer cents.
  *
  * Two editions (the funnel/TWAP/gap pattern): the ordered-arrival
  * processor documents a per-user ordered-delivery contract and drops
  * cross-batch regressions; the event-time edition rides
  * [[EventTimeBufferedProcessor]] — watermark buffering + timers — and
  * folds flushes through the SAME strict-frontier fold, so any shuffle
  * of the same events across micro-batches reproduces the ordered run's
  * match set bit-for-bit. */
object FifoStream {

  final case class Match(user_id: Long, in_event: Long, out_event: Long,
    qty_cents: Long, wait_us: Long)

  /** Queued lot: event id, event time (micros), remaining cents. */
  final case class Lot(e: Long, t: Long, r: Long)

  /** supply=true means `q` holds unconsumed inflows, else unfilled
    * outflows (empty queue: side irrelevant). (lastTs, lastEid) is the
    * applied frontier: a row at-or-below it is a cross-batch replay and
    * must NOT re-enter the queues — FIFO has no natural idempotence, so
    * the frontier is what makes replaying a delivered prefix a no-op. */
  final case class FifoState(supply: Boolean, q: List[Lot],
    lastTs: Long, lastEid: Long)

  private val EmptyState = FifoState(supply = true, Nil, Long.MinValue, Long.MinValue)

  /** Folds (ts, eid, isSupply, cents) rows — already sorted by
    * (ts, event_id) — into the backlog state, appending one [[Match]]
    * per lot pair closed. The strict (ts, eid) frontier drops replays
    * and cross-batch regressions. Shared by the ordered-arrival
    * processor (fold on arrival) and the event-time processor (fold on
    * watermark flush). */
  private[streaming] def foldSorted(key: Long, state0: FifoState,
      sorted: Array[(Long, Long, Long, Boolean, Long)],
      out: scala.collection.mutable.ArrayBuffer[Match]): FifoState = {
    var state = state0
    sorted.foreach { case (_, ts, eid, isSupply, cents) =>
      if (ts > state.lastTs || (ts == state.lastTs && eid > state.lastEid)) {
        state = state.copy(lastTs = ts, lastEid = eid)
        var rem = cents
        if (state.q.nonEmpty && state.supply != isSupply) {
          // Drain the opposite queue head-first.
          var q = state.q
          while (rem > 0 && q.nonEmpty) {
            val head = q.head
            val m = math.min(rem, head.r)
            out += (if (isSupply) Match(key, eid, head.e, m, head.t - ts)
                    else Match(key, head.e, eid, m, ts - head.t))
            rem -= m
            q = if (head.r > m) Lot(head.e, head.t, head.r - m) :: q.tail else q.tail
          }
          state = state.copy(q = q)
        }
        if (rem > 0)
          state =
            if (state.q.isEmpty)
              FifoState(isSupply, List(Lot(eid, ts, rem)), state.lastTs, state.lastEid)
            else state.copy(q = state.q :+ Lot(eid, ts, rem))
      }
    }
    state
  }

  /** K = user_id, I = (user_id, ts_us, event_id, isSupply, cents). */
  final class FifoProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Boolean, Long), Match] {
    @transient private var st: ValueState[FifoState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FifoState]("fifo",
        Encoders.kryo[FifoState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Boolean, Long)],
        timers: TimerValues): Iterator[Match] = {
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      val prev = if (st.exists()) st.get() else EmptyState
      val out = scala.collection.mutable.ArrayBuffer.empty[Match]
      val next = foldSorted(key, prev, sorted, out)
      st.update(next)
      out.iterator
    }
  }

  /** Event-time edition: watermark buffering via
    * [[EventTimeBufferedProcessor]], folding flushes through the SAME
    * strict-frontier fold as the ordered processor in (ts, event_id)
    * order — the matcher's per-side arrival order IS event-time order
    * once disorder is bounded by the watermark. */
  final class FifoEventTimeProcessor
      extends EventTimeBufferedProcessor[(Long, Long, Long, Boolean, Long), FifoState, Match](
        Encoders.product[(Long, Long, Long, Boolean, Long)], Encoders.kryo[FifoState]) {
    override protected def tsOf(r: (Long, Long, Long, Boolean, Long)): Long = r._2
    override protected def fold(key: Long, state: Option[FifoState],
        ripe: Array[(Long, Long, Long, Boolean, Long)]): (FifoState, Iterator[Match]) = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Match]
      val next = foldSorted(key, state.getOrElse(EmptyState),
        ripe.sortBy(r => (r._2, r._3)), out)
      (next, out.iterator)
    }
  }

  private def toTyped(events: DataFrame): Dataset[(Long, Long, Long, Boolean, Long)] =
    events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), (col("event_type") === "view").as("s"),
        round(col("value") * 100).cast("long"))
      .as(Encoders.product[(Long, Long, Long, Boolean, Long)])

  /** Batch or streaming: FIFO (inflow, outflow) lot matches per user.
    * Views supply cents, purchases consume them. */
  def matches(events: DataFrame): Dataset[Match] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Match] = Encoders.product[Match]
    toTyped(events)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new FifoProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming with DISORDERED arrival: FIFO lot matches under a
    * watermark. `delay` bounds the tolerated disorder — a row arriving
    * more than `delay` behind the max event time seen is late and never
    * folds (the standard watermark discard); anything inside the bound
    * lands in the buffer and folds in true event-time order when the
    * watermark passes it. Each match row is emitted exactly once, on the
    * flush that closes its lot pair. */
  def matchesEventTime(events: DataFrame, delay: String): Dataset[Match] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[Match] = Encoders.product[Match]
    toTyped(events.withWatermark("ts", delay))
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new FifoEventTimeProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }
}
