package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming SCD2 history builder — the online twin of the batch
  * `scd2_history` lag/lead window pair: each key carries ONE open
  * validity interval (current regime + its start); an event with a
  * different attribute value CLOSES it (valid_to = the change's
  * timestamp, emitted exactly once) and opens the next, an event with
  * the same value merely advances the frontier. The open interval is
  * (re-)emitted each batch as the `is_current` row, so downstream readers
  * always see the live regime; closed intervals are immutable once
  * emitted — the append-only history contract warehouses expect from a
  * type-2 dimension feed.
  *
  * State per key is four scalars (frontier ts + event_id, regime value,
  * regime start) — O(1) regardless of history length, unlike the batch
  * window that re-sorts the full stream. In-batch rows sort by
  * (ts, event_id) — the oracle's window order; a cross-batch regression
  * at-or-below the applied frontier is dropped, making replay
  * idempotent (a replayed change cannot re-close or re-open anything).
  */
object Scd2Stream {

  final case class Scd2Out(user_id: Long, event_type: String,
    from_us: Long, to_us: Option[Long])

  final case class Scd2State(lastTs: Long, lastEid: Long,
    curType: String, curFrom: Long, hasOpen: Boolean)

  private val EmptyState = Scd2State(Long.MinValue, Long.MinValue, "", 0L, hasOpen = false)

  /** Folds (ts, eid, type) rows — already sorted by (ts, event_id) —
    * into the open-interval state, appending the CLOSED intervals this
    * fold finalizes. The strict (ts, eid) frontier drops replays and
    * cross-batch regressions. Shared by the ordered-arrival processor
    * (fold on arrival) and the event-time processor (fold on watermark
    * flush). */
  private[streaming] def foldSorted(key: Long, state0: Scd2State,
      sorted: Array[(Long, Long, Long, String)],
      closed: scala.collection.mutable.ArrayBuffer[Scd2Out]): Scd2State = {
    var state = state0
    sorted.foreach { case (_, ts, eid, tpe) =>
      // strict frontier on (ts, event_id): replays/regressions are no-ops
      if (ts > state.lastTs || (ts == state.lastTs && eid > state.lastEid)) {
        if (!state.hasOpen)
          state = Scd2State(ts, eid, tpe, ts, hasOpen = true)
        else if (tpe != state.curType) {
          closed += Scd2Out(key, state.curType, state.curFrom, Some(ts))
          state = Scd2State(ts, eid, tpe, ts, hasOpen = true)
        } else state = state.copy(lastTs = ts, lastEid = eid)
      }
    }
    state
  }

  /** K = user_id, I = (user_id, ts_us, event_id, event_type). */
  final class Scd2Processor
      extends StatefulProcessor[Long, (Long, Long, Long, String), Scd2Out] {
    @transient private var st: ValueState[Scd2State] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Scd2State]("scd2",
        Encoders.product[Scd2State], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
        timers: TimerValues): Iterator[Scd2Out] = {
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      val prev = if (st.exists()) st.get() else EmptyState
      val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
      val state = foldSorted(key, prev, sorted, closed)
      st.update(state)
      if (state.hasOpen)
        (closed :+ Scd2Out(key, state.curType, state.curFrom, None)).iterator
      else closed.iterator
    }
  }

  /** Event-time edition: watermark buffering via
    * [[EventTimeBufferedProcessor]], folding flushes through the SAME
    * strict-frontier fold as the ordered processor in (ts, event_id)
    * order. Closed intervals are emitted exactly once, on the flush
    * that closes them; the open interval is re-emitted per flush (the
    * per-key latest open row is the current regime). */
  final class Scd2EventTimeProcessor
      extends EventTimeBufferedProcessor[(Long, Long, Long, String), Scd2State, Scd2Out](
        Encoders.product[(Long, Long, Long, String)], Encoders.product[Scd2State]) {
    override protected def tsOf(r: (Long, Long, Long, String)): Long = r._2
    override protected def fold(key: Long, state: Option[Scd2State],
        ripe: Array[(Long, Long, Long, String)]): (Scd2State, Iterator[Scd2Out]) = {
      val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
      val next = foldSorted(key, state.getOrElse(EmptyState),
        ripe.sortBy(r => (r._2, r._3)), closed)
      val out =
        if (next.hasOpen) (closed :+ Scd2Out(key, next.curType, next.curFrom, None)).iterator
        else closed.iterator
      (next, out)
    }
  }

  /** Batch or streaming: per-key SCD2 validity intervals (closed rows
    * are final; the trailing open row per key is the current regime). */
  def history(events: DataFrame): Dataset[Scd2Out] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Scd2Out] = Encoders.product[Scd2Out]
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("event_type").cast("string"))
      .as(Encoders.product[(Long, Long, Long, String)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new Scd2Processor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming with DISORDERED arrival: SCD2 validity intervals under a
    * watermark — `delay` bounds the tolerated disorder; anything inside
    * the bound folds in true event-time order when the watermark passes
    * it, so any shuffle of the same changes across micro-batches yields
    * the ordered run's history. */
  def historyEventTime(events: DataFrame, delay: String): Dataset[Scd2Out] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[Scd2Out] = Encoders.product[Scd2Out]
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("event_type").cast("string"))
      .as(Encoders.product[(Long, Long, Long, String)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new Scd2EventTimeProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }
}
