package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming time-weighted average value (TWAP) per user — the online
  * twin of the batch `twap_by_user` query: each reading holds until the
  * next one arrives, and the running average weights it by the seconds
  * it was in force.
  *
  * State per user is four longs: last reading's (ts micros, value
  * CENTS) plus the running (Σ cents·seconds, Σ seconds). Values carry
  * two decimals, so cents are EXACT longs and the whole accumulation is
  * integer arithmetic — the emitted TWAP is one IEEE division, making
  * the one-shot batch run hash-equal to the same relational oracle as
  * the batch query (the still-open last reading has no duration and is
  * excluded in both). Within a batch the processor sorts its buffer by
  * (ts, event_id); across micro-batches the carried last reading closes
  * the interval that straddles the boundary. */
object TwapStream {

  final case class Twap(user_id: Long, n_intervals: Long, twap: Double)

  final case class TwapState(lastTs: Long, lastEid: Long, lastCents: Long,
    svd: Long, sd: Long, n: Long)

  /** Folds (user, ts, eid, cents) rows — sorted here by the (ts,
    * event_id) frontier key — into the carried state. The strict
    * frontier makes an at-least-once REPLAY of the frontier row a no-op
    * and drops a cross-batch regression (which would close a NEGATIVE
    * interval and corrupt the exact accumulators): the streaming
    * analogue of a watermark discard (Scd2Stream/FifoStream twin).
    * Shared by the ordered-arrival and event-time processors. */
  private[streaming] def foldSorted(state: TwapState,
      rows: Array[(Long, Long, Long, Long)]): TwapState = {
    var s = state
    rows.sortBy(r => (r._2, r._3)).foreach { case (_, ts, eid, cents) =>
      if (s == null) s = TwapState(ts, eid, cents, 0L, 0L, 0L)
      else if (ts > s.lastTs || (ts == s.lastTs && eid > s.lastEid)) {
        val d = java.lang.Math.floorDiv(ts - s.lastTs, 1000000L)
        s = TwapState(ts, eid, cents,
          s.svd + s.lastCents * d, s.sd + d, s.n + 1)
      }
    }
    s
  }

  private def emitTwap(key: Long, s: TwapState): Iterator[Twap] =
    if (s != null && s.sd > 0)
      Iterator.single(Twap(key, s.n, s.svd.toDouble / (100.0 * s.sd.toDouble)))
    else Iterator.empty

  /** K = user_id, I = (user_id, ts_us, event_id, cents). */
  final class TwapProcessor extends StatefulProcessor[Long, (Long, Long, Long, Long), Twap] {
    @transient private var st: ValueState[TwapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // "twap2": TwapState gained the lastEid frontier field (an
      // incompatible ValueState encoding change); the name bump makes a
      // checkpoint written by the pre-frontier processor fail loudly on
      // state-name mismatch instead of misdecoding.
      st = getHandle.getValueState[TwapState]("twap2",
        Encoders.product[TwapState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Long)],
        timers: TimerValues): Iterator[Twap] = {
      val state = foldSorted(if (st.exists()) st.get() else null, rows.toArray)
      if (state != null) st.update(state)
      emitTwap(key, state)
    }
  }

  /** Event-time edition: watermark buffering via
    * [[EventTimeBufferedProcessor]] replaces the ordered-arrival
    * contract — flushes fold through the SAME strict (ts, event_id)
    * frontier fold in true event-time order, so a shuffle of the same
    * readings across micro-batches (disorder inside the watermark
    * delay) reproduces the ordered run's exact integer accumulators. */
  final class TwapEventTimeProcessor
      extends EventTimeBufferedProcessor[(Long, Long, Long, Long), TwapState, Twap](
        Encoders.product[(Long, Long, Long, Long)], Encoders.product[TwapState]) {
    override protected def tsOf(r: (Long, Long, Long, Long)): Long = r._2
    override protected def fold(key: Long, state: Option[TwapState],
        ripe: Array[(Long, Long, Long, Long)]): (TwapState, Iterator[Twap]) = {
      val s = foldSorted(state.orNull, ripe)
      (s, emitTwap(key, s))
    }
  }

  /** Disordered-arrival streaming TWAP under a watermark: `delay` bounds
    * the tolerated disorder, flushes happen as the watermark advances. */
  def twapEventTime(events: DataFrame, delay: String): Dataset[Twap] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[Twap] = Encoders.product[Twap]
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"),
        round(col("value") * 100).cast("long"))
      .as(Encoders.product[(Long, Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new TwapEventTimeProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Batch or streaming: per-user running TWAP over closed intervals. */
  def twap(events: DataFrame): Dataset[Twap] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Twap] = Encoders.product[Twap]
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"),
        round(col("value") * 100).cast("long"))
      .as(Encoders.product[(Long, Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new TwapProcessor, TimeMode.None(), OutputMode.Update())
  }
}
