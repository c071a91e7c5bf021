package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming inter-arrival anomaly detector: per user, flag events whose
  * gap to the previous event deviates more than 3σ from that user's own
  * running gap statistics — the online "this key went quiet / went
  * burst" monitor that pages an on-call before a batch job would notice.
  *
  * State per user is four longs: last event-time micros plus (n, Σgap,
  * Σgap²) over all PRIOR gaps — O(1) per key regardless of stream
  * length. The 3σ test never divides: (n·x − S)² > 9·(n·SS − S²) is the
  * cross-multiplied form of (x − μ)² > 9σ², evaluated in BigInt, so the
  * flag set is EXACT integer arithmetic end-to-end (gap quantized to
  * whole seconds) and the batch one-shot run hash-matches the DuckDB
  * HUGEINT window-frame oracle bit-for-bit. Flags need ≥ 5 prior gaps —
  * no cold-start pages.
  *
  * Determinism: within a batch a user's rows arrive unordered, so the
  * processor sorts its buffer by (ts, event_id) before folding; across
  * micro-batches the carried state makes the same code the true
  * arrival-order detector.
  */
object AnomalyStream {

  final case class GapFlag(user_id: Long, event_id: Long, gap_s: Long, n_prior: Long)

  final case class GapState(lastTs: Long, lastEid: Long, n: Long, s: Long, ss: Long)

  /** Folds (user, ts, event_id) rows — sorted here by the (ts, event_id)
    * frontier key — into the carried gap statistics, returning the new
    * state and this fold's flags. The strict frontier makes an
    * at-least-once REPLAY of the frontier row a no-op and drops a
    * cross-batch regression (which would fold a NEGATIVE gap into
    * (n, S, SS) and skew every later flag): the streaming analogue of a
    * watermark discard (TwapStream twin). Shared by the ordered-arrival
    * and event-time processors. */
  private[streaming] def foldSorted(key: Long, state0: GapState,
      rows: Array[(Long, Long, Long)]): (GapState, Vector[GapFlag]) = {
    var state = state0
    val out = Vector.newBuilder[GapFlag]
    rows.sortBy(r => (r._2, r._3)).foreach { case (_, ts, id) =>
      if (state == null) state = GapState(ts, id, 0L, 0L, 0L)
      else if (ts > state.lastTs || (ts == state.lastTs && id > state.lastEid)) {
        val gap = java.lang.Math.floorDiv(ts - state.lastTs, 1000000L)
        if (state.n >= 5) {
          val lhs = BigInt(state.n) * gap - state.s
          val rhs = BigInt(9) * (BigInt(state.n) * state.ss - BigInt(state.s) * state.s)
          if (lhs * lhs > rhs) out += GapFlag(key, id, gap, state.n)
        }
        state = GapState(ts, id, state.n + 1, state.s + gap, state.ss + gap * gap)
      }
    }
    (state, out.result())
  }

  /** K = user_id, I = (user_id, ts_us, event_id). */
  final class GapProcessor extends StatefulProcessor[Long, (Long, Long, Long), GapFlag] {
    @transient private var st: ValueState[GapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // "gapstats2": GapState gained the lastEid frontier field (an
      // incompatible ValueState encoding change); the name bump makes a
      // checkpoint written by the pre-frontier processor fail loudly on
      // state-name mismatch instead of misdecoding.
      st = getHandle.getValueState[GapState]("gapstats2",
        Encoders.product[GapState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[GapFlag] = {
      val (state, out) = foldSorted(key, if (st.exists()) st.get() else null, rows.toArray)
      if (state != null) st.update(state)
      out.iterator
    }
  }

  /** Event-time edition: watermark buffering via
    * [[EventTimeBufferedProcessor]] — flags only fire for events the
    * watermark has passed, folded in true event-time order through the
    * SAME strict-frontier statistics, so a shuffle of the same events
    * across micro-batches flags the identical set. */
  final class GapEventTimeProcessor
      extends EventTimeBufferedProcessor[(Long, Long, Long), GapState, GapFlag](
        Encoders.product[(Long, Long, Long)], Encoders.product[GapState]) {
    override protected def tsOf(r: (Long, Long, Long)): Long = r._2
    override protected def fold(key: Long, state: Option[GapState],
        ripe: Array[(Long, Long, Long)]): (GapState, Iterator[GapFlag]) = {
      val (s, out) = foldSorted(key, state.orNull, ripe)
      (s, out.iterator)
    }
  }

  /** Disordered-arrival streaming gap anomalies under a watermark. */
  def gapAnomaliesEventTime(events: DataFrame, delay: String): Dataset[GapFlag] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[GapFlag] = Encoders.product[GapFlag]
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"))
      .as(Encoders.product[(Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new GapEventTimeProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Batch or streaming: per-user 3σ inter-arrival flags. */
  def gapAnomalies(events: DataFrame): Dataset[GapFlag] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[GapFlag] = Encoders.product[GapFlag]
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"))
      .as(Encoders.product[(Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new GapProcessor, TimeMode.None(), OutputMode.Update())
  }
}
