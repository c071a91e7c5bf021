package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Watermark-buffered base for event-time editions of the stateful
  * family: the ordered-arrival processors document a
  * per-key ordered-delivery contract and drop cross-batch regressions;
  * this base replaces that contract with the standard event-time recipe —
  * buffer arrivals in whatever disorder the transport delivers, arm an
  * event-time timer just past the current watermark, and when it fires
  * fold exactly the buffered rows with `event time < watermark` in true
  * event-time order through the subclass's fold. The watermark contract
  * guarantees no later arrival can precede a flushed row (disorder
  * bounded by the watermark delay), so any shuffle of the same events
  * across micro-batches reproduces the ordered run bit-for-bit; rows at
  * or after the watermark stay buffered for the next firing.
  *
  * State per key = the subclass's fold state plus a buffer bounded by
  * the events inside one watermark-delay window. Timer discipline: ONE
  * live timer per key, and an existing timer is NEVER moved forward —
  * input arms a timer only when none is live, and a firing re-arms while
  * the buffer stays non-empty; the arm position `watermark + 1 ms` fires
  * at the next watermark advance. (Moving a live timer forward from
  * `handleInputRows` would starve any key that receives input in every
  * micro-batch: rows are processed before expired timers, so the due
  * timer would be deleted and re-registered past the very watermark it
  * was about to fire under, emissions would stall, and the buffer would
  * grow without bound — pinned by the every-batch-input parity spec.)
  *
  * Ordering facts this relies on (pinned by the event-time specs):
  * within a micro-batch Spark processes input rows BEFORE expired
  * timers, and timer expiry compares against the batch's eviction
  * watermark; both `handleInputRows` and `handleExpiredTimer` see that
  * watermark via `TimerValues`. */
abstract class EventTimeBufferedProcessor[I, S, O](
    iEnc: Encoder[I], sEnc: Encoder[S])(implicit ct: scala.reflect.ClassTag[I])
    extends StatefulProcessor[Long, I, O] {

  /** Event time of a buffered row, in MICROSECONDS. */
  protected def tsOf(row: I): Long

  /** Folds the ripe rows (already filtered to `tsOf < watermark`, NOT
    * yet sorted — sort with the twin processor's exact key) into the
    * carried state and produces this flush's emissions (running
    * aggregates emit the latest state; per-event detectors emit one row
    * per qualifying ripe event). Must be the SAME fold as the
    * ordered-arrival twin, strict frontier included, so
    * replays/regressions keep their discard semantics. */
  protected def fold(key: Long, state: Option[S], ripe: Array[I]): (S, Iterator[O])

  @transient private var st: ValueState[S] = _
  @transient private var buf: ListState[I] = _
  @transient private var tmr: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[S]("fold", sEnc, TTLConfig.NONE)
    buf = getHandle.getListState[I]("buf", iEnc, TTLConfig.NONE)
    tmr = getHandle.getValueState[Long]("tmr", Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Registers the per-key timer at `watermark + 1 ms` IFF no timer is
    * live. Callers: `handleInputRows` (tmr may exist — keep it; an
    * earlier position only fires sooner, and firing with nothing ripe is
    * a harmless no-op that re-arms) and `handleExpiredTimer` after
    * `tmr.clear()` (never exists). */
  private def armTimer(wmMs: Long): Unit = {
    if (!tmr.exists()) {
      val at = wmMs + 1L
      getHandle.registerTimer(at)
      tmr.update(at)
    }
  }

  override def handleInputRows(key: Long, rows: Iterator[I],
      timers: TimerValues): Iterator[O] = {
    // The watermark discard is enforced HERE, not delegated to Spark's
    // late-record filter: that filter drops against the PREVIOUS batch's
    // watermark, so a row later than `delay` behind the max event time
    // can still be delivered one batch after its window flushed — below
    // the fold frontier of SOME keys but not others. Discarding at the
    // eviction watermark makes "late never folds" exact and
    // deterministic (strict `<`, matching the flush rule: a row AT the
    // watermark is still foldable).
    val wmUs = timers.getCurrentWatermarkInMs() * 1000L
    rows.filter(r => tsOf(r) >= wmUs).foreach(buf.appendValue)
    armTimer(timers.getCurrentWatermarkInMs())
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[O] = {
    tmr.clear()
    val wmUs = timers.getCurrentWatermarkInMs() * 1000L
    val all = buf.get().toArray
    // Strict `<`: a row carrying EXACTLY the watermark timestamp may
    // still gain equal-ts peers in later batches; it is final only once
    // the watermark moves past it.
    val (ripe, green) = all.partition(r => tsOf(r) < wmUs)
    if (green.isEmpty) buf.clear() else buf.put(green)
    if (green.nonEmpty) armTimer(timers.getCurrentWatermarkInMs())
    if (ripe.isEmpty) Iterator.empty
    else {
      val prev = if (st.exists()) Some(st.get()) else None
      val (next, out) = fold(key, prev, ripe)
      st.update(next)
      out
    }
  }
}
