package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming last-touch attribution: every purchase event is attributed
  * to the user's LATEST preceding click — the online twin of the batch
  * `attribution_last_touch` as-of join, run as join-with-state so the
  * attribution is emitted the moment the purchase arrives instead of in
  * a nightly backfill.
  *
  * State is one ValueState[(ts_us, event_id)] per user — the most recent
  * click only, O(1) per key regardless of stream length (a real
  * deployment adds a TTL so stale clicks age out; StateTtlSpec pins that
  * machinery).
  *
  * Determinism: within one batch a user's rows arrive in arbitrary
  * order, so the processor replays them in (ts, clicks-first, event_id)
  * order — exactly the backward as-of window order (clicks sort before
  * purchases at equal times so "<=" holds; equal-time click ties resolve
  * to the max event_id). A batch one-shot run therefore equals the
  * relational oracle bit-for-bit, while in streaming mode purchases also
  * see clicks from every EARLIER batch via state — true cross-batch
  * arrival semantics. The per-key sort buffers one user's rows for one
  * batch only (bounded by per-user batch volume, not stream length).
  */
object AttributionStream {

  final case class Attributed(purchase_id: Long, user_id: Long,
      click_id: Option[Long], lag_us: Option[Long])

  /** K = user_id, I = (user_id, event_id, ts_us, is_click). */
  final class AttributionProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Boolean), Attributed] {
    @transient private var lastClick: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastClick = getHandle.getValueState[(Long, Long)]("last_click",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, Boolean)],
        timers: TimerValues): Iterator[Attributed] = {
      val sorted = rows.toSeq.sortBy { case (_, id, ts, isClick) =>
        (ts, if (isClick) 0 else 1, id)
      }
      var st: Option[(Long, Long)] =
        if (lastClick.exists()) Some(lastClick.get()) else None
      val out = Seq.newBuilder[Attributed]
      sorted.foreach { case (_, id, ts, isClick) =>
        if (isClick) st = Some((ts, id))
        else out += Attributed(id, key, st.map(_._2), st.map(ts - _._1))
      }
      st.foreach(lastClick.update)
      out.result().iterator
    }
  }

  /** Batch or streaming: clicks update per-user state, purchases emit
    * their attribution. Non-click/purchase event types are filtered at
    * the scan — they never ride the keyed exchange. */
  def lastTouch(events: DataFrame): Dataset[Attributed] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Attributed] = Encoders.product[Attributed]
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")), (col("event_type") === "click").as("is_click"))
      .as(Encoders.product[(Long, Long, Long, Boolean)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new AttributionProcessor, TimeMode.None(), OutputMode.Update())
  }
}
