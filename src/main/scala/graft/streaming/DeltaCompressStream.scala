package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming delta compression at ingest: a telemetry event passes only
  * if it's the user's first, moved by more than 1.0 in value against the
  * previous event, or arrived after a >10-minute silence — the
  * keep-on-change rule applied ONLINE, so the sink stores the compressed
  * stream instead of compacting it nightly. The batch twin is
  * `delta_compress` ([[graft.queries.Relational.deltaCompress]]); both
  * share one DuckDB oracle, so online/offline parity is hash-checked,
  * not asserted.
  *
  * State is one ValueState[(value, ts_us)] per user — the PREVIOUS event
  * (kept or dropped; the relational lag() it mirrors is over all rows),
  * O(1) per key regardless of stream length (a real deployment adds a
  * TTL; StateTtlSpec pins that machinery).
  *
  * Determinism: within one batch a user's rows arrive in arbitrary
  * order, so the processor replays them in (ts, event_id) order —
  * exactly the relational window order — making the batch one-shot
  * bit-equal to the oracle while streaming mode also applies the rule
  * across batch boundaries via state. The per-key sort buffers one
  * user's rows for one batch only.
  */
object DeltaCompressStream {

  final case class Kept(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, value: Double)

  /** K = user_id, I = (user_id, event_id, ts_us, event_type, value). */
  final class DeltaProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, String, Double), Kept] {
    @transient private var prev: ValueState[(Double, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      prev = getHandle.getValueState[(Double, Long)]("prev",
        Encoders.product[(Double, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String, Double)],
        timers: TimerValues): Iterator[Kept] = {
      val sorted = rows.toSeq.sortBy { case (_, id, ts, _, _) => (ts, id) }
      var st: Option[(Double, Long)] =
        if (prev.exists()) Some(prev.get()) else None
      val out = Seq.newBuilder[Kept]
      sorted.foreach { case (_, id, ts, typ, v) =>
        val keep = st match {
          case None             => true
          case Some((pv, pus))  => math.abs(v - pv) > 1.0 || ts - pus > 600000000L
        }
        if (keep) out += Kept(key, id, ts, typ, v)
        st = Some((v, ts))
      }
      st.foreach(prev.update)
      out.result().iterator
    }
  }

  /** Batch or streaming: the kept (surviving) events per user. */
  def kept(events: DataFrame): Dataset[Kept] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Kept] = Encoders.product[Kept]
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("event_type"), col("value").cast("double"))
      .as(Encoders.product[(Long, Long, Long, String, Double)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new DeltaProcessor, TimeMode.None(), OutputMode.Update())
  }
}
