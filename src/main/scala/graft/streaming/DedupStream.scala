package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming exact-dedup at ingest: the first event seen per
  * (user_id, event_type) key passes, every later duplicate is dropped —
  * the keep-first dedup every streaming ingest pipeline puts in front of
  * its sink so replays/at-least-once delivery can't double-count.
  *
  * State is one ValueState[Long] per key (the keeper's event_id) — O(1)
  * per key, bounded by the key domain, not the stream length; in a real
  * deployment the state would carry a TTL ([[graft.streaming]]'s
  * StateTtlSpec pins that machinery) so the "seen" horizon ages out.
  *
  * Determinism: within one batch a key's rows arrive in arbitrary order,
  * so the processor folds to the minimum (ts, event_id) rather than
  * trusting iterator order — batch one-shot output therefore equals the
  * relational row_number()=1 oracle bit-for-bit, while in streaming mode
  * the same processor implements true arrival-order first-seen.
  */
object DedupStream {

  final case class FirstSeen(user_id: Long, event_type: String, event_id: Long, ts_us: Long)

  /** K = (user_id, event_type), I = (user_id, event_type, event_id, ts_us). */
  final class DedupProcessor
      extends StatefulProcessor[(Long, String), (Long, String, Long, Long), FirstSeen] {
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Long, String), rows: Iterator[(Long, String, Long, Long)],
        timers: TimerValues): Iterator[FirstSeen] = {
      if (seen.exists()) { rows.foreach(_ => ()); Iterator.empty }
      else {
        var bestTs = Long.MaxValue
        var bestId = Long.MaxValue
        rows.foreach { case (_, _, id, ts) =>
          if (ts < bestTs || (ts == bestTs && id < bestId)) { bestTs = ts; bestId = id }
        }
        seen.update(bestId)
        Iterator.single(FirstSeen(key._1, key._2, bestId, bestTs))
      }
    }
  }

  /** Batch or streaming: group by the dedup key and keep the first row. */
  def firstSeen(events: DataFrame): Dataset[FirstSeen] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[FirstSeen] = Encoders.product[FirstSeen]
    events
      .select(col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), unix_micros(col("ts")))
      .as(Encoders.product[(Long, String, Long, Long)])
      .groupByKey(r => (r._1, r._2))(Encoders.product[(Long, String)])
      .transformWithState(new DedupProcessor, TimeMode.None(), OutputMode.Update())
  }
}
