package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming EXACT distinct-user counter per event type via a growable
  * word bitmap — the exact sibling of the online sketch quartet
  * (HLL/CMS/Bloom/delta): when the id domain is dense and bounded
  * (users, SKUs), 1 bit per id beats any sketch — no error, mergeable
  * under OR, popcount-readable. State per key is one Array[Long] of
  * 64-id words, grown geometrically as higher ids arrive; replays and
  * cross-batch duplicates are idempotent by construction (OR), so the
  * one-shot batch run equals DuckDB's COUNT(DISTINCT) bit-for-bit.
  *
  * The same word-bitmap encoding backs the batch `bitmap_index_audit`
  * — this is its online half. */
object BitmapStream {

  final case class DistinctCount(event_type: String, n_distinct: Long)

  /** Bitmap state is linear in max(uid), so the id domain must be the
    * dense-and-bounded kind the operator is for: one malformed id would
    * otherwise corrupt the word index (negative uid → truncated/negative
    * array index) or attempt a multi-GB allocation (uid ≈ 2^36+). Ids
    * outside [0, MaxId) fail loudly instead. */
  val MaxId: Long = 1L << 31 // 2^31 ids = 256 MiB/key worst case

  /** K = event_type, I = (event_type, user_id). */
  final class BitmapProcessor extends StatefulProcessor[String, (String, Long), DistinctCount] {
    @transient private var words: ValueState[Array[Long]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      words = getHandle.getValueState[Array[Long]]("words",
        Encoders.kryo[Array[Long]], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[DistinctCount] = {
      var arr = if (words.exists()) words.get() else new Array[Long](8)
      rows.foreach { case (_, uid) =>
        require(uid >= 0L && uid < MaxId,
          s"BitmapStream id out of dense domain [0, $MaxId): $uid (key=$key); " +
            "use the HLL sketch stream for unbounded/sparse id spaces")
        val w = (uid >>> 6).toInt
        if (w >= arr.length) {
          val grown = new Array[Long](Integer.highestOneBit(w) * 2 max 8)
          System.arraycopy(arr, 0, grown, 0, arr.length)
          arr = grown
        }
        arr(w) |= 1L << (uid & 63L)
      }
      words.update(arr)
      var n = 0L
      var i = 0
      while (i < arr.length) { n += java.lang.Long.bitCount(arr(i)); i += 1 }
      Iterator.single(DistinctCount(key, n))
    }
  }

  /** Batch or streaming: exact distinct users per event type. */
  def distinctUsers(events: DataFrame): Dataset[DistinctCount] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[DistinctCount] = Encoders.product[DistinctCount]
    events
      .select(col("event_type"), col("user_id").cast("long"))
      .as(Encoders.product[(String, Long)])
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new BitmapProcessor, TimeMode.None(), OutputMode.Update())
  }
}
