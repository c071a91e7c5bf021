package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.functions.PolyHash

/** Streaming distinct-user cardinality per event type as a 64-register
  * HyperLogLog — the online twin of the batch HLL queries (`hll_distinct`
  * / `hll_by_source`): the dashboard counter that never stores user ids,
  * only 64 bytes of state per key, updated as events arrive.
  *
  * The register math is byte-for-byte the engine's batch HLL (PolyHash of
  * the id's decimal string, bucket = h mod 64, rho = trailing zeros of
  * h div 64 plus one, 25 for the zero word), so the batch one-shot run is
  * hash-checked against the SAME DuckDB register-replay oracle family.
  * The estimate's 2^-rho terms are exact dyadic doubles with a common
  * 2^-25 denominator, so the per-key sum is order-free — streaming
  * arrival order cannot perturb the estimate.
  *
  * State: ValueState[Array[Byte]] of 64 max-rho registers per key —
  * registers MAX-merge, so replays and cross-batch updates are idempotent
  * and order-insensitive by construction. Update-mode emission re-reports
  * each key's current estimate every batch it changes in.
  */
object HllStream {

  final case class HllEstimate(event_type: String, n_used: Long, estimate: Double)

  /** K = event_type, I = (event_type, user_id). */
  final class HllProcessor extends StatefulProcessor[String, (String, Long), HllEstimate] {
    @transient private var regs: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]]("regs", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[HllEstimate] = {
      val arr = if (regs.exists()) regs.get() else new Array[Byte](64)
      rows.foreach { case (_, uid) =>
        val h = PolyHash.hashString(uid.toString)
        val bucket = (h % 64).toInt
        val w = h / 64
        val rho = if (w == 0L) 25 else java.lang.Long.numberOfTrailingZeros(w) + 1
        if (rho > arr(bucket)) arr(bucket) = rho.toByte
      }
      regs.update(arr)
      val nUsed = arr.count(_ > 0).toLong
      var s = 0.0
      var i = 0
      while (i < 64) { if (arr(i) > 0) s += math.pow(2.0, -arr(i).toDouble); i += 1 }
      Iterator.single(HllEstimate(key, nUsed, 0.709 * 64 * 64 / (s + (64 - nUsed))))
    }
  }

  /** Batch or streaming: per-type distinct-user HLL estimates. */
  def distinctUsers(events: DataFrame): Dataset[HllEstimate] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[HllEstimate] = Encoders.product[HllEstimate]
    events
      .select(col("event_type"), col("user_id").cast("long"))
      .as(Encoders.product[(String, Long)])
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new HllProcessor, TimeMode.None(), OutputMode.Update())
  }
}
