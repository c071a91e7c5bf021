package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.functions.PolyHash
import graft.operators.TextOps

/** Streaming KMV (k-minimum-values) distinct-user estimator per event
  * type — the online twin of the batch `kmv_source_overlap` sketch and
  * the third point of the distinct-count triangle: `stream_bitmap_users`
  * is exact with state linear in the id domain, `stream_hll_users` is
  * O(1)-state with register-merge error, KMV sits between — k longs of
  * state, the uniform-order-statistic estimate (k−1)·M/τ from the k-th
  * smallest hash, and (unlike HLL) a sketch whose pairwise INTERSECTION
  * is directly readable, which is why production dedup pipelines carry
  * it.
  *
  * State per key is one sorted Array[Long] of at most k distinct
  * hashes; inserts are idempotent (set semantics), so replays and
  * cross-batch duplicates cannot move the estimate — the one-shot batch
  * run hash-matches the same rank-arithmetic DuckDB oracle.
  */
object KmvStream {

  val K = 64

  /** Same affine permutation family as the batch sketches, seed 0. */
  val A: Long = TextOps.MinhashSeeds(0)._1
  val B: Long = TextOps.MinhashSeeds(0)._2

  final case class KmvEstimate(event_type: String, k_eff: Long, est_distinct: Double)

  /** K = event_type, I = (event_type, user_id). */
  final class KmvProcessor extends StatefulProcessor[String, (String, Long), KmvEstimate] {
    @transient private var mins: ValueState[Array[Long]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      mins = getHandle.getValueState[Array[Long]]("mins",
        Encoders.kryo[Array[Long]], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[KmvEstimate] = {
      var arr = if (mins.exists()) mins.get() else Array.empty[Long]
      rows.foreach { case (_, uid) =>
        // Wrap-free modular affine: reduce uid first (floorMod, so negative
        // ids land in [0, Mod) instead of yielding negative hashes) — then
        // reduced·A + B ≤ (1e9+6)·(1e9+6)+B < 2^63, no Long overflow for
        // ANY id, matching the oracle's identically-reduced arithmetic.
        val h = Math.floorMod(Math.floorMod(uid, PolyHash.Mod) * A + B, PolyHash.Mod)
        // Sorted-set insert, capped at K: skip if present or not below
        // the current k-th minimum once the sketch is full.
        val pos = java.util.Arrays.binarySearch(arr, h)
        if (pos < 0 && (arr.length < K || h < arr(arr.length - 1))) {
          val ins = -pos - 1
          val n = math.min(arr.length + 1, K)
          val grown = new Array[Long](n)
          System.arraycopy(arr, 0, grown, 0, ins)
          grown(ins) = h
          System.arraycopy(arr, ins, grown, ins + 1,
            math.min(arr.length - ins, n - ins - 1))
          arr = grown
        }
      }
      if (arr.nonEmpty) mins.update(arr)
      if (arr.isEmpty) Iterator.empty
      else {
        val est =
          if (arr.length < K) arr.length.toDouble // sketch not full: exact
          else (K - 1).toDouble * PolyHash.Mod.toDouble / arr(K - 1).toDouble
        Iterator.single(KmvEstimate(key, arr.length.toLong, est))
      }
    }
  }

  /** Batch or streaming: per-event-type KMV distinct-user estimate. */
  def distinctUsers(events: DataFrame): Dataset[KmvEstimate] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[KmvEstimate] = Encoders.product[KmvEstimate]
    events
      .select(col("event_type"), col("user_id").cast("long"))
      .as(Encoders.product[(String, Long)])
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new KmvProcessor, TimeMode.None(), OutputMode.Update())
  }
}
