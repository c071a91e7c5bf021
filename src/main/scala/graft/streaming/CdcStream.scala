package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming CDC materializer — keyed last-writer-wins with tombstones:
  * applies an ordered change stream of (key, seq, op I/U/D, payload) and
  * maintains the CURRENT row per key, the Debezium-to-lake "apply the
  * binlog" job and the online twin of the batch `upsert_snapshot`
  * anti-join + union merge.
  *
  * State per key is one materialized row: (lastSeq, deleted, status,
  * cents). Ops apply in seq order (in-batch sort; cross-batch
  * regressions — a replayed or late op with seq below the applied
  * frontier — are dropped, which makes replay idempotent: re-delivering
  * any prefix of the log cannot move the materialized row). A delete is
  * a TOMBSTONE, not an erasure: the key keeps its frontier so a
  * later-seq insert can resurrect it, and a replayed pre-delete update
  * cannot. Payload money rides as exact integer cents; the emitted
  * price is ONE IEEE division, so the one-shot batch run hash-matches
  * the relational merge oracle. */
object CdcStream {

  final case class CdcRow(o_orderkey: Long, seq: Long, deleted: Boolean,
    o_orderstatus: String, cents: Long)

  final case class CdcState(lastSeq: Long, deleted: Boolean,
    status: String, cents: Long)

  /** K = key, I = (key, seq, op, status, cents). */
  final class CdcProcessor
      extends StatefulProcessor[Long, (Long, Long, String, String, Long), CdcRow] {
    @transient private var st: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CdcState]("cdc",
        Encoders.product[CdcState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, String, String, Long)],
        timers: TimerValues): Iterator[CdcRow] = {
      val sorted = rows.toArray.sortBy(_._2)
      var state = if (st.exists()) st.get()
        else CdcState(Long.MinValue, deleted = true, "", 0L)
      sorted.foreach { case (_, seq, op, status, cents) =>
        if (seq >= state.lastSeq) {
          state =
            if (op == "D") CdcState(seq, deleted = true, state.status, state.cents)
            else CdcState(seq, deleted = false, status, cents)
        }
      }
      st.update(state)
      Iterator.single(CdcRow(key, state.lastSeq, state.deleted, state.status, state.cents))
    }
  }

  /** Batch or streaming: materialized current row per key (tombstones
    * included — the caller filters `deleted` for a snapshot readout). */
  def materialize(cdc: DataFrame): Dataset[CdcRow] = {
    StateCoordinator.register(cdc.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[CdcRow] = Encoders.product[CdcRow]
    cdc
      .select(col("key").cast("long"), col("seq").cast("long"),
        col("op").cast("string"), col("status").cast("string"),
        col("cents").cast("long"))
      .as(Encoders.product[(Long, Long, String, String, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new CdcProcessor, TimeMode.None(), OutputMode.Update())
  }
}
