package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming next-fit sequence packer — the online twin of the batch
  * `pack_context_bins` query: documents stream in per-shard doc_id
  * order, fill the current context bin until the next doc would
  * overflow, and every CLOSED bin is emitted with its final (n_docs,
  * bin_tokens) the moment its closer arrives; the open bin is emitted
  * as a snapshot each batch (Update mode: the latest row per
  * (shard, bin_id) is the truth, and a bin's counters only grow).
  *
  * State per shard is four longs — the doc_id frontier plus the open
  * bin's (id, tokens, count) — O(1) regardless of stream length. The
  * strict doc_id frontier makes an at-least-once replay of the frontier
  * doc a no-op and drops a cross-batch regression (which would pack a
  * doc into a bin that already closed): the watermark-discard analogue
  * the rest of the ordered-arrival family uses. All arithmetic is
  * integer, so the one-shot batch run hash-matches the SAME recursive
  * CTE oracle as `pack_context_bins`. */
object PackStream {

  final case class Bin(shard: Int, bin_id: Long, n_docs: Long, bin_tokens: Long)

  final case class PackState(lastDoc: Long, bin: Long, cur: Long, n: Long)

  /** K = shard, I = (shard, doc_id, n_tokens). */
  final class PackProcessor(capacity: Long)
      extends StatefulProcessor[Int, (Int, Long, Long), Bin] {
    @transient private var st: ValueState[PackState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PackState]("pack",
        Encoders.product[PackState], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[(Int, Long, Long)],
        timers: TimerValues): Iterator[Bin] = {
      val sorted = rows.toArray.sortBy(_._2)
      var s = if (st.exists()) st.get()
        else PackState(Long.MinValue, 0L, 0L, 0L)
      val out = Vector.newBuilder[Bin]
      sorted.foreach { case (_, docId, t) =>
        if (docId > s.lastDoc) {
          if (s.bin == 0L || s.cur + t > capacity) {
            if (s.bin > 0L) out += Bin(key, s.bin, s.n, s.cur) // bin closed: final row
            s = PackState(docId, s.bin + 1, t, 1L)
          } else s = PackState(docId, s.bin, s.cur + t, s.n + 1)
        }
      }
      st.update(s)
      if (s.bin > 0L) out += Bin(key, s.bin, s.n, s.cur) // open-bin snapshot
      out.result().iterator
    }
  }

  /** Batch or streaming: per-shard next-fit bins. `docs` columns:
    * (shard INT, doc_id LONG, n_tokens LONG). */
  def pack(docs: DataFrame, capacity: Long): Dataset[Bin] = {
    StateCoordinator.register(docs.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Bin] = Encoders.product[Bin]
    docs
      .select(col("shard").cast("int"), col("doc_id").cast("long"),
        col("n_tokens").cast("long"))
      .as(Encoders.product[(Int, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaInt)
      .transformWithState(new PackProcessor(capacity), TimeMode.None(), OutputMode.Update())
  }
}
