package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.Sketches

/** Streaming count-min sketch: the (row_j, bucket, cnt) cell relation of
  * [[graft.operators.Sketches.cmsSketch]], maintained ONLINE — counts
  * accumulate as tokens arrive, so term-frequency estimates are available
  * mid-stream without a batch rebuild. Completes the streaming sketch
  * family next to [[HllStream]] (cardinality) and [[DedupStream]]
  * (membership-by-state).
  *
  * The cell math is byte-for-byte the batch sketch (PolyHash pushed
  * through the seeded affine permutations, mod w) — bucket indices are
  * computed SCAN-SIDE by the same codegen'd expressions, so the keyed
  * exchange moves only (row_j, bucket) pairs, and the batch one-shot run
  * is hash-checked against the same DuckDB sketch-replay oracle family.
  *
  * State: one ValueState[Array[Byte]] of w packed little-endian longs per
  * hash row (d keys × w counters total, regardless of stream length).
  * Counters ADD-merge, so arrival order and replays-within-a-batch
  * cannot reorder anything observable; each batch re-emits the full
  * non-zero cell set for the rows it touched (Update-mode semantics).
  */
object CmsStream {

  final case class Cell(row_j: Int, bucket: Int, cnt: Long)

  private def decode(bytes: Array[Byte], w: Int): Array[Long] = {
    val arr = new Array[Long](w)
    if (bytes != null) {
      val bb = ByteBuffer.wrap(bytes)
      var i = 0
      while (i < w) { arr(i) = bb.getLong(); i += 1 }
    }
    arr
  }

  private def encode(arr: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(arr.length * 8)
    arr.foreach(bb.putLong)
    bb.array()
  }

  /** K = row_j, I = (row_j, bucket). */
  final class CmsProcessor(w: Int) extends StatefulProcessor[Int, (Int, Int), Cell] {
    @transient private var cells: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cells = getHandle.getValueState[Array[Byte]]("cells", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[(Int, Int)],
        timers: TimerValues): Iterator[Cell] = {
      val arr = decode(if (cells.exists()) cells.get() else null, w)
      rows.foreach { case (_, b) => arr(b) += 1L }
      cells.update(encode(arr))
      arr.iterator.zipWithIndex.collect {
        case (cnt, bucket) if cnt > 0L => Cell(key, bucket, cnt)
      }
    }
  }

  /** Batch or streaming: the live CMS cell relation of a term stream. */
  def sketch(terms: DataFrame, term: String,
      d: Int = Sketches.CmsDepth, w: Int = Sketches.CmsWidth): Dataset[Cell] = {
    StateCoordinator.register(terms.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Cell] = Encoders.product[Cell]
    terms.select(explode(array((0 until d).map(j =>
        struct(lit(j).as("row_j"),
          Sketches.cmsBucket(col(term), j, w).cast("int").as("bucket"))): _*)).as("c"))
      .select(col("c.row_j").as("row_j"), col("c.bucket").as("bucket"))
      .as(Encoders.product[(Int, Int)])
      .groupByKey(_._1)(Encoders.scalaInt)
      .transformWithState(new CmsProcessor(w), TimeMode.None(), OutputMode.Update())
  }
}
