package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.Sketches

/** Streaming Bloom filter: the (reg, bits) register relation of
  * [[graft.operators.Sketches.bloomSketch]], maintained ONLINE — the
  * membership screen a streaming ingest consults ("have I seen this
  * fingerprint?") without storing the fingerprints themselves. Completes
  * the online sketch quartet next to [[CmsStream]] (frequency),
  * [[HllStream]] (cardinality) and [[DedupStream]] (exact keyed state).
  *
  * Bit indices are computed SCAN-SIDE by the same codegen'd expressions
  * as the batch sketch (seeded affine permutations of the element hash),
  * so the keyed exchange moves only (reg, mask) pairs and the batch
  * one-shot run is hash-checked against the same DuckDB register-replay
  * oracle family. Registers OR-merge — idempotent under replay and
  * arrival-order-free by construction.
  *
  * State: one ValueState[Array[Byte]] holding a 32-register block of
  * packed longs per key (key = reg div 32), so state stays ≤ m/32
  * registers total regardless of stream length.
  */
object BloomStream {

  final case class Reg(reg: Long, bits: Long)

  private val Block = 32

  private def decode(bytes: Array[Byte]): Array[Long] = {
    val arr = new Array[Long](Block)
    if (bytes != null) {
      val bb = ByteBuffer.wrap(bytes)
      var i = 0
      while (i < Block) { arr(i) = bb.getLong(); i += 1 }
    }
    arr
  }

  private def encode(arr: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(arr.length * 8)
    arr.foreach(bb.putLong)
    bb.array()
  }

  /** K = reg div Block, I = (reg, mask). */
  final class BloomProcessor extends StatefulProcessor[Long, (Long, Long), Reg] {
    @transient private var regs: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]]("regs", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[Reg] = {
      val arr = decode(if (regs.exists()) regs.get() else null)
      rows.foreach { case (reg, mask) => arr((reg % Block).toInt) |= mask }
      regs.update(encode(arr))
      arr.iterator.zipWithIndex.collect {
        case (bits, i) if bits != 0L => Reg(key * Block + i, bits)
      }
    }
  }

  /** Batch or streaming: the live Bloom register relation of a stream of
    * element hashes (`hashCol`: the engine poly-hash of the element). */
  def sketch(elems: DataFrame, hashCol: String): Dataset[Reg] = {
    StateCoordinator.register(elems.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[Reg] = Encoders.product[Reg]
    elems.select(explode(array((0 until Sketches.BloomK).map(j =>
        Sketches.bloomBit(col(hashCol), j)): _*)).as("bit"))
      .select(expr("bit div 32").as("reg"),
        expr("shiftleft(cast(1 as bigint), cast(bit % 32 as int))").as("mask"))
      .as(Encoders.product[(Long, Long)])
      .groupByKey(_._1 / Block)(Encoders.scalaLong)
      .transformWithState(new BloomProcessor, TimeMode.None(), OutputMode.Update())
  }
}
