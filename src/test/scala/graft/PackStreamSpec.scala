package graft

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.PackStream

/** Top level, NOT nested in the suite: an inner case class captures the
  * suite's `$outer` and Janino cannot compile the generated encoder
  * projection, so every touch fell back to interpreter mode
  * (`WARN UnsafeProjection: Expr codegen error`) and buried real codegen
  * regressions in the test log (round-9 VERDICT 6). */
final case class PackDoc(shard: Int, doc_id: Long, n_tokens: Long)

/** Streaming next-fit packer: O(1) per-shard state must carry the OPEN
  * bin across micro-batch boundaries so closed-bin finals + the last
  * snapshot reproduce the batch one-shot; frontier discipline pinned on
  * hand-built streams. */
class PackStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Doc = PackDoc
  private def Doc(shard: Int, doc_id: Long, n_tokens: Long): PackDoc =
    PackDoc(shard, doc_id, n_tokens)

  private def run(batches: Seq[Seq[Doc]], name: String): Map[(Int, Long), (Long, Long)] = {
    val stream = MemoryStream[Doc](Encoders.product[Doc], spark.sqlContext)
    val ckpt = Files.createTempDirectory(s"graft-pack-$name").toString
    val q = PackStream.pack(stream.toDF(), capacity = 100L)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    // a bin's counters only grow; max per (shard, bin) is its final row
    spark.table(name).groupBy("shard", "bin_id")
      .agg(max("n_docs").as("n"), max("bin_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("open bin carries across batches; closed bins emit final rows once") {
    // shard 0: 60+30 fills bin 1 to 90; the 40 in batch 2 overflows ->
    // bin 1 closes at (2, 90), bin 2 = 40+50 = 90; the 120 oversize doc
    // closes bin 2 and sits alone in bin 3.
    val batches = Seq(
      Seq(Doc(0, 1, 60), Doc(0, 2, 30)),
      Seq(Doc(0, 3, 40), Doc(0, 4, 50)),
      Seq(Doc(0, 5, 120)))
    val got = run(batches, "pack_s1")
    assert(got === Map(
      (0, 1L) -> ((2L, 90L)),
      (0, 2L) -> ((2L, 90L)),
      (0, 3L) -> ((1L, 120L))))
  }

  test("cross-batch regression and frontier replay are no-ops") {
    val batches = Seq(
      Seq(Doc(7, 10, 80)),
      // doc 9 regresses past the frontier (10) and must NOT join bin 1
      // retroactively; doc 10 is an at-least-once replay of the frontier.
      Seq(Doc(7, 9, 10), Doc(7, 10, 80), Doc(7, 11, 30)))
    val got = run(batches, "pack_s2")
    assert(got === Map((7, 1L) -> ((1L, 80L)), (7, 2L) -> ((1L, 30L))))
  }

  test("one-shot batch run equals the batch pack_context_bins query") {
    val dir = "/root/testdata/sf0.001"
    // Query results are unordered: compare the rows in one canonical order.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val streamed = rows(graft.queries.MediaStreamQueries.queries("stream_pack")(spark, dir))
    val batch = rows(graft.queries.CurationQueries.queries("pack_context_bins")(spark, dir))
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }
}
