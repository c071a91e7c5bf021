package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PerceptualHash

/** Unit pins for the curation family's sequential pieces: the next-fit
  * packing scan (oracle-checked end-to-end, but its edge semantics —
  * oversize docs, exact fits — deserve direct pins) and the dHash
  * kernel behind the perceptual near-dup family. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("next-fit packing: exact fit stays, overflow opens, oversize isolates") {
    import spark.implicits._
    // capacity 256: [100, 156] exact-fills bin 1; [200] can't join → bin 2;
    // [300] oversize → bin 3 alone; [50] next-fit NEVER revisits bin 2's
    // free space → bin 4.
    val docs = Seq(
      (0L, text(100)), (1L, text(156)), (2L, text(200)), (3L, text(300)),
      (4L, text(50)))
      .toDF("doc_id", "text")
    val got = graft.queries.CurationQueries.packSequences(
      // route the fixture through the exact query code path (parquet dir)
      spark, writeFixture(docs))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq.sorted === Seq(
      (0, 1L, 2L, 256L), // 100+156 exact fit
      (0, 2L, 1L, 200L), // 200 overflows bin 1
      (0, 3L, 1L, 300L), // oversize doc isolated
      (0, 4L, 1L, 50L))) // next-fit does not backtrack into bin 2
  }

  private def text(nTokens: Int): String = Seq.fill(nTokens)("w").mkString(" ")

  /** Writes a doc fixture as a one-table sf dir for the query API. */
  private def writeFixture(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-curation").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dhash: empty and constant payloads fingerprint to 0, structure to bits") {
    assert(PerceptualHash.dhash(Array.emptyByteArray) === 0L)
    assert(PerceptualHash.dhash(Array.fill(128)(7.toByte)) === 0L) // flat signal
    // strictly decreasing signal: every adjacent-cell comparison is
    // "left > right" → all 56 bits set
    val desc = Array.tabulate(128)(i => (255 - i).toByte)
    assert(PerceptualHash.dhash(desc) === (1L << 56) - 1L)
    // payload shorter than 64 cells still defines all cells (empties = 0)
    val tiny = Array[Byte](50, 10)
    val fp = PerceptualHash.dhash(tiny)
    assert(fp >= 0L && fp < (1L << 56))
  }

  test("dhash survives re-encoding-style perturbation within a few bits") {
    // the property the checksum family can't have: a small uniform
    // perturbation (re-encode noise) moves the fingerprint by a few bits
    // at most, while the md5-style checksum changes completely
    val base = Array.tabulate(4096)(i => (((i * 37) % 251)).toByte)
    val noisy = base.map(b => (b + 1).toByte) // uniform +1 on every byte
    val d = java.lang.Long.bitCount(
      PerceptualHash.dhash(base) ^ PerceptualHash.dhash(noisy))
    assert(d <= 6, s"perceptual distance $d after uniform perturbation")
  }
}
