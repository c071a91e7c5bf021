package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** Shared columnar text primitives for the text-analysis / dedup operators.
  * All pure `Column` builders (codegen-friendly, no UDFs) so they fuse into
  * whole-stage codegen and scale linearly with input — the per-document
  * work is embarrassingly parallel, there is no shuffle in any of these.
  */
object TextOps {

  /** Training-corpus chunking: split a document into fixed-size token
    * windows with overlap (stride = chunkSize - overlap), the standard
    * pre-tokenization shaping step. Pure per-row explode — no shuffle,
    * scan-parallel at any corpus size; short tail chunks are kept (the
    * trainer's packer decides their fate, not the chunker). */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, id: String,
      text: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got overlap=$overlap chunkSize=$chunkSize")
    val stride = chunkSize - overlap
    // Chunk starts run while s < n - overlap: the previous chunk ends at
    // s + overlap, so a start past that bound would only re-emit tokens
    // the previous chunk already covered (redundant tail chunks).
    docs.select(col(id), split(col(text), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("s",
        explode(expr(s"sequence(0, greatest(n - ${overlap + 1}, 0), $stride)")))
      .select(col(id),
        (col("s") / stride).cast("int").as("chunk_no"),
        array_join(slice(col("toks"), col("s") + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(lit(chunkSize), col("n") - col("s")).cast("int").as("n_tokens"))
  }

  /** Whitespace tokens, empties dropped (reference split discipline,
    * etl_pipeline.py:311-314). */
  def words(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Distinct polynomial hashes of the distinct tokens. */
  def wordHashes(text: Column): Column =
    transform(array_distinct(words(text)), w => PolyHash.hash(w))

  /** Distinct hashes of overlapping 3-word shingles. Caller must guarantee
    * >= 3 words (sequence(1, n-2) would run descending otherwise).
    *
    * Fingerprint: hash each WORD once with the native
    * PolyHash (one pass over its characters), then combine consecutive
    * word-hash triples arithmetically —
    * `((h1*31 + h2) % M * 31 + h3) % M` — instead of concatenating the
    * 3-word string and re-hashing its characters. Same role (a
    * deterministic int64 fingerprint of the 3-gram, cross-engine
    * reproducible in plain SQL), ~3 char-passes and two string
    * allocations cheaper per gram; everything stays in int64
    * (h < 1e9+7 ⇒ h*31 + h' < 3.3e10). The fold runs in
    * the native [[graft.functions.WindowFoldHashes]] codegen expression
    * (one tight double loop, two flat arrays — no per-window slice or
    * lambda interpretation). */
  def shingleHashes(ws: Column): Column =
    array_distinct(graft.functions.WindowFoldHashes.of(ws, 3))

  /** Distinct fold-hashes of overlapping w-word windows — the
    * generalized shingle fingerprint (shingleHashes is w=3 with
    * pairwise combine; this is the arbitrary-w form used by the 13-gram
    * decontamination standard): hash each word once, fold each window's
    * w word-hashes as `h = (h·31 + wh) mod M`, in the native
    * [[graft.functions.WindowFoldHashes]] codegen expression. Caller
    * must guarantee >= w words. */
  def windowHashes(ws: Column, w: Int): Column =
    array_distinct(graft.functions.WindowFoldHashes.of(ws, w))

  /** Seeded MinHash permutations: (a, b) pairs with a, b < 1e9 so
    * `a*h + b` stays in int64 (h < 1e9+7). Fixed constants — the DuckDB
    * oracles embed the same literals. */
  val MinhashSeeds: Seq[(Long, Long)] = Seq(
    (961748941L, 68718952L), (824633761L, 90000049L),
    (715827883L, 13466917L), (536870923L, 20996011L),
    (479001599L, 30402457L), (370248451L, 25964951L),
    (268435459L, 24036583L), (104857601L, 32582657L))

  /** min over the hash set of one seeded permutation. */
  def minhash(hs: Column, a: Long, b: Long): Column =
    array_min(transform(hs, h => (h * a + b) % PolyHash.Mod))

  /** LSH band key: mod-chained fold of the band's minhash values
    * (`((mh0*31 + mh1) % M ...)`), keeping everything in int64. */
  def bandKey(hs: Column, seeds: Seq[(Long, Long)]): Column =
    seeds.tail.foldLeft(minhash(hs, seeds.head._1, seeds.head._2)) {
      case (acc, (a, b)) => (acc * 31 + minhash(hs, a, b)) % PolyHash.Mod
    }

  /** 32-bit SimHash over a hash set: bit j set iff the +1/-1 vote of bit j
    * across all member hashes is positive. Computed by the native codegen
    * Expression [[graft.functions.Simhash32]] — bit-identical to the
    * interpreted HOF fold the oracles rebuild (equivalence pinned in
    * FunctionsSpec). */
  def simhash32(hs: Column): Column = graft.functions.Simhash32.of(hs)

  /** T5-style span-corruption plan (see TextQueries.spanCorruptionPlan
    * for the oracle-backed query): deterministic hash-selected span
    * starts (1-in-`everyN` positions), fixed `spanLen`-token windows,
    * overlaps merged (union semantics — order-free). Emits per doc:
    * n_tokens, n_corrupt, n_spans, encoder `input_text` (spans collapsed
    * to <extra_id_k>), decoder `target_text` (sentinel-prefixed span
    * tokens). One (doc,pos) explode + per-doc sliding-max / running-sum
    * windows + one reassembly aggregation — token-level shuffles,
    * window partitions bounded by document length. */
  def spanCorruptionPlan(docs: org.apache.spark.sql.DataFrame, id: String,
      text: String, everyN: Int = 20, spanLen: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val toks = filter(split(col(text), " "), w => w =!= "")
    val tok = docs
      .select(col(id), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("start",
        (pmod(graft.functions.PolyHash.hash(concat(col(id).cast("string"), lit(":"),
          col("pos").cast("string"), lit(":t5"))), lit(everyN)) === 0).cast("int"))
    val byPos = Window.partitionBy(id).orderBy("pos")
    val slide = byPos.rowsBetween(-(spanLen - 1), 0)
    val flagged = tok
      .withColumn("corrupt", max(col("start")).over(slide) === 1)
      .withColumn("run_start",
        (col("corrupt") && !coalesce(lag(col("corrupt"), 1).over(byPos), lit(false))).cast("int"))
      .withColumn("k", sum(col("run_start")).over(byPos) - 1)
    val inputPiece = when(!col("corrupt"), col("tok"))
      .when(col("run_start") === 1, concat(lit("<extra_id_"), col("k"), lit(">")))
    val targetPiece = when(col("corrupt") && col("run_start") === 1,
        concat(lit("<extra_id_"), col("k"), lit("> "), col("tok")))
      .when(col("corrupt"), col("tok"))
    flagged.groupBy(id)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("corrupt").cast("long")).as("n_corrupt"),
        sum(col("run_start").cast("long")).as("n_spans"),
        array_join(transform(
          array_sort(collect_list(when(inputPiece.isNotNull,
            struct(col("pos"), inputPiece.as("p"))))),
          s => s.getField("p")), " ").as("input_text"),
        array_join(transform(
          array_sort(collect_list(when(targetPiece.isNotNull,
            struct(col("pos"), targetPiece.as("p"))))),
          s => s.getField("p")), " ").as("target_text"))
  }
}
