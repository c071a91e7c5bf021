package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge TRAINING as an iterated operator — completes
  * the tokenizer surface beyond `bpe_token_count` (which only counts
  * pre-tokenized units): N rounds of (count adjacent symbol pairs over
  * the word vocabulary, weighted by word frequency) → (merge the argmax
  * pair everywhere), the classic Sennrich-style subword learning loop.
  *
  * Determinism contract (what makes it oracle-checkable):
  *  - argmax tie-break is total: highest count, then lexicographically
  *    smallest (left, right) — never hash order;
  *  - the merge applies the pair as ONE leftmost-non-overlapping string
  *    replace pass over the delimited symbol string (`" l r "` →
  *    `" lr "`) — the exact semantics of both Spark's and DuckDB's
  *    `replace`, so the per-round state is bit-identical across engines
  *    by construction. (A run of the same symbol merges its odd tail in
  *    a later round — a documented variant choice, not nondeterminism;
  *    classical greedy differs only on such runs.)
  *
  * Scale shape: pair counting is ONE map-side-combined shuffle over the
  * VOCABULARY (|distinct words| rows — corpus-independent after the
  * initial word count), the argmax is a 1-row TakeOrdered heap collected
  * to the driver (the k-means++ centroid discipline — bounded driver
  * traffic per round), and the merge is a pure map. Per-round state is
  * PINNED (localCheckpoint) like every iterated operator here
  * ([[graft.GraftCaches.pin]]): an evicted cached round would recompute
  * a doubling lineage at 100 TB.
  */
object Bpe {

  /** The (w, f) word-frequency relation BOTH trainers here ([[Bpe]] and
    * [[Unigram]]) start from — factored out (guide §2.4) so a
    * caller running the two trainers over the SAME corpus
    * (tokenizer_compare) can build and pin it once instead of paying the
    * corpus scan + explode + aggregate twice. */
  def wordCounts(docs: DataFrame, text: String): DataFrame =
    docs.select(explode(TextOps.words(col(text))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** Learned merge list: (round, lhs, rhs, merged, pair_count), one row
    * per training round, `rounds` rows total (fewer only if the corpus
    * runs out of adjacent pairs first). */
  def train(docs: DataFrame, text: String, rounds: Int): DataFrame =
    iterate(wordCounts(docs, text), rounds)._1

  /** The ENCODER the training loop implies: each vocabulary word with its
    * final segmentation after all `rounds` merges were applied in learned
    * order (one leftmost-non-overlapping replace pass per merge — the
    * identical semantics training used to build per-round state, so
    * "apply" is the training state itself, not a second code path).
    * Returns (w, units) where units = subword count; vocabulary-sized, so
    * the caller broadcasts it against corpus tokens. */
  def encodeVocab(docs: DataFrame, text: String, rounds: Int): DataFrame =
    encodeVocabFromCounts(wordCounts(docs, text), rounds)

  /** [[encodeVocab]] from a pre-built [[wordCounts]] relation — the
    * shared-vocabulary entry for callers training several tokenizers
    * over one corpus. Training is identical by construction: the merge
    * loop never touches the corpus, only (w, f). */
  def encodeVocabFromCounts(wc: DataFrame, rounds: Int): DataFrame =
    iterate(wc, rounds)._2
      .select(col("w"),
        size(org.apache.spark.sql.functions.filter(
          split(trim(col("s")), " "), x => x =!= "")).cast("long").as("units"))

  private def iterate(wc: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val spark = wc.sparkSession
    import spark.implicits._
    val vocab0 = wc
      .select(col("w"), col("f"),
        concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" ")).as("s"))
    // Lazy pins: each round's argmax collect is the
    // materializing action, so the dedicated eager-checkpoint job per
    // round folds into a job the loop was running anyway.
    var state = graft.GraftCaches.pin(vocab0, eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = state
        .select(col("f"), split(trim(col("s")), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("f"), explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rr, cnt))
        state = graft.GraftCaches.pin(state.withColumn("s",
          replace(col("s"), lit(s" $l $rr "), lit(s" $l$rr "))), eager = false)
        r += 1
      }
    }
    val mergeDf = merges.toSeq.toDF("round", "lhs", "rhs", "pair_count")
      .select(col("round"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"),
        col("pair_count"))
    (mergeDf, state)
  }
}
