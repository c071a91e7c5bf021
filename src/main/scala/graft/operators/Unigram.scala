package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING as an iterated
  * operator — the missing sibling of [[Bpe]] in the tokenizer surface:
  * where BPE grows a vocabulary bottom-up by merging, the unigram model starts from an over-complete piece
  * inventory and re-estimates piece likelihoods by EM, segmenting each
  * word with the current model and recounting.
  *
  * This implementation is HARD-EM (Viterbi E-step), the deterministic
  * member of the family: soft EM's forward-backward produces fractional
  * expected counts whose cross-row accumulation order Spark does not fix,
  * while hard counts are exact BIGINTs (word frequency × occurrences in
  * the single best segmentation) that hash-match across engines. The
  * only floating-point anywhere is (a) ONE division per piece per round,
  * `(cnt + 1) / (T + |P|)` on exact BIGINTs (Laplace smoothing keeps
  * every piece alive so DP cells never go unreachable), and (b) the DP's
  * left-to-right score products — a fixed evaluation order both engines
  * replay literally (the kmeans/ivf precedent: IEEE ops in a pinned
  * order are bit-reproducible; transcendentals are avoided entirely, so
  * no log-prob is ever taken).
  *
  * Determinism contract (what makes it oracle-checkable):
  *  - seeding is exact: piece inventory = the `topK` most frequent
  *    substrings of length 1..[[MaxPieceLen]] (count = Σ_w freq(w) ×
  *    start positions in w, overlaps included; ties by piece ASC) plus
  *    ALL single characters (coverage floor);
  *  - the Viterbi cell argmax is total: highest score, then the SMALLEST
  *    split point j (= the longest last piece) — never hash order;
  *  - counts, totals, and the piece set are FIXED-SIZE state collected
  *    to the driver each round (|P| rows — the BPE-argmax / k-means
  *    centroid discipline of bounded driver traffic per round).
  *
  * Scale shape: the vocabulary build is one map-side-combined shuffle
  * over corpus tokens; seeding is one shuffle over vocab×substrings
  * (bounded by |vocab| · maxlen · [[MaxPieceLen]]); each EM round is a
  * broadcast of |P| piece probs + a vocab-sized map (the DP is per-word,
  * embarrassingly parallel) + one piece-sized aggregation. Nothing in an
  * EM round touches the corpus — at 100 TB the corpus is read once for
  * the vocabulary and once for the final apply join. */
object Unigram {

  /** Longest candidate piece considered at seeding (and therefore the
    * DP's lookback). 4 is the classic subword sweet spot; the oracle's
    * unrolled DP must use the same constant. */
  val MaxPieceLen = 4

  /** NOT private: encoder codegen generates a SafeProjection that
    * constructs these reflectively from another class — a `private`
    * modifier compiles to a private bytecode member and Janino fails
    * with "Private member cannot be accessed" (hard failure here, not
    * the interpreter fallback the spec-inner-class case gets). */
  final case class WordFreq(w: String, f: Long)
  final case class SegRow(w: String, f: Long, seg: String, units: Int)

  /** Per-iteration hard-EM piece counts: (iter, piece, cnt) for EVERY
    * piece in the inventory (zero counts included — a piece dying is a
    * differential worth pinning), iter 0 = the seed counts. */
  def train(docs: DataFrame, text: String, iters: Int, topK: Int): DataFrame = {
    val (counts, _) = iterate(pinnedCounts(docs, text), iters, topK)
    val spark = docs.sparkSession
    import spark.implicits._
    counts.toDF("iter", "piece", "cnt")
  }

  // Lazy pin: the seed-inventory collect is the materializing
  // action; an eager checkpoint here was a dedicated job. The pin lives on
  // the docs-based entries (NOT inside [[iterate]]) so a caller passing an
  // ALREADY-pinned shared word-count relation (tokenizer_compare) does not
  // pay a second checkpoint layer over the same rows.
  private def pinnedCounts(docs: DataFrame, text: String): DataFrame =
    graft.GraftCaches.pin(Bpe.wordCounts(docs, text), eager = false)

  /** The ENCODER the final model implies: each vocabulary word with its
    * Viterbi segmentation under the LAST iteration's counts — the model
    * one more E-step would use, i.e. the trained tokenizer. Returns
    * (w, seg, units); vocabulary-sized, so the caller broadcasts it
    * against corpus tokens exactly like [[Bpe.encodeVocab]]. */
  def encodeVocab(docs: DataFrame, text: String, iters: Int, topK: Int): DataFrame =
    iterate(pinnedCounts(docs, text), iters, topK)._2

  /** [[encodeVocab]] from a pre-built [[Bpe.wordCounts]] relation — the
    * shared-vocabulary entry for callers training several tokenizers
    * over one corpus (tokenizer_compare); the caller is expected to pass
    * a pinned relation (it is re-scanned by every EM iteration). Training
    * is identical by construction: EM never touches the corpus, only
    * (w, f). */
  def encodeVocabFromCounts(wc: DataFrame, iters: Int, topK: Int): DataFrame =
    iterate(wc, iters, topK)._2

  private def iterate(vocab: DataFrame, iters: Int,
      topK: Int): (Seq[(Int, String, Long)], DataFrame) = {
    val spark = vocab.sparkSession
    import spark.implicits._

    // Seed inventory: every substring of length 1..MaxPieceLen, counted
    // per start position (overlaps included), frequency-weighted.
    val seeds = vocab.select(
        explode(flatten(transform(sequence(lit(1), length(col("w"))),
          pos => transform(
            sequence(lit(1), least(lit(MaxPieceLen), length(col("w")) - pos + 1)),
            l => col("w").substr(pos, l))))).as("piece"),
        col("f"))
      .groupBy("piece").agg(sum("f").as("cnt"))
    // ONE collect for topK ∪ single-chars: the two legs union
    // into a single action (a char piece surviving both legs collapses in
    // the Map with the identical count), halving the seed-phase driver
    // round-trips. Each leg still executes the seeds aggregate over the
    // pinned vocab — same work as the two separate collects paid.
    val seedRows = seeds.orderBy(col("cnt").desc, col("piece").asc).limit(topK)
      .unionAll(seeds.filter(length(col("piece")) === 1))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // LinkedHashMap not needed: the piece set is a Map; every consumer
    // orders explicitly.
    var cnts: Map[String, Long] = seedRows.toMap
    val inventory = cnts.keySet

    val log = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    inventory.toSeq.sorted.foreach(p => log += ((0, p, cnts(p))))

    val wfEnc = Encoders.product[WordFreq]
    val segEnc = Encoders.product[SegRow]
    (1 to iters).foreach { it =>
      val probs = smoothedProbs(cnts)
      val bc = spark.sparkContext.broadcast(probs)
      val seg = vocab.as(wfEnc).map { wf =>
        val pieces = viterbi(wf.w, bc.value)
        SegRow(wf.w, wf.f, pieces.mkString(" "), pieces.length)
      }(segEnc).toDF()
      // Hard E-step recount: |P|-bounded aggregate, collected (the BPE
      // per-round argmax discipline — bounded driver traffic). Rounds
      // chain ONLY through these collected counts, so there is no
      // growing lineage to pin.
      val counted = seg
        .select(col("f"), explode(split(col("seg"), " ")).as("piece"))
        .groupBy("piece").agg(sum("f").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // The collect above fully consumed this round's broadcast; destroy
      // it NOW instead of leaving one Broadcast per EM iteration for the
      // ContextCleaner to find eventually (the GraftCaches release
      // discipline applied to broadcasts).
      bc.destroy()
      cnts = inventory.iterator.map(p => p -> counted.getOrElse(p, 0L)).toMap
      inventory.toSeq.sorted.foreach(p => log += ((it, p, cnts(p))))
    }

    // The trained tokenizer = one more Viterbi pass under the FINAL
    // counts (the model the training loop converged to). Pinned (eager
    // localCheckpoint) so the broadcast it reads is fully consumed here
    // and can be destroyed immediately — the lazy frame would otherwise
    // keep the last broadcast alive until an arbitrary later action.
    val bc = spark.sparkContext.broadcast(smoothedProbs(cnts))
    val finalSeg = graft.GraftCaches.pin(vocab.as(wfEnc).map { wf =>
      val pieces = viterbi(wf.w, bc.value)
      SegRow(wf.w, wf.f, pieces.mkString(" "), pieces.length)
    }(segEnc).toDF().select(col("w"), col("seg"), col("units").cast("long")))
    bc.destroy()
    (log.toSeq, finalSeg)
  }

  /** Laplace-smoothed piece likelihoods: ONE correctly-rounded IEEE
    * division per piece on exact BIGINTs — `(c+1)/(T+|P|)` — identical
    * bit patterns in any engine that divides the same integers. */
  private def smoothedProbs(cnts: Map[String, Long]): Map[String, Double] = {
    val t = cnts.valuesIterator.sum
    val denom = (t + cnts.size).toDouble
    cnts.map { case (p, c) => p -> (c + 1L).toDouble / denom }
  }

  /** Viterbi best segmentation: score(k) = max over split j of
    * score(j) · prob(w[j..k)), left-to-right products, ties to the
    * smallest j (longest last piece). Every cell is reachable because
    * single characters always carry non-zero smoothed probability. */
  private[graft] def viterbi(w: String, probs: Map[String, Double]): Array[String] = {
    val n = w.length
    val score = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    score(0) = 1.0
    var k = 1
    while (k <= n) {
      var bestScore = -1.0
      var bestJ = -1
      var j = math.max(0, k - MaxPieceLen)
      while (j < k) {
        probs.get(w.substring(j, k)) match {
          case Some(p) =>
            val s = score(j) * p
            // strict > keeps the FIRST (smallest) j on ties
            if (s > bestScore) { bestScore = s; bestJ = j }
          case None => ()
        }
        j += 1
      }
      score(k) = bestScore
      back(k) = bestJ
      k += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += w.substring(back(pos), pos); pos = back(pos) }
    out.reverseIterator.toArray
  }
}
