package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.tools.FixtureGen

/** Round-11 VERDICT 2: "measure semdedup recall in the regime it's built
  * for". The τ=0.3 audit over near-random fixtures honestly reported
  * candidate recall 0.23/0.50 with a PROSE argument that real near-dup
  * corpora pair at τ≥0.9 where cell co-location is high. This spec turns
  * that argument into a measurement: FixtureGen plants clustered
  * cosine-≈0.95 near-duplicates (copy + small noise, transitively-safe
  * sources), and the probe-2 candidate recall at τ=0.9 over that corpus
  * must clear 0.95 — the SemDeDup operating regime, pinned executable. */
class SemDedupPlantedRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One τ=0.9 audit over the `sf`-scale planted corpus of `n` vectors,
    * collected. Each audit several tests read is computed once per suite
    * (the lazy vals below): the audit is deterministic, so a second run
    * with the same arguments only repeats the cost. */
  private def audit(sf: Double, n: Long, trainIters: Int = 0): org.apache.spark.sql.Row = {
    val row = Similarity.semDedupRecall(FixtureGen.embeddings(spark, sf), "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(n), trainIters = trainIters).head()
    GraftCaches.releaseAll()
    row
  }

  private lazy val seed2k = audit(0.1, 2000L)                      // 2000 vectors
  private lazy val trained2k = audit(0.1, 2000L, trainIters = 1)
  private lazy val trained20k = audit(1.0, 20000L, trainIters = 1) // 20000 vectors

  test("planted near-dups exist and pair at cosine >= 0.9 with their source") {
    import spark.implicits._
    val emb = FixtureGen.embeddings(spark, 0.1) // 2000 vectors
    // redirected ids: id%4 != 0 gated 1/25 — join each to its source
    // (the preceding multiple of 4) and check the pair cosine directly
    val e = emb.select($"vec_id", Similarity.toDoubleVec($"embedding").as("v"))
    // the planted/source predicates come FROM FixtureGen (round-12
    // ADVICE: re-deriving them from copied magic constants let a future
    // generator tweak silently decouple the spec from the generator)
    val planted = e.filter(FixtureGen.isPlantedNearDup($"vec_id"))
      .select($"vec_id", FixtureGen.nearDupSourceId($"vec_id").as("src_id"), $"v")
    val n = planted.count()
    assert(n > 20, s"expected ~60 planted near-dups in 2000 vectors, got $n")
    val cos = planted.join(e.select($"vec_id".as("src_id"), $"v".as("sv")), "src_id")
      .select((Similarity.dot($"v", $"sv") /
        (sqrt(Similarity.dot($"v", $"v")) * sqrt(Similarity.dot($"sv", $"sv"))))
        .as("cos"))
      .agg(min($"cos").as("mn"), avg($"cos").as("av")).head()
    assert(cos.getDouble(0) >= 0.9,
      s"every planted copy↔source pair must sit at cosine >= 0.9, min=${cos.getDouble(0)}")
    assert(cos.getDouble(1) >= 0.94, s"mean planted cosine ~0.96, got ${cos.getDouble(1)}")
    GraftCaches.releaseAll()
  }

  test("probe-2 candidate recall at tau=0.9 over the planted corpus clears 0.95") {
    val row = seed2k
    val nTrue = row.getAs[Long]("n_true")
    val recallP2 = row.getAs[Double]("recall_p2")
    assert(nTrue > 20, s"planted corpus must have a non-empty tau=0.9 truth relation, got $nTrue")
    assert(recallP2 >= 0.95,
      s"probe-2 recall in the tau>=0.9 regime must clear 0.95 (round-11 VERDICT 2), " +
        s"got $recallP2 over $nTrue true pairs")
  }

  test("one Lloyd training step does not lose recall and keeps it above 0.95") {
    // The query layer runs the family with trainIters=1 (sf1 measured:
    // seed 0.921 → trained 0.976 over 594 true pairs). Pin the trained
    // path at this spec's corpus size too: >= the seed recall, >= 0.95.
    val seed = seed2k
    val trained = trained2k
    assert(trained.getAs[Long]("n_true") === seed.getAs[Long]("n_true"),
      "truth relation is training-invariant")
    val rs = seed.getAs[Double]("recall_p2")
    val rt = trained.getAs[Double]("recall_p2")
    assert(rt >= 0.95, s"trained probe-2 recall must clear 0.95, got $rt")
    assert(rt >= rs - 1e-9, s"training must not lose recall: seed=$rs trained=$rt")
  }

  test("20k regime: one Lloyd step lifts probe-2 recall to >= 0.95 and >= seed (round-12 pin)") {
    // Round 12's justification for SemTrainIters = 1 lived in scaladoc
    // prose and a discarded audit session (seed 0.921 → trained 0.976
    // at 20k vectors / 594 true pairs, full truth). Pin it executable
    // (round-12 VERDICT directive 3): at the REGIME SIZE — where seeds
    // measurably fail the 0.95 bar — the trained path must clear it and
    // must not lose recall vs seeds. A future centroid, training, or
    // fixture change that undoes the win now fails here, not in a
    // scale-run postmortem. (~2×30 s: the audit's blocked truth join at
    // 20k vectors, priced in — this is the regime measurement itself.)
    val seed = audit(1.0, 20000L)
    val trained = trained20k
    val nTrue = trained.getAs[Long]("n_true")
    assert(nTrue === seed.getAs[Long]("n_true"), "truth relation is training-invariant")
    assert(nTrue > 400, s"~594 planted true pairs expected at 20k vectors, got $nTrue")
    val rs = seed.getAs[Double]("recall_p2")
    val rt = trained.getAs[Double]("recall_p2")
    assert(rt >= 0.95,
      s"trained probe-2 recall at the 20k regime must clear 0.95 " +
        s"(round-12 measured 0.976), got $rt over $nTrue pairs")
    assert(rt >= rs - 1e-9,
      s"training must not lose recall at 20k: seed=$rs trained=$rt")
  }

  test("two-level assignment, ISOTROPIC worst case: the 20k coarse-prune price is bounded and measured") {
    // Round-14: the two-level (coarse-quantized) assignment replaces the
    // family's N×cells exhaustive pass (N²/62 cosines with autoCells)
    // with ~CoarseProbes·N√cells — the sub-quadratic scale path. THIS
    // fixture is its adversarial worst case: hash-random 64-dim vectors
    // are isotropic (no cluster structure for the coarse layer to
    // exploit — the curse-of-dimensionality regime where no space
    // partition can beat brute force), so a cosine-0.95 pair's coarse
    // rankings diverge at the margin and recall is paid for the prune.
    // Measured here: probes=2 → 0.72, probes=4 → 0.803 (exact 0.976).
    // The pin keeps that price MEASURED AND BOUNDED; the clustered-
    // corpus test below is the regime the design (and SemDeDup itself,
    // which presumes k-means-able structure) actually targets, and
    // there the price must be ~zero. Isotropic corpora at τ≥0.9 should
    // use the engine's banded sign-LSH dedup instead (linear, recall
    // pinned by LshQuality) — that trade-off is the documented design.
    val emb = FixtureGen.embeddings(spark, 1.0) // 20000 vectors
    val exact = trained20k
    val two = Similarity.semDedupRecall2L(emb, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(20000L), trainIters = 1).head()
    GraftCaches.releaseAll()
    assert(two.getAs[Long]("n_true") === exact.getAs[Long]("n_true"),
      "truth relation is assignment-invariant")
    val re = exact.getAs[Double]("recall_p2")
    val r2 = two.getAs[Double]("recall_p2")
    info(f"20k tau=0.9 probe-2 recall (isotropic): exact=$re%.4f two-level=$r2%.4f")
    assert(re >= 0.95, s"exact assignment stays the regime baseline, got $re")
    assert(r2 >= 0.78,
      s"isotropic worst-case two-level recall measured 0.803 with 4 coarse " +
        s"probes - a regression below 0.78 means the coarse layer broke, got $r2")
  }

  test("two-level assignment, CLUSTERED corpus: recall matches the exact assignment") {
    import spark.implicits._
    // The regime the coarse quantizer is FOR: 20k vectors in 250
    // genuine clusters (deterministic hash centers + within-cluster
    // noise at cosine ≈0.74 — below the τ=0.9 truth), with planted
    // copy pairs at cosine ≈0.99 (id ≡ 1 (mod 40) copies id−1). Here
    // the coarse layer has real structure to learn, a copy pair's
    // coarse routing agrees, and the prune must cost ~nothing: the
    // family's 0.95 bar and within 0.02 of exact.
    val C = 250
    // src = the copied base vector's id (copies: id ≡ 1 (mod 40) copy
    // id−1); cluster = src mod C; vec = center(cluster) + 0.6·noise(src)
    // [intra-cluster cos ≈ 0.74] + 0.3·tinynoise(id) for copies only
    // [copy↔source cos ≈ 0.995].
    val clustered = spark.range(20000L)
      .withColumn("src",
        when(pmod(col("id"), lit(40)) === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("cl", pmod(col("src"), lit(C)))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(hash(col("cl"), j, lit(91)), lit(1000)) - lit(500)).cast("float")
            / lit(1350.0f))
          + (((pmod(hash(col("src"), j, lit(93)), lit(1000)) - lit(500)).cast("float")
            / lit(1350.0f)) * lit(0.6f))
          + when(col("id") =!= col("src"),
              ((pmod(hash(col("id"), j, lit(95)), lit(200)) - lit(100)).cast("float")
                / lit(1000.0f)) * lit(0.3f))
            .otherwise(lit(0.0f))).as("embedding"))
    val exact = Similarity.semDedupRecall(clustered, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(20000L), trainIters = 1).head()
    GraftCaches.releaseAll()
    val two = Similarity.semDedupRecall2L(clustered, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(20000L), trainIters = 1).head()
    GraftCaches.releaseAll()
    val nTrue = two.getAs[Long]("n_true")
    assert(nTrue === exact.getAs[Long]("n_true"), "truth relation is assignment-invariant")
    assert(nTrue > 300, s"~500 planted copy pairs expected, got $nTrue")
    val re = exact.getAs[Double]("recall_p2")
    val r2 = two.getAs[Double]("recall_p2")
    info(f"20k tau=0.9 probe-2 recall (clustered): exact=$re%.4f two-level=$r2%.4f over $nTrue pairs")
    assert(r2 >= 0.95,
      s"on a clustered corpus the two-level prune must clear the family bar, got $r2")
    assert(r2 >= re - 0.02,
      s"clustered coarse-prune price must be ~zero: exact=$re two-level=$r2")
  }

  test("truth sampling: recall over a hash-sampled truth tracks the full-truth recall") {
    // Round-12 VERDICT directive 2: the sample mode is now a parameter,
    // not prose. At 2k vectors, sample the truth at ppm=500000 (~half
    // the corpus, ~1/4 of the true pairs) and require (a) a
    // non-degenerate sampled truth, (b) sampled-truth recall within
    // ±0.05 of the full-truth recall (small-sample tolerance: ~15 of 60
    // pairs survive), (c) ppm=1e6 is the identity — bit-equal to the
    // unsampled audit.
    val emb = FixtureGen.embeddings(spark, 0.1) // 2000 vectors
    val full = trained2k
    val ident = Similarity.semDedupRecall(emb, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(2000L), trainIters = 1,
      truthSamplePpm = 1000000).head()
    GraftCaches.releaseAll()
    assert(ident === full, "ppm=1e6 must be the identity (no filter at all)")
    val sampled = Similarity.semDedupRecall(emb, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(2000L), trainIters = 1,
      truthSamplePpm = 500000).head()
    GraftCaches.releaseAll()
    val nFull = full.getAs[Long]("n_true")
    val nSam = sampled.getAs[Long]("n_true")
    assert(nSam > 0 && nSam < nFull,
      s"half-corpus sample must keep SOME but not ALL true pairs: $nSam of $nFull")
    val rFull = full.getAs[Double]("recall_p2")
    val rSam = sampled.getAs[Double]("recall_p2")
    assert(math.abs(rSam - rFull) <= 0.05 || rSam >= rFull,
      s"sampled-truth recall must track full-truth recall: full=$rFull sampled=$rSam over $nSam pairs")
  }

  test("tau=0.9 audit on a corpus with NO planted pairs yields 0 counts and NULL recalls") {
    import spark.implicits._
    // strip the planted copies by keeping only source-eligible ids
    // (multiples of 4) — near-random vectors never pair at cosine 0.9
    val emb = FixtureGen.embeddings(spark, 0.1)
      .filter(pmod($"vec_id", lit(4)) === 0)
    val row = Similarity.semDedupRecall(emb, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(500L)).head()
    GraftCaches.releaseAll()
    assert(row.getAs[Long]("n_true") === 0L)
    assert(row.getAs[Long]("n_caught_p1") === 0L)
    assert(row.getAs[Long]("n_caught_p2") === 0L)
    assert(row.isNullAt(row.fieldIndex("recall_p1")), "recall of an empty truth is NULL, not NaN")
    assert(row.isNullAt(row.fieldIndex("recall_p2")))
  }

  test("FixtureGen documents: every redirected doc is an EXACT duplicate of its source") {
    import spark.implicits._
    // round-11 ADVICE: the old seed (id-1 unconditionally) could itself
    // be redirected, silently voiding the exact-dup invariant. Now only
    // odd ids redirect, seeding from even id-1 — verify text equality
    // for EVERY planted duplicate, not probabilistically.
    val docs = FixtureGen.documents(spark, 0.2) // 10k docs
    val dups = docs.filter(FixtureGen.isPlantedDocDup($"doc_id"))
      .select($"doc_id", FixtureGen.docDupSourceId($"doc_id").as("src_id"), $"text")
    val n = dups.count()
    assert(n > 5, s"expected ~20 planted exact dups in 10k docs, got $n")
    val mismatches = dups
      .join(docs.select($"doc_id".as("src_id"), $"text".as("src_text")), "src_id")
      .filter($"text" =!= $"src_text")
      .count()
    assert(mismatches === 0L, s"$mismatches planted duplicates are not exact copies")
  }
}
