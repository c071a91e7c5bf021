package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftCaches
import graft.functions.{PolyHash, TopKAggregator}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths (SURVEY north-star):
  *  - brute-force cosine top-k: exact baseline — a broadcast of the (small)
  *    query set against a single scan of the corpus; no shuffle of the
  *    corpus, and ranking is the bounded-heap [[TopKAggregator]] (map-side
  *    partial top-k, tiny global merge — never a full-corpus window).
  *  - random-hyperplane banded LSH: the scale path — each vector gets
  *    `NumBands` keys of `BandBits` sign bits from fixed ±1 hyperplanes;
  *    a pair is a candidate when ANY band key matches (multi-probe
  *    recall), and candidate generation is an equi-join on (band, key)
  *    carrying only (id, band, key) rows. Vectors rejoin by id only for
  *    surviving candidates, so the quadratic step is confined to
  *    bucket-local groups and the shuffle never carries vectors twice.
  *
  * Every operator is composed from the private steps below, each written
  * once: the (id, v, nrm) vector relation, the k-lowest-id seed
  * centroids, nearest-centroid assignment, the vectors × centroids top-n
  * ranking, the IVF probe-list candidates, the PQ lookup table and ADC
  * scorer, the capped-cell pair join and the by-id pair verify.
  *
  * All math is double-precision with a fixed left-to-right fold so results
  * are bit-reproducible across engines (the DuckDB oracles rebuild the same
  * expression tree).
  */
object Similarity {

  /** 2 bands × 12 sign bits = 24 distinct hyperplanes: 4096 buckets per
    * band bounds candidate sets at n/4096 per probe (vs n/256 for a single
    * 8-bit key), and the 2-band OR recovers the recall a single longer key
    * would lose. At larger corpora raise BandBits (the key is a plain
    * long); the plan shape is unchanged. */
  val BandBits: Int = 12
  val NumBands: Int = 2

  /** Cast an array<float> column to array<double> once, up front. */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-fold dot product of two array<double> columns — the native
    * codegen Expression [[graft.functions.VecDot]] (bit-identical to the
    * aggregate/zip_with fold the oracles rebuild; equivalence pinned in
    * FunctionsSpec). */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  /** Cosine of vector columns `a` and `b` from their precomputed norms
    * `na` and `nb`: dot(a, b) / (na * nb), the expression tree every
    * oracle rebuilds. */
  private[graft] def cosine(a: String, b: String, na: String, nb: String): Column =
    dot(col(a), col(b)) / (col(na) * col(nb))

  /** Band key from `BandBits` random-hyperplane signs: global plane
    * j = band*BandBits + jj has component i (1-based)
    * +1 if ((i*31 + j*37) % 97) % 2 == 0 else -1 — a fixed pseudo-random
    * ±1 pattern reproducible in plain SQL. 97 is prime and coprime to 37,
    * so every global plane index yields a distinct pattern (a modulus of 7
    * would repeat planes every 7 indices). Bit jj of the key is the sign
    * of plane j's dot product. Computed by the native codegen Expression
    * [[graft.functions.LshBandKey]] (bit-identical to the HOF fold the
    * oracles rebuild — SimilaritySpec pins the equivalence). */
  def lshBandKey(v: Column, band: Int, bits: Int = BandBits): Column =
    graft.functions.LshBandKey.key(v, band, bits)

  /** The (id, v, nrm) vector relation: each vector cast to double once,
    * with its L2 norm. */
  private[graft] def vectors(corpus: DataFrame, id: String, vec: String): DataFrame =
    corpus.select(col(id), toDoubleVec(col(vec)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** The ANN index relation (id, v, nrm, key0..key{NumBands-1}), pinned
    * (eager localCheckpoint): it feeds the band build AND both sides of
    * the scoring joins, sibling stages of one action. A cache would
    * serialize their first materialization on the block locks and
    * re-inline the plane folds per reference (Catalyst projection
    * collapse — see Dedup.lshCandidatePairs). At cluster scale, write
    * this relation to a table instead. */
  private[graft] def indexed(corpus: DataFrame, id: String, vec: String): DataFrame =
    GraftCaches.pin(
      (0 until NumBands).foldLeft(vectors(corpus, id, vec)) { (d, b) =>
        d.withColumn(s"key$b", lshBandKey(col("v"), b))
      }, eager = true)

  /** The vector relation pinned ONCE up front (eager localCheckpoint), for
    * operators that read it from several sibling stages of one action
    * (centroids, assignment, probes, both sides of the verify and truth
    * joins). A cache would neither truncate the logical plan (the scan
    * and projection re-analyzed per reference) nor keep sibling
    * consumers' tasks off the block-store locks; the pin is one job,
    * after which every reference scans stored blocks. At cluster scale:
    * write the relation to a table. */
  private def embeddingRel(corpus: DataFrame, id: String, vec: String): DataFrame =
    GraftCaches.pin(vectors(corpus, id, vec), eager = true)

  /** The (q_id, qv, q_nrm) query relation: the rows of `e` that `pred`
    * selects. */
  private[graft] def queryVectors(e: DataFrame, id: String, pred: Column): DataFrame =
    e.filter(pred).select(col(id).as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))

  /** The `k` seed centroids (c_id, cv, c_nrm): the vectors with id < k —
    * a deterministic, SQL-reproducible seeding the oracles mirror with
    * `vec_id < k`. */
  private def seedCentroids(e: DataFrame, id: String, k: Int): DataFrame =
    e.filter(col(id) < k)
      .select(col(id).as("c_id"), col("v").as("cv"), col("nrm").as("c_nrm"))

  /** (id, band, key) rows — the bucket-join relation (no vectors). */
  private[graft] def bandRows(e: DataFrame, id: String): DataFrame =
    e.select(col(id), explode(array((0 until NumBands).map(b =>
        struct(lit(b).as("band"), col(s"key$b").as("key"))): _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Rank scored (q_id, id, sim) candidates: bounded-heap top-k per query
    * (bit-identical to a (sim desc, id asc) row_number window). */
  private def rankTopK(scored: DataFrame, id: String, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(TopKAggregator.topK(k)(col(id).cast("long"), col("sim")).as("tk"))
      .select(col("q_id"), posexplode(zip_with(col("tk.ids"), col("tk.sims"),
        (i, s) => struct(i.as("cid"), s.as("sim")))))
      .select(col("q_id"), col("col.cid").as(id), col("col.sim").as("sim"),
        (col("pos") + 1).cast("bigint").as("rank"))

  /** Score (q_id, id) candidates against their queries: the candidate's
    * vector rejoins by id, the query's comes from the broadcast `q`.
    * Emits (q_id, id, keep..., sim). */
  private[graft] def scoreCandidates(cand: DataFrame, e: DataFrame, q: DataFrame,
      id: String, keep: String*): DataFrame =
    cand.join(e.select(col(id), col("v"), col("nrm")), id)
      .join(broadcast(q), "q_id")
      .select((Seq(col("q_id"), col(id)) ++ keep.map(col) :+
        cosine("qv", "v", "q_nrm", "nrm").as("sim")): _*)

  /** Candidate pairs (id_a, id_b) with both vectors joined back by id and
    * their cosine: (id_a, id_b, sim). */
  private def verifiedPairs(pairs: DataFrame, e: DataFrame, id: String): DataFrame =
    pairs
      .join(e.select(col(id).as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col(id).as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine("va", "vb", "na", "nb").as("sim"))

  /** Score each candidate pair ONCE, then mirror — (q_id, nbr, sim) for
    * BOTH orientations of every (doc_a, doc_b) candidate. Mirroring first
    * would run the band self-join twice and push 2·|cand| rows through the
    * two vector-attach joins; the explode emits both orientations in one
    * pass. Bit-identical: dot(va,vb)=dot(vb,va) (same dimension order,
    * IEEE multiplication commutes exactly) and na·nb=nb·na, so the
    * mirrored sim is the same double the swapped-operand evaluation
    * produces. */
  private def scoredMirroredPairs(e: DataFrame, cand: DataFrame,
      id: String): DataFrame =
    verifiedPairs(cand.select(col("doc_a").as("id_a"), col("doc_b").as("id_b")), e, id)
      .select(explode(array(
        struct(col("id_a").as("q_id"), col("id_b").as("nbr"), col("sim")),
        struct(col("id_b").as("q_id"), col("id_a").as("nbr"), col("sim")))).as("p"))
      .select(col("p.q_id").as("q_id"), col("p.nbr").as("nbr"), col("p.sim").as("sim"))

  /** Exact top-k: per query vector (small set, broadcast), the k nearest
    * corpus vectors by cosine; ties broken by candidate id. */
  def bruteForceTopK(corpus: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int): DataFrame = {
    val e = vectors(corpus, id, vec)
    val scored = e.join(broadcast(queryVectors(e, id, queryPred)), col(id) =!= col("q_id"))
      .select(col("q_id"), col(id), cosine("qv", "v", "q_nrm", "nrm").as("sim"))
    rankTopK(scored, id, k)
  }

  /** Approximate top-k: candidates are corpus vectors sharing ANY band key
    * with the query (banded multi-probe); the band join moves only
    * (id, band, key) rows, vectors rejoin by id for scoring. */
  def lshTopK(corpus: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int): DataFrame = {
    val e = indexed(corpus, id, vec)
    val qb = bandRows(e.filter(queryPred), id)
      .select(col(id).as("q_id"), col("band"), col("key"))
    val cand = bandRows(e, id).as("c").join(broadcast(qb.as("q")),
        col("c.band") === col("q.band") && col("c.key") === col("q.key") &&
          col(s"c.$id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col(s"c.$id").as(id))
      .distinct()
    rankTopK(scoreCandidates(cand, e, queryVectors(e, id, queryPred), id), id, k)
  }

  /** Every vector of `e` paired with every centroid of the broadcast `c`. */
  private def withCentroids(e: DataFrame, id: String, c: DataFrame): DataFrame =
    e.select(col(id), col("v"), col("nrm")).crossJoin(broadcast(c))

  /** Nearest-centroid assignment (id, centroid_id, sim): broadcast of the
    * tiny (c_id, cv, c_nrm) relation against one corpus scan, per-vector
    * struct-max (ties → lowest centroid id) with map-side partial
    * aggregation — no shuffle of vectors, the scale shape of an IVF index
    * build. */
  private def assignTo(e: DataFrame, id: String, c: DataFrame): DataFrame =
    withCentroids(e, id, c)
      .select(col(id),
        struct(cosine("v", "cv", "nrm", "c_nrm").as("s"), (-col("c_id")).as("nc")).as("sc"))
      .groupBy(id)
      .agg(max(col("sc")).as("m"))
      .select(col(id), (-col("m.nc")).as("centroid_id"), col("m.s").as("sim"))

  /** Per vector, the `n` highest-cosine centroids of the (id, v, nrm,
    * c_id, cv, c_nrm) `pairs`, in (sim desc, c_id asc) order: (id, tk)
    * with `tk` the bounded-heap (ids, sims). */
  private def topCells(pairs: DataFrame, id: String, n: Int): DataFrame =
    pairs.select(col(id), cosine("v", "cv", "nrm", "c_nrm").as("sim"), col("c_id"))
      .groupBy(id)
      .agg(TopKAggregator.topK(n)(col("c_id").cast("long"), col("sim")).as("tk"))

  /** The two nearest cells of every vector of `pairs` as (id, rnk,
    * centroid_id), rnk 0 the nearest. The heap's (sim desc, c_id asc)
    * order is [[assignTo]]'s tie-break, so rank 0 IS the top-1 assignment. */
  private def topTwoCells(pairs: DataFrame, id: String): DataFrame =
    topCells(pairs, id, 2)
      .select(col(id), posexplode(col("tk.ids")))
      .withColumnRenamed("pos", "rnk").withColumnRenamed("col", "centroid_id")

  /** IVF cell assignment: each vector joins the cell of its
    * most-cosine-similar centroid (ties → lowest centroid id). Centroids
    * are the `k` lowest-id vectors — a deterministic, SQL-reproducible
    * seeding (production would k-means them; the partitioning and probing
    * plumbing is identical). */
  def ivfAssignments(corpus: DataFrame, id: String, vec: String,
      k: Int = 16): DataFrame = {
    val e = vectors(corpus, id, vec)
    assignTo(e, id, seedCentroids(e, id, k))
  }

  /** Int8 quantization of an embedding column: per-vector symmetric
    * max-abs scaling, q_i = floor(x_i/scale + 0.5) with scale =
    * max|x|/127 — 4x storage shrink for the ANN index with bounded error
    * (|x - q*scale| <= scale/2). floor(x+0.5) rather than round():
    * engines disagree on round's tie behavior (half-even vs half-away),
    * floor is bit-identical everywhere. Pure per-row column math,
    * shuffle-free. */
  def quantizeInt8(corpus: DataFrame, id: String, vec: String): DataFrame = {
    val v = toDoubleVec(col(vec))
    corpus
      .select(col(id), v.as("v"),
        array_max(transform(v, x => abs(x))).as("m"))
      .withColumn("scale",
        when(col("m") > 0, col("m") / lit(127.0)).otherwise(lit(1.0)))
      .select(col(id), col("scale"),
        transform(col("v"), x => floor(x / col("scale") + lit(0.5)).cast("int")).as("q"))
  }

  private[graft] final case class Centroid(c_id: Long, cv: Seq[Double], c_nrm: Double)

  /** Deterministic k-means++-style seeding by farthest-point (maxmin)
    * traversal: start from the lowest-id vector, then repeatedly pick the
    * vector with the LARGEST minimum cosine distance to the centroids
    * chosen so far (ties → lowest id). The classic D²-sampling of
    * k-means++ is randomized; maxmin is its deterministic counterpart
    * with the same "spread the seeds" intent — and deterministic means
    * the whole seeding trajectory is DuckDB-checkable (the oracle unrolls
    * all k-1 selection rounds).
    *
    * Scale shape: k-1 rounds, each ONE distributed pass — corpus ×
    * broadcast(chosen) cross score, per-vector MIN (partial-aggregated),
    * global top-1. Only the single winning centroid row lands on the
    * driver per round (the same contract as MLlib's k-means init); the
    * corpus is never collected and the vector relation is computed once
    * (tracked cache). */
  def kmeansPlusPlusCentroids(corpus: DataFrame, id: String, vec: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    val e = GraftCaches.track(
      vectors(corpus.select(col(id).cast("long").as("vid"), col(vec)), "vid", vec))
    def toCentroid(r: org.apache.spark.sql.Row): Centroid =
      Centroid(r.getLong(0), r.getSeq[Double](1), r.getDouble(2))
    val first = toCentroid(e.orderBy(col("vid")).limit(1).collect()(0))
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    while (chosen.length < k) {
      val picked = e
        .crossJoin(broadcast(toCentroidDf(spark, chosen.toSeq)))
        .select(col("vid"), col("v"), col("nrm"),
          (lit(1.0) - cosine("v", "cv", "nrm", "c_nrm")).as("d"))
        .groupBy("vid").agg(min(col("d")).as("mind"))
        .filter(!col("vid").isin(chosen.map(_.c_id).toSeq: _*))
        .join(e, "vid")
        .orderBy(col("mind").desc, col("vid").asc)
        .limit(1)
        .select(col("vid"), col("v"), col("nrm"))
        .collect()
      if (picked.isEmpty) return toCentroidDf(spark, chosen.toSeq) // corpus smaller than k
      chosen += toCentroid(picked(0))
    }
    toCentroidDf(spark, chosen.toSeq)
  }

  private def toCentroidDf(spark: org.apache.spark.sql.SparkSession,
      cs: Seq[Centroid]): DataFrame =
    spark.createDataset(cs)(org.apache.spark.sql.Encoders.product[Centroid]).toDF()

  /** IVF assignment against maxmin-seeded centroids — the quality-seeded
    * variant of [[ivfAssignments]] (probing plumbing identical). */
  def ivfKmeansPlusPlusAssignments(corpus: DataFrame, id: String, vec: String,
      k: Int = 8): DataFrame =
    assignTo(vectors(corpus, id, vec), id, kmeansPlusPlusCentroids(corpus, id, vec, k))

  /** `x` rounded to integral micro-units and summed EXACTLY as an integer
    * decimal, then cast back to double: addition is associative, so
    * partial aggregation in any order gives the same double (a double sum
    * would be run-dependent, and a fractional decimal cast rounds ties
    * differently across engines). */
  private def microSum(x: Column): Column =
    sum(round(x * lit(1e6)).cast(DecimalType(38, 0))).cast("double")

  /** The per-group mean of `x` quantized to 1e-6 by [[microSum]]: the
    * exact micro-unit sum divided in double by 1e6 · count. */
  private[graft] def microMean(x: Column): Column =
    microSum(x) / (lit(1e6) * count(lit(1)))

  /** One Lloyd refinement of the seed centroids: assign every vector to
    * its nearest seed, then recompute each cell's centroid as the
    * per-dimension [[microMean]] of its members. The trained centroids —
    * and every similarity computed against them — are bit-reproducible
    * and DuckDB-checkable. Training shuffles only (centroid_id, pos, x)
    * triples: k·dim groups regardless of corpus size, the scale shape of
    * distributed k-means. */
  def ivfTrainedCentroids(corpus: DataFrame, id: String, vec: String,
      k: Int = 16, iters: Int = 1): DataFrame =
    trainedCentroids(vectors(corpus, id, vec), id, k, iters)

  /** The seed centroids of `e` refined by `iters` [[lloydStep]]s. */
  private def trainedCentroids(e: DataFrame, id: String, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    (1 to iters).foldLeft(seedCentroids(e, id, k))((c, _) => lloydStep(e, id, c))
  }

  /** One Lloyd step: nearest-centroid assignment, then the quantized
    * exact per-dimension mean per cell (cells that lose every member
    * drop out — k can only shrink). */
  private def lloydStep(e: DataFrame, id: String, c: DataFrame): DataFrame = {
    val a = assignTo(e, id, c).select(col(id), col("centroid_id"))
    val dims = e.join(a, id)
      .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
    val means = dims.groupBy("centroid_id", "pos").agg(microMean(col("x")).as("cval"))
    means.groupBy("centroid_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cval")))),
        s => s.getField("cval")).as("cv"))
      .select(col("centroid_id").as("c_id"), col("cv"),
        sqrt(dot(col("cv"), col("cv"))).as("c_nrm"))
  }

  /** IVF assignment against the Lloyd-refined centroids — the trained
    * variant of [[ivfAssignments]]; probing/scoring plumbing unchanged. */
  def ivfTrainedAssignments(corpus: DataFrame, id: String, vec: String,
      k: Int = 16, iters: Int = 1): DataFrame = {
    val e = vectors(corpus, id, vec)
    assignTo(e, id, trainedCentroids(e, id, k, iters))
  }

  /** The IVF candidate step over the seed cells of `e`: per query of
    * `q`, its `nProbe` nearest cells (ranked by (sim desc, c_id asc) as
    * `probe_rn`), and every other vector assigned to one of them —
    * (centroid_id, id, q_id, probe_rn). Candidate generation joins the
    * (id, centroid_id) assignment with the broadcast probe list; vectors
    * rejoin by id for scoring, as in the LSH path. Candidate sets are
    * nested in nProbe because a vector lives in exactly one cell. */
  private def ivfCandidates(e: DataFrame, id: String, q: DataFrame,
      nCentroids: Int, nProbe: Int): DataFrame = {
    val c = seedCentroids(e, id, nCentroids)
    val probes = q.crossJoin(broadcast(c))
      .select(col("q_id"), cosine("qv", "cv", "q_nrm", "c_nrm").as("c_sim"), col("c_id"))
      .withColumn("probe_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("c_sim").desc, col("c_id").asc)))
      .filter(col("probe_rn") <= nProbe)
      .select(col("q_id"), col("c_id").as("centroid_id"), col("probe_rn"))
    assignTo(e, id, c).select(col(id), col("centroid_id"))
      .join(broadcast(probes), "centroid_id")
      .filter(col(id) =!= col("q_id"))
  }

  /** IVF approximate top-k: probe the query's `nProbe` nearest cells,
    * score only vectors assigned there. */
  def ivfTopK(corpus: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int, nCentroids: Int = 16, nProbe: Int = 2): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    val q = queryVectors(e, id, queryPred)
    rankTopK(scoreCandidates(ivfCandidates(e, id, q, nCentroids, nProbe), e, q, id), id, k)
  }

  /** IVF top-k for EVERY probe level 1..maxProbe in one build: the
    * assignment, the probe list (ranked once, cut at maxProbe) and the
    * scored candidate relation are built ONCE, and each level np is a
    * filter `probe_rn <= np` over the scored relation. Per level the
    * (q_id, id, sim, rank) rows are bit-identical to
    * `ivfTopK(..., nProbe = np)` — same candidate set, same scores, same
    * bounded-heap ranking. */
  def ivfProbeSweepTopK(corpus: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int, nCentroids: Int = 16, maxProbe: Int = 4): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    val q = queryVectors(e, id, queryPred)
    // Pinned: every probe level filters the scored relation, sibling
    // subtrees that would otherwise each re-carry the assignment chain.
    val scored = GraftCaches.pin(
      scoreCandidates(ivfCandidates(e, id, q, nCentroids, maxProbe), e, q, id, "probe_rn"),
      eager = true)
    (1 to maxProbe).map { np =>
      rankTopK(scored.filter(col("probe_rn") <= np)
          .select(col("q_id"), col(id), col("sim")), id, k)
        .withColumn("n_probe", lit(np.toLong))
    }.reduce(_ unionByName _)
  }

  /** Product-quantization defaults: 4 subspaces (16 dims each on the
    * 64-dim corpus), 16 codes per subspace → 4 small ints replace 64
    * floats (64x storage shrink before the int8 path even starts). */
  val PqM: Int = 4
  val PqK: Int = 16

  /** Left-fold squared L2 distance of two array<double> columns — the
    * same fixed-order fold discipline as [[dot]], so the oracle rebuilds
    * it bit-for-bit with list_reduce. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The exploded (id, mi, sv) subvector relation: each vector split into
    * `m` contiguous subspaces of size(v)/m dims (1-based slice, matching
    * DuckDB list_slice). Per-row column math, shuffle-free. A vector
    * whose length is NOT divisible by `m` fails LOUDLY (raise_error) —
    * silently dropping the trailing dims would falsify pqCodes'
    * documented invariant that per-subspace distances sum to the exact
    * reconstruction error. */
  private def pqSubvectors(corpus: DataFrame, id: String, vec: String,
      m: Int): DataFrame = {
    val sd = when(pmod(size(col("v")), lit(m)) === 0,
        (size(col("v")) / lit(m)).cast("int"))
      .otherwise(raise_error(concat(
        lit(s"pqSubvectors: vector length not divisible by m=$m: len="),
        size(col("v")).cast("string"))).cast("int"))
    corpus.select(col(id), toDoubleVec(col(vec)).as("v"))
      .select(col(id), explode(sequence(lit(0), lit(m - 1))).as("mi"), col("v"))
      .select(col(id), col("mi"), slice(col("v"), col("mi") * sd + 1, sd).as("sv"))
  }

  /** Per-subspace codebooks (mi, c_id, cv): the subvectors of the `k`
    * LOWEST-id vectors, selected by an explicit orderBy/limit — NOT an
    * `id < k` predicate, which assumes dense numeric ids from 0 and on a
    * sparse or offset id domain would seed fewer than k (possibly zero)
    * entries, emptying every downstream pqEncode/pqAdcTopK inner join.
    * TakeOrdered on k rows, then the same deterministic,
    * SQL-reproducible convention (production would Lloyd-refine each
    * subspace exactly as [[ivfTrainedCentroids]] does, the plumbing is
    * unchanged). m·k rows — always broadcastable. */
  def pqCodebooks(corpus: DataFrame, id: String, vec: String,
      m: Int = PqM, k: Int = PqK): DataFrame =
    pqSubvectors(corpus.orderBy(col(id)).limit(k), id, vec, m)
      .select(col("mi"), col(id).cast("long").as("c_id"), col("sv").as("cv"))

  /** PQ encoding (id, mi, code, d): per subspace, the nearest codebook
    * entry by squared L2 (ties → lowest code id). One corpus scan against
    * the broadcast codebooks, per-(vector, subspace) struct-min with
    * map-side partial aggregation — the corpus never shuffles vectors,
    * only (id, mi, best-so-far) partials: the scale shape of an encode
    * pass over 100 TB of embeddings. */
  def pqEncode(corpus: DataFrame, id: String, vec: String,
      m: Int = PqM, k: Int = PqK): DataFrame =
    pqSubvectors(corpus, id, vec, m)
      .join(broadcast(pqCodebooks(corpus, id, vec, m, k)), "mi")
      .select(col(id), col("mi"),
        struct(sqDist(col("sv"), col("cv")).as("d"), col("c_id")).as("sc"))
      .groupBy(col(id), col("mi"))
      .agg(min(col("sc")).as("b"))
      .select(col(id), col("mi"), col("b.c_id").as("code"), col("b.d").as("d"))

  /** PQ codes per vector plus the exact reconstruction error: because the
    * subspaces partition the dimensions, sum over mi of the per-subspace
    * distances IS ||v - reconstruction||², summed by [[microSum]] so
    * partition order can't perturb the double. */
  def pqCodes(corpus: DataFrame, id: String, vec: String,
      m: Int = PqM, k: Int = PqK): DataFrame =
    pqEncode(corpus, id, vec, m, k)
      .groupBy(col(id))
      .agg(
        transform(array_sort(collect_list(struct(col("mi"), col("code")))),
          s => s.getField("code")).as("codes"),
        (microSum(col("d")) / lit(1e6)).as("recon_err"))

  /** The PQ lookup table (l_qid, l_mi, c_id, d): per query, subspace and
    * code, the exact squared L2 from the query's subvector to that
    * codebook entry — |q|·m·k rows, always broadcastable. */
  private def pqLut(corpus: DataFrame, id: String, vec: String, queryPred: Column,
      m: Int, k: Int): DataFrame =
    pqSubvectors(corpus.filter(queryPred), id, vec, m)
      .select(col(id).as("l_qid"), col("mi").as("l_mi"), col("sv").as("qsv"))
      .join(pqCodebooks(corpus, id, vec, m, k).withColumnRenamed("mi", "l_mi"), "l_mi")
      .select(col("l_qid"), col("l_mi"), col("c_id"), sqDist(col("qsv"), col("cv")).as("d"))

  /** The ADC scorer over LUT-joined (query `qId`, id, d) rows: each
    * pair's distance is the exact-decimal sum of its m looked-up entries,
    * ranked by the bounded heap (adc asc, id asc) into
    * (q_id, id, adc, rank). */
  private def adcTopK(lutRows: DataFrame, qId: String, id: String, topK: Int): DataFrame = {
    val scored = lutRows.groupBy(col(qId).as("q_id"), col(id))
      .agg((microSum(col("d")) / lit(1e6)).as("adc"))
    rankTopK(scored.select(col("q_id"), col(id), (-col("adc")).as("sim")), id, topK)
      .select(col("q_id"), col(id), (-col("sim")).as("adc"), col("rank"))
  }

  /** PQ asymmetric-distance top-k: the query keeps its exact subvectors;
    * every corpus vector is represented ONLY by its m codes. Scoring is a
    * join against the broadcast [[pqLut]], so the corpus side touches
    * nothing but its (id, mi, code) relation: at 100 TB the scan reads
    * 4 ints per vector, never the floats. */
  def pqAdcTopK(corpus: DataFrame, id: String, vec: String,
      queryPred: Column, topK: Int, m: Int = PqM, k: Int = PqK): DataFrame = {
    val codes = pqEncode(corpus, id, vec, m, k)
      .select(col(id), col("mi"), col("code"))
    val lut = pqLut(corpus, id, vec, queryPred, m, k)
    adcTopK(codes.join(broadcast(lut),
        col("mi") === col("l_mi") && col("code") === col("c_id") && col(id) =!= col("l_qid")),
      "l_qid", id, topK)
  }

  /** IVF-PQ: the production ANN index shape (FAISS IndexIVFPQ — Jégou
    * et al. 2011) composed from the two halves this file already ships:
    * the IVF coarse quantizer restricts each query to its `nProbe`
    * closest cells, and within those cells scoring is PQ ADC — the
    * corpus side touches ONLY (id, centroid_id) and the m small-int
    * codes, never the float vectors. Candidates shrink by
    * ~nProbe/nCentroids from the cell filter, and each surviving
    * candidate costs m LUT lookups instead of a d-dim dot product.
    * Centroids, probe lists, and the per-query LUT are all broadcast;
    * the only corpus-sized shuffles are the cell-assignment argmin and
    * the candidate code join. Same tie discipline as both parents
    * (cells: sim desc / c_id asc; ranking: adc asc / id asc). */
  def ivfPqTopK(corpus: DataFrame, id: String, vec: String,
      queryPred: Column, topK: Int, nCentroids: Int = 16, nProbe: Int = 2,
      m: Int = PqM, k: Int = PqK): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    val cand = ivfCandidates(e, id, queryVectors(e, id, queryPred), nCentroids, nProbe)
      .select(col("q_id"), col(id))
    val codes = pqEncode(corpus, id, vec, m, k)
      .select(col(id), col("mi"), col("code"))
    val lut = pqLut(corpus, id, vec, queryPred, m, k)
    adcTopK(cand.join(codes, id).join(broadcast(lut), col("q_id") === col("l_qid") &&
        col("mi") === col("l_mi") && col("code") === col("c_id")),
      "q_id", id, topK)
  }

  /** Near-duplicate pairs by embedding cosine: banded LSH candidates
    * (any-band match, a < b), exact cosine verify on the candidate set.
    * Candidate generation routes through the same degenerate-bucket-capped
    * self-join as the text-dedup paths ([[Dedup.candidatePairsFromBands]]):
    * a hot band key — a cluster of near-identical embeddings, or the
    * all-zeros vector — would otherwise make one bucket's join quadratic
    * on a single task at corpus scale. Buckets holding more than
    * `maxBucket` vectors are dropped (their members are by construction
    * findable via their other band, or are degenerate boilerplate); the
    * oracle mirrors the cap with the same HAVING filter, so the guard
    * itself is differentially tested. */
  def nearDupPairs(corpus: DataFrame, id: String, vec: String,
      threshold: Double, maxBucket: Int = 100): DataFrame = {
    val e = indexed(corpus, id, vec)
    val cand = Dedup.candidatePairsFromBands(bandRows(e, id), id, maxBucket)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    verifiedPairs(cand, e, id).filter(col("sim") >= threshold)
  }

  /** kNN label-noise audit (the deep-kNN label-consistency screen of
    * confident-learning pipelines): for every labeled vector, the
    * fraction of its k nearest retrieved neighbors that share its label —
    * low agreement flags probable mislabels / out-of-distribution rows
    * before they reach training. Neighbor retrieval is the banded-LSH
    * candidate machinery, NOT all-pairs: candidates come from
    * [[Dedup.candidatePairsFromBands]] (band-key equi-join, degenerate
    * buckets capped at `maxBucket`), both orientations of each pair feed
    * a per-vector bounded-heap top-k, and labels rejoin by id — only
    * (id, band, key) and (id, id, sim) rows ride shuffles. Emits
    * (id, label, n_nbrs, n_same, agree_frac, noisy) for every vector
    * with at least one candidate neighbor. */
  def knnLabelNoise(corpus: DataFrame, id: String, vec: String,
      label: String, k: Int = 5, maxBucket: Int = 100): DataFrame = {
    val e = indexed(corpus, id, vec)
    val cand = Dedup.candidatePairsFromBands(bandRows(e, id), id, maxBucket)
    val scored = scoredMirroredPairs(e, cand, id)
    val labels = corpus.select(col(id), col(label))
    val topk = rankTopK(scored.withColumnRenamed("nbr", id), id, k)
    topk
      .join(labels.select(col(id).as("q_id"), col(label).as("q_label")), "q_id")
      .join(labels.select(col(id), col(label).as("n_label")), id)
      .groupBy(col("q_id").as(id), col("q_label").as(label))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"))
      .select(col(id), col(label), col("n_nbrs"), col("n_same"),
        (col("n_same").cast("double") / col("n_nbrs").cast("double")).as("agree_frac"))
      .withColumn("noisy", col("agree_frac") < 0.5)
  }

  /** Contrastive training-pair assembly: for every anchor vector, the
    * top-`nPos` most-similar SAME-label neighbors (positives) and the
    * top-`nNeg` most-similar DIFFERENT-label neighbors (hard negatives —
    * the "closest wrong answers" a contrastive loss learns most from).
    * Candidates come from the capped banded-LSH self-join (never
    * all-pairs; the `maxBucket` skew cap bounds every bucket's fan-out),
    * labels join in by id, and the per-anchor ranking windows partition
    * by (anchor, same-label) — bounded by the candidate cap, so no
    * reducer ever sees more than maxBucket-bounded rows per anchor. */
  def contrastivePairs(corpus: DataFrame, id: String, vec: String, label: String,
      nPos: Int = 1, nNeg: Int = 3, maxBucket: Int = 100): DataFrame = {
    val e = indexed(corpus, id, vec)
    val cand = Dedup.candidatePairsFromBands(bandRows(e, id), id, maxBucket)
    val scored = scoredMirroredPairs(e, cand, id)
    val labels = corpus.select(col(id), col(label))
    val lab = scored
      .join(labels.select(col(id).as("q_id"), col(label).as("q_label")), "q_id")
      .join(labels.select(col(id).as("nbr"), col(label).as("n_label")), "nbr")
      .withColumn("same", col("n_label") === col("q_label"))
    val w = Window.partitionBy(col("q_id"), col("same")).orderBy(col("sim").desc, col("nbr").asc)
    lab.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter((col("same") && col("rk") <= nPos) || (!col("same") && col("rk") <= nNeg))
      .select(col("q_id").as(id),
        when(col("same"), lit("pos")).otherwise(lit("neg")).as("role"),
        col("rk"), col("nbr"), col("sim"),
        col("q_label").as(label), col("n_label"))
  }

  /** The rows of the (id, centroid_id) `cells` relation whose cell holds
    * at most `maxCell` rows: each cell is counted and the cells under the
    * cap are broadcast — the skew guard every within-cluster comparison
    * needs, since one degenerate cluster would otherwise put a quadratic
    * task on one core. The oracles apply the identical HAVING cap. */
  private def capCells(cells: DataFrame, maxCell: Int): DataFrame = {
    val ok = cells.groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCell).select("centroid_id")
    cells.join(broadcast(ok), "centroid_id")
  }

  /** (id_a, id_b) pairs of vectors sharing a cell of the (id,
    * centroid_id) `members`, id_a < id_b: the cell-bucketed self-join
    * carrying only (centroid_id, id) rows. A pair sharing several cells
    * appears once per shared cell, so callers whose vectors sit in more
    * than one cell add `.distinct()`. */
  private def cellPairs(members: DataFrame, id: String): DataFrame = {
    val m = members.select(col("centroid_id"), col(id))
    m.as("a").join(m.as("b").withColumnRenamed(id, "id_b"), "centroid_id")
      .filter(col(id) < col("id_b"))
      .select(col(id).as("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus, compare vectors ONLY within their cluster, and
    * drop every vector whose cosine to a LOWER-id cell-mate clears
    * `threshold` — one deterministic survivor (the lowest id) per
    * semantic-duplicate group. Clustering is the nearest-centroid
    * assignment against [[semDedupCentroids]].
    *
    * Scale shape: the pairwise stage is CELL-bucketed, never corpus-
    * quadratic — the candidate self-join carries only (centroid_id, id)
    * rows, vectors rejoin by id for the cosine verify, and cells larger
    * than `maxCell` are excluded from pairing. Returns
    * (id, centroid_id, is_kept) for EVERY corpus vector. */
  def semDedup(corpus: DataFrame, id: String, vec: String,
      threshold: Double, k: Int = 16, maxCell: Int = 200,
      trainIters: Int = 0): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    // Pinned: the assignment feeds the cap aggregate, the member join
    // and the final keeper left-join (sibling subtrees).
    dedupWithinCells(e, id,
      GraftCaches.pin(assignTo(e, id, semDedupCentroids(e, id, k, trainIters)), eager = true),
      threshold, maxCell)
  }

  /** The semDedup body over an (id, centroid_id) top-1 `assign`: capped
    * cell pairs, cosine verify, and every vector with a verified
    * lower-id cell-mate dropped. */
  private def dedupWithinCells(e: DataFrame, id: String, assign: DataFrame,
      threshold: Double, maxCell: Int): DataFrame = {
    val dropped = verifiedPairs(cellPairs(capCells(assign, maxCell), id), e, id)
      .filter(col("sim") >= threshold)
      .select(col("id_b")).distinct()
    assign.join(dropped, col(id) === col("id_b"), "left")
      .select(col(id), col("centroid_id"), col("id_b").isNull.as("is_kept"))
  }

  /** Cell count for the semDedup family that SCALES with the corpus:
    * n/62 cells target ~62 top-1 assignments (~124 probe-2 memberships)
    * per cell — comfortably under the family's 200-row cell cap, so
    * candidate generation stays non-degenerate as the corpus grows (a
    * FIXED k=16 at 20k vectors puts ~1250 members in every cell, the cap
    * excludes all of them, and the dedup silently finds nothing). The
    * floor of 16 keeps every small fixture at 16 cells; the DuckDB
    * oracles mirror the same GREATEST(16, count/62) in SQL, so the
    * formula itself is hash-checked. Int-clamped: past ~62·2^31 vectors
    * the Long→Int cast would wrap negative and the `id < k` centroid
    * filter would select nothing (at that corpus size Int.MaxValue cells
    * is the right answer anyway). */
  def autoCells(n: Long): Int =
    math.min(math.max(16L, n / 62L), Int.MaxValue.toLong).toInt

  /** Seed-or-Lloyd-trained centroid relation shared by the semDedup
    * family: the k lowest-id vectors, refined by `trainIters` exact
    * quantized-mean Lloyd steps ([[lloydStep]] — the ivf_train_assign
    * machinery, bit-reproducible and oracle-expressible). Trained cells
    * are shaped by the data, so near-collinear pairs straddle boundaries
    * less (SemDedupPlantedRecallSpec pins the recall gain at 20k
    * vectors), and balanced cells mean fewer over-cap exclusions and less
    * pair-join skew. Extra iterations pay one more (c_id, pos, x) shuffle
    * each for diminishing recall.
    *
    * The trained relation is pinned: the top-1 assignment, the probe-2
    * memberships and, in the two-level path, three broadcast builds
    * (submitted on concurrent threads) consume it, and each unmaterialized
    * reference would re-run the k·dim mean shuffle. */
  private[graft] def semDedupCentroids(e: DataFrame, id: String, k: Int,
      trainIters: Int): DataFrame =
    if (trainIters <= 0) seedCentroids(e, id, k)
    else GraftCaches.pin(trainedCentroids(e, id, k, trainIters), eager = true)

  /** Per-vector top-`probes` cell MEMBERSHIPS over [[semDedupCentroids]],
    * cells over `maxCell` membership rows excluded — the multi-probe
    * antidote to [[semDedup]]'s cell-boundary blindness: a duplicate pair
    * straddling a Voronoi border still shares its SECOND-nearest cell
    * with high probability, so probe-2 candidates recover most border
    * pairs at ×probes membership rows (never all-pairs). Ties → lowest
    * centroid id, mirroring the oracle's row_number. `e` is the (id, v,
    * nrm) relation. Pinned: the memberships feed BOTH sides of the cell
    * self-join, and the checkpoint truncates the N×cells assignment chain
    * to a leaf per reference. */
  private[graft] def semDedupMembers(e: DataFrame, id: String, k: Int,
      probes: Int, maxCell: Int, trainIters: Int = 0): DataFrame = {
    val m = topCells(withCentroids(e, id, semDedupCentroids(e, id, k, trainIters)), id, probes)
      .select(col(id), explode(col("tk.ids")).as("centroid_id"))
    GraftCaches.pin(capCells(m, maxCell).select(col(id), col("centroid_id")), eager = true)
  }

  /** Honest-recall audit for the semantic-dedup candidate generation: of
    * all TRUE duplicate pairs (cosine ≥ `threshold` over every vector
    * pair — the exact baseline), what fraction is reachable (a) within
    * [[semDedup]]'s single top-1 cell and (b) within the probe-2
    * membership cells of [[semDedupMembers]]? One row: (n_true,
    * n_caught_p1, n_caught_p2, recall_p1, recall_p2).
    *
    * ONE ranked N×cells pass ([[rankedExact]]) feeds both reaches, as the
    * oracle derives both from one ranking CTE: the pass is the audit's
    * dominant super-linear stage (N×cells with cells ∝ N).
    *
    * The exact baseline is a BLOCKED all-pairs equi-join: each id hashes
    * to one of `blocks` buckets, the left side explodes ×blocks keyed
    * (own, other) and the right ×blocks keyed (other, own), so every
    * unordered pair lands in EXACTLY one of blocks² reducer groups of
    * (N/blocks)² work each — quadratic by intent (it is the truth
    * relation) but spread across tasks, never a single-task Cartesian.
    *
    * At corpus scale the audit runs on a SAMPLE: when truthSamplePpm <
    * 1,000,000, only vectors whose deterministic PolyHash-Bernoulli draw
    * (`polyhash(id || ":t9s") % 1e6`) lands under the threshold feed the
    * truth relation — both endpoints of a counted pair must be sampled,
    * so the quadratic stage runs on (ppm/1e6·N)² instead of N². The
    * CANDIDATE relations are still built from the FULL corpus (cells,
    * caps, and memberships are the apparatus being audited — sampling
    * must shrink the measurement, never the thing measured), and recall
    * over the sampled truth is an unbiased estimate of full-truth recall.
    * The hash is the engine's cross-engine-reproducible PolyHash, so a
    * DuckDB oracle derives the identical sample from the identical ids.
    * Default 1,000,000 = full truth. */
  def semDedupRecall(corpus: DataFrame, id: String, vec: String,
      threshold: Double, k: Int = 16, maxCell: Int = 200,
      blocks: Int = 16, trainIters: Int = 0,
      truthSamplePpm: Int = 1000000): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    recallAudit(e, id, rankedExact(e, id, k, trainIters),
      threshold, maxCell, blocks, truthSamplePpm)
  }

  /** [[semDedupRecall]] with the candidate generation running on the
    * TWO-LEVEL assignment ([[semDedupRanked2L]]): same 5-column audit
    * contract, same exact truth relation — what changes is the thing
    * being audited (the coarse-pruned reach instead of the exhaustive
    * one), so the recall deltas between this and [[semDedupRecall]] ARE
    * the measured price of the sub-quadratic assignment. */
  def semDedupRecall2L(corpus: DataFrame, id: String, vec: String,
      threshold: Double, k: Int = 16, maxCell: Int = 200,
      blocks: Int = 16, trainIters: Int = 0,
      truthSamplePpm: Int = 1000000): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    recallAudit(e, id, semDedupRanked2L(e, id, k, trainIters),
      threshold, maxCell, blocks, truthSamplePpm)
  }

  /** The exact (exhaustive) ranked assignment (id, rnk, centroid_id):
    * every vector × every centroid, one broadcast nested-loop pass, top-2
    * cells per vector. N×cells cosines — with cells ∝ N (autoCells) this
    * is the family's quadratic stage; [[semDedupRanked2L]] is the
    * sub-quadratic alternative. Pinned like [[semDedupRanked2L]]'s
    * result: the audit reads it from sibling subtrees. */
  private def rankedExact(e: DataFrame, id: String, k: Int,
      trainIters: Int): DataFrame =
    GraftCaches.pin(
      topTwoCells(withCentroids(e, id, semDedupCentroids(e, id, k, trainIters)), id),
      eager = true)

  /** Shared audit tail: blocked (optionally PolyHash-sampled) exact
    * truth vs the top-1 (`rnk = 0`) and probe-2 reaches of `ranked`
    * ((id, rnk, centroid_id), rnk ∈ {0, 1}). */
  private def recallAudit(e: DataFrame, id: String, ranked: DataFrame,
      threshold: Double, maxCell: Int, blocks: Int,
      truthSamplePpm: Int): DataFrame = {
    val sampled =
      if (truthSamplePpm >= 1000000) e
      else e.filter(
        pmod(PolyHash.hash(concat(col(id).cast("string"), lit(":t9s"))),
          lit(1000000L)) < truthSamplePpm)
    val g = sampled.withColumn("blk", pmod(col(id), lit(blocks)).cast("int"))
    val left = g.select(col(id).as("id_a"), col("v").as("va"),
        col("nrm").as("na"), col("blk").as("p"),
        explode(sequence(lit(0), lit(blocks - 1))).as("q"))
    val right = g.select(col(id).as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"), col("blk").as("q"),
        explode(sequence(lit(0), lit(blocks - 1))).as("p"))
    // Pinned (eager): the truth relation anchors two chained left joins
    // (one reference per join side) — the checkpoint truncates the
    // blocks²-reducer quadratic stage to a leaf for both.
    val truth = GraftCaches.pin(
      left.join(right, Seq("p", "q"))
        .filter(col("id_a") < col("id_b"))
        .filter(cosine("va", "vb", "na", "nb") >= threshold)
        .select("id_a", "id_b"),
      eager = true)
    // (a) the top-1-cell reach, mirroring semDedup exactly (cells capped
    // by ASSIGNMENT count, as there); (b) the probe-2 membership reach
    // (cells capped by MEMBERSHIP count).
    val cand1 = cellPairs(capCells(
      ranked.filter(col("rnk") === 0).select(col(id), col("centroid_id")), maxCell), id)
    val cand2 = cellPairs(capCells(
      ranked.select(col(id), col("centroid_id")), maxCell), id).distinct()
    truth
      .join(cand1.withColumn("c1", lit(1)), Seq("id_a", "id_b"), "left")
      .join(cand2.withColumn("c2", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        // coalesce: SUM over an empty truth relation is NULL in both
        // engines — pin it to 0 so the column stays integral either way
        coalesce(sum(when(col("c1").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_caught_p1"),
        coalesce(sum(when(col("c2").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_caught_p2"))
      .select(col("n_true"), col("n_caught_p1"), col("n_caught_p2"),
        // NULL, not 0/0, when the corpus has no true pairs at the
        // threshold (the τ=0.9 audit over a near-random corpus): recall
        // of an empty truth relation is undefined, and the oracle's
        // CASE mirrors the same NULL — the bloom_fpr precedent.
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(col("n_caught_p1").cast("double") / col("n_true").cast("double"))
          .as("recall_p1"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(col("n_caught_p2").cast("double") / col("n_true").cast("double"))
          .as("recall_p2"))
  }

  /** Coarse cell count for the two-level assignment: ~√cells coarse
    * groups (floor 4), so the two probe passes cost N·√cells + N·~2·
    * (cells/√cells) = O(N^1.5/√62) cosines instead of the exhaustive
    * N·cells = N²/62 — the standard IVF coarse-quantizer shape. Integer
    * in, integer out, ceil(sqrt) is IEEE-identical in DuckDB, so the
    * oracle derives the same count from the same corpus COUNT. */
  def coarseCells(k: Int): Int =
    math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Coarse groups probed per vector in the two-level assignment,
    * chosen from the measured recall curve at the 20k planted τ=0.9
    * regime (SemDedupPlantedRecallSpec): on the ISOTROPIC fixture —
    * hash-random vectors, the coarse quantizer's adversarial worst case
    * since there is no cluster structure to learn and a cosine-0.95
    * pair's coarse rankings diverge at the margin — 2 probes measured
    * 0.72 and 4 probes 0.803 vs the exhaustive 0.976. On a CLUSTERED
    * corpus (the regime SemDeDup itself presumes) 4 probes measured
    * 0.982 vs exact 1.000 over the planted pairs — the prune is ~free
    * where the design applies, and the isotropic price is pinned as
    * data. Cost stays sub-quadratic: ~4N√k dots + N·k cheap contains
    * vs N·k full dots. */
  val CoarseProbes: Int = 4

  /** TWO-LEVEL ranked assignment (id, rnk, centroid_id) — the
    * sub-quadratic scale path for the semDedup family. [[autoCells]]
    * makes cells ∝ N (forced by the 200-row cell cap), so the exhaustive
    * assignment pass is N²/62 cosines. Standard remedy (IVF coarse
    * quantizer; Johnson et al., "Billion-scale similarity search with
    * GPUs", the faiss IVF design): route each vector through ~√cells
    * COARSE groups first, then rank only the centroids of its top
    * coarse groups.
    *
    * Determinism/oracle contract: coarse centroids = the √k lowest-id
    * trained centroids; each centroid joins its nearest coarse group
    * (cos, ties → lowest g_id); each vector probes its top-
    * [[CoarseProbes]] coarse groups (same tie rule). Every decision is
    * the same argmax/row_number the family already mirrors in SQL, so
    * the relation is hash-checkable end to end.
    *
    * Scale shape: the coarse pass is a broadcast nested loop over the
    * √k-row coarse relation (N·√k cheap dots). The cell pass is an
    * equi-join chain, not a crossJoin+filter: a nested loop with a
    * contains-prune still GENERATES N×k rows, while the chain generates
    * only ~[[CoarseProbes]]·N·√k candidate rows — sub-quadratic in BOTH
    * rows and dot work — at the price of one linear corpus shuffle (the
    * join of the candidate ids back to their vectors).
    *
    * The result is pinned (eager localCheckpoint), not cached: sibling
    * subtrees consume it (the rnk=0 assignment and the probe-2
    * memberships, then their cap aggregates and both sides of each cell
    * self-join), and a cache does not truncate the logical plan, so every
    * reference would re-carry the whole coarse→cell chain through
    * analysis and AQE replanning. At cluster scale this is "write the
    * assignment to a table". */
  private[graft] def semDedupRanked2L(e: DataFrame, id: String, k: Int,
      trainIters: Int, coarseProbes: Int = CoarseProbes): DataFrame = {
    val ct = semDedupCentroids(e, id, k, trainIters)
    val cc = ct.filter(col("c_id") < coarseCells(k))
    // centroid → coarse group: the k×√k nearest-centroid assignment.
    val cg = assignTo(ct.select(col("c_id").as("cell"), col("cv").as("v"),
        col("c_nrm").as("nrm")), "cell", cc)
      .select(col("cell").as("c_id"), col("centroid_id").as("g_id"))
    // vector → top-coarseProbes coarse groups: N×√k.
    val vg = topCells(withCentroids(e, id, cc), id, coarseProbes)
      .select(col(id), explode(col("tk.ids")).as("g_id"))
    // vector → the centroids of its coarse groups, vectors joined once by id.
    val candC = vg.join(broadcast(cg), "g_id").select(col(id), col("c_id"))
    GraftCaches.pin(
      topTwoCells(candC.join(e.select(col(id), col("v"), col("nrm")), Seq(id))
        .join(broadcast(ct), "c_id"), id),
      eager = true)
  }

  /** [[semDedup]] with the two-level assignment: identical output
    * contract ((id, centroid_id, is_kept) for every corpus vector,
    * lowest id survives per duplicate group, assignment-count cell cap)
    * — the centroid each vector lands in is the top-1 of its coarse-
    * pruned candidate set instead of the global argmax. The dedup
    * semantics a user cares about (which vectors are dropped) shift
    * only where the two assignments disagree — `semdedup_recall_2l`
    * measures exactly that reach difference. The ranked relation is
    * already pinned, so its rnk=0 projection needs no second pin. */
  def semDedup2L(corpus: DataFrame, id: String, vec: String,
      threshold: Double, k: Int = 16, maxCell: Int = 200,
      trainIters: Int = 0): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    dedupWithinCells(e, id,
      semDedupRanked2L(e, id, k, trainIters)
        .filter(col("rnk") === 0).select(col(id), col("centroid_id")),
      threshold, maxCell)
  }

  /** Semantic duplicate FAMILIES: probe-2 capped-cell candidates →
    * cosine ≥ `threshold` verified edges → true connected components via
    * the converged min-label fixpoint
    * ([[graft.operators.Dedup.duplicateComponentsConverged]] — the same
    * fold the text and perceptual dedup families ride), so a paraphrase
    * chain A≈B≈C lands in ONE family with the min id as keeper even when
    * A and C fall below the pairwise threshold. Returns (doc_id,
    * comp_id, is_keeper) for every vector in the duplicate graph. */
  def semDedupClusters(corpus: DataFrame, id: String, vec: String,
      threshold: Double, k: Int = 16, maxCell: Int = 200,
      trainIters: Int = 0): DataFrame = {
    val e = embeddingRel(corpus, id, vec)
    val cand = cellPairs(semDedupMembers(e, id, k, probes = 2, maxCell = maxCell,
      trainIters = trainIters), id).distinct()
    Dedup.duplicateComponentsConverged(verifiedPairs(cand, e, id)
      .filter(col("sim") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
  }
}
