package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Similarity-search queries over `embeddings`, oracle-checked: the DuckDB
  * SQL rebuilds the identical double-precision left-fold dot products
  * (list_reduce with an explicit 0.0 seed — never list_sum, whose reduction
  * order is unspecified), so sims are bit-equal across engines. The ANN
  * oracles also rebuild the banded hyperplane keys bit-for-bit, so the
  * candidate sets (not just the final sims) are differentially tested.
  */
object SimilarityQueries {

  /** Inline SQL for the left-fold dot product of two vector expressions. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x,y) -> x+y)"

  /** Norms are precomputed per vector (CTE column `nrm`), mirroring the
    * Spark side — same expression tree, so sims stay bit-equal. */
  private def cosSql(a: String, b: String, an: String, bn: String): String =
    s"${dotSql(a, b)} / ($an * $bn)"

  private val eCte: String =
    s"e0 AS (SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings)"

  /** DuckDB rebuild of Similarity.lshBandKey(v, band): BandBits sign bits
    * of the fixed ±1 hyperplane pattern ((i*31 + j*37) % 97) % 2. */
  private def bandKeySql(band: Int): String = {
    val off = band * Similarity.BandBits
    s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0,${Similarity.BandBits}), jj ->
       |   CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(embedding)+1), i ->
       |        embedding[i]::DOUBLE * (CASE WHEN ((i*31 + (jj + $off)*37) % 97) % 2 = 0 THEN 1.0 ELSE -1.0 END))), (x,y) -> x+y) > 0
       |   THEN (1::BIGINT << jj) ELSE 0 END)), (a,b) -> a+b)""".stripMargin
  }

  /** The (vec_id, band, key) index relation, both bands. */
  private val bandsCte: String =
    s"""bands AS (
       |  SELECT vec_id, 0 AS band, ${bandKeySql(0)} AS key FROM embeddings
       |  UNION ALL
       |  SELECT vec_id, 1 AS band, ${bandKeySql(1)} AS key FROM embeddings)""".stripMargin

  /** Brute-force cosine top-10 for the 5 query vectors (vec_id < 5) via
    * the bounded-heap aggregator (bit-identical to the oracle's window). */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 10)

  val cosineTopKSql: String =
    s"""WITH $eCte,
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 5),
       |s AS (SELECT q.q_id, e.vec_id, ${cosSql("q.qv", "e.embedding", "q.qnrm", "e.nrm")} AS sim
       |      FROM q JOIN e0 e ON e.vec_id != q.q_id)
       |SELECT q_id, vec_id, sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Banded LSH key assignment for every vector (the ANN index relation). */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    Similarity.bandRows(
        Similarity.indexed(Tables.embeddings(spark, dir), "vec_id", "embedding"),
        "vec_id")

  val lshBucketsSql: String =
    s"WITH $bandsCte\nSELECT vec_id, band, key FROM bands ORDER BY vec_id, band"

  /** Approximate top-10: candidates share ANY band key with the query. */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 10)

  val annLshTopKSql: String =
    s"""WITH $eCte,
       |$bandsCte,
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 5),
       |qb AS (SELECT vec_id AS q_id, band, key FROM bands WHERE vec_id < 5),
       |cand AS (SELECT DISTINCT qb.q_id, b.vec_id
       |         FROM bands b JOIN qb ON b.band = qb.band AND b.key = qb.key AND b.vec_id != qb.q_id),
       |s AS (SELECT c.q_id, c.vec_id, ${cosSql("q.qv", "e.embedding", "q.qnrm", "e.nrm")} AS sim
       |      FROM cand c JOIN e0 e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
       |SELECT q_id, vec_id, sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Embedding-cosine near-dup pairs on the banded candidate set,
    * sim >= 0.4, degenerate buckets (> 100 members) dropped — the oracle
    * applies the identical HAVING cap, so the skew guard is hash-checked. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        threshold = 0.4, maxBucket = 100)

  val nearDupPairsSql: String =
    s"""WITH $eCte,
       |$bandsCte,
       |okb AS (SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= 100),
       |bnd AS (SELECT b.vec_id, b.band, b.key FROM bands b JOIN okb USING (band, key)),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, sim FROM (
       |  SELECT c.id_a, c.id_b, ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
       |  FROM cand c JOIN e0 a ON a.vec_id = c.id_a JOIN e0 b ON b.vec_id = c.id_b) t
       |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin

  private val cCte: String =
    "c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS c_nrm FROM e0 WHERE vec_id < 16)"

  /** IVF cell assignment (16 deterministic seed centroids). */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfAssignments(Tables.embeddings(spark, dir), "vec_id", "embedding")

  val ivfAssignSql: String =
    s"""WITH $eCte,
       |$cCte,
       |s AS (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |      FROM e0 e CROSS JOIN c)
       |SELECT vec_id, c_id AS centroid_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn FROM s) t
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** IVF approximate top-10: probe the 2 nearest cells per query. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 10)

  val ivfTopKSql: String =
    s"""WITH $eCte,
       |$cCte,
       |a AS (SELECT vec_id, c_id AS centroid_id FROM (
       |  SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |  FROM (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |        FROM e0 e CROSS JOIN c) s) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 5),
       |p AS (SELECT q_id, c_id AS centroid_id FROM (
       |  SELECT x.*, row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC, c_id ASC) AS rn
       |  FROM (SELECT q.q_id, c.c_id, ${cosSql("q.qv", "c.cv", "q.qnrm", "c.c_nrm")} AS c_sim
       |        FROM q CROSS JOIN c) x) y WHERE rn <= 2),
       |s AS (SELECT p.q_id, a.vec_id, ${cosSql("q.qv", "e.embedding", "q.qnrm", "e.nrm")} AS sim
       |      FROM a JOIN p USING (centroid_id)
       |      JOIN e0 e ON e.vec_id = a.vec_id
       |      JOIN q ON q.q_id = p.q_id
       |      WHERE a.vec_id != p.q_id)
       |SELECT q_id, vec_id, sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Embedding-distribution drift monitor: assign every vector to the 16
    * deterministic seed centroids, split the corpus into an "old" and a
    * "new" cohort (vec_id parity — in production: yesterday's snapshot vs
    * today's delta), and compare per-cell occupancy shares. A cell whose
    * share moved is where the embedding distribution shifted — the
    * monitoring query a training pipeline runs before trusting a new
    * corpus drop. Scale shape: the assignment is the ivf_* 16-tiny-
    * centroid broadcast against the scan; the share relation is k rows,
    * and the cohort totals are ONE aggregated row cross-broadcast
    * (source_mix_weights' deliberate scalar-broadcast shape). */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val a = Similarity.ivfAssignments(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val g = a.groupBy("centroid_id").agg(
      sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_old"),
      sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_new"))
    val t = g.agg(sum("n_old").as("t_old"), sum("n_new").as("t_new"))
    val so = col("n_old").cast("double") / col("t_old").cast("double")
    val sn = col("n_new").cast("double") / col("t_new").cast("double")
    g.join(broadcast(t))
      .select(col("centroid_id"),
        col("n_old").cast("bigint").as("n_old"), col("n_new").cast("bigint").as("n_new"),
        so.as("share_old"), sn.as("share_new"), abs(sn - so).as("drift"))
  }

  val embeddingDriftSql: String =
    s"""WITH $eCte,
       |$cCte,
       |a AS (${assignCte("c")}),
       |g AS (SELECT c_id AS centroid_id,
       |        SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_old,
       |        SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_new
       |      FROM a GROUP BY c_id),
       |t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM g)
       |SELECT centroid_id, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
       |       CAST(n_old AS DOUBLE) / t_old AS share_old,
       |       CAST(n_new AS DOUBLE) / t_new AS share_new,
       |       abs(CAST(n_new AS DOUBLE) / t_new - CAST(n_old AS DOUBLE) / t_old) AS drift
       |FROM g CROSS JOIN t ORDER BY centroid_id""".stripMargin

  /** IVF assignment against Lloyd-refined centroids: `TrainIters`
    * training iterations (assign → per-dimension decimal-exact mean →
    * reassign). The oracle UNROLLS the same loop into one CTE chain per
    * iteration, so every intermediate centroid set — not just the final
    * assignment — is differentially checked bit-for-bit. */
  private val TrainIters = 2

  def ivfTrainAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTrainedAssignments(Tables.embeddings(spark, dir), "vec_id", "embedding",
        k = 16, iters = TrainIters)

  /** Assignment-vs-centroids CTE body (centroid relation `cRel` must
    * expose c_id, cv, c_nrm). */
  private def assignCte(cRel: String): String =
    s"""SELECT vec_id, c_id FROM (
       |  SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |  FROM (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |        FROM e0 e CROSS JOIN $cRel c) s) t WHERE rn = 1""".stripMargin

  /** One unrolled Lloyd step: centroids `prev` → centroids `next`. */
  private def lloydStepCtes(i: Int, prev: String, next: String): String =
    s"""a$i AS (${assignCte(prev)}),
       |d$i AS (SELECT a$i.c_id, generate_subscripts(e.embedding, 1) AS pos, unnest(e.embedding) AS x
       |      FROM e0 e JOIN a$i USING (vec_id)),
       |m$i AS (SELECT c_id, pos,
       |        CAST(SUM(CAST(round(x::DOUBLE * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
       |          / (1000000.0 * COUNT(*)) AS cval
       |      FROM d$i GROUP BY c_id, pos),
       |l$i AS (SELECT c_id, list(cval ORDER BY pos) AS cv FROM m$i GROUP BY c_id),
       |$next AS (SELECT c_id, cv, sqrt(${dotSql("cv", "cv")}) AS c_nrm FROM l$i)""".stripMargin

  val ivfTrainAssignSql: String = {
    val steps = (1 to TrainIters)
      .map(i => lloydStepCtes(i, if (i == 1) "c" else s"t${i - 1}", s"t$i"))
      .mkString(",\n")
    s"""WITH $eCte,
       |$cCte,
       |$steps,
       |sF AS (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |       FROM e0 e CROSS JOIN t$TrainIters c)
       |SELECT vec_id, c_id AS centroid_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn FROM sF) t
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** IVF assignment against deterministic k-means++ (maxmin) seeds: 8
    * centroids picked by farthest-point traversal from the lowest id.
    * The oracle unrolls all 7 selection rounds as CTE chains — every
    * intermediate seed choice, not just the final assignment, is
    * differentially checked. */
  private val KppK = 8

  def ivfKppAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfKmeansPlusPlusAssignments(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = KppK)

  /** One maxmin selection round: seeds s{j-1} → s{j}. */
  private def kppStepCtes(j: Int): String =
    s"""m$j AS (SELECT e.vec_id,
       |        MIN(1.0::DOUBLE - ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")}) AS mind
       |      FROM e0 e CROSS JOIN s${j - 1} c GROUP BY e.vec_id),
       |p$j AS (SELECT vec_id FROM m$j
       |      WHERE vec_id NOT IN (SELECT c_id FROM s${j - 1})
       |      ORDER BY mind DESC, vec_id ASC LIMIT 1),
       |s$j AS (SELECT * FROM s${j - 1} UNION ALL
       |      SELECT vec_id AS c_id, embedding AS cv, nrm AS c_nrm
       |      FROM e0 WHERE vec_id IN (SELECT vec_id FROM p$j))""".stripMargin

  val ivfKppAssignSql: String = {
    val steps = (1 until KppK).map(kppStepCtes).mkString(",\n")
    s"""WITH $eCte,
       |s0 AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS c_nrm
       |       FROM e0 WHERE vec_id = (SELECT MIN(vec_id) FROM e0)),
       |$steps,
       |sc AS (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |       FROM e0 e CROSS JOIN s${KppK - 1} c)
       |SELECT vec_id, c_id AS centroid_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn FROM sc) t
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** Int8 symmetric quantization of every embedding (scale + int codes,
    * the ANN-index storage-shrink pass). Codes serialize to a CSV string
    * for the compare — the driver's row sort can't order array cells. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("q"), x => x.cast("string")), ",").as("q_codes"))

  val embedQuantizeSql: String =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
      |  FROM embeddings),
      |s AS (SELECT vec_id, embedding,
      |        CASE WHEN mx > 0 THEN mx / 127.0::DOUBLE ELSE 1.0::DOUBLE END AS scale
      |      FROM m)
      |SELECT vec_id, scale,
      |       COALESCE(array_to_string(list_transform(embedding,
      |         x -> CAST(CAST(floor(x::DOUBLE / scale + 0.5::DOUBLE) AS INT) AS VARCHAR)), ','), '') AS q_codes
      |FROM s ORDER BY vec_id""".stripMargin

  /** Recall@10 of the LSH-approximate top-k against the brute-force
    * ground truth — the evaluation loop every ANN index ships with (you
    * don't deploy an index whose recall you haven't measured). Composes
    * the two existing operators and joins their (q_id, vec_id) result
    * sets; the oracle nests both differential CTE chains, so the recall
    * number is itself hash-checked end to end. Left join direction: the
    * truth set is the denominator (always k rows per query). */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    recallPerQuery(truthTop10(emb),
      Similarity.lshTopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 10))
  }

  /** The recall truth relation: the brute-force top-10 (q_id, vec_id) of
    * the 5 query vectors (vec_id < 5). */
  private def truthTop10(emb: DataFrame): DataFrame =
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 10)
      .select(col("q_id"), col("vec_id"))

  /** The recall@k tail: `truth` left-joined with the (q_id, vec_id) rows
    * of `approx`, then per query `k` (the truth count — the denominator,
    * so the join keeps the truth side), `n_hits` and `recall`. */
  private def recallPerQuery(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.join(approx.select(col("q_id"), col("vec_id"), lit(1L).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("k").cast("double"))

  val annRecallSql: String =
    s"""WITH truth AS (SELECT q_id, vec_id FROM ($cosineTopKSql)),
       |approx AS (SELECT q_id, vec_id, 1::BIGINT AS hit FROM ($annLshTopKSql))
       |SELECT t.q_id, COUNT(*) AS k,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a USING (q_id, vec_id)
       |GROUP BY t.q_id ORDER BY q_id""".stripMargin

  /** Matryoshka (MRL) truncation sweep: recall@10 of cosine search over
    * the FIRST d dims (d ∈ 8, 16, 32) against the full-64-dim truth —
    * the measurement that decides how far a serving stack can truncate
    * MRL-trained embeddings before quality falls off. Truth is computed
    * once and tracked; each truncated pass is the same bounded-heap
    * brute-force over `slice(embedding, 1, d)` (at corpus scale the
    * truncated side is exactly where an IVF/LSH index goes — the sweep
    * measures the QUALITY axis; the ann/ivf recall queries measure the
    * index axis). Left-fold double dot products keep sims bit-equal
    * across engines, so recalls hash-match. */
  def mrlTruncationRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    val truth = graft.GraftCaches.track(truthTop10(emb))
    Seq(8, 16, 32).map { d =>
      val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
      recallPerQuery(truth, truthTop10(trunc)).withColumn("dim", lit(d.toLong))
    }.reduce(_ unionByName _)
      .select("dim", "q_id", "k", "n_hits", "recall")
  }

  private def mrlDimCtes(d: Int): String =
    s"""s$d AS (SELECT vec_id, embedding[1:$d] AS sv FROM embeddings),
       |e$d AS (SELECT vec_id, sv, sqrt(${dotSql("sv", "sv")}) AS nrm FROM s$d),
       |k$d AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q.qv", "e.sv", "q.qnrm", "e.nrm")} DESC, e.vec_id ASC) AS rank
       |    FROM (SELECT vec_id AS q_id, sv AS qv, nrm AS qnrm FROM e$d WHERE vec_id < 5) q
       |    JOIN e$d e ON e.vec_id != q.q_id) t
       |  WHERE rank <= 10),
       |r$d AS (
       |  SELECT $d::BIGINT AS dim, t.q_id, COUNT(*) AS k,
       |    CAST(SUM(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
       |    CAST(SUM(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS recall
       |  FROM truth t LEFT JOIN k$d a USING (q_id, vec_id)
       |  GROUP BY t.q_id)""".stripMargin

  val mrlTruncationRecallSql: String =
    s"""WITH truth AS (SELECT q_id, vec_id FROM ($cosineTopKSql)),
       |${Seq(8, 16, 32).map(mrlDimCtes).mkString(",\n")}
       |SELECT * FROM r8 UNION ALL SELECT * FROM r16 UNION ALL SELECT * FROM r32
       |ORDER BY dim, q_id""".stripMargin

  /** Per-dimension corpus statistics over the embedding column — the
    * calibration pass quantization/whitening/feature-scaling needs.
    * posexplode + one groupBy(dim): the shuffle moves (dim, scaled-int)
    * pairs, 64 groups, fully map-side combined. Means use the scaled-
    * integer exact-sum pattern (floats are exact at 1e6 scaling well
    * past the fixture range, and decimal addition is associative, so
    * partition order can't perturb the result); min/max/count are
    * order-free anyway. */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("bigint").as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), Similarity.microMean(col("x")).as("mean_x"),
        min("x").as("min_x"), max("x").as("max_x"))

  val embedDimStatsSql: String =
    """SELECT dim, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
      |    / (1000000.0 * COUNT(*)) AS mean_x,
      |  MIN(x) AS min_x, MAX(x) AS max_x
      |FROM (SELECT generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding)::DOUBLE AS x
      |      FROM embeddings) t
      |GROUP BY dim ORDER BY dim""".stripMargin

  /** Inline SQL for the left-fold squared L2 distance (mirror of
    * Similarity.sqDist). */
  private def sqDistSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a)+1), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), (x,y) -> x+y)"

  /** Shared PQ CTE chain: doubles, subvectors (4 subspaces, 1-based
    * inclusive slices = Spark's slice), seed codebooks (the k lowest
    * vec_ids via ORDER BY/LIMIT, mirroring pqCodebooks' id-domain-safe
    * seeding), per-subspace distances, argmin codes. */
  private val pqCtes: String =
    s"""ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |mm AS (SELECT unnest(range(0, ${graft.operators.Similarity.PqM})) AS mi),
       |sub AS (SELECT vec_id, mi,
       |          list_slice(v, mi*(len(v)//${graft.operators.Similarity.PqM})+1,
       |                        (mi+1)*(len(v)//${graft.operators.Similarity.PqM})) AS sv
       |        FROM ev CROSS JOIN mm),
       |cb AS (SELECT mi, vec_id AS c_id, sv AS cv FROM sub
       |       WHERE vec_id IN (SELECT vec_id FROM ev ORDER BY vec_id LIMIT ${graft.operators.Similarity.PqK})),
       |pqd AS (SELECT s.vec_id, s.mi, c.c_id, ${sqDistSql("s.sv", "c.cv")} AS d
       |        FROM sub s JOIN cb c ON s.mi = c.mi),
       |best AS (SELECT vec_id, mi, c_id AS code, d FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, mi ORDER BY d ASC, c_id ASC) AS rn
       |  FROM pqd) t WHERE rn = 1)""".stripMargin

  /** PQ codes + exact reconstruction error for every vector. Codes
    * serialize to CSV for the compare (array cells don't sort). */
  def pqCodesQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqCodes(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .select(col("vec_id"),
        array_join(transform(col("codes"), x => x.cast("string")), ",").as("codes"),
        col("recon_err"))

  val pqCodesSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id, array_to_string(list(code ORDER BY mi), ',') AS codes,
       |       CAST(SUM(CAST(round(d * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS recon_err
       |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** PQ ADC top-10 for the 5 query vectors: exact query subvectors vs
    * code-only corpus representation through the broadcast lookup table. */
  def pqAdcTopKQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqAdcTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < 5, topK = 10)

  val pqAdcTopKSql: String =
    s"""WITH $pqCtes,
       |q AS (SELECT vec_id AS q_id, mi, sv AS qv FROM sub WHERE vec_id < 5),
       |lut AS (SELECT q.q_id, q.mi, c.c_id, ${sqDistSql("q.qv", "c.cv")} AS d
       |        FROM q JOIN cb c ON q.mi = c.mi),
       |s AS (SELECT l.q_id, b.vec_id,
       |        CAST(SUM(CAST(round(l.d * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS adc
       |      FROM best b JOIN lut l ON l.mi = b.mi AND l.c_id = b.code AND b.vec_id != l.q_id
       |      GROUP BY l.q_id, b.vec_id)
       |SELECT q_id, vec_id, adc, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rank FROM s) t
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** IVF-PQ top-10 ([[graft.operators.Similarity.ivfPqTopK]]): the
    * production FAISS-shaped index — IVF coarse cells (top-2 probed)
    * restrict the candidate set, PQ ADC scores the survivors from their
    * 4-int codes through the broadcast LUT. The oracle composes the
    * ivf_topk probe CTEs with the pq_adc_topk code/LUT CTEs — both
    * halves are already hash-checked standalone, so this pins their
    * COMPOSITION. */
  def ivfPqTopKQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < 5, topK = 10)

  val ivfPqTopKSql: String =
    s"""WITH $eCte,
       |$cCte,
       |a AS (SELECT vec_id, c_id AS centroid_id FROM (
       |  SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |  FROM (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |        FROM e0 e CROSS JOIN c) s) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 5),
       |p AS (SELECT q_id, c_id AS centroid_id FROM (
       |  SELECT x.*, row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC, c_id ASC) AS rn
       |  FROM (SELECT q.q_id, c.c_id, ${cosSql("q.qv", "c.cv", "q.qnrm", "c.c_nrm")} AS c_sim
       |        FROM q CROSS JOIN c) x) y WHERE rn <= 2),
       |cand AS (SELECT p.q_id, a.vec_id
       |         FROM a JOIN p USING (centroid_id) WHERE a.vec_id != p.q_id),
       |$pqCtes,
       |lut AS (SELECT s.vec_id AS q_id, s.mi, c.c_id, ${sqDistSql("s.sv", "c.cv")} AS d
       |        FROM sub s JOIN cb c ON s.mi = c.mi WHERE s.vec_id < 5),
       |sc AS (SELECT cand.q_id, b.vec_id,
       |         CAST(SUM(CAST(round(l.d * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS adc
       |       FROM cand JOIN best b ON b.vec_id = cand.vec_id
       |       JOIN lut l ON l.q_id = cand.q_id AND l.mi = b.mi AND l.c_id = b.code
       |       GROUP BY cand.q_id, b.vec_id)
       |SELECT q_id, vec_id, adc, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rank FROM sc) t
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Recall@10 of the PQ-ADC index against brute force — completes the
    * ANN-quality triptych (`ann_recall` = LSH, `ivf_recall` = IVF,
    * `pq_recall` = PQ): with all three recall numbers hash-checked in
    * the same harness, the quality/compression trade-off of every
    * approximate path is directly comparable. Same composition: the
    * truth side is the deliberate exact-scoring pass over 5 query
    * vectors; the approximate side reads only the 4-int PQ codes through
    * the broadcast lookup table. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    recallPerQuery(truthTop10(emb),
      Similarity.pqAdcTopK(emb, "vec_id", "embedding", col("vec_id") < 5, topK = 10))
  }

  val pqRecallSql: String =
    s"""WITH truth AS (SELECT q_id, vec_id FROM ($cosineTopKSql)),
       |approx AS (SELECT q_id, vec_id, 1::BIGINT AS hit FROM ($pqAdcTopKSql))
       |SELECT t.q_id, COUNT(*) AS k,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a USING (q_id, vec_id)
       |GROUP BY t.q_id ORDER BY q_id""".stripMargin

  /** Recall@10 of the composed IVF-PQ index against brute force —
    * extends the ANN-quality triptych to all four paths (LSH / IVF /
    * PQ / IVF-PQ) in the same hash-checked harness, so the recall cost
    * of adding the coarse cell filter ON TOP of PQ compression is
    * directly readable next to its parents. */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    recallPerQuery(truthTop10(emb),
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", col("vec_id") < 5, topK = 10))
  }

  val ivfPqRecallSql: String =
    s"""WITH truth AS (SELECT q_id, vec_id FROM ($cosineTopKSql)),
       |approx AS (SELECT q_id, vec_id, 1::BIGINT AS hit FROM ($ivfPqTopKSql))
       |SELECT t.q_id, COUNT(*) AS k,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a USING (q_id, vec_id)
       |GROUP BY t.q_id ORDER BY q_id""".stripMargin

  /** Recall@10 of the IVF index against brute force — the companion to
    * [[annRecall]] (which evaluates the LSH index): with both recall
    * numbers hash-checked, the two ANN paths' quality is directly
    * comparable in the same harness. Same composition: truth set is the
    * denominator, left join direction keeps k rows per query. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    recallPerQuery(truthTop10(emb),
      Similarity.ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 10))
  }

  val ivfRecallSql: String =
    s"""WITH truth AS (SELECT q_id, vec_id FROM ($cosineTopKSql)),
       |approx AS (SELECT q_id, vec_id, 1::BIGINT AS hit FROM ($ivfTopKSql))
       |SELECT t.q_id, COUNT(*) AS k,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a USING (q_id, vec_id)
       |GROUP BY t.q_id ORDER BY q_id""".stripMargin

  /** Embedding outlier score: each vector's cosine to its own LABEL
    * centroid — the quality pass that flags mislabeled/garbage embeddings
    * before ANN-index build or class-balanced sampling (a vector far from
    * its class centroid is a candidate label error). Centroid means use
    * the exact micro-scaled decimal sums of embedDimStats (partition
    * order can't perturb them) and assemble per label with a struct-sort,
    * so the centroid relation — |labels|·dims rows, always broadcastable
    * — is bit-reproducible; the per-vector cosine is then one broadcast
    * join + the fixed-order VecDot fold at scan speed. At 100 TB: one
    * posexplode shuffle for the moments, nothing else moves. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("bigint").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val mu = emb.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(Similarity.microMean(col("x")).as("mu"))
    val centroids = mu.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
        s => s.getField("mu")).as("c"))
    val dot = Similarity.dot _
    emb.join(broadcast(centroids), "label")
      .select(col("vec_id"), col("label"),
        (dot(col("v"), col("c")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("c"), col("c")))))
          .as("cos_centroid"))
  }

  val embedOutliersSql: String =
    s"""WITH ev AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings),
       |d AS (SELECT label, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM ev),
       |mu AS (SELECT label, dim,
       |         CAST(SUM(CAST(round(x * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
       |           / (1000000.0 * COUNT(*)) AS mu
       |       FROM d GROUP BY label, dim),
       |c AS (SELECT label, list(mu ORDER BY dim) AS c FROM mu GROUP BY label)
       |SELECT e.vec_id, e.label,
       |       ${dotSql("e.v", "c.c")} /
       |         (sqrt(${dotSql("e.v", "e.v")}) * sqrt(${dotSql("c.c", "c.c")})) AS cos_centroid
       |FROM ev e JOIN c USING (label) ORDER BY e.vec_id""".stripMargin

  /** Query vector 0 as a one-row (q_id, qv, q_nrm) relation: the fixed
    * query the rerank, fusion and ranking-eval queries score against. */
  private def queryZero(e: DataFrame): DataFrame =
    Similarity.queryVectors(e, "vec_id", col("vec_id") === 0)

  /** Two-stage retrieval: BM25 lexical candidates re-ranked by embedding
    * cosine against a fixed query vector (vec_id 0) — the classic
    * retrieve-then-rerank pipeline as ONE composed dataflow. Stage 1 is
    * [[TextQueries.bm25Search]]'s top-10-per-term output (itself
    * hash-checked), distinct'd to a candidate set bounded by
    * |terms| × 10; stage 2 broadcasts that set against `embeddings`
    * (vec_id = doc_id), scores with the same left-fold cosine every
    * similarity oracle rebuilds, and ranks in a single partition — sound
    * at any corpus scale because the RANKED relation is candidate-sized,
    * never corpus-sized; only the two index scans touch the corpus. */
  def retrieveRerank(spark: SparkSession, dir: String): DataFrame = {
    val cands = TextQueries.bm25Search(spark, dir).select(col("doc_id")).distinct()
    val e = Similarity.vectors(Tables.embeddings(spark, dir), "vec_id", "embedding")
    e.join(broadcast(cands), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(queryZero(e)))
      .select(col("doc_id"), Similarity.cosine("qv", "v", "q_nrm", "nrm").as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("doc_id").asc)).cast("bigint"))
  }

  val retrieveRerankSql: String =
    s"""WITH cand AS (SELECT DISTINCT doc_id FROM (${TextQueries.bm25SearchSql}) b),
       |$eCte,
       |q AS (SELECT embedding AS qv, nrm AS q_nrm FROM e0 WHERE vec_id = 0)
       |SELECT doc_id, sim,
       |       CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM (SELECT c.doc_id,
       |        ${dotSql("q.qv", "e.embedding")} / (q.q_nrm * e.nrm) AS sim
       |      FROM cand c JOIN e0 e ON e.vec_id = c.doc_id CROSS JOIN q) s""".stripMargin

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the lexical and
    * semantic retrievers — the standard hybrid-search combiner: each
    * BM25 candidate gets a lexical rank (best per-term score) and a
    * semantic rank (cosine against query vector 0, the retrieve_rerank
    * scorer), fused as 1/(60+r_lex) + 1/(60+r_sem). RRF needs only
    * RANKS, never comparable scores — which is why it is the fusion rule
    * hybrid RAG stacks actually ship. All ranking windows run over the
    * bounded candidate set (≤ |terms|·10 rows); the corpus-side work is
    * bm25_search's scan-side-pruned plan plus one broadcast-candidate
    * embedding join. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextQueries.bm25Search(spark, dir)
      .groupBy("doc_id").agg(max("score").as("lex_score"))
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("lex_score").desc, col("doc_id").asc)).cast("bigint"))
    val e = Similarity.vectors(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val rrf = lit(1.0) / (lit(60.0) + col("lex_rank")) +
      lit(1.0) / (lit(60.0) + col("sem_rank"))
    e.join(broadcast(lex), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(queryZero(e)))
      .select(col("doc_id"), col("lex_rank"),
        Similarity.cosine("qv", "v", "q_nrm", "nrm").as("sim"))
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("sim").desc, col("doc_id").asc)).cast("bigint"))
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"), rrf.as("rrf"))
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("bigint"))
  }

  val rrfFusionSql: String =
    s"""WITH cand AS (SELECT doc_id, MAX(score) AS lex_score
       |              FROM (${TextQueries.bm25SearchSql}) b GROUP BY doc_id),
       |lr AS (SELECT doc_id, lex_score,
       |         CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id ASC) AS BIGINT)
       |           AS lex_rank
       |       FROM cand),
       |$eCte,
       |q AS (SELECT embedding AS qv, nrm AS q_nrm FROM e0 WHERE vec_id = 0),
       |s AS (SELECT lr.doc_id, lr.lex_rank,
       |        ${dotSql("q.qv", "e.embedding")} / (q.q_nrm * e.nrm) AS sim
       |      FROM lr JOIN e0 e ON e.vec_id = lr.doc_id CROSS JOIN q),
       |r AS (SELECT doc_id, lex_rank,
       |        CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT)
       |          AS sem_rank
       |      FROM s)
       |SELECT doc_id, lex_rank, sem_rank,
       |  1.0 / (60.0 + lex_rank) + 1.0 / (60.0 + sem_rank) AS rrf,
       |  CAST(row_number() OVER (
       |    ORDER BY 1.0 / (60.0 + lex_rank) + 1.0 / (60.0 + sem_rank) DESC,
       |             doc_id ASC) AS BIGINT) AS fused_rank
       |FROM r""".stripMargin

  /** Matryoshka truncation audit (Kusupati et al. 2022): how much of
    * each pair's cosine survives when the 64-dim embedding is truncated
    * to its FIRST 16 dims — the similarity-preservation check run before
    * shipping truncated vectors to a cheaper index tier (MRL-trained
    * models promise prefix dims carry most of the signal; this measures
    * whether THIS corpus's embeddings do). Deterministic pairing
    * (vec d vs d−250, the rouge_pairs convention), one id equi-join,
    * both cosines from the same fixed-order fold; agree16 flags pairs
    * whose truncated cosine stays within 0.1. */
  def matryoshkaAudit(spark: SparkSession, dir: String): DataFrame = {
    val full = Similarity.toDoubleVec(col("embedding"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), full.as("v"), slice(full, 1, 16).as("v16"))
      .select(col("vec_id"), col("v"), col("v16"),
        sqrt(Similarity.dot(col("v"), col("v"))).as("nrm"),
        sqrt(Similarity.dot(col("v16"), col("v16"))).as("nrm16"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("v16").as("va16"), col("nrm").as("na"), col("nrm16").as("na16"))
    val b = e.select((col("vec_id") + 250L).as("id_a"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("v16").as("vb16"), col("nrm").as("nb"),
      col("nrm16").as("nb16"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine("va", "vb", "na", "nb").as("cos64"),
        Similarity.cosine("va16", "vb16", "na16", "nb16").as("cos16"))
      .withColumn("cos_gap", abs(col("cos64") - col("cos16")))
      .withColumn("agree16", col("cos_gap") <= 0.1)
  }

  val matryoshkaAuditSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |         list_slice(list_transform(embedding, x -> x::DOUBLE), 1, 16) AS v16
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, v16,
       |    sqrt(${dotSql("v", "v")}) AS nrm,
       |    sqrt(${dotSql("v16", "v16")}) AS nrm16
       |  FROM e),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos64,
       |    ${dotSql("a.v16", "b.v16")} / (a.nrm16 * b.nrm16) AS cos16
       |  FROM n a JOIN n b ON a.vec_id = b.vec_id + 250)
       |SELECT id_a, id_b, cos64, cos16,
       |  abs(cos64 - cos16) AS cos_gap,
       |  abs(cos64 - cos16) <= 0.1 AS agree16
       |FROM p""".stripMargin

  /** Dominant principal direction by matrix-free power iteration — the
    * PCA-lite every embedding pipeline wants (whitening check, "is one
    * direction eating the variance?", compression axis) without ever
    * materializing the 64×64 covariance: three rounds of v ← A·v/‖A·v‖
    * where A·v = Σ_i x_i (x_i·v) is ONE corpus aggregate per round.
    * Cross-engine exactness: each per-dimension reduction over rows sums
    * micro-rounded DECIMAL(38,0) terms (order-free), while all
    * vector-local math (dots, norm, normalization) is fixed-order array
    * folds — so three chained float iterations stay bit-equal in DuckDB.
    * The iterate is a 1-row broadcast per round (whitelisted scalar
    * shape); un-centered by design (second-moment direction), noted in
    * the name of keeping the plan one aggregate per round. Emits the
    * eigenvalue estimate ‖A·v‖ and the micro-quantized direction. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    var vk = spark.range(1)
      .select(transform(sequence(lit(1), lit(64)), _ => lit(1.0)).as("vec"))
    for (_ <- 1 to 3) {
      val d = e.crossJoin(broadcast(vk.select(col("vec"))))
        .select(col("v"), Similarity.dot(col("v"), col("vec")).as("d"))
      val w = d.select(col("d"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("p")
        .agg((sum(round(col("x") * col("d") * lit(1e6)).cast("decimal(38,0)"))
          .cast("double") / lit(1e6)).as("w"))
      vk = w.agg(sort_array(collect_list(struct(col("p"), col("w")))).as("s"))
        .select(transform(col("s"), x => x("w")).as("wv"))
        .select(col("wv"),
          sqrt(aggregate(col("wv"), lit(0.0), (a, x) => a + x * x)).as("lambda"))
        .select(transform(col("wv"), x => x / col("lambda")).as("vec"), col("lambda"))
    }
    vk.select(col("lambda").as("eigenvalue"),
      array_join(transform(col("vec"),
        x => round(x * lit(1e6)).cast("bigint").cast("string")), ",").as("vec_micro"))
  }

  private def pcaIterCtes(k: Int, prev: String): String =
    s"""d$k AS (SELECT e.vec_id, e.v,
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
       |    i -> e.v[i] * $prev.vec[i])), (a,b) -> a+b) AS d
       |  FROM ev e CROSS JOIN $prev),
       |w$k AS (SELECT jj AS p,
       |  CAST(SUM(CAST(round(d$k.v[jj] * d$k.d * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)
       |    / 1000000.0 AS w
       |  FROM d$k, range(1, 65) r(jj) GROUP BY jj),
       |v$k AS (SELECT list_transform(wv, x -> x / lam) AS vec, lam AS lambda FROM (
       |  SELECT wv, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(wv, x -> x * x)), (a,b) -> a+b)) AS lam
       |  FROM (SELECT list(w ORDER BY p) AS wv FROM w$k) t) t2)""".stripMargin

  val pcaPowerSql: String =
    s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |            FROM embeddings),
       |v0 AS (SELECT list_transform(range(1, 65), i -> 1.0::DOUBLE) AS vec),
       |${pcaIterCtes(1, "v0")},
       |${pcaIterCtes(2, "v1")},
       |${pcaIterCtes(3, "v2")}
       |SELECT lambda AS eigenvalue,
       |  array_to_string(list_transform(vec,
       |    x -> CAST(CAST(round(x * 1000000.0) AS BIGINT) AS VARCHAR)), ',') AS vec_micro
       |FROM v3""".stripMargin

  /** Ranking-quality eval of the lexical retriever against semantic
    * relevance: treat quantized cosine-to-query-vector-0 as graded
    * relevance (floor(4·cos) clamped to [0,3]) and score bm25_search's
    * per-term top-10 with NDCG@10 and MRR@10 — the eval harness behind
    * every retrieval A/B. The log2 position discounts are the ten
    * FIXED literals 1/log2(i+1) (no runtime libm — both engines parse
    * the same decimal literals to the same doubles), DCG/IDCG are
    * fixed-order folds over the rank-sorted 10-row arrays, and the
    * ideal ordering re-sorts the same graded list descending. Work is
    * bm25's own plan + one broadcast-candidate embedding join; all
    * eval windows run on ≤30 candidate rows. */
  def rankingEval(spark: SparkSession, dir: String): DataFrame = {
    val discounts = Array(1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
      0.38685280723454163, 0.3562071871080222, 0.33333333333333331,
      0.31546487678572871, 0.30102999566398119, 0.28906482631788785)
    val e = Similarity.vectors(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val graded = TextQueries.bm25Search(spark, dir)
      .join(e, col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(queryZero(e)))
      .select(col("term"), col("rn"), col("doc_id"),
        Similarity.cosine("qv", "v", "q_nrm", "nrm").as("sim"))
      .withColumn("rel",
        greatest(lit(0L), least(lit(3L),
          floor(col("sim") * 10.0).cast("bigint") + 1L)))
    val dArr = array(discounts.map(lit): _*)
    // Index-driven fold (not zip_with: that null-pads if a term has
    // fewer than 10 results) — mirrors the oracle's range(1, len+1).
    val fold = (rels: org.apache.spark.sql.Column) => aggregate(
      transform(sequence(lit(1), size(rels)), i =>
        element_at(rels, i).cast("double") * element_at(dArr, i)),
      lit(0.0), (a, x) => a + x)
    graded.groupBy("term")
      .agg(sort_array(collect_list(struct(col("rn"), col("rel")))).as("byRank"),
        sort_array(collect_list(col("rel")), asc = false).as("byRel"),
        min(when(col("rel") >= 2L, col("rn"))).as("first_rel_rank"))
      .select(col("term"),
        fold(transform(col("byRank"), x => x("rel"))).as("dcg"),
        fold(col("byRel")).as("idcg"),
        col("first_rel_rank"))
      .select(col("term"), col("dcg"), col("idcg"), col("first_rel_rank"),
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).as("ndcg"),
        when(col("first_rel_rank").isNotNull,
          lit(1.0) / col("first_rel_rank").cast("double")).as("mrr"))
  }

  val rankingEvalSql: String = {
    val discounts = Seq("1.0", "0.6309297535714575", "0.5", "0.43067655807339306",
      "0.38685280723454163", "0.3562071871080222", "0.33333333333333331",
      "0.31546487678572871", "0.30102999566398119", "0.28906482631788785")
    val dList = discounts.mkString("[", ", ", "]")
    s"""WITH b AS (SELECT term, rn, doc_id FROM (${TextQueries.bm25SearchSql}) t),
       |$eCte,
       |q AS (SELECT embedding AS qv, nrm AS q_nrm FROM e0 WHERE vec_id = 0),
       |g AS (SELECT b.term, b.rn,
       |        GREATEST(0, LEAST(3, CAST(floor(
       |          (${dotSql("q.qv", "e.embedding")} / (q.q_nrm * e.nrm)) * 10.0)
       |          AS BIGINT) + 1)) AS rel
       |      FROM b JOIN e0 e ON e.vec_id = b.doc_id CROSS JOIN q),
       |a AS (SELECT term,
       |        list(rel ORDER BY rn) AS byRank,
       |        list(rel ORDER BY rel DESC) AS byRel,
       |        MIN(CASE WHEN rel >= 2 THEN rn END) AS first_rel_rank
       |      FROM g GROUP BY term)
       |SELECT term,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, len(byRank)+1),
       |      i -> CAST(byRank[i] AS DOUBLE) * ($dList)[i])), (x,y) -> x+y) AS dcg,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, len(byRel)+1),
       |      i -> CAST(byRel[i] AS DOUBLE) * ($dList)[i])), (x,y) -> x+y) AS idcg,
       |  first_rel_rank,
       |  CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, len(byRel)+1),
       |      i -> CAST(byRel[i] AS DOUBLE) * ($dList)[i])), (x,y) -> x+y) > 0
       |    THEN list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(byRank)+1),
       |        i -> CAST(byRank[i] AS DOUBLE) * ($dList)[i])), (x,y) -> x+y) /
       |      list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(range(1, len(byRel)+1),
       |          i -> CAST(byRel[i] AS DOUBLE) * ($dList)[i])), (x,y) -> x+y) END AS ndcg,
       |  CASE WHEN first_rel_rank IS NOT NULL
       |       THEN 1.0 / CAST(first_rel_rank AS DOUBLE) END AS mrr
       |FROM a ORDER BY term""".stripMargin
  }

  /** SemDeDup semantic dedup over the embedding corpus: deterministic
    * 16-seed cell assignment, within-cell cosine >= 0.3 against any
    * lower-id cell-mate drops the vector (lowest id survives per
    * duplicate group; cells > 200 members excluded from pairing — the
    * oracle's HAVING mirrors the cap). Emits (vec_id, centroid_id,
    * is_kept) for the full corpus. */
  def semDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.semDedup(emb, "vec_id", "embedding",
      threshold = 0.3, k = Similarity.autoCells(emb.count()),
      trainIters = SemTrainIters)
  }

  /** Lloyd iterations for the semDedup family: the τ=0.9
    * planted-near-dup audit measured probe-2 recall 0.921 with raw
    * lowest-id seeds at 20k vectors vs 0.976 after ONE training step
    * (0.988 after two) — and training made the family FASTER (balanced
    * cells → fewer cap exclusions, less pair-join skew). One step is
    * the chosen operating point; see Similarity.semDedupCentroids. */
  private val SemTrainIters = 1

  /** The semDedup family's centroid relation: cell count scales with the
    * corpus ([[Similarity.autoCells]] — GREATEST(16, n/62)), unlike the
    * ivf_* family's deliberately FIXED 16 (its probe curves and recall
    * audits are defined against a constant index shape). Seeds `c` are
    * refined by [[SemTrainIters]] unrolled Lloyd steps into `ct` — the
    * same quantized-exact-mean CTE chain ivf_train_assign hash-checks
    * (step index 9x avoids that chain's a1/d1/m1 names, which the
    * recall SQL uses for its own CTEs). */
  private val cAutoCte: String =
    // LEAST mirrors Similarity.autoCells' Int clamp: without it the two engines would derive different centroid counts
    // past ~62·2^31 vectors — the clamp is part of the shared formula.
    """c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS c_nrm FROM e0
      |      WHERE vec_id < LEAST(GREATEST(16, (SELECT COUNT(*) FROM e0) // 62), 2147483647))""".stripMargin +
      ",\n" + (1 to SemTrainIters)
        .map(i => lloydStepCtes(90 + i, if (i == 1) "c" else s"ct${i - 1}",
          if (i == SemTrainIters) "ct" else s"ct$i"))
        .mkString(",\n")

  val semDedupSql: String =
    s"""WITH $eCte,
       |$cAutoCte,
       |a AS (SELECT vec_id, c_id AS centroid_id FROM (
       |  SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |  FROM (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |        FROM e0 e CROSS JOIN ct c) s) t WHERE rn = 1),
       |ok AS (SELECT centroid_id FROM a GROUP BY centroid_id HAVING COUNT(*) <= 200),
       |m AS (SELECT a.vec_id, a.centroid_id FROM a JOIN ok USING (centroid_id)),
       |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |      FROM m x JOIN m y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
       |d AS (SELECT DISTINCT p.id_b FROM p
       |      JOIN e0 ea ON ea.vec_id = p.id_a
       |      JOIN e0 eb ON eb.vec_id = p.id_b
       |      WHERE ${cosSql("ea.embedding", "eb.embedding", "ea.nrm", "eb.nrm")} >= 0.3)
       |SELECT a.vec_id, a.centroid_id, d.id_b IS NULL AS is_kept
       |FROM a LEFT JOIN d ON a.vec_id = d.id_b""".stripMargin

  /** Honest-recall audit for the semantic-dedup candidate generation:
    * exact all-pairs truth at cosine >= 0.3 (the
    * blocked equi-join baseline — never a single-task Cartesian) vs the
    * reach of (a) semdedup's top-1 cell and (b) the probe-2 capped-cell
    * memberships. One hash-checked row pins both recalls, so the
    * cell-boundary loss is a measured artifact, not a guess.
    *
    * Measured at sf0.01 (500 vectors, 990 true pairs): recall_p1 =
    * 0.2556, recall_p2 = 0.5838 with one-Lloyd-step trained centroids
    * (seed centroids measured 0.2253/0.4980 — training helps even
    * here). The low absolute numbers are a
    * property of the FIXTURE, stated honestly:
    * these embeddings are near-random, so a cosine-0.3 "duplicate" pair
    * is weak similarity that doesn't co-locate in Voronoi cells. A real
    * near-dup corpus pairs at tau >= 0.9 where members are nearly
    * collinear and land in the same (or the probe-adjacent) cell — the
    * regime SemDeDup is built for, and measured: `semdedup_recall_t9`
    * below runs the same
    * audit at τ=0.9, and FixtureGen plants clustered cosine-≈0.95
    * near-dups so the generated corpora have a non-empty τ=0.9 truth
    * relation (SemDedupPlantedRecallSpec pins probe-2 recall there;
    * measured with seed centroids: 0.967 at 2k vectors / 60 planted
    * true pairs, 0.921 at 20k vectors / 594 pairs — already 2–4× the
    * τ=0.3 reach, confirming the regime argument directionally). On the
    * driver fixtures (no planted pairs) the τ=0.9 truth relation is
    * empty and the recalls are NULL by construction. */
  def semDedupRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    Similarity.semDedupRecall(emb, "vec_id", "embedding",
      threshold = 0.3, k = Similarity.autoCells(n),
      trainIters = SemTrainIters, truthSamplePpm = truthPpm(n))
  }

  /** Truth-sample target for the recall audits: the blocked all-pairs
    * truth relation is N²/blocks²
    * by design — the measurement apparatus, not the dedup itself — and
    * at sf3 (60k vectors) it already dominated the audit's wall clock
    * (sf1→sf3 segment ratio 4.66 on 3× data). When this env-provided
    * target is set, the truth relation runs on a deterministic
    * PolyHash-Bernoulli sample of ~target vectors (ppm =
    * min(1e6, 1e6·target/N) — both engines derive the identical ppm
    * from the identical COUNT in pure integer arithmetic), capping the
    * quadratic stage at ~target² regardless of corpus growth. Unset
    * (the driver gates) = full truth. */
  private val SemTruthTarget: Long =
    sys.env.get("SPARK_GRAFT_SEM_TRUTH_TARGET").map { raw =>
      // A malformed value must fail naming the knob, not as a bare
      // NumberFormatException at object init that poisons every
      // similarity query load with no mention of the env var.
      try raw.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_SEM_TRUTH_TARGET must be a positive integer " +
            s"(vector-count target for the sampled truth relation); got '$raw'")
      }
    }.filter(_ > 0).getOrElse(0L)

  private def truthPpm(n: Long): Int = fixedTruthPpm(n, SemTruthTarget)

  /** ppm keeping ~`target` of `n` vectors — integer arithmetic only, so
    * the oracle derives the identical value from its own COUNT(*).
    * target <= 0 (env unset) or n <= 0 (empty corpus) = keep all. */
  private def fixedTruthPpm(n: Long, target: Long): Int =
    if (target <= 0 || n <= 0) 1000000
    else math.min(1000000L, 1000000L * target / n).toInt

  /** The τ=0.9 twin of [[semDedupRecallQ]] — the regime semantic dedup
    * is actually run in (SemDeDup, Abbas et al. 2023, dedups at cosine
    * ≥ ~0.95). Driver fixtures have no such pairs (recalls NULL, counts
    * 0 — the query is the measurement apparatus); FixtureGen corpora
    * plant them, and the scale run + spec measure recall there. */
  def semDedupRecallT9Q(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    Similarity.semDedupRecall(emb, "vec_id", "embedding",
      threshold = 0.9, k = Similarity.autoCells(n),
      trainIters = SemTrainIters, truthSamplePpm = truthPpm(n))
  }

  /** Constant vector-count target for the standing sampled gate: both
    * engines derive ppm = min(1e6, 1e6·250/COUNT) from their own counts.
    * 250 is chosen so the sf0.01 driver gate (500 vectors) derives
    * ppm = 500,000, while at any larger corpus the truth stage is
    * fixed-SIZE (~250 vectors, ~31k candidate pairs) instead of
    * fixed-FRACTION (a fixed 500,000 ppm grew 2.09× on 3× data — the
    * audit's last quadratic). */
  private val SampledGateTarget = 250L

  /** Standing cross-engine gate for the truth-SAMPLING path itself: the
    * τ=0.3 audit with a FIXED-SIZE sample target (no env dependence, so
    * the driver's sf0.01 correctness run hash-checks the sampled truth
    * relation every round, not only when a scale run sets the target).
    * At sf0.01 the derived ppm keeps ~250 of 500 vectors and ~1/4 of
    * the 990 true pairs — a non-degenerate sampled truth whose counts
    * and recalls must match DuckDB's rebuild of the identical
    * PolyHash-Bernoulli draw bit for bit. */
  def semDedupRecallSampledQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    Similarity.semDedupRecall(emb, "vec_id", "embedding",
      threshold = 0.3, k = Similarity.autoCells(n),
      trainIters = SemTrainIters,
      truthSamplePpm = fixedTruthPpm(n, SampledGateTarget))
  }

  /** Shared oracle CTE chain for the probe-2 membership relation:
    * centroid sims (16 seed centroids), per-vector (sim DESC, c_id ASC)
    * ranks, rn<=2 memberships, cells capped at 200 MEMBERSHIP rows. */
  private val probe2Ctes: String =
    s"""s2 AS (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |      FROM e0 e CROSS JOIN ct c),
       |r2 AS (SELECT vec_id, c_id,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |      FROM s2),
       |m2 AS (SELECT vec_id, c_id AS centroid_id FROM r2 WHERE rn <= 2),
       |okm AS (SELECT centroid_id FROM m2 GROUP BY centroid_id HAVING COUNT(*) <= 200),
       |mm AS (SELECT m2.vec_id, m2.centroid_id FROM m2 JOIN okm USING (centroid_id))""".stripMargin

  /** DuckDB rebuild of the engine's PolyHash-Bernoulli truth-sample draw
    * (`polyhash(vec_id || ":t9s") % 1e6` — the hash_sample machinery's
    * list_reduce fold, same salt, same modulus). */
  private def truthSampleSql(ppmSql: String): String =
    s"""tsam AS (SELECT * FROM e0
       |  WHERE list_reduce(list_prepend(0::BIGINT, list_transform(
       |          string_split(CAST(vec_id AS VARCHAR) || ':t9s',''), c -> ascii(c)::BIGINT)),
       |          (a,b) -> (a*31+b) % ${graft.functions.PolyHash.Mod}) % 1000000 < ($ppmSql)),""".stripMargin

  /** Coarse group count for the two-level assignment — DuckDB mirror of
    * [[Similarity.coarseCells]] over the shared autoCells k: ceil(sqrt)
    * on the same integer, IEEE-identical in both engines. */
  private val coarseKSql: String =
    "GREATEST(4, CAST(ceil(sqrt(CAST(LEAST(GREATEST(16, " +
      "(SELECT COUNT(*) FROM e0) // 62), 2147483647) AS DOUBLE))) AS BIGINT))"

  /** DuckDB rebuild of [[Similarity.semDedupRanked2L]] — the two-level
    * (coarse-quantized) assignment. Deliberately emits the SAME CTE
    * names as [[probe2Ctes]] (r2 = ranked cells, m2/okm/mm = capped
    * probe-2 memberships), so the recall audit's final SELECT is reused
    * verbatim with this block swapped in: coarse centroids cc = the
    * √k lowest-id trained centroids, cg = each centroid's nearest
    * coarse group (ties → lowest g_id), vg = each vector's top-
    * CoarseProbes coarse groups, s2 = cosines against ONLY the
    * centroids of those groups (the coarse prune — N·~CoarseProbes·√k
    * sims instead of N·k). */
  private val twoLevelCtes: String =
    s"""cc AS (SELECT c_id AS g_id, cv AS gv, c_nrm AS g_nrm FROM ct
       |       WHERE c_id < $coarseKSql),
       |cg AS (SELECT c_id, g_id FROM (
       |        SELECT t.c_id, cc.g_id,
       |          row_number() OVER (PARTITION BY t.c_id
       |            ORDER BY ${cosSql("t.cv", "cc.gv", "t.c_nrm", "cc.g_nrm")} DESC, cc.g_id ASC) AS rn
       |        FROM ct t CROSS JOIN cc) x WHERE rn = 1),
       |vg AS (SELECT vec_id, g_id FROM (
       |        SELECT e.vec_id, cc.g_id,
       |          row_number() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.embedding", "cc.gv", "e.nrm", "cc.g_nrm")} DESC, cc.g_id ASC) AS rn
       |        FROM e0 e CROSS JOIN cc) x WHERE rn <= ${Similarity.CoarseProbes}),
       |s2 AS (SELECT e.vec_id, t.c_id, ${cosSql("e.embedding", "t.cv", "e.nrm", "t.c_nrm")} AS sim
       |       FROM e0 e JOIN vg ON vg.vec_id = e.vec_id
       |       JOIN cg ON cg.g_id = vg.g_id
       |       JOIN ct t ON t.c_id = cg.c_id),
       |r2 AS (SELECT vec_id, c_id,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |      FROM s2),
       |m2 AS (SELECT vec_id, c_id AS centroid_id FROM r2 WHERE rn <= 2),
       |okm AS (SELECT centroid_id FROM m2 GROUP BY centroid_id HAVING COUNT(*) <= 200),
       |mm AS (SELECT m2.vec_id, m2.centroid_id FROM m2 JOIN okm USING (centroid_id))""".stripMargin

  /** Parameterized by threshold (the τ=0.3 historical audit and the
    * τ=0.9 planted-near-dup regime share every other line), by an
    * optional truth-sample ppm EXPRESSION (SQL, evaluated by DuckDB —
    * either a literal or the LEAST/COUNT derivation mirroring
    * [[truthPpm]]), and by the candidate-generation CTE block (probe-2
    * exhaustive by default, [[twoLevelCtes]] for the coarse-pruned
    * audit). None = full truth. Empty truth → counts 0 (COALESCE) and recalls NULL (CASE),
    * mirroring the engine's coalesce/when exactly. */
  private def semDedupRecallSqlFor(threshold: Double,
      samplePpmSql: Option[String] = None,
      probeCtes: String = probe2Ctes): String = {
    val (sampleCte, truthSrc) = samplePpmSql match {
      case Some(ppm) => (truthSampleSql(ppm) + "\n", "tsam")
      case None => ("", "e0")
    }
    s"""WITH $eCte,
       |$cAutoCte,
       |$probeCtes,
       |${sampleCte}a AS (SELECT vec_id, c_id AS centroid_id FROM r2 WHERE rn = 1),
       |ok1 AS (SELECT centroid_id FROM a GROUP BY centroid_id HAVING COUNT(*) <= 200),
       |m1 AS (SELECT a.vec_id, a.centroid_id FROM a JOIN ok1 USING (centroid_id)),
       |truth AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |          FROM $truthSrc x JOIN $truthSrc y ON x.vec_id < y.vec_id
       |          WHERE ${cosSql("x.embedding", "y.embedding", "x.nrm", "y.nrm")} >= $threshold),
       |c1 AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |       FROM m1 x JOIN m1 y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
       |c2 AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |       FROM mm x JOIN mm y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
       |SELECT COUNT(*) AS n_true,
       |  COALESCE(CAST(SUM(CASE WHEN c1.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_caught_p1,
       |  COALESCE(CAST(SUM(CASE WHEN c2.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_caught_p2,
       |  CASE WHEN COUNT(*) = 0 THEN NULL
       |    ELSE CAST(SUM(CASE WHEN c1.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) END AS recall_p1,
       |  CASE WHEN COUNT(*) = 0 THEN NULL
       |    ELSE CAST(SUM(CASE WHEN c2.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) END AS recall_p2
       |FROM truth
       |LEFT JOIN c1 ON c1.id_a = truth.id_a AND c1.id_b = truth.id_b
       |LEFT JOIN c2 ON c2.id_a = truth.id_a AND c2.id_b = truth.id_b""".stripMargin
  }

  /** DuckDB mirror of [[fixedTruthPpm]]: integer division on the
    * oracle's own COUNT(*) — no value passed between engines. The
    * GREATEST(1, ...) floor mirrors the n <= 0 -> full-truth branch
    * (post-review): on an empty corpus the engine skips the filter
    * while a bare COUNT would make DuckDB divide by zero; with the
    * floor both sides degenerate to ppm = 1e6 = keep-everything. */
  private def fixedPpmSql(target: Long): String =
    s"LEAST(1000000, (1000000 * $target) // GREATEST(1, (SELECT COUNT(*) FROM e0)))"

  /** When the scale harness sets SPARK_GRAFT_SEM_TRUTH_TARGET, the
    * oracles derive the identical ppm from their own COUNT(*). */
  private val envPpmSql: Option[String] =
    if (SemTruthTarget <= 0) None else Some(fixedPpmSql(SemTruthTarget))

  val semDedupRecallSql: String = semDedupRecallSqlFor(0.3, envPpmSql)
  val semDedupRecallT9Sql: String = semDedupRecallSqlFor(0.9, envPpmSql)
  val semDedupRecallSampledSql: String =
    semDedupRecallSqlFor(0.3, Some(fixedPpmSql(SampledGateTarget)))
  val semDedupRecall2LSql: String =
    semDedupRecallSqlFor(0.3, Some(fixedPpmSql(SampledGateTarget)), twoLevelCtes)

  /** The τ=0.3 recall audit over the TWO-LEVEL assignment's reach
    * ([[Similarity.semDedupRecall2L]]), same fixed-size sampled truth
    * as `semdedup_recall_sampled` — so the standing gate carries the
    * exact-vs-coarse recall delta as data, on the identical truth
    * pairs, every round. */
  def semDedupRecall2LQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    Similarity.semDedupRecall2L(emb, "vec_id", "embedding",
      threshold = 0.3, k = Similarity.autoCells(n),
      trainIters = SemTrainIters,
      truthSamplePpm = fixedTruthPpm(n, SampledGateTarget))
  }

  /** SemDeDup with the two-level (coarse-quantized) assignment — the
    * sub-quadratic scale path ([[Similarity.semDedup2L]]): identical
    * output contract to `semdedup`, assignment routed through √cells
    * coarse groups so the dominant pass costs ~N^1.5/√62 cosines
    * instead of N²/62. */
  def semDedup2LQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.semDedup2L(emb, "vec_id", "embedding",
      threshold = 0.3, k = Similarity.autoCells(emb.count()),
      trainIters = SemTrainIters)
  }

  val semDedup2LSql: String =
    s"""WITH $eCte,
       |$cAutoCte,
       |$twoLevelCtes,
       |a AS (SELECT vec_id, c_id AS centroid_id FROM r2 WHERE rn = 1),
       |ok AS (SELECT centroid_id FROM a GROUP BY centroid_id HAVING COUNT(*) <= 200),
       |m AS (SELECT a.vec_id, a.centroid_id FROM a JOIN ok USING (centroid_id)),
       |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |      FROM m x JOIN m y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
       |d AS (SELECT DISTINCT p.id_b FROM p
       |      JOIN e0 ea ON ea.vec_id = p.id_a
       |      JOIN e0 eb ON eb.vec_id = p.id_b
       |      WHERE ${cosSql("ea.embedding", "eb.embedding", "ea.nrm", "eb.nrm")} >= 0.3)
       |SELECT a.vec_id, a.centroid_id, d.id_b IS NULL AS is_kept
       |FROM a LEFT JOIN d ON a.vec_id = d.id_b""".stripMargin

  /** Semantic duplicate families (SemDeDup + components): probe-2
    * capped-cell candidates, cosine >= 0.3 verified edges, converged
    * min-label components with min-id keeper — the paraphrase-chain
    * resolution the drop-lower-id rule of `semdedup` can't express. The
    * oracle recomputes the components with a recursive reachability
    * closure (deliberately different math than the Spark fixpoint). */
  def semDedupClustersQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.semDedupClusters(emb, "vec_id", "embedding",
        threshold = 0.3, k = Similarity.autoCells(emb.count()),
        trainIters = SemTrainIters)
  }

  val semDedupClustersSql: String =
    s"""WITH RECURSIVE $eCte,
       |$cAutoCte,
       |$probe2Ctes,
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM mm x JOIN mm y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
       |ver AS (SELECT c.id_a, c.id_b FROM cand c
       |        JOIN e0 a ON a.vec_id = c.id_a
       |        JOIN e0 b ON b.vec_id = c.id_b
       |        WHERE ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} >= 0.3),
       |e2 AS (SELECT id_a AS src, id_b AS dst FROM ver
       |       UNION ALL SELECT id_b, id_a FROM ver),
       |reach(doc_id, lab) AS (
       |  SELECT DISTINCT src, src FROM e2
       |  UNION
       |  SELECT e2.dst, r.lab FROM reach r JOIN e2 ON e2.src = r.doc_id)
       |SELECT doc_id, MIN(lab) AS comp_id, doc_id = MIN(lab) AS is_keeper
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** kNN label-noise audit over the labeled embedding corpus: fraction of
    * the ≤5 nearest banded-LSH-retrieved neighbors sharing each vector's
    * label; agreement < 0.5 flags the row as probably mislabeled. The
    * candidate set is the capped band-bucket join (never all-pairs) and
    * the per-vector top-k is the bounded heap; the oracle rebuilds bands,
    * cap, both pair orientations, and the row_number window, so the
    * whole retrieval+audit chain is hash-checked. */
  def knnLabelNoiseQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnLabelNoise(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label", k = 5, maxBucket = 100)

  val knnLabelNoiseSql: String =
    s"""WITH $eCte,
       |$bandsCte,
       |okb AS (SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= 100),
       |bnd AS (SELECT b.vec_id, b.band, b.key FROM bands b JOIN okb USING (band, key)),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |pairs AS (SELECT id_a AS q_id, id_b AS nbr FROM cand
       |          UNION ALL SELECT id_b, id_a FROM cand),
       |s AS (SELECT p.q_id, p.nbr, ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
       |      FROM pairs p JOIN e0 a ON a.vec_id = p.q_id JOIN e0 b ON b.vec_id = p.nbr),
       |k AS (SELECT q_id, nbr FROM (
       |  SELECT q_id, nbr, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nbr ASC) AS rank
       |  FROM s) t WHERE rank <= 5),
       |g AS (SELECT k.q_id AS vec_id, ql.label, COUNT(*) AS n_nbrs,
       |        CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same
       |      FROM k JOIN embeddings ql ON ql.vec_id = k.q_id
       |             JOIN embeddings nl ON nl.vec_id = k.nbr
       |      GROUP BY k.q_id, ql.label)
       |SELECT vec_id, label, n_nbrs, n_same,
       |       CAST(n_same AS DOUBLE) / CAST(n_nbrs AS DOUBLE) AS agree_frac,
       |       CAST(n_same AS DOUBLE) / CAST(n_nbrs AS DOUBLE) < 0.5 AS noisy
       |FROM g""".stripMargin

  /** Contrastive pair mining over the labeled embeddings: per anchor the
    * top-1 same-label positive + top-3 hard (different-label) negatives
    * from the capped LSH candidate graph. */
  def contrastivePairsQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.contrastivePairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label", nPos = 1, nNeg = 3, maxBucket = 100)

  val contrastivePairsSql: String =
    s"""WITH $eCte,
       |$bandsCte,
       |okb AS (SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= 100),
       |bnd AS (SELECT b.vec_id, b.band, b.key FROM bands b JOIN okb USING (band, key)),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |pairs AS (SELECT id_a AS q_id, id_b AS nbr FROM cand
       |          UNION ALL SELECT id_b, id_a FROM cand),
       |s AS (SELECT p.q_id, p.nbr, ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS sim
       |      FROM pairs p JOIN e0 a ON a.vec_id = p.q_id JOIN e0 b ON b.vec_id = p.nbr),
       |l AS (SELECT s.q_id, s.nbr, s.sim, ql.label AS q_label, nl.label AS n_label,
       |        ql.label = nl.label AS same
       |      FROM s JOIN embeddings ql ON ql.vec_id = s.q_id
       |             JOIN embeddings nl ON nl.vec_id = s.nbr),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id, same
       |                                   ORDER BY sim DESC, nbr ASC) AS rk FROM l)
       |SELECT q_id AS vec_id, CASE WHEN same THEN 'pos' ELSE 'neg' END AS role,
       |       CAST(rk AS BIGINT) AS rk, nbr, sim, q_label AS label, n_label
       |FROM r WHERE (same AND rk <= 1) OR (NOT same AND rk <= 3)""".stripMargin

  /** The IVF tuning curve: mean recall@10 of the IVF index as nProbe
    * sweeps 1→4 — the readout that picks the probe count for a target
    * recall before anything ships to a 100 TB index. The four probe
    * levels share ONE assignment build and one scored candidate relation
    * ([[Similarity.ivfProbeSweepTopK]] — per level bit-identical to the
    * hash-checked `ivf_topk` at that nProbe), not one corpus scan and
    * per-vector max aggregation per level. The brute-force
    * truth relation is computed ONCE and cache-tracked. Output is 4 rows. */
  def ivfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    val truth = graft.GraftCaches.track(truthTop10(emb))
    val sweep = Similarity.ivfProbeSweepTopK(emb, "vec_id", "embedding",
        col("vec_id") < 5, k = 10, maxProbe = 4)
      .select(col("n_probe"), col("q_id"), col("vec_id"), lit(1L).as("hit"))
    truth.withColumn("n_probe", explode(sequence(lit(1L), lit(4L))))
      .join(sweep, Seq("n_probe", "q_id", "vec_id"), "left")
      .groupBy("n_probe")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("n_probe"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
  }

  /** One ivf_topk rebuild with `rn <= np` as the probe cut, wrapped as a
    * (q_id, vec_id, hit) relation — the per-probe-level oracle half. */
  private def probeApproxSql(np: Int): String =
    s"""SELECT q_id, vec_id, 1::BIGINT AS hit FROM (
       |WITH $eCte,
       |$cCte,
       |a AS (SELECT vec_id, c_id AS centroid_id FROM (
       |  SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |  FROM (SELECT e.vec_id, c.c_id, ${cosSql("e.embedding", "c.cv", "e.nrm", "c.c_nrm")} AS sim
       |        FROM e0 e CROSS JOIN c) s) t WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 5),
       |p AS (SELECT q_id, c_id AS centroid_id FROM (
       |  SELECT x.*, row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC, c_id ASC) AS rn
       |  FROM (SELECT q.q_id, c.c_id, ${cosSql("q.qv", "c.cv", "q.qnrm", "c.c_nrm")} AS c_sim
       |        FROM q CROSS JOIN c) x) y WHERE rn <= $np),
       |s AS (SELECT p.q_id, a.vec_id, ${cosSql("q.qv", "e.embedding", "q.qnrm", "e.nrm")} AS sim
       |      FROM a JOIN p USING (centroid_id)
       |      JOIN e0 e ON e.vec_id = a.vec_id
       |      JOIN q ON q.q_id = p.q_id
       |      WHERE a.vec_id != p.q_id)
       |SELECT q_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
       |WHERE rank <= 10)""".stripMargin

  val ivfProbeCurveSql: String =
    (1 to 4).map { np =>
      s"""SELECT $np::BIGINT AS n_probe, COUNT(*) AS n_truth,
         |  CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
         |  CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM ($cosineTopKSql) t LEFT JOIN (${probeApproxSql(np)}) a USING (q_id, vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY n_probe"

  /** Embedding-level train/test decontamination: near-duplicate pairs
    * that STRADDLE the split boundary (test = every 5th vec_id — the
    * deterministic split rule) are eval leaks the n-gram screens can't
    * see (paraphrases survive `benchmark_overlap`). Reuses the
    * hash-checked capped banded-LSH near-dup machinery — candidates
    * come from band buckets (never all-pairs), the split test is a
    * scan-local predicate on the pair relation, and the oracle applies
    * the identical straddle filter to its own rebuild of the pair set.
    * τ = 0.3, looser than `embed_neardup_pairs`' 0.4: a leak screen
    * trades precision for recall (a missed paraphrase contaminates an
    * eval; a false positive merely drops one eval row). Emits
    * (test_id, train_id, sim): the rows to drop from eval. */
  def embeddingDecontam(spark: SparkSession, dir: String): DataFrame = {
    val isTestA = pmod(col("id_a"), lit(5)) === 0
    val isTestB = pmod(col("id_b"), lit(5)) === 0
    Similarity.nearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        threshold = 0.3, maxBucket = 100)
      .filter(isTestA =!= isTestB)
      .select(when(isTestA, col("id_a")).otherwise(col("id_b")).as("test_id"),
        when(isTestA, col("id_b")).otherwise(col("id_a")).as("train_id"),
        col("sim"))
  }

  val embeddingDecontamSql: String =
    s"""SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS test_id,
       |       CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS train_id,
       |       sim
       |FROM (${nearDupPairsSql.replace("WHERE sim >= 0.4", "WHERE sim >= 0.3")}) p
       |WHERE (id_a % 5 = 0) != (id_b % 5 = 0)
       |ORDER BY test_id, train_id""".stripMargin

  /** The LSH tuning curve, companion to `ivf_probe_curve`: candidate
    * volume and mean recall@10 as the band count sweeps 1→2 (more bands
    * = more candidates = higher recall at higher cost — THE LSH knob).
    * The banded index and the brute-force truth are each built once and
    * cache-tracked across the sweep; per band count the candidate join
    * moves only (id, band, key) rows and the top-10 is the bounded-heap
    * aggregator. Output is 2 rows: the knob's cost/recall readout. */
  def lshBandSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKAggregator
    val e = graft.GraftCaches.track(
      Similarity.indexed(Tables.embeddings(spark, dir), "vec_id", "embedding"))
    val truth = graft.GraftCaches.track(truthTop10(Tables.embeddings(spark, dir)))
    val allBands = graft.GraftCaches.track(Similarity.bandRows(e, "vec_id"))
    val q = Similarity.queryVectors(e, "vec_id", col("vec_id") < 5)
    (1 to 2).map { nb =>
      val bands = allBands.filter(col("band") < nb)
      val qb = bands.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("band"), col("key"))
      val cand = bands.as("c").join(broadcast(qb.as("q")),
          col("c.band") === col("q.band") && col("c.key") === col("q.key") &&
            col("c.vec_id") =!= col("q.q_id"))
        .select(col("q.q_id").as("q_id"), col("c.vec_id").as("vec_id"))
        .distinct()
      val top = Similarity.scoreCandidates(cand, e, q, "vec_id").groupBy("q_id")
        .agg(TopKAggregator.topK(10)(col("vec_id"), col("sim")).as("tk"))
        .select(col("q_id"), explode(col("tk.ids")).as("vec_id"), lit(1L).as("hit"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      truth.join(top, Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .crossJoin(broadcast(nCand))
        .select(lit(nb.toLong).as("n_bands"), col("n_candidates"), col("n_truth"),
          col("n_hits"),
          (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** One banded-candidate top-10 rebuild restricted to bands < nb. */
  private def bandSweepApproxSql(nb: Int): String = {
    val bandsFiltered = s"(SELECT vec_id, band, key FROM bands WHERE band < $nb)"
    s"""WITH $eCte,
       |$bandsCte,
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 5),
       |qb AS (SELECT vec_id AS q_id, band, key FROM $bandsFiltered WHERE vec_id < 5),
       |cand AS (SELECT DISTINCT qb.q_id, b.vec_id
       |         FROM $bandsFiltered b JOIN qb ON b.band = qb.band AND b.key = qb.key AND b.vec_id != qb.q_id),
       |s AS (SELECT c.q_id, c.vec_id, ${cosSql("q.qv", "e.embedding", "q.qnrm", "e.nrm")} AS sim
       |      FROM cand c JOIN e0 e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id),
       |top AS (SELECT q_id, vec_id, 1::BIGINT AS hit FROM (
       |        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) t
       |        WHERE rank <= 10),
       |nc AS (SELECT COUNT(*) AS n_candidates FROM cand)
       |SELECT $nb::BIGINT AS n_bands, nc.n_candidates, COUNT(*) AS n_truth,
       |       CAST(SUM(COALESCE(top.hit, 0)) AS BIGINT) AS n_hits,
       |       CAST(SUM(COALESCE(top.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM ($cosineTopKSql) tr LEFT JOIN top USING (q_id, vec_id) CROSS JOIN nc
       |GROUP BY nc.n_candidates""".stripMargin
  }

  val lshBandSweepSql: String =
    (1 to 2).map(nb => s"SELECT * FROM (${bandSweepApproxSql(nb)})")
      .mkString("\nUNION ALL\n") + "\nORDER BY n_bands"

  /** Binary-quantization retrieval audit: vectors collapse to a 48-bit
    * sign signature (one codegen'd [[graft.functions.LshBandKey]] call —
    * 48 hyperplane sign bits in a single long, a 42× storage shrink from
    * 64 floats), retrieval is Hamming distance (one xor + popcount per
    * comparison), and the readout is recall@10 against the exact cosine
    * truth — the cheapest index tier next to int8 (`embed_quantize_int8`)
    * and PQ (`pq_recall`). The Hamming scan is the deliberate
    * exact-baseline BNLJ shape of the recall family; per-query top-10 is
    * the bounded heap on negated distance. */
  def binaryEmbedRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{LshBandKey, TopKAggregator}
    val emb = graft.GraftCaches.track(Tables.embeddings(spark, dir))
    val e = emb.select(col("vec_id"),
      LshBandKey.key(Similarity.toDoubleVec(col("embedding")), 0, 48).as("sig"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("sig").as("qsig"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("double").as("ham"))
    val approx = scored
      .groupBy("q_id")
      .agg(TopKAggregator.topK(10)(col("vec_id"), -col("ham")).as("tk"))
      .select(col("q_id"), explode(col("tk.ids")).as("vec_id"))
    recallPerQuery(truthTop10(emb), approx)
  }

  /** 48-bit sign signature rebuilt in SQL: band 0, 48 planes, the same
    * ±1 pattern ((i·31 + j·37) mod 97) mod 2 as [[bandKeySql]]. */
  private val sig48Sql: String =
    s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 48), jj ->
       |   CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(embedding)+1), i ->
       |        embedding[i]::DOUBLE * (CASE WHEN ((i*31 + jj*37) % 97) % 2 = 0 THEN 1.0 ELSE -1.0 END))), (x,y) -> x+y) > 0
       |   THEN (1::BIGINT << jj) ELSE 0 END)), (a,b) -> a+b)""".stripMargin

  val binaryEmbedRecallSql: String =
    s"""WITH s AS (SELECT vec_id, $sig48Sql AS sig FROM embeddings),
       |q AS (SELECT vec_id AS q_id, sig AS qsig FROM s WHERE vec_id < 5),
       |h AS (SELECT q.q_id, s.vec_id, CAST(bit_count(xor(s.sig, q.qsig)) AS DOUBLE) AS ham
       |      FROM s JOIN q ON s.vec_id != q.q_id),
       |approx AS (SELECT q_id, vec_id, 1::BIGINT AS hit FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, vec_id ASC) AS rn FROM h) t
       |  WHERE rn <= 10),
       |truth AS (SELECT q_id, vec_id FROM ($cosineTopKSql))
       |SELECT t.q_id, COUNT(*) AS k,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hits,
       |       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a USING (q_id, vec_id)
       |GROUP BY t.q_id ORDER BY q_id""".stripMargin

  /** Late-interaction (ColBERT-style) MaxSim retrieval: the query is a
    * BAG of 4 vectors (vec_ids 0–3), every corpus "document" is a bag of
    * 4 consecutive vectors (grp = vec_id div 4), and
    * score(q, d) = Σ_{qv∈q} max_{dv∈d} cos(qv, dv) — the multi-vector
    * scoring single-vector indexes can't express. The per-(doc, q-vec)
    * max is one map-side-combined aggregate over the exact-baseline
    * scan (4-row query side broadcast); the Σ of maxes is a FIXED-ORDER
    * fold over the q_vec-sorted max list (sum order pinned, so the
    * score is bit-equal cross-engine); top-5 via TakeOrdered. */
  def colbertMaxsimTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.vectors(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val q = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_vec"), col("v").as("qv"), col("nrm").as("q_nrm"))
    val d = e.filter(col("vec_id") >= 4)
      .select(expr("vec_id div 4").as("grp"), col("v"), col("nrm"))
    val mx = d.crossJoin(broadcast(q))
      .select(col("grp"), col("q_vec"),
        Similarity.cosine("qv", "v", "q_nrm", "nrm").as("sim"))
      .groupBy("grp", "q_vec").agg(max(col("sim")).as("mx"))
    mx.groupBy("grp")
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("q_vec"), col("mx")))),
          s => s.getField("mx")),
        lit(0.0), (acc, x) => acc + x).as("score"))
      .orderBy(col("score").desc, col("grp").asc)
      .limit(5)
  }

  val colbertMaxsimTopkSql: String =
    s"""WITH e0 AS (SELECT vec_id, embedding,
       |              sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_vec, embedding AS qv, nrm AS qnrm FROM e0 WHERE vec_id < 4),
       |d AS (SELECT vec_id // 4 AS grp, embedding, nrm FROM e0 WHERE vec_id >= 4),
       |s AS (SELECT d.grp, q.q_vec, ${cosSql("q.qv", "d.embedding", "q.qnrm", "d.nrm")} AS sim
       |      FROM d CROSS JOIN q),
       |m AS (SELECT grp, q_vec, MAX(sim) AS mx FROM s GROUP BY grp, q_vec),
       |sc AS (SELECT grp, list_reduce(list_prepend(0.0::DOUBLE, list(mx ORDER BY q_vec)),
       |                               (a,b) -> a + b) AS score
       |       FROM m GROUP BY grp)
       |SELECT grp, score FROM sc ORDER BY score DESC, grp ASC LIMIT 5""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "colbert_maxsim_topk" -> (colbertMaxsimTopk _),
    "binary_embed_recall" -> (binaryEmbedRecall _),
    "lsh_band_sweep" -> (lshBandSweep _),
    "embedding_decontam" -> (embeddingDecontam _),
    "ivf_probe_curve" -> (ivfProbeCurve _),
    "contrastive_pairs" -> (contrastivePairsQ _),
    "knn_label_noise" -> (knnLabelNoiseQ _),
    "semdedup" -> (semDedupQ _),
    "semdedup_recall" -> (semDedupRecallQ _),
    "semdedup_recall_t9" -> (semDedupRecallT9Q _),
    "semdedup_recall_sampled" -> (semDedupRecallSampledQ _),
    "semdedup_recall_2l" -> (semDedupRecall2LQ _),
    "semdedup_2l" -> (semDedup2LQ _),
    "semdedup_clusters" -> (semDedupClustersQ _),
    "retrieve_rerank" -> (retrieveRerank _),
    "rrf_fusion" -> (rrfFusion _),
    "embed_outliers" -> (embedOutliers _),
    "ivf_recall" -> (ivfRecall _),
    "pq_codes" -> (pqCodesQ _),
    "pq_adc_topk" -> (pqAdcTopKQ _),
    "ivfpq_topk" -> (ivfPqTopKQ _),
    "ivfpq_recall" -> (ivfPqRecall _),
    "matryoshka_audit" -> (matryoshkaAudit _),
    "pca_power" -> (pcaPower _),
    "ranking_eval" -> (rankingEval _),
    "pq_recall" -> (pqRecall _),
    "embed_dim_stats" -> (embedDimStats _),
    "ann_recall" -> (annRecall _),
    "mrl_truncation_recall" -> (mrlTruncationRecall _),
    "embed_quantize_int8" -> (embedQuantize _),
    "ivf_kmeanspp_assign" -> (ivfKppAssign _),
    "ivf_train_assign" -> (ivfTrainAssign _),
    "embed_cosine_topk" -> (cosineTopK _),
    "embed_lsh_buckets" -> (lshBuckets _),
    "ann_lsh_topk" -> (annLshTopK _),
    "embed_neardup_pairs" -> (nearDupPairs _),
    "ivf_assign" -> (ivfAssign _),
    "embedding_drift" -> (embeddingDrift _),
    "ivf_topk" -> (ivfTopK _))

  val oracles: Map[String, String] = Map(
    "colbert_maxsim_topk" -> colbertMaxsimTopkSql,
    "binary_embed_recall" -> binaryEmbedRecallSql,
    "lsh_band_sweep" -> lshBandSweepSql,
    "embedding_decontam" -> embeddingDecontamSql,
    "ivf_probe_curve" -> ivfProbeCurveSql,
    "contrastive_pairs" -> contrastivePairsSql,
    "knn_label_noise" -> knnLabelNoiseSql,
    "semdedup" -> semDedupSql,
    "semdedup_recall" -> semDedupRecallSql,
    "semdedup_recall_t9" -> semDedupRecallT9Sql,
    "semdedup_recall_sampled" -> semDedupRecallSampledSql,
    "semdedup_recall_2l" -> semDedupRecall2LSql,
    "semdedup_2l" -> semDedup2LSql,
    "semdedup_clusters" -> semDedupClustersSql,
    "retrieve_rerank" -> retrieveRerankSql,
    "rrf_fusion" -> rrfFusionSql,
    "embed_outliers" -> embedOutliersSql,
    "ivf_recall" -> ivfRecallSql,
    "pq_codes" -> pqCodesSql,
    "pq_adc_topk" -> pqAdcTopKSql,
    "ivfpq_topk" -> ivfPqTopKSql,
    "ivfpq_recall" -> ivfPqRecallSql,
    "matryoshka_audit" -> matryoshkaAuditSql,
    "pca_power" -> pcaPowerSql,
    "ranking_eval" -> rankingEvalSql,
    "pq_recall" -> pqRecallSql,
    "embed_dim_stats" -> embedDimStatsSql,
    "ann_recall" -> annRecallSql,
    "mrl_truncation_recall" -> mrlTruncationRecallSql,
    "embed_quantize_int8" -> embedQuantizeSql,
    "ivf_kmeanspp_assign" -> ivfKppAssignSql,
    "embed_cosine_topk" -> cosineTopKSql,
    "embed_lsh_buckets" -> lshBucketsSql,
    "ann_lsh_topk" -> annLshTopKSql,
    "embed_neardup_pairs" -> nearDupPairsSql,
    "ivf_assign" -> ivfAssignSql,
    "embedding_drift" -> embeddingDriftSql,
    "ivf_train_assign" -> ivfTrainAssignSql,
    "ivf_topk" -> ivfTopKSql)
}
