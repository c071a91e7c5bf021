package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.operators.{Dedup, TextOps}
import graft.sources.Tables

/** Dedup operator queries over `documents`, each with a DuckDB oracle that
  * rebuilds the identical hash math in pure SQL (poly_hash → list_reduce
  * over ascii codes; same minhash seed literals), so the whole
  * MinHash/SimHash/LSH pipeline is differentially tested — not just
  * rows-counted.
  */
object DedupQueries {
  private val M = graft.functions.PolyHash.Mod
  private val A = TextOps.MinhashSeeds.map(_._1)
  private val B = TextOps.MinhashSeeds.map(_._2)

  /** Shared oracle CTE: distinct 3-shingle fingerprints per doc —
    * word poly-hashes combined arithmetically per triple, mirroring
    * [[graft.operators.TextOps.shingleHashes]]'s round-8 fingerprint. */
  private[queries] val shingleCte: String =
    s"""w AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(whs)-1),
       |      i -> ((whs[i]*31 + whs[i+1]) % $M * 31 + whs[i+2]) % $M)) AS hs
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(ws, w ->
       |        list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                    (a,b) -> (a*31+b) % $M)) AS whs
       |    FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x != '') AS ws FROM documents)
       |    WHERE len(ws) >= 3))""".stripMargin

  private def mhSql(i: Int): String =
    s"list_min(list_transform(hs, h -> (h*${A(i)} + ${B(i)}) % $M))"

  private def bandKeySql(idx: Seq[Int]): String =
    idx.tail.foldLeft(mhSql(idx.head)) { (acc, i) => s"(($acc) * 31 + ${mhSql(i)}) % $M" }

  /** Exact dedup (hash-groupBy on the full payload). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(spark, dir), "doc_id", "text")

  val dedupExactSql: String =
    "SELECT min(doc_id) AS keeper, COUNT(*) AS n_copies FROM documents GROUP BY text ORDER BY keeper"

  /** MinHash signatures (8 seeded permutations over shingle hashes). */
  def minhashSig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(Tables.documents(spark, dir), "doc_id", "text")

  val minhashSigSql: String = {
    val cols = (0 until 8).map(i => s"  ${mhSql(i)} AS mh$i").mkString(",\n")
    s"WITH $shingleCte\nSELECT doc_id,\n$cols\nFROM w ORDER BY doc_id"
  }

  /** Shared oracle CTEs: banded signatures + the degenerate-bucket cap
    * (mirrors Dedup.lshCandidatePairs maxBucket=100). */
  private[queries] val bandsCte: String =
    s"""bands AS (
       |  SELECT doc_id, 0 AS j, ${bandKeySql(Seq(0, 1, 2, 3))} AS key FROM w
       |  UNION ALL
       |  SELECT doc_id, 1 AS j, ${bandKeySql(Seq(4, 5, 6, 7))} AS key FROM w),
       |ok AS (SELECT j, key FROM bands GROUP BY j, key HAVING COUNT(*) <= 100),
       |bb AS MATERIALIZED (SELECT bands.* FROM bands JOIN ok USING (j, key))""".stripMargin

  /** LSH band-bucket size profile — the skew audit underneath every
    * banded candidate join: per band, a log2 histogram of bucket sizes
    * plus how many buckets the `maxBucket = 100` cap would disarm. The
    * number that says whether the banding still discriminates on THIS
    * corpus (a vocabulary collapse shows up here as mass in the top
    * buckets long before a candidate join blows up). One (band, key)
    * count + one histogram fold; shuffles carry keys and counters. */
  def lshBucketProfile(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshBands(Tables.documents(spark, dir), "doc_id", "text")
      .groupBy("band", "key").agg(count(lit(1)).as("s"))
      .select(col("band"), expr("CAST(floor(log2(s)) AS INT)").as("size_bucket"),
        col("s"))
      .groupBy("band", "size_bucket")
      .agg(count(lit(1)).as("n_buckets"), sum("s").as("n_docs"),
        sum(when(col("s") > 100, 1L).otherwise(0L)).as("n_capped"))

  val lshBucketProfileSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |sz AS (SELECT j AS band, key, COUNT(*) AS s FROM bands GROUP BY 1, 2)
       |SELECT band, CAST(floor(log2(s)) AS INT) AS size_bucket,
       |  COUNT(*) AS n_buckets, CAST(SUM(s) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN s > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
       |FROM sz GROUP BY 1, 2 ORDER BY band, size_bucket""".stripMargin

  /** LSH candidate pairs (2 bands x 4 rows, bucket cap 100). */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text")

  val minhashPairsSql: String =
    s"""WITH $shingleCte,
       |$bandsCte
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash Jaccard estimate (signature-agreement fraction) on the
    * candidate pairs — the estimator the exact n-gram verify replaces
    * only when gram sets are small enough to rejoin. */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstimatePairs(Tables.documents(spark, dir), "doc_id", "text")

  val minhashEstimateSql: String = {
    val agree = (0 until 8).map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val sigCols = (0 until 8).map(i => s"${mhSql(i)} AS mh$i").mkString(", ")
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |sig AS MATERIALIZED (SELECT doc_id, $sigCols FROM w)
       |SELECT c.doc_a, c.doc_b,
       |       CAST($agree AS DOUBLE) / 8.0::DOUBLE AS est_jaccard
       |FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |            JOIN sig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** 32-bit SimHash over the distinct word-hash set. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashes(Tables.documents(spark, dir), "doc_id", "text")

  val simhashSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(list_filter(string_split(text,' '), x -> x != '')),
       |      w -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                       (a,b) -> (a*31+b) % $M)) AS hs
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN
       |    list_sum(list_transform(hs, h -> CASE WHEN ((h // (1::BIGINT << j)) % 2) = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
       |FROM w ORDER BY doc_id""".stripMargin

  /** Levenshtein near-dup pairs over the LSH candidate set (threshold 40:
    * wide enough to keep real near-dups at fixture text lengths). */
  def editDistance(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(spark, dir), "doc_id", "text",
        maxDist = 40)

  val editDistanceSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, edit_dist FROM (
       |  SELECT c.doc_a, c.doc_b, CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
       |  FROM cand c JOIN documents da ON da.doc_id = c.doc_a
       |              JOIN documents db ON db.doc_id = c.doc_b) t
       |WHERE edit_dist <= 40 ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash Hamming near-dup pairs: byte-banded candidates (pigeonhole
    * over 4 bytes), exact bit_count(xor) check, bucket cap mirrored in
    * the HAVING. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text")

  val simhashNearDupSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(list_filter(string_split(text,' '), x -> x != '')),
       |      w -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                       (a,b) -> (a*31+b) % $M)) AS hs
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN
       |      list_sum(list_transform(hs, h -> CASE WHEN ((h // (1::BIGINT << j)) % 2) = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM w),
       |b AS (
       |  SELECT doc_id, simhash, bn, (simhash // (1::BIGINT << (8*bn))) % 256 AS byte
       |  FROM (SELECT doc_id, simhash, unnest([0,1,2,3]) AS bn FROM sh)),
       |okb AS (SELECT bn, byte FROM b GROUP BY bn, byte HAVING COUNT(*) <= 200),
       |bb AS (SELECT b.* FROM b JOIN okb USING (bn, byte)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sa, b.simhash AS sb
       |  FROM bb a JOIN bb b ON a.bn = b.bn AND a.byte = b.byte AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact n-gram Jaccard over the LSH candidate pairs (gram arrays joined
    * back by id — never an unbounded quadratic block). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.12)

  val ngramJaccardSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jacc FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE) /
       |      (len(ga.hs) + len(gb.hs) - len(list_intersect(ga.hs, gb.hs))) AS jacc
       |  FROM cand c JOIN w ga ON ga.doc_id = c.doc_a JOIN w gb ON gb.doc_id = c.doc_b) t
       |WHERE jacc >= 0.12 ORDER BY doc_a, doc_b""".stripMargin

  /** Duplicate clusters from the LSH candidate edges: 3 rounds of
    * min-label propagation, keeper = cluster-min doc. The oracle unrolls
    * the same three rounds, so every intermediate labeling is checked. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateComponents(
        Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
        iters = 3)

  private[queries] def labelStepCte(j: Int): String =
    s"""l$j AS MATERIALIZED (
       |  SELECT l.doc_id,
       |         least(l.comp_id, COALESCE(m.nm, l.comp_id)) AS comp_id
       |  FROM l${j - 1} l LEFT JOIN (
       |    SELECT e2.dst, MIN(p.comp_id) AS nm
       |    FROM e2 JOIN l${j - 1} p ON p.doc_id = e2.src GROUP BY e2.dst) m
       |  ON m.dst = l.doc_id)""".stripMargin

  val dedupComponentsSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |l0 AS (SELECT DISTINCT src AS doc_id, src AS comp_id FROM e2),
       |${(1 to 3).map(labelStepCte).mkString(",\n")}
       |SELECT doc_id, comp_id, doc_id = comp_id AS is_keeper
       |FROM l3 ORDER BY doc_id""".stripMargin

  /** Deterministic label-propagation communities over the LSH candidate
    * graph: 2 synchronous rounds, vote = most frequent neighbor label
    * with lowest-label tie-break ([[Dedup.labelPropagation]]). The oracle
    * unrolls both rounds — vote counts, the row_number argmax, the
    * isolated-node carry — so every intermediate labeling is checked. */
  def graphCommunities(spark: SparkSession, dir: String): DataFrame =
    Dedup.labelPropagation(
        Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
        iters = 2)

  private def lpaStepCte(j: Int): String =
    s"""v$j AS (SELECT e2.dst, p.lbl, COUNT(*) AS cnt
       |        FROM e2 JOIN p${j - 1} p ON p.doc_id = e2.src GROUP BY e2.dst, p.lbl),
       |w$j AS (SELECT dst, lbl AS win_lbl FROM (
       |          SELECT *, row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl ASC) AS rn
       |          FROM v$j) t WHERE rn = 1),
       |p$j AS MATERIALIZED (SELECT p.doc_id, COALESCE(w.win_lbl, p.lbl) AS lbl
       |       FROM p${j - 1} p LEFT JOIN w$j w ON w.dst = p.doc_id)""".stripMargin

  val graphCommunitiesSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |p0 AS (SELECT DISTINCT src AS doc_id, src AS lbl FROM e2),
       |${(1 to 2).map(lpaStepCte).mkString(",\n")}
       |SELECT doc_id, lbl FROM p2 ORDER BY doc_id""".stripMargin

  /** Iterate-until-stable cluster resolution over the same LSH candidate
    * edges. The oracle is deliberately DIFFERENT math: a recursive
    * reachability closure computing TRUE connected components (min
    * reachable label per node) — so this query cross-checks that the
    * Spark fixpoint loop actually converges to the exact component
    * labeling, not just to three unrolled rounds like dedup_components. */
  def dedupComponentsConverged(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateComponentsConverged(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"))

  val dedupComponentsConvergedSql: String =
    s"""WITH RECURSIVE $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(doc_id, lab) AS (
       |  SELECT DISTINCT src, src FROM e2
       |  UNION
       |  SELECT e2.dst, r.lab FROM reach r JOIN e2 ON e2.src = r.doc_id)
       |SELECT doc_id, MIN(lab) AS comp_id, doc_id = MIN(lab) AS is_keeper
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Connected components by alternating large-star/small-star rounds
    * (Dedup.duplicateComponentsStar) over the SAME candidate edge graph
    * as dedup_components_converged — the O(log² n)-round algorithm a
    * 100 TB dedup runs when duplicate chains can be deeper than the
    * min-label fixpoint's O(diameter) shuffle budget tolerates. Three
    * independent computations of the same relation now share one hash:
    * the star rounds here, the min-label fixpoint in
    * dedup_components_converged, and the oracle's recursive closure. */
  def dedupComponentsStar(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateComponentsStar(
        Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"))

  /** Same closure as the converged oracle: components are algorithm-
    * independent, so the recursive-reachability rebuild is shared. */
  val dedupComponentsStarSql: String = dedupComponentsConvergedSql

  /** Cluster → canonical-document resolution: per duplicate cluster keep
    * the longest member (ties to the lowest id) — the final "write the
    * deduplicated corpus" stage, composed from the same 3-round label
    * CTEs as dedup_components so the whole chain is differentially
    * checked through the argmax. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.keepBest(
        Dedup.duplicateComponents(Dedup.lshCandidatePairs(docs, "doc_id", "text"), iters = 3),
        docs, "doc_id", "n_chars")
  }

  val dedupKeepBestSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |l0 AS (SELECT DISTINCT src AS doc_id, src AS comp_id FROM e2),
       |${(1 to 3).map(labelStepCte).mkString(",\n")}
       |SELECT comp_id, keeper_id, keeper_score, n_members, n_dropped FROM (
       |  SELECT l.comp_id, d.doc_id AS keeper_id, CAST(d.n_chars AS BIGINT) AS keeper_score,
       |         row_number() OVER (PARTITION BY l.comp_id ORDER BY d.n_chars DESC, d.doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY l.comp_id) AS n_members,
       |         COUNT(*) OVER (PARTITION BY l.comp_id) - 1 AS n_dropped
       |  FROM l3 l JOIN documents d USING (doc_id)) t
       |WHERE rn = 1 ORDER BY comp_id""".stripMargin

  /** Triangle enumeration over the LSH candidate graph — the structure
    * probe for near-dup clusters (triangle-dense components are true
    * duplicate families; sparse chains are LSH accidents). Classic
    * two-join triangle listing on the a<b<c ordered edge relation: each
    * join shuffles only (src, dst) id pairs, and the orientation bound
    * means every triangle is emitted exactly once. At web scale this is
    * the standard edge-iterator algorithm; the candidate graph is already
    * degree-capped by the LSH bucket cap upstream. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // Pinned (eager) since round 15: three sibling self-references —
    // see Dedup.candidatePairsFromBands for the cache-lock/plan rationale.
    val e = graft.GraftCaches.pin(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
      eager = true)
    val e1 = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val e2 = e.select(col("doc_a").as("b2"), col("doc_b").as("c"))
    val e3 = e.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
  }

  val graphTrianglesSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |FROM cand e1
       |JOIN cand e2 ON e2.doc_a = e1.doc_b
       |JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
       |ORDER BY a, b, c""".stripMargin

  /** Degree histogram of the near-duplicate candidate graph — the
    * one-glance health check of an LSH screen: a long low-degree tail is
    * a healthy corpus, heavy high-degree mass means boilerplate/template
    * hubs (and predicts how the capped bucket self-join behaves). Each
    * undirected edge contributes to both endpoints; two tiny aggregates
    * on top of the capped candidate machinery — the first shuffle
    * carries (id) per edge endpoint, the second one row per distinct
    * degree. */
  def graphDegreeHist(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.GraftCaches.track(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"))
    e.select(col("doc_a").as("id"))
      .unionByName(e.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  val graphDegreeHistSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |d AS (SELECT id, COUNT(*) AS degree FROM (
       |        SELECT doc_a AS id FROM cand
       |        UNION ALL
       |        SELECT doc_b FROM cand) u GROUP BY id)
       |SELECT degree, COUNT(*) AS n_nodes
       |FROM d GROUP BY degree ORDER BY degree""".stripMargin

  /** Edge embeddedness on the near-duplicate candidate graph: for every
    * candidate edge, the number of common neighbors and the Jaccard of
    * the two neighborhoods (|N(a)∩N(b)| / (deg a + deg b − 2 − |∩|),
    * endpoints excluded) — duplicate clusters are near-cliques, so a
    * LOW-embeddedness edge inside a dense neighborhood is the classic
    * LSH false-positive signature; the ascending-ranked output IS the
    * prune list a curation pipeline reviews before collapsing clusters
    * (the structural complement to the exact-verify threshold). Wedge
    * enumeration is one equi-join of the capped directed-neighbor
    * relation with itself on the shared vertex (bounded by the bucket
    * cap like the triangle count); zero-support edges survive via the
    * left join; weakest-50 via TakeOrdered. */
  def graphEdgeSupport(spark: SparkSession, dir: String): DataFrame = {
    // Pinned (eager) since round 15: sibling consumers (deg fold + wedge
    // self-join sides) — see Dedup.candidatePairsFromBands.
    val e = graft.GraftCaches.pin(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
      eager = true)
    val nb = graft.GraftCaches.pin(
      e.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(e.select(col("doc_b").as("u"), col("doc_a").as("v"))),
      eager = true)
    val deg = nb.groupBy("u").agg(count(lit(1)).as("deg"))
    val wedges = nb.select(col("u").as("a"), col("v").as("b"))
      .join(nb.select(col("u").as("b"), col("v").as("c")), "b")
      .filter(col("a") < col("c"))
      .groupBy("a", "c").agg(count(lit(1)).as("n_common"))
    e.select(col("doc_a").as("a"), col("doc_b").as("c"))
      .join(wedges, Seq("a", "c"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("u").as("c"), col("deg").as("deg_c")), "c")
      .select(col("a"), col("c"), col("n_common"), col("deg_a"), col("deg_c"),
        when(col("deg_a") + col("deg_c") - 2L - col("n_common") > 0L,
          col("n_common").cast("double") /
            (col("deg_a") + col("deg_c") - 2L - col("n_common")).cast("double"))
          .otherwise(lit(1.0)).as("embeddedness"))
      .orderBy(col("embeddedness").asc, col("a").asc, col("c").asc)
      .limit(50)
  }

  val graphEdgeSupportSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |nb AS (SELECT doc_a AS u, doc_b AS v FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |deg AS (SELECT u, COUNT(*) AS deg FROM nb GROUP BY u),
       |wedge AS (
       |  SELECT n1.u AS a, n2.v AS c, COUNT(*) AS n_common
       |  FROM nb n1 JOIN nb n2 ON n1.v = n2.u
       |  WHERE n1.u < n2.v GROUP BY n1.u, n2.v),
       |es AS (
       |  SELECT e.doc_a AS a, e.doc_b AS c, COALESCE(w.n_common, 0) AS n_common
       |  FROM cand e LEFT JOIN wedge w ON w.a = e.doc_a AND w.c = e.doc_b)
       |SELECT es.a, es.c, CAST(es.n_common AS BIGINT) AS n_common,
       |  da.deg AS deg_a, dc.deg AS deg_c,
       |  CASE WHEN da.deg + dc.deg - 2 - es.n_common > 0
       |       THEN CAST(es.n_common AS DOUBLE) /
       |            CAST(da.deg + dc.deg - 2 - es.n_common AS DOUBLE)
       |       ELSE 1.0 END AS embeddedness
       |FROM es JOIN deg da ON da.u = es.a JOIN deg dc ON dc.u = es.c
       |ORDER BY embeddedness ASC, a ASC, c ASC LIMIT 50""".stripMargin

  /** Source-level MinHash overlap matrix: estimate the pairwise 3-gram
    * Jaccard BETWEEN sources from 8-permutation set signatures (one
    * MIN aggregate per source — mergeable, 8 longs per source no matter
    * how big the source is), next to the exact Jaccard from the
    * inverted-index join — the estimator-quality audit at the
    * granularity curation actually reasons about ("how much does crawl
    * A duplicate crawl B?"). At 100 TB the signature side is the only
    * viable one (8 longs per source on the wire vs the full gram set);
    * the audit side lives in its own query, [[sourceOverlapAudit]]
    * (round-7 VERDICT item 5 — the documented split, so this query
    * benches at its production cost).
    *
    * The production plan never explodes and never shuffles the corpus:
    * signature MINs are duplicate-insensitive, so each document folds
    * its shingle array to 8 longs scan-side (array_min over the HOF-
    * permuted array) and the per-source fold is a map-side-combined MIN
    * — |sources|×8 longs per task on the wire. min over per-doc mins =
    * min over the source's gram-set union, so est_jaccard is
    * bit-identical to the old distinct-then-min form. */
  def sourceMinhashOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sigs = sourceSignatures(spark, dir)
    val a = sigs.columns.foldLeft(sigs)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = sigs.columns.foldLeft(sigs)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    a.crossJoin(b).filter(col("a_source") < col("b_source"))
      .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
        col("a_n_docs").as("n_docs_a"), col("b_n_docs").as("n_docs_b"),
        (sigAgree.cast("double") / 8.0).as("est_jaccard"))
  }

  /** Per-source (n_docs, 8 MinHash mins) — shared by
    * [[sourceMinhashOverlap]] and [[sourceOverlapAudit]]. */
  /** (source, hs) per document — the fleet shingle fingerprint
    * ([[graft.operators.TextOps.shingleHashes]]: word poly-hashes
    * combined per triple, the word-hash array lambda-bound once per
    * row — an inlined multi-reference would recompute it per use; the
    * first cut of this query recomputed the gram set 8×, once per
    * permutation — 34 s at sf0.1 instead of 1). */
  private def sourceGramSets(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    Tables.documents(spark, dir)
      .filter(size(ws) >= 3)
      .select(col("source"), TextOps.shingleHashes(ws).as("hs"))
  }

  private def sourceSignatures(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = sourceGramSets(spark, dir)
      .select(col("source") +: (0 until 8).map(j =>
        TextOps.minhash(col("hs"), A(j), B(j)).as(s"m$j")): _*)
    val aggs = count(lit(1)).as("n_docs") +:
      (0 until 8).map(j => min(col(s"m$j")).as(s"m$j"))
    perDoc.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  /** Number of agreeing permutations between the a_/b_ renamed sides. */
  private def sigAgree: Column = (0 until 8).map(j =>
    when(col(s"a_m$j") === col(s"b_m$j"), 1L).otherwise(0L)).reduce(_ + _)

  /** Estimator-quality audit for [[sourceMinhashOverlap]]: the 8-perm
    * Jaccard estimate next to a ground-truth-shaped exact Jaccard
    * computed on a DETERMINISTIC 1/4 hash-Bernoulli subsample of the
    * gram space (h % 4 == 0; round-7 VERDICT item 5). A fixed-slice
    * sampled Jaccard is an exact Jaccard OF the sampled gram universe —
    * identical on both engines (no RNG), concentrating tightly at these
    * set sizes — and only the sample pays the dedup shuffle and the
    * inverted-index self-join (posting lists still bounded by
    * |sources|). Split from the production query so each benches at its
    * own cost. */
  def sourceOverlapAudit(spark: SparkSession, dir: String): DataFrame = {
    val sampled = graft.GraftCaches.track(
      sourceGramSets(spark, dir)
        .select(col("source"),
          explode(filter(col("hs"), h => h % 4 === 0)).as("h"))
        .distinct())
    val sigs = sourceSignatures(spark, dir)
      .join(sampled.groupBy("source").agg(count(lit(1)).as("n_sample")), "source")
      .drop("n_docs")
    val a = sigs.columns.foldLeft(sigs)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = sigs.columns.foldLeft(sigs)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val inter = sampled.select(col("source").as("sa"), col("h"))
      .join(sampled.select(col("source").as("sb"), col("h")), "h")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    val ni = coalesce(col("n_inter"), lit(0L))
    val denom = col("a_n_sample") + col("b_n_sample") - ni
    val sampledJ = when(denom > 0L, ni.cast("double") / denom.cast("double"))
      .otherwise(lit(0.0))
    a.crossJoin(b).filter(col("a_source") < col("b_source"))
      .join(inter, col("a_source") === col("sa") && col("b_source") === col("sb"), "left")
      .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
        col("a_n_sample").as("n_sample_a"), col("b_n_sample").as("n_sample_b"),
        ni.as("n_inter_sampled"),
        (sigAgree.cast("double") / 8.0).as("est_jaccard"),
        sampledJ.as("jaccard_sampled"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard_sampled")))
  }

  val sourceMinhashOverlapSql: String = {
    val minSigs = (0 until 8).map(j =>
      s"MIN(list_min(list_transform(hs, h -> (h * ${A(j)} + ${B(j)}) % $M))) AS m$j")
      .mkString(", ")
    val agree = (0 until 8).map(j =>
      s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS ws
       |  FROM documents),
       |wd AS (
       |  SELECT source,
       |    list_transform(ws, w ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                  (a,b) -> (a*31+b) % $M)) AS whs
       |  FROM d WHERE len(ws) >= 3),
       |hd AS (
       |  SELECT source,
       |    list_distinct(list_transform(range(1, len(whs)-1),
       |      i -> ((whs[i]*31 + whs[i+1]) % $M * 31 + whs[i+2]) % $M)) AS hs
       |  FROM wd),
       |sig AS (SELECT source, COUNT(*) AS n_docs, $minSigs FROM hd GROUP BY source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
       |  CAST($agree AS DOUBLE) / 8.0 AS est_jaccard
       |FROM sig a CROSS JOIN sig b
       |WHERE a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  val sourceOverlapAuditSql: String = {
    val minSigs = (0 until 8).map(j =>
      s"MIN(list_min(list_transform(hs, h -> (h * ${A(j)} + ${B(j)}) % $M))) AS m$j")
      .mkString(", ")
    val agree = (0 until 8).map(j =>
      s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS ws
       |  FROM documents),
       |wd AS (
       |  SELECT source,
       |    list_transform(ws, w ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                  (a,b) -> (a*31+b) % $M)) AS whs
       |  FROM d WHERE len(ws) >= 3),
       |hd AS (
       |  SELECT source,
       |    list_distinct(list_transform(range(1, len(whs)-1),
       |      i -> ((whs[i]*31 + whs[i+1]) % $M * 31 + whs[i+2]) % $M)) AS hs
       |  FROM wd),
       |gs AS (SELECT DISTINCT source, h
       |       FROM (SELECT source, unnest(list_filter(hs, x -> x % 4 = 0)) AS h FROM hd)),
       |sc AS (SELECT source, COUNT(*) AS n_sample FROM gs GROUP BY source),
       |sig AS (SELECT hd.source, sc.n_sample, $minSigs
       |        FROM hd JOIN sc ON sc.source = hd.source
       |        GROUP BY hd.source, sc.n_sample),
       |inter AS (
       |  SELECT ga.source AS sa, gb.source AS sb, COUNT(*) AS n_inter
       |  FROM gs ga JOIN gs gb ON ga.h = gb.h AND ga.source < gb.source
       |  GROUP BY ga.source, gb.source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  a.n_sample AS n_sample_a, b.n_sample AS n_sample_b,
       |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter_sampled,
       |  CAST($agree AS DOUBLE) / 8.0 AS est_jaccard,
       |  CASE WHEN a.n_sample + b.n_sample - COALESCE(i.n_inter, 0) > 0
       |       THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |            CAST(a.n_sample + b.n_sample - COALESCE(i.n_inter, 0) AS DOUBLE)
       |       ELSE 0.0 END AS jaccard_sampled,
       |  abs(CAST($agree AS DOUBLE) / 8.0 -
       |      CASE WHEN a.n_sample + b.n_sample - COALESCE(i.n_inter, 0) > 0
       |           THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |                CAST(a.n_sample + b.n_sample - COALESCE(i.n_inter, 0) AS DOUBLE)
       |           ELSE 0.0 END) AS abs_err
       |FROM sig a CROSS JOIN sig b
       |LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
       |WHERE a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** Benchmark decontamination: 3-gram overlap of each corpus doc
    * (doc_id >= 10) against the doc_id < 10 benchmark set. */
  def benchmarkOverlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.contaminationOverlap(Tables.documents(spark, dir), "doc_id", "text",
        benchPred = col("doc_id") < 10, threshold = 0.3)

  val benchmarkOverlapSql: String =
    s"""WITH $shingleCte,
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM w WHERE doc_id < 10),
       |corp AS (SELECT doc_id, unnest(hs) AS h FROM w WHERE NOT (doc_id < 10)),
       |m AS (SELECT c.doc_id, COUNT(*) AS n_matched
       |      FROM corp c JOIN bench USING (h) GROUP BY c.doc_id)
       |SELECT w.doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
       |       CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
       |       CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(len(hs) AS DOUBLE) AS overlap,
       |       (CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(len(hs) AS DOUBLE)) >= 0.3::DOUBLE AS contaminated
       |FROM w LEFT JOIN m ON m.doc_id = w.doc_id
       |WHERE NOT (w.doc_id < 10) ORDER BY w.doc_id""".stripMargin

  /** Segment(paragraph)-level dedup + reassembly over the corpus: 8-word
    * segments, keep-first-globally, docs rebuilt from surviving segments.
    * The oracle replays the identical keep-first rule with a window. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(Tables.documents(spark, dir), "doc_id", "text",
        segTokens = 8)

  val paragraphDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |s AS (SELECT doc_id, toks, unnest(range(0, greatest(n, 1), 8)) AS st FROM t),
      |seg AS (SELECT doc_id, CAST(st // 8 AS INT) AS seg_no,
      |               array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS seg_text
      |        FROM s),
      |keep AS (SELECT doc_id, seg_no, seg_text FROM (
      |  SELECT *, row_number() OVER (PARTITION BY seg_text ORDER BY doc_id, seg_no) AS rn
      |  FROM seg) k WHERE rn = 1),
      |per AS (SELECT doc_id, COUNT(*) AS n_segs FROM seg GROUP BY doc_id)
      |SELECT k.doc_id,
      |       array_to_string(list(k.seg_text ORDER BY k.seg_no), ' ') AS dedup_text,
      |       COUNT(*) AS n_kept, per.n_segs
      |FROM keep k JOIN per ON per.doc_id = k.doc_id
      |GROUP BY k.doc_id, per.n_segs ORDER BY k.doc_id""".stripMargin

  /** Per-source boilerplate strip: 2-token segments present in >= 3
    * distinct docs of the same source are removed from ALL of them (no
    * surviving copy — the nav-bar/footer rule), docs rebuilt in segment
    * order. See [[graft.operators.Dedup.boilerplateStrip]]. */
  def boilerplateLines(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateStrip(Tables.documents(spark, dir), "doc_id", "text",
        source = "source", segTokens = 2, minDf = 3)

  val boilerplateLinesSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |s AS (SELECT doc_id, source, toks, unnest(range(0, greatest(n, 1), 2)) AS st FROM t),
      |seg AS (SELECT doc_id, source, CAST(st // 2 AS INT) AS seg_no,
      |               array_to_string(list_slice(toks, st + 1, st + 2), ' ') AS seg_text
      |        FROM s),
      |bf AS (SELECT source, seg_text FROM seg
      |       GROUP BY source, seg_text HAVING COUNT(DISTINCT doc_id) >= 3),
      |kept AS (SELECT seg.* FROM seg ANTI JOIN bf USING (source, seg_text)),
      |per AS (SELECT doc_id, COUNT(*) AS n_segs FROM seg GROUP BY doc_id),
      |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
      |               array_to_string(list(seg_text ORDER BY seg_no), ' ') AS clean_text
      |        FROM kept GROUP BY doc_id)
      |SELECT per.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
      |       CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept, per.n_segs
      |FROM per LEFT JOIN agg USING (doc_id) ORDER BY per.doc_id""".stripMargin

  /** PageRank (3 rounds, 0.85/0.15) over the LSH candidate graph. The
    * oracle unrolls all three power-iteration rounds on the same
    * bands/cand CTEs, so every intermediate rank vector — not just the
    * final one — is differentially checked bit for bit. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    Dedup.pageRank(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
      iters = 3)

  private def prStepCte(j: Int): String =
    s"""c$j AS (SELECT e2.dst,
       |        SUM(CAST(round(r.rank / d.outdeg * 1000000000.0) AS DECIMAL(38,0))) AS cs
       |      FROM e2 JOIN r${j - 1} r ON r.doc_id = e2.src
       |              JOIN deg d ON d.src = e2.src
       |      GROUP BY e2.dst),
       |r$j AS MATERIALIZED (SELECT r.doc_id,
       |        0.15::DOUBLE + 0.85::DOUBLE *
       |          (CAST(COALESCE(c.cs, 0) AS DOUBLE) / 1000000000.0) AS rank
       |      FROM r${j - 1} r LEFT JOIN c$j c ON c.dst = r.doc_id)""".stripMargin

  val graphPagerankSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e2 GROUP BY src),
       |r0 AS (SELECT src AS doc_id, 1.0::DOUBLE AS rank FROM deg),
       |${(1 to 3).map(prStepCte).mkString(",\n")}
       |SELECT doc_id, rank FROM r3 ORDER BY doc_id""".stripMargin

  /** Cross-document repeated n-gram inventory: distinct 3-shingles (by
    * poly-hash) appearing in more than one document, with doc frequency —
    * the exact-substring-overlap screen that feeds span-level dedup and
    * decontamination (a gram in 500 docs is boilerplate; one in 2 is a
    * near-dup lead). One explode + one groupBy(h) with map-side combine;
    * the HAVING keeps output to the duplicated tail. Top-100 by (df, h)
    * for a bounded relation at any SF. */
  def duplicateNgrams(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleSets(Tables.documents(spark, dir), "doc_id", "text")
      .select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .orderBy(col("df").desc, col("h").asc)
      .limit(100)

  val duplicateNgramsSql: String =
    s"""WITH $shingleCte,
       |g AS (SELECT unnest(hs) AS h FROM w)
       |SELECT h, COUNT(*) AS df FROM g GROUP BY h HAVING COUNT(*) > 1
       |ORDER BY df DESC, h ASC LIMIT 100""".stripMargin

  /** Corpus-overlap audit between two source groups (single-digit srcN vs
    * the rest): exact Jaccard over the union of distinct shingle hashes
    * NEXT TO the 8-permutation MinHash estimate of the same number — the
    * dataset-overlap check run before mixing corpora (licensing, eval
    * contamination, dedup budgeting). The exact side pays one distinct-
    * gram shuffle (the honest cost — at 100 TB you keep ONLY the
    * signature side, whose state is 8 values per corpus regardless of
    * size, mergeable by MIN); having both in one row makes the estimate's
    * error itself hash-checked, the same discipline as cms_heavy_hitters'
    * est-vs-exact. */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE map-side-combined shuffle keyed on the gram hash turns the
    // exploded multiset directly into the per-distinct-gram membership
    // relation (no separate distinct pass — max-flag aggregation IS the
    // dedup); both output aggregates then fold the small cached `sides`
    // relation, and the minhash mins are duplicate-insensitive so reading
    // them off `sides` is exact.
    val sides = graft.GraftCaches.track(
      Dedup.shingleSets(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (length(col("source")) === 4).as("is_a")), "doc_id")
        .select(col("is_a"), explode(col("hs")).as("h"))
        .groupBy("h").agg(
          max(when(col("is_a"), 1).otherwise(0)).as("in_a"),
          max(when(!col("is_a"), 1).otherwise(0)).as("in_b")))
    val exact = sides.agg(
      sum("in_a").cast("bigint").as("n_grams_a"),
      sum("in_b").cast("bigint").as("n_grams_b"),
      sum(col("in_a") * col("in_b")).cast("bigint").as("n_common"),
      count(lit(1)).as("n_union"))
    val mhCols = TextOps.MinhashSeeds.zipWithIndex.flatMap { case ((a, b), i) =>
      val perm = (col("h") * a + b) % M
      Seq(min(when(col("in_a") === 1, perm)).as(s"a$i"),
        min(when(col("in_b") === 1, perm)).as(s"b$i"))
    }
    val mh = sides.agg(mhCols.head, mhCols.tail: _*)
    val estCols = (0 until 8).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
    exact.crossJoin(mh)
      .select(col("n_grams_a"), col("n_grams_b"), col("n_common"), col("n_union"),
        (col("n_common").cast("double") / col("n_union").cast("double")).as("jaccard_exact"),
        (estCols.reduce(_ + _).cast("double") / lit(8.0)).as("minhash_est"))
  }

  val corpusOverlapSql: String = {
    val mins = (0 until 8).map { i =>
      s"MIN(CASE WHEN in_a = 1 THEN (h*${A(i)} + ${B(i)}) % $M END) AS a$i,\n" +
        s"         MIN(CASE WHEN in_b = 1 THEN (h*${A(i)} + ${B(i)}) % $M END) AS b$i"
    }.mkString(",\n         ")
    val est = (0 until 8).map(i => s"CASE WHEN a$i = b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleCte,
       |sid AS (SELECT len(d.source) = 4 AS is_a, unnest(w.hs) AS h
       |        FROM w JOIN documents d ON w.doc_id = d.doc_id),
       |sides AS MATERIALIZED (SELECT h, MAX(CASE WHEN is_a THEN 1 ELSE 0 END) AS in_a,
       |                 MAX(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS in_b
       |          FROM sid GROUP BY h),
       |ex AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n_grams_a,
       |              CAST(SUM(in_b) AS BIGINT) AS n_grams_b,
       |              CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
       |              COUNT(*) AS n_union FROM sides),
       |mh AS (SELECT $mins
       |       FROM sides)
       |SELECT n_grams_a, n_grams_b, n_common, n_union,
       |       CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_exact,
       |       CAST($est AS DOUBLE) / 8.0 AS minhash_est
       |FROM ex CROSS JOIN mh""".stripMargin
  }

  /** Incremental (delta) dedup — the production ingest shape: the NEW
    * batch (docs with id ≡ 4 mod 5, ~20%) is checked against the EXISTING
    * corpus without ever self-joining the existing side. Exact duplicates
    * via an md5 content-hash left join (broadcastable at any corpus size:
    * only the new batch's hashes travel); near-duplicate candidates via
    * the banded-LSH key join against the existing index under the same
    * degenerate-bucket cap as the self-join path; exact Jaccard verify
    * confined to candidate edges. Per new doc: exact-dup flag, candidate
    * count, best candidate Jaccard, near-dup flag (≥ 0.5). */
  def deltaDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.deltaDedup(Tables.documents(spark, dir), "doc_id", "text",
      isNew = pmod(col("doc_id"), lit(5)) === lit(4))

  val deltaDedupSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |flags AS (SELECT doc_id, doc_id % 5 = 4 AS is_new, md5(text) AS th FROM documents),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
       |  FROM bb n JOIN flags fn ON fn.doc_id = n.doc_id AND fn.is_new
       |       JOIN bb o ON o.j = n.j AND o.key = n.key
       |       JOIN flags fo ON fo.doc_id = o.doc_id AND NOT fo.is_new),
       |jac AS (
       |  SELECT c.new_id, c.old_id,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |      (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS j
       |  FROM cand c JOIN w a ON a.doc_id = c.new_id JOIN w b ON b.doc_id = c.old_id),
       |agg AS (SELECT new_id, COUNT(DISTINCT old_id) AS n_candidates,
       |               MAX(j) AS best_jacc FROM jac GROUP BY new_id)
       |SELECT f.doc_id,
       |       EXISTS(SELECT 1 FROM flags o WHERE NOT o.is_new AND o.th = f.th) AS is_exact_dup,
       |       COALESCE(a.n_candidates, 0) AS n_candidates,
       |       a.best_jacc,
       |       COALESCE(a.best_jacc >= 0.5, false) AS is_near_dup
       |FROM flags f LEFT JOIN agg a ON a.new_id = f.doc_id
       |WHERE f.is_new
       |ORDER BY f.doc_id""".stripMargin

  /** Asymmetric CONTAINMENT on the LSH candidate set: |A∩B|/|A| and
    * |A∩B|/|B| per candidate pair — the measure that catches
    * document INCLUSION (a post quoting another wholesale, a page
    * embedding a licence block) which symmetric Jaccard dilutes to
    * nothing when the containing document is large. Same bounded
    * candidate generation and gram-rejoin-by-id shape as
    * [[ngramJaccard]]; kept when EITHER direction clears 0.5. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    // Pinned (eager) since round 15: band build + both gram-rejoin sides
    // are sibling consumers — see Dedup.candidatePairsFromBands.
    val g = graft.GraftCaches.pin(
      Dedup.shingleSets(Tables.documents(spark, dir), "doc_id", "text"),
      eager = true)
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    Dedup.candidatePairsFromBands(Dedup.lshBandsFrom(g, "doc_id"), "doc_id")
      .join(g.select(col("doc_id").as("doc_a"), col("hs").as("ga")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("hs").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter / size(col("ga")).cast("double")).as("cont_a"),
        (inter / size(col("gb")).cast("double")).as("cont_b"))
      .filter(col("cont_a") >= 0.5 || col("cont_b") >= 0.5)
  }

  val containmentPairsSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, cont_a, cont_b FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE) / CAST(len(ga.hs) AS DOUBLE) AS cont_a,
       |    CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE) / CAST(len(gb.hs) AS DOUBLE) AS cont_b
       |  FROM cand c JOIN w ga ON ga.doc_id = c.doc_a JOIN w gb ON gb.doc_id = c.doc_b) t
       |WHERE cont_a >= 0.5 OR cont_b >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** LSH candidate-generation quality on a deterministic evaluation
    * sample (doc_id < 100): precision and recall of the banded candidate
    * set against EXACT Jaccard ≥ 0.3 ground truth. The truth side is NOT
    * an all-pairs nested loop — pairs sharing zero grams have J = 0, so
    * the gram-keyed equi self-join enumerates every pair with J > 0 and
    * |A∩B| falls out as the shared-gram count (the scale-correct shape
    * for exact pair enumeration). The eval-sample contract is the same
    * as ann_recall's query subset: measure on a slice, index the corpus. */
  def lshQuality(spark: SparkSession, dir: String): DataFrame = {
    // Pinned (eager) since round 15: gram explode + band build + rejoin
    // sides are sibling consumers — see Dedup.candidatePairsFromBands.
    val g = graft.GraftCaches.pin(
      Dedup.shingleSets(
        Tables.documents(spark, dir).filter(col("doc_id") < 100), "doc_id", "text"),
      eager = true)
    val ex = g.select(col("doc_id"), explode(col("hs")).as("h"))
    val inter = ex.select(col("doc_id").as("doc_a"), col("h"))
      .join(ex.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
    val sizes = g.select(col("doc_id"), size(col("hs")).as("sz"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .filter(col("ni").cast("double") /
        (col("sa") + col("sb") - col("ni")).cast("double") >= 0.3)
      .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
    val cand = Dedup.candidatePairsFromBands(Dedup.lshBandsFrom(g, "doc_id"), "doc_id")
      .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(coalesce(col("t"), lit(0))).cast("bigint").as("n_true"),
        sum(coalesce(col("c"), lit(0))).cast("bigint").as("n_cand"),
        sum(coalesce(col("t"), lit(0)) * coalesce(col("c"), lit(0))).cast("bigint").as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        // NULL-on-zero denominators: on a slice with no candidates (or no
        // truth pairs) non-ANSI Spark yields NULL but DuckDB's IEEE
        // division yields Inf/NaN — guard both engines the same way.
        (col("n_hit").cast("double") /
          when(col("n_cand") === 0L, lit(null)).otherwise(col("n_cand")).cast("double"))
          .as("precision"),
        (col("n_hit").cast("double") /
          when(col("n_true") === 0L, lit(null)).otherwise(col("n_true")).cast("double"))
          .as("recall"))
  }

  val lshQualitySql: String =
    s"""WITH $shingleCte,
       |ws AS MATERIALIZED (SELECT * FROM w WHERE doc_id < 100),
       |exg AS (SELECT doc_id, unnest(hs) AS h FROM ws),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
       |          FROM exg a JOIN exg b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT doc_a, doc_b, 1 AS t
       |          FROM inter JOIN ws sa ON sa.doc_id = inter.doc_a
       |                     JOIN ws sb ON sb.doc_id = inter.doc_b
       |          WHERE CAST(ni AS DOUBLE) /
       |                CAST(len(sa.hs) + len(sb.hs) - ni AS DOUBLE) >= 0.3),
       |bands AS (
       |  SELECT doc_id, 0 AS j, ${bandKeySql(Seq(0, 1, 2, 3))} AS key FROM ws
       |  UNION ALL
       |  SELECT doc_id, 1 AS j, ${bandKeySql(Seq(4, 5, 6, 7))} AS key FROM ws),
       |okk AS (SELECT j, key FROM bands GROUP BY j, key HAVING COUNT(*) <= 100),
       |bb2 AS (SELECT bands.* FROM bands JOIN okk USING (j, key)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS c
       |         FROM bb2 a JOIN bb2 b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT CAST(SUM(COALESCE(t, 0)) AS BIGINT) AS n_true,
       |       CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS n_cand,
       |       CAST(SUM(COALESCE(t, 0) * COALESCE(c, 0)) AS BIGINT) AS n_hit,
       |       CAST(SUM(COALESCE(t, 0) * COALESCE(c, 0)) AS DOUBLE) /
       |         NULLIF(CAST(SUM(COALESCE(c, 0)) AS DOUBLE), 0) AS precision,
       |       CAST(SUM(COALESCE(t, 0) * COALESCE(c, 0)) AS DOUBLE) /
       |         NULLIF(CAST(SUM(COALESCE(t, 0)) AS DOUBLE), 0) AS recall
       |FROM truth FULL OUTER JOIN cand USING (doc_a, doc_b)""".stripMargin

  /** Threshold sweep for near-dup tuning: duplicate-pair and would-drop
    * counts at J ∈ {0.3, 0.5, 0.7, 0.9} from ONE candidate-verify pass —
    * the "pick the dedup knob" table, computed without re-running the
    * pipeline per threshold (explode the threshold list over the scored
    * pairs; the expensive part — candidate generation + exact Jaccard —
    * happens once). n_dropped counts distinct doc_b's (the kept-side
    * convention: lower id survives). */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(
      Tables.documents(spark, dir), "doc_id", "text", threshold = 0.0)
    pairs
      .select(col("doc_a"), col("doc_b"), col("jacc"),
        explode(array(lit(0.3), lit(0.5), lit(0.7), lit(0.9))).as("threshold"))
      .filter(col("jacc") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("doc_b")).as("n_dropped"))
  }

  val thresholdSweepSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE) /
       |      (len(ga.hs) + len(gb.hs) - len(list_intersect(ga.hs, gb.hs))) AS jacc
       |  FROM cand c JOIN w ga ON ga.doc_id = c.doc_a JOIN w gb ON gb.doc_id = c.doc_b),
       |th AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS threshold)
       |SELECT threshold, COUNT(*) AS n_pairs,
       |       COUNT(DISTINCT doc_b) AS n_dropped
       |FROM j CROSS JOIN th
       |WHERE jacc >= threshold
       |GROUP BY threshold ORDER BY threshold""".stripMargin

  /** Span-level exact dedup (8-token rolling windows): repeated
    * cross-document spans removed from every document's text — see
    * [[Dedup.spanDedup]]. The oracle rebuilds the identical window
    * hash (array_to_string slice → ascii list_reduce), the same
    * df-across-docs > 1 predicate, and the same position-set span merge
    * in pure SQL, so the cleaned TEXT itself is hash-checked, not just
    * the counts. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(Tables.documents(spark, dir), "doc_id", "text", w = 8)

  val dedupSpansSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text,' '), x -> x != '') AS l FROM documents),
       |t2 AS MATERIALIZED (SELECT doc_id, l, len(l) AS n FROM tok),
       |wh AS (SELECT doc_id, n,
       |         list_transform(l, w ->
       |           list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                       (a,b) -> (a*31+b) % $M)) AS whs
       |       FROM t2 WHERE n >= 8),
       |wins AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    list_reduce(list_prepend(0::BIGINT, whs[i:i+7]), (a,b) -> (a*31+b) % $M) AS h
       |  FROM wh, LATERAL (SELECT unnest(range(1, n - 6)) AS i) u),
       |dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
       |ds AS (SELECT doc_id, list_distinct(flatten(list(range(i, i + 8)))) AS cov
       |       FROM wins JOIN dup USING (h) GROUP BY doc_id)
       |SELECT t.doc_id, CAST(n AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_dup_tokens,
       |       COALESCE(array_to_string(list_transform(
       |         list_filter(range(1, n + 1), j -> cov IS NULL OR NOT list_contains(cov, j)),
       |         j -> l[j]), ' '), '') AS clean_text
       |FROM t2 t LEFT JOIN ds USING (doc_id)""".stripMargin

  /** Near-dup detector agreement audit: MinHash-LSH candidate pairs vs
    * SimHash Hamming≤3 pairs, full-outer joined on the pair key and
    * classified both / minhash_only / simhash_only — the method-
    * comparison report that decides which detector (or both) a curation
    * pipeline should run. Both pair relations are bucket-capped upstream;
    * the comparison is ONE pair-keyed full-outer join + a 3-row
    * aggregate (the share window runs over those 3 rows). */
  def dedupMethodAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mh = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b")).withColumn("in_mh", lit(1))
    val sh = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b")).withColumn("in_sh", lit(1))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .select(when(col("in_mh").isNotNull && col("in_sh").isNotNull, "both")
        .when(col("in_mh").isNotNull, "minhash_only")
        .otherwise("simhash_only").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_pairs"))
      .withColumn("share", col("n_pairs").cast("double") /
        sum("n_pairs").over(org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"))
  }

  val dedupMethodAgreementSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |mhc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |ws AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(list_filter(string_split(text,' '), x -> x != '')),
       |      w -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                       (a,b) -> (a*31+b) % $M)) AS hs
       |  FROM documents),
       |shs AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0,32), j -> CASE WHEN
       |      list_sum(list_transform(hs, h -> CASE WHEN ((h // (1::BIGINT << j)) % 2) = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM ws),
       |bs AS (
       |  SELECT doc_id, simhash, bn, (simhash // (1::BIGINT << (8*bn))) % 256 AS byte
       |  FROM (SELECT doc_id, simhash, unnest([0,1,2,3]) AS bn FROM shs)),
       |okbs AS (SELECT bn, byte FROM bs GROUP BY bn, byte HAVING COUNT(*) <= 200),
       |bbs AS (SELECT bs.* FROM bs JOIN okbs USING (bn, byte)),
       |shc AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           a.simhash AS sa, b.simhash AS sb
       |    FROM bbs a JOIN bbs b ON a.bn = b.bn AND a.byte = b.byte AND a.doc_id < b.doc_id) t
       |  WHERE bit_count(xor(sa, sb)) <= 3),
       |cls AS (
       |  SELECT CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
       |              WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
       |              ELSE 'simhash_only' END AS status
       |  FROM mhc m FULL OUTER JOIN shc s
       |    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b)
       |SELECT status, n_pairs,
       |  CAST(n_pairs AS DOUBLE) / CAST(SUM(n_pairs) OVER () AS DOUBLE) AS share
       |FROM (SELECT status, COUNT(*) AS n_pairs FROM cls GROUP BY status) g
       |ORDER BY status""".stripMargin

  /** Duplicate-cluster size histogram — the dedup QA readout (how much of
    * the corpus sits in clusters of what size, i.e. what a keep-one-per-
    * cluster pass would delete). Built on the same 3-round min-label
    * components as `dedup_components`; the histogram itself is two
    * aggregates over the (already candidate-bounded) node relation plus a
    * 1-row total broadcast — nothing here grows with corpus size beyond
    * the components machinery, which is bucket-capped upstream. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.duplicateComponents(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
      iters = 3)
    val sizes = comp.groupBy("comp_id").agg(count(lit(1)).as("cluster_size"))
    val tot = sizes.agg(sum("cluster_size").as("total_docs"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") * col("n_clusters")).cast("double") /
          col("total_docs").cast("double")).as("doc_share"))
  }

  val dedupClusterStatsSql: String =
    s"""WITH $shingleCte,
       |$bandsCte,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |l0 AS (SELECT DISTINCT src AS doc_id, src AS comp_id FROM e2),
       |${(1 to 3).map(labelStepCte).mkString(",\n")},
       |sizes AS (SELECT comp_id, COUNT(*) AS cluster_size FROM l3 GROUP BY comp_id),
       |tot AS (SELECT CAST(SUM(cluster_size) AS BIGINT) AS total_docs FROM sizes)
       |SELECT cluster_size, COUNT(*) AS n_clusters,
       |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(cluster_size * COUNT(*) AS DOUBLE) / CAST(total_docs AS DOUBLE) AS doc_share
       |FROM sizes CROSS JOIN tot
       |GROUP BY cluster_size, total_docs ORDER BY cluster_size""".stripMargin

  /** Per-source decontamination audit: how much of each source's corpus
    * slice the benchmark-overlap screen (`benchmark_overlap`'s exact
    * 3-gram rule) flags — the report a data-governance pass publishes per
    * upstream feed. The overlap relation is doc-keyed and already
    * benchmark-bounded (the bench gram set is broadcast); this adds one
    * doc-keyed equi-join to recover `source` and one source-keyed
    * aggregate. Integer sums, two fixed-order IEEE divisions. */
  def decontamStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ov = Dedup.contaminationOverlap(docs, "doc_id", "text",
      benchPred = col("doc_id") < 10, threshold = 0.3)
    ov.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum("n_matched").as("n_matched_grams"),
        sum("n_grams").as("n_grams"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("contaminated_share"),
        col("n_matched_grams"), col("n_grams"),
        (col("n_matched_grams").cast("double") / col("n_grams").cast("double"))
          .as("gram_overlap"))
  }

  val decontamStatsSql: String =
    s"""WITH $shingleCte,
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM w WHERE doc_id < 10),
       |corp AS (SELECT doc_id, unnest(hs) AS h FROM w WHERE NOT (doc_id < 10)),
       |m AS (SELECT c.doc_id, COUNT(*) AS n_matched
       |      FROM corp c JOIN bench USING (h) GROUP BY c.doc_id),
       |ov AS (SELECT w.doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
       |         CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
       |         (CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(len(hs) AS DOUBLE)) >= 0.3::DOUBLE AS contaminated
       |       FROM w LEFT JOIN m ON m.doc_id = w.doc_id
       |       WHERE NOT (w.doc_id < 10))
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN ov.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |  CAST(CAST(SUM(CASE WHEN ov.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS contaminated_share,
       |  CAST(SUM(ov.n_matched) AS BIGINT) AS n_matched_grams,
       |  CAST(SUM(ov.n_grams) AS BIGINT) AS n_grams,
       |  CAST(CAST(SUM(ov.n_matched) AS BIGINT) AS DOUBLE) /
       |    CAST(CAST(SUM(ov.n_grams) AS BIGINT) AS DOUBLE) AS gram_overlap
       |FROM ov JOIN documents d ON d.doc_id = ov.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Cross-source copy matrix: the verified near-dup pairs (the
    * hash-checked LSH-candidate + exact-Jaccard machinery of
    * `dedup_ngram_jaccard`) classified by which SOURCE pair they
    * straddle — the "who mirrors whom" readout that decides whether a
    * crawl source is original or a scraper. Pair endpoints join their
    * sources by doc id (broadcast-sized candidate relation), the matrix
    * cell key is the unordered (src_lo, src_hi) pair, and within-source
    * duplication shows up on the diagonal. */
  def sourceCopyMatrix(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      threshold = 0.12)
    pairs
      .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"),
        col("jacc"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jacc") >= 0.5, 1L).otherwise(0L)).as("n_strong"))
  }

  val sourceCopyMatrixSql: String =
    s"""WITH p AS ($ngramJaccardSql),
       |s AS (SELECT p.doc_a, p.doc_b, p.jacc, da.source AS src_a, db.source AS src_b
       |      FROM p JOIN documents da ON da.doc_id = p.doc_a
       |             JOIN documents db ON db.doc_id = p.doc_b)
       |SELECT least(src_a, src_b) AS src_lo, greatest(src_a, src_b) AS src_hi,
       |       COUNT(*) AS n_pairs,
       |       CAST(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong
       |FROM s GROUP BY src_lo, src_hi ORDER BY src_lo, src_hi""".stripMargin

  /** Per-source duplication KPI: of each source's documents, how many
    * sit in a near-dup component as a NON-keeper (the rows dedup would
    * drop) — the curation scorecard that names which crawl sources are
    * worth their storage. Composes the hash-checked 3-round component
    * machinery (docs outside any candidate edge are their own keeper by
    * definition) with one source join + one source fold. */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val comps = Dedup.duplicateComponents(
      Dedup.lshCandidatePairs(Tables.documents(spark, dir), "doc_id", "text"),
      iters = 3)
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(comps.select(col("doc_id"), col("is_keeper")), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_keeper") === false, 1L).otherwise(0L)).as("n_droppable"))
      .select(col("source"), col("n_docs"), col("n_droppable"),
        (col("n_droppable").cast("double") / col("n_docs").cast("double"))
          .as("dup_share"))
  }

  val dedupRateBySourceSql: String =
    s"""WITH comp AS ($dedupComponentsSql)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN comp.is_keeper = false THEN 1 ELSE 0 END) AS BIGINT) AS n_droppable,
       |  CAST(SUM(CASE WHEN comp.is_keeper = false THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_share
       |FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
       |GROUP BY source ORDER BY source""".stripMargin


  /** Sorted-neighborhood blocking — the entity-resolution candidate
    * generator for FUZZY KEYS (names, titles, addresses) where hash
    * blocking fails (one typo changes the hash): sort the population on
    * the fuzzy key, compare each record only to its w nearest neighbors
    * in the global sort order. The global rank rides
    * [[graft.operators.PrefixScan]] (running count over the
    * (name, custkey) total order — never a single-task window at
    * population scale), the neighbor pairing is an EQUI-join on
    * rank + d = rank (d exploded from 1..w), and the survivor screen is
    * a per-pair edit distance — O(n·w) comparisons total instead of
    * O(n²). Emits every window pair with its distance plus the
    * candidate flag (lev ≤ 4 here: TPC-H name stems differ only in the
    * 9-digit suffix). */
  def sortedNeighborhoodPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), lit(1L).as("one"))
    val ranked = graft.GraftCaches.track(
      PrefixScan.runningSum(c, Nil, "one", "rnk",
        col("c_name"), col("c_custkey")).drop("one"))
    val right = ranked.select(col("rnk").as("rnk_b"),
      col("c_custkey").as("custkey_b"), col("c_name").as("name_b"))
    ranked
      .select(explode(array(lit(1L), lit(2L))).as("d"), col("rnk"),
        col("c_custkey").as("custkey_a"), col("c_name").as("name_a"))
      .join(right, col("rnk") + col("d") === col("rnk_b"))
      .select(col("custkey_a"), col("custkey_b"), col("d"),
        levenshtein(col("name_a"), col("name_b")).cast("bigint").as("lev"))
      .withColumn("candidate", col("lev") <= 4)
  }

  val sortedNeighborhoodPairsSql: String =
    """WITH r AS (
      |  SELECT c_custkey, c_name,
      |         CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT) AS rnk
      |  FROM customer),
      |d AS (SELECT unnest([1, 2]) AS d)
      |SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |       CAST(d.d AS BIGINT) AS d,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev,
      |       levenshtein(a.c_name, b.c_name) <= 4 AS candidate
      |FROM r a CROSS JOIN d JOIN r b ON a.rnk + d.d = b.rnk
      |ORDER BY custkey_a, custkey_b""".stripMargin


  /** KMV (k-minimum-values, the theta-sketch core) source-overlap
    * estimator — the DISTINCT-INTERSECTION sketch the HLL pair can't do
    * well (HLL intersections go through inclusion–exclusion and inherit
    * both unions' error): keep each source's k=64 smallest distinct
    * word hashes — 64 longs of mergeable state per source at ANY corpus
    * size (union sketch = k smallest of the concatenation) — then for
    * every pair read (a) the union cardinality from the k-th smallest
    * of the union (est = (k−1)·M/τ, the uniform-order-statistic
    * estimator) and (b) the Jaccard from the fraction of the union
    * sketch present in both sides. The exact Jaccard over the
    * vocab-sized word-hash relation rides one equi-join next to it, so
    * the estimator error itself is hash-checked (the
    * source_overlap_audit discipline). Sketch build uses the
    * rank-window + WindowGroupLimit shape (partial per-partition top-k
    * before the shuffle, the topk_per_group precedent) over the
    * vocab-bounded relation. */
  def kmvSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val wh = graft.GraftCaches.track(
      Tables.documents(spark, dir)
        .select(col("source"), explode(TextOps.wordHashes(col("text"))).as("h"))
        .distinct())
    val sk = wh
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= k)
      .groupBy("source")
      .agg(sort_array(collect_list("h")).as("mins"), count(lit(1)).as("n_sk"))
    val cnt = wh.groupBy("source").agg(count(lit(1)).as("n"))
    val sides = sk.join(cnt, "source")
    val a = sides.columns.foldLeft(sides)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = sides.columns.foldLeft(sides)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val inter = wh.select(col("source").as("sa"), col("h"))
      .join(wh.select(col("source").as("sb"), col("h")), "h")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    val u = slice(array_sort(array_distinct(
      concat(col("a_mins"), col("b_mins")))), 1, k)
    val kEff = size(col("u")).cast("long")
    val tau = element_at(col("u"), size(col("u")))
    val inBoth = size(filter(col("u"), h =>
      array_contains(col("a_mins"), h) && array_contains(col("b_mins"), h))).cast("long")
    val ni = coalesce(col("n_inter"), lit(0L))
    a.crossJoin(b).filter(col("a_source") < col("b_source"))
      .join(inter, col("a_source") === col("sa") && col("b_source") === col("sb"), "left")
      .withColumn("u", u)
      .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
        col("a_n").as("n_a"), col("b_n").as("n_b"), ni.as("n_inter"),
        ((kEff - 1L).cast("double") * lit(M.toDouble) /
          tau.cast("double")).as("est_union"),
        (inBoth.cast("double") / kEff.cast("double")).as("est_jaccard"),
        (ni.cast("double") /
          (col("a_n") + col("b_n") - ni).cast("double")).as("jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
  }

  val kmvSourceOverlapSql: String =
    s"""WITH wh AS (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source,
       |      unnest(list_transform(list_distinct(list_filter(string_split(text,' '), x -> x != '')),
       |        w -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                         (a,b) -> (a*31+b) % $M))) AS h
       |    FROM documents)),
       |sk AS (
       |  SELECT source, list_sort(list(h)) AS mins FROM (
       |    SELECT source, h,
       |           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM wh) t WHERE rn <= 64 GROUP BY source),
       |cnt AS (SELECT source, COUNT(*) AS n FROM wh GROUP BY source),
       |sides AS (SELECT sk.source, sk.mins, cnt.n FROM sk JOIN cnt USING (source)),
       |inter AS (
       |  SELECT wa.source AS sa, wb.source AS sb, COUNT(*) AS n_inter
       |  FROM wh wa JOIN wh wb ON wa.h = wb.h AND wa.source < wb.source
       |  GROUP BY wa.source, wb.source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         a.n AS n_a, b.n AS n_b,
       |         COALESCE(i.n_inter, 0) AS n_inter,
       |         list_sort(list_distinct(list_concat(a.mins, b.mins)))[1:64] AS u,
       |         a.mins AS am, b.mins AS bm
       |  FROM sides a CROSS JOIN sides b
       |  LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
       |  WHERE a.source < b.source)
       |SELECT source_a, source_b, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b, CAST(n_inter AS BIGINT) AS n_inter,
       |  CAST(len(u) - 1 AS DOUBLE) * ${M}.0 / CAST(u[len(u)] AS DOUBLE) AS est_union,
       |  CAST(len(list_filter(u, h -> list_contains(am, h) AND list_contains(bm, h))) AS DOUBLE)
       |    / CAST(len(u) AS DOUBLE) AS est_jaccard,
       |  CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard,
       |  abs(CAST(len(list_filter(u, h -> list_contains(am, h) AND list_contains(bm, h))) AS DOUBLE)
       |        / CAST(len(u) AS DOUBLE)
       |      - CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)) AS abs_err
       |FROM pairs ORDER BY source_a, source_b""".stripMargin


  /** 13-gram exact-window decontamination — the GPT-3/Llama-style
    * benchmark screen: flag every corpus document sharing ANY 13-token
    * window with the benchmark set (doc_id < 10, the
    * benchmark_overlap convention). Window fingerprints ride
    * [[graft.operators.TextOps.windowHashes]] (word-hash fold, one char
    * pass per word); the benchmark gram set is tiny by construction and
    * BROADCASTS into the corpus-side probe — the corpus never shuffles,
    * the at-scale decontamination shape (the 3-gram
    * `benchmark_overlap` and bloom/embedding variants are the softer
    * screens; 13-gram exact-window is the published standard for "did
    * the eval set leak verbatim"). */
  def decontam13gram(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    val d = graft.GraftCaches.track(
      Tables.documents(spark, dir)
        .select(col("doc_id"), ws.as("l"))
        .filter(size(col("l")) >= 13)
        .select(col("doc_id"), TextOps.windowHashes(col("l"), 13).as("hs")))
    val bench = d.filter(col("doc_id") < 10)
      .select(explode(col("hs")).as("h")).distinct()
      .withColumn("hit", lit(1))
    d.filter(col("doc_id") >= 10)
      .select(col("doc_id"), size(col("hs")).cast("bigint").as("n_grams"),
        explode(col("hs")).as("h"))
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  val decontam13gramSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split(text,' '), x -> x != '') AS l
       |  FROM documents),
       |wd AS (
       |  SELECT doc_id,
       |    list_transform(l, w ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                  (a,b) -> (a*31+b) % $M)) AS whs
       |  FROM d WHERE len(l) >= 13),
       |hd AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(whs)-11),
       |      i -> list_reduce(list_prepend(0::BIGINT, whs[i:i+12]), (a,b) -> (a*31+b) % $M))) AS hs
       |  FROM wd),
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM hd WHERE doc_id < 10),
       |corp AS (SELECT doc_id, len(hs) AS n_grams, unnest(hs) AS h FROM hd WHERE doc_id >= 10),
       |m AS (SELECT c.doc_id, c.n_grams, COUNT(b.h) AS n_hits
       |      FROM corp c LEFT JOIN bench b ON b.h = c.h
       |      GROUP BY c.doc_id, c.n_grams)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |       CAST(n_hits AS BIGINT) AS n_hits, n_hits > 0 AS contaminated
       |FROM m ORDER BY doc_id""".stripMargin

  /** Phonetic-skeleton blocking — the third candidate-generation family
    * next to hash blocks (dedup_exact) and sorted neighborhoods: key =
    * uppercased first letter + the consonant skeleton of the rest
    * (vowels and spaces dropped), the soundex-class trick that survives
    * the vowel-level typos sorted order is most sensitive to. One
    * map-side-combined aggregate over the population — the blocking
    * INVENTORY (block sizes and the pair workload n·(n−1)/2 each block
    * implies) that entity-resolution planners read before choosing a
    * strategy: a skewed block list here means the key is too coarse for
    * the pair stage. RE2-safe on purpose (a character class only, no
    * backreferences), so the oracle reproduces the key verbatim. */
  def phoneticBlock(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        concat(upper(substring(col("p_name"), 1, 1)),
          regexp_replace(lower(expr("substring(p_name, 2)")), "[aeiou ]", ""))
          .as("pkey"))
      .groupBy("pkey")
      .agg(count(lit(1)).as("n_parts"),
        min("p_partkey").as("min_partkey"),
        max("p_partkey").as("max_partkey"))
      .withColumn("n_pairs", expr("(n_parts * (n_parts - 1)) div 2"))

  val phoneticBlockSql: String =
    """SELECT upper(substr(p_name, 1, 1))
      |         || regexp_replace(lower(substr(p_name, 2)), '[aeiou ]', '', 'g') AS pkey,
      |       COUNT(*) AS n_parts,
      |       MIN(p_partkey) AS min_partkey,
      |       MAX(p_partkey) AS max_partkey,
      |       (COUNT(*) * (COUNT(*) - 1)) // 2 AS n_pairs
      |FROM part GROUP BY pkey ORDER BY pkey""".stripMargin


  /** Prefix-filtered EXACT set-similarity join (PPJoin-style, Xiao et
    * al. 2008) — the lossless counterpart to the MinHash/SimHash
    * families: every pair with shingle-set Jaccard ≥ t is found, no
    * false negatives, yet the corpus is never self-joined. The filter
    * stack: (1) order each doc's shingle hashes by ascending document
    * frequency (rarest first, the canonical global token order);
    * (2) PREFIX filter — two sets can only reach Jaccard ≥ t if they
    * share a token among each one's first |x| − ⌈t·|x|⌉ + 1 ordered
    * tokens, so candidates come from an equi-join on prefix tokens
    * only (rare by construction — the df ordering pushes stop-shingles
    * out of every prefix); (3) LENGTH filter — Jaccard ≥ t forces
    * min(|a|,|b|) ≥ t·max(|a|,|b|), pruning before the verify;
    * (4) exact verify on the surviving candidates via one
    * array-intersection per pair. At 100 TB the shuffles carry
    * (prefix-token, doc) pairs and bounded hash arrays — the standard
    * exact-similarity-join shape when LSH's false negatives are
    * unacceptable (legal holds, eval decontamination). The oracle is
    * the brute-force all-pairs Jaccard, so the hash check proves the
    * filter stack lossless on real data.
    *
    * Scale caveat (honest bound): the prefix filter's candidate count is
    * Σ_token df(token)² over PREFIX postings — subquadratic only when
    * the shingle vocabulary is Zipfian (true of natural text, where a
    * doc's rarest ⌈(1−t)·n⌉+1 shingles have df ≈ 1). On a degenerate
    * tiny-vocabulary corpus every shingle is frequent, the prefix
    * postings stay dense, and the join legitimately approaches the
    * quadratic TRUE-pair count — there PPJoin is the wrong tool and the
    * capped LSH generator (`dedup_minhash_pairs`, maxBucket) is the
    * right one; this query exists for the exactness-mandatory cases. */
  def ppjoinPairs(spark: SparkSession, dir: String): DataFrame =
    ppjoinPairsImpl(spark, dir, positional = true)

  /** Candidate (doc_a, doc_b) pairs surviving the filter stack — exposed
    * for the spec that proves the positional filter strictly prunes.
    * t = 3/5 throughout, kept as an exact rational so every filter bound
    * is INTEGER arithmetic (never a float ceil that could over-prune):
    * length filter min ≥ t·max ⟺ 5·min ≥ 3·max; equivalent-overlap
    * threshold Jaccard ≥ 3/5 ⟺ 8·inter ≥ 3·(na+nb) ⟺
    * inter ≥ α = ⌈3·(na+nb)/8⌉ = (3·(na+nb)+7) DIV 8.
    *
    * POSITIONAL filter (the "P" in PPJoin, Xiao et al. 2008 §3.2): both
    * token lists are sorted by the same global (df, h) order, so for a
    * candidate pair every common token at-or-before the LAST prefix-prefix
    * match sits inside BOTH prefixes (its positions are bounded by the
    * match's) and is therefore itself a prefix match. Hence with m prefix
    * matches whose last occurrence is at positions (imax, jmax):
    * overlap ≤ m + min(na − imax, nb − jmax). Prune when that upper bound
    * cannot reach α — before the array-intersect verify ever runs. */
  private[graft] def ppjoinCandidates(spark: SparkSession, dir: String,
      positional: Boolean): DataFrame =
    ppjoinCandidatesFrom(ppjoinShingles(spark, dir), positional)

  private def ppjoinCandidatesFrom(w: DataFrame, positional: Boolean): DataFrame = {
    // NOTE (round-15, measured dead end): explicit cores-wide
    // `repartition(defaultParallelism, ...)` at the aggregation/join sites
    // here — motivated by AQE byte-based coalescing collapsing these
    // byte-small stages to 1-3 tasks — was tried and REVERTED: on a quiet
    // box the fan-out multiplied TOTAL executor CPU ~9× (4.2 s → 39 s;
    // the array-heavy rows re-serialize through three extra exchanges and
    // per-task setup dominates), for no wall win at 32 cores and a large
    // loss at 8. The apparent single-task CPU thrash that motivated it
    // was box-phase contamination. At population scale the stages are no
    // longer byte-small and AQE sizes them correctly on its own.
    val dfreq = w.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val ordered = w.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      .join(dfreq, "h")
      .groupBy("doc_id", "n")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("toks"))
    // Prefix length |x| − ⌈t·|x|⌉ + 1 = n − ⌈3n/5⌉ + 1, integer-exact.
    val p = expr("CAST(n - (3*n + 4) DIV 5 + 1 AS INT)")
    val prefixes = ordered.select(col("doc_id"), col("n"),
      posexplode(slice(transform(col("toks"), s => s.getField("h")), lit(1), p)))
      .withColumnRenamed("pos", "i").withColumn("i", col("i") + 1) // 1-based
      .withColumnRenamed("col", "h")
    val matched = prefixes
      .select(col("doc_id").as("doc_a"), col("n").as("na"), col("i").as("ia"), col("h"))
      .join(prefixes.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("i").as("jb"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b") &&
        lit(5L) * least(col("na"), col("nb")) >= lit(3L) * greatest(col("na"), col("nb")))
    val grouped = matched.groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("m"), max("ia").as("imax"), max("jb").as("jmax"))
    val pruned =
      if (!positional) grouped
      else grouped.filter(
        col("m") + least(col("na") - col("imax"), col("nb") - col("jmax")) >=
          expr("(3*(na + nb) + 7) DIV 8"))
    pruned.select("doc_a", "doc_b")
  }

  // Eager pin, not cache (round-15, the change-7 discipline): the shingle
  // working set is consumed by SIBLING subtrees of one action (df-count,
  // ordered, and BOTH verify join legs), whose tasks raced the cache
  // block locks under `track`; the checkpoint is one dedicated
  // materialization job and every reference a leaf scan.
  private def ppjoinShingles(spark: SparkSession, dir: String): DataFrame =
    graft.GraftCaches.pin(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.words(col("text")).as("l"))
        .filter(size(col("l")) >= 3)
        .select(col("doc_id"), array_sort(TextOps.shingleHashes(col("l"))).as("hs"))
        .withColumn("n", size(col("hs")).cast("long")))

  private def ppjoinPairsImpl(spark: SparkSession, dir: String,
      positional: Boolean): DataFrame = {
    val t = 0.6
    val w = ppjoinShingles(spark, dir)
    val cand = ppjoinCandidatesFrom(w, positional)
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
    cand
      .join(w.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"), col("n").as("n_a")), "doc_a")
      .join(w.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"), col("n").as("n_b")), "doc_b")
      .withColumn("inter", inter)
      .withColumn("jacc", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jacc") >= t)
      .select("doc_a", "doc_b", "n_a", "n_b", "inter", "jacc")
  }

  val ppjoinPairsSql: String =
    s"""WITH $shingleCte,
       |ws AS (SELECT doc_id, hs, len(hs) AS n FROM w)
       |SELECT doc_a, doc_b, n_a, n_b, inter,
       |       CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) AS jacc
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       |         CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter
       |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id) pairs
       |WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin


  /** Fuzzy product-name matching via the native [[graft.functions.JaroWinkler]]
    * codegen expression over sorted-neighborhood blocked pairs — the
    * record-linkage comparator Levenshtein is too coarse for (JW weighs
    * shared prefixes and forgives transpositions, the dominant typo
    * classes in name fields). Candidate generation is the same O(n·w)
    * PrefixScan rank + rank+d equi-join as `sorted_neighborhood_pairs`
    * (never an all-pairs product); the JW screen itself fuses into the
    * join's whole-stage codegen as one static call. Two scores per pair
    * (bare name, name+type label) — the oracle recomputes both with
    * DuckDB's independent `jaro_winkler_similarity` implementation, so
    * the hash check proves the native expression bit-equal to a second
    * engine's algorithm on real data (pure rational arithmetic, no
    * transcendentals — see the expression's scaladoc). */
  def nameMatchJw(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), lower(col("p_type")).as("ptype"),
        lit(1L).as("one"))
    val ranked = graft.GraftCaches.track(
      PrefixScan.runningSum(p, Nil, "one", "rnk",
        col("p_name"), col("p_partkey")).drop("one"))
    val right = ranked.select(col("rnk").as("rnk_b"),
      col("p_partkey").as("partkey_b"), col("p_name").as("name_b"),
      col("ptype").as("ptype_b"))
    ranked
      .select(explode(array(lit(1L), lit(2L), lit(3L))).as("d"), col("rnk"),
        col("p_partkey").as("partkey_a"), col("p_name").as("name_a"),
        col("ptype").as("ptype_a"))
      .join(right, col("rnk") + col("d") === col("rnk_b"))
      .select(col("partkey_a"), col("partkey_b"), col("d"),
        graft.functions.JaroWinkler.of(col("name_a"), col("name_b")).as("jw_name"),
        graft.functions.JaroWinkler.of(
          concat_ws(" ", col("name_a"), col("ptype_a")),
          concat_ws(" ", col("name_b"), col("ptype_b"))).as("jw_label"))
      .withColumn("candidate", col("jw_name") >= 0.8)
  }

  val nameMatchJwSql: String =
    """WITH r AS (
      |  SELECT p_partkey, p_name, lower(p_type) AS ptype,
      |         CAST(row_number() OVER (ORDER BY p_name, p_partkey) AS BIGINT) AS rnk
      |  FROM part),
      |d AS (SELECT unnest([1, 2, 3]) AS d)
      |SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
      |       CAST(d.d AS BIGINT) AS d,
      |       jaro_winkler_similarity(a.p_name, b.p_name) AS jw_name,
      |       jaro_winkler_similarity(a.p_name || ' ' || a.ptype,
      |                               b.p_name || ' ' || b.ptype) AS jw_label,
      |       jaro_winkler_similarity(a.p_name, b.p_name) >= 0.8 AS candidate
      |FROM r a CROSS JOIN d JOIN r b ON a.rnk + d.d = b.rnk
      |ORDER BY partkey_a, partkey_b""".stripMargin


  /** Fellegi–Sunter probabilistic record linkage over the blocked part
    * pairs: each field comparison (JW-name ≥ 0.9, brand equal, type
    * equal, size within ±2) contributes its log₂(m/u) agreement weight
    * or log₂((1−m)/(1−u)) disagreement weight, and the summed match
    * weight classifies the pair link / possible / non_link — the
    * classical (1969) linkage decision rule, still the core of modern
    * ER systems. The m/u probabilities are MODEL constants, so the
    * weights are compile-time double literals embedded identically in
    * both engines (the repo's no-runtime-transcendentals discipline:
    * log₂ never executes in either engine; the per-pair math is four
    * literal adds in fixed order). Candidate pairs ride the same
    * PrefixScan sorted-neighborhood block as `name_match_jw` — O(n·w)
    * pairs, population never self-joined. */
  def recordLinkageFs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), lit(1L).as("one"))
    val ranked = graft.GraftCaches.track(
      PrefixScan.runningSum(p, Nil, "one", "rnk",
        col("p_name"), col("p_partkey")).drop("one"))
    val right = ranked.columns.foldLeft(ranked)((d, c) =>
      d.withColumnRenamed(c, s"b_$c"))
    val jwName = graft.functions.JaroWinkler.of(col("p_name"), col("b_p_name"))
    val agrName  = jwName >= 0.9
    val agrBrand = col("p_brand") === col("b_p_brand")
    val agrType  = col("p_type") === col("b_p_type")
    val agrSize  = abs(col("p_size") - col("b_p_size")) <= 2
    // log2(m/u) / log2((1-m)/(1-u)) for (m,u): name (.95,.3),
    // brand (.9,.04), type (.85,.2), size (.8,.1).
    val wName  = when(agrName,  lit(1.6629650127224291)).otherwise(lit(-3.807354922057603))
    val wBrand = when(agrBrand, lit(4.491853096329675)).otherwise(lit(-3.2630344058337943))
    val wType  = when(agrType,  lit(2.0874628412503395)).otherwise(lit(-2.4150374992788435))
    val wSize  = when(agrSize,  lit(3.0)).otherwise(lit(-2.1699250014423126))
    val total = wName + wBrand + wType + wSize
    ranked
      .select(explode(array(lit(1L), lit(2L))).as("d"), col("rnk"),
        col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
      .join(right, col("rnk") + col("d") === col("b_rnk"))
      .select(col("p_partkey").as("partkey_a"), col("b_p_partkey").as("partkey_b"),
        agrName.as("agr_name"), agrBrand.as("agr_brand"),
        agrType.as("agr_type"), agrSize.as("agr_size"),
        total.as("match_weight"),
        when(total >= 5.0, "link").when(total >= 0.0, "possible")
          .otherwise("non_link").as("decision"))
  }

  val recordLinkageFsSql: String =
    """WITH r AS (
      |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
      |         CAST(row_number() OVER (ORDER BY p_name, p_partkey) AS BIGINT) AS rnk
      |  FROM part),
      |d AS (SELECT unnest([1, 2]) AS d),
      |pairs AS (
      |  SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
      |         jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9 AS agr_name,
      |         a.p_brand = b.p_brand AS agr_brand,
      |         a.p_type = b.p_type AS agr_type,
      |         abs(a.p_size - b.p_size) <= 2 AS agr_size
      |  FROM r a CROSS JOIN d JOIN r b ON a.rnk + d.d = b.rnk),
      |w AS (
      |  -- every literal ::DOUBLE: DuckDB parses bare decimal literals as
      |  -- DECIMAL and would sum with decimal rounding, one ulp off the
      |  -- engine's IEEE left-assoc double sum
      |  SELECT *,
      |    (CASE WHEN agr_name THEN 1.6629650127224291::DOUBLE ELSE -3.807354922057603::DOUBLE END
      |     + CASE WHEN agr_brand THEN 4.491853096329675::DOUBLE ELSE -3.2630344058337943::DOUBLE END
      |     + CASE WHEN agr_type THEN 2.0874628412503395::DOUBLE ELSE -2.4150374992788435::DOUBLE END
      |     + CASE WHEN agr_size THEN 3.0::DOUBLE ELSE -2.1699250014423126::DOUBLE END) AS match_weight
      |  FROM pairs)
      |SELECT partkey_a, partkey_b, agr_name, agr_brand, agr_type, agr_size,
      |       match_weight,
      |       CASE WHEN match_weight >= 5.0 THEN 'link'
      |            WHEN match_weight >= 0.0 THEN 'possible'
      |            ELSE 'non_link' END AS decision
      |FROM w ORDER BY partkey_a, partkey_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "name_match_jw" -> (nameMatchJw _),
    "ppjoin_pairs" -> (ppjoinPairs _),
    "phonetic_block" -> (phoneticBlock _),
    "record_linkage_fs" -> (recordLinkageFs _),
    "dedup_rate_by_source" -> (dedupRateBySource _),
    "source_copy_matrix" -> (sourceCopyMatrix _),
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "dedup_method_agreement" -> (dedupMethodAgreement _),
    "decontam_stats" -> (decontamStats _),
    "dedup_spans" -> (dedupSpans _),
    "threshold_sweep" -> (thresholdSweep _),
    "lsh_quality" -> (lshQuality _),
    "dedup_containment" -> (containmentPairs _),
    "corpus_overlap" -> (corpusOverlap _),
    "delta_dedup" -> (deltaDedup _),
    "graph_communities" -> (graphCommunities _),
    "duplicate_ngrams" -> (duplicateNgrams _),
    "graph_pagerank" -> (graphPagerank _),
    "paragraph_dedup" -> (paragraphDedup _),
    "boilerplate_lines" -> (boilerplateLines _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "graph_triangles" -> (graphTriangles _),
    "graph_degree_hist" -> (graphDegreeHist _),
    "source_minhash_overlap" -> (sourceMinhashOverlap _),
    "source_overlap_audit" -> (sourceOverlapAudit _),
    "graph_edge_support" -> (graphEdgeSupport _),
    "dedup_components" -> (dedupComponents _),
    "dedup_components_converged" -> (dedupComponentsConverged _),
    "dedup_components_star" -> (dedupComponentsStar _),
    "dedup_minhash_estimate" -> (minhashEstimate _),
    "benchmark_overlap" -> (benchmarkOverlap _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_sig" -> (minhashSig _),
    "dedup_minhash_pairs" -> (minhashPairs _),
    "lsh_bucket_profile" -> (lshBucketProfile _),
    "dedup_simhash" -> (simhash _),
    "dedup_simhash_neardup" -> (simhashNearDup _),
    "dedup_edit_distance" -> (editDistance _),
    "sorted_neighborhood_pairs" -> (sortedNeighborhoodPairs _),
    "kmv_source_overlap" -> (kmvSourceOverlap _),
    "decontam_13gram" -> (decontam13gram _),
    "dedup_ngram_jaccard" -> (ngramJaccard _))

  val oracles: Map[String, String] = Map(
    "name_match_jw" -> nameMatchJwSql,
    "ppjoin_pairs" -> ppjoinPairsSql,
    "phonetic_block" -> phoneticBlockSql,
    "record_linkage_fs" -> recordLinkageFsSql,
    "dedup_rate_by_source" -> dedupRateBySourceSql,
    "source_copy_matrix" -> sourceCopyMatrixSql,
    "dedup_cluster_stats" -> dedupClusterStatsSql,
    "dedup_method_agreement" -> dedupMethodAgreementSql,
    "decontam_stats" -> decontamStatsSql,
    "dedup_spans" -> dedupSpansSql,
    "threshold_sweep" -> thresholdSweepSql,
    "lsh_quality" -> lshQualitySql,
    "dedup_containment" -> containmentPairsSql,
    "corpus_overlap" -> corpusOverlapSql,
    "delta_dedup" -> deltaDedupSql,
    "graph_communities" -> graphCommunitiesSql,
    "duplicate_ngrams" -> duplicateNgramsSql,
    "graph_pagerank" -> graphPagerankSql,
    "paragraph_dedup" -> paragraphDedupSql,
    "boilerplate_lines" -> boilerplateLinesSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_degree_hist" -> graphDegreeHistSql,
    "source_minhash_overlap" -> sourceMinhashOverlapSql,
    "source_overlap_audit" -> sourceOverlapAuditSql,
    "graph_edge_support" -> graphEdgeSupportSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_components_converged" -> dedupComponentsConvergedSql,
    "dedup_components_star" -> dedupComponentsStarSql,
    "dedup_minhash_estimate" -> minhashEstimateSql,
    "benchmark_overlap" -> benchmarkOverlapSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_sig" -> minhashSigSql,
    "dedup_minhash_pairs" -> minhashPairsSql,
    "lsh_bucket_profile" -> lshBucketProfileSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_neardup" -> simhashNearDupSql,
    "dedup_edit_distance" -> editDistanceSql,
    "sorted_neighborhood_pairs" -> sortedNeighborhoodPairsSql,
    "kmv_source_overlap" -> kmvSourceOverlapSql,
    "decontam_13gram" -> decontam13gramSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql)
}
