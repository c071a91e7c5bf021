package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GraphRounds
import graft.sources.Tables

/** Graph analytics over the purchase graph (customer ↔ supplier edges
  * from orders × lineitem). Sibling of the LSH-document-graph family in
  * DedupQueries (`graph_pagerank` there quantizes a double rank to 1e-9
  * per round); this family is engine-exact by construction: ranks are
  * INTEGER-SCALED (R0 units == 1.0, R0 adaptive per [[adaptiveR0]], at
  * most 1e12) and every update is BIGINT arithmetic — `contrib = r DIV
  * outdeg`, `next = 0.15·R0 + (85 · Σcontrib) DIV 100` — so five
  * power-iteration rounds produce bit-identical BIGINTs in Spark and
  * DuckDB with no cross-row double accumulation anywhere (the classic
  * float PageRank is order-sensitive and could never hash-match across
  * engines). The deliberate trade is documented: integer floor per edge
  * loses < outdeg units of mass per node per round — at the finest 1e12
  * scale that is a 1e-10 relative perturbation, and even at the
  * coarsest admissible scale (R0=100, reached only near 10^15 nodes)
  * it stays a 1e-2-per-edge effect, irrelevant to ranking and priceless
  * for cross-engine verifiability.
  *
  * Scale shape: one distinct edge build (orders ⋈ lineitem, shuffle on
  * orderkey), then per round a (src → rank) hash join + grouped BIGINT
  * sum — shuffles carry (node, rank) pairs only; rounds are fixed (5),
  * so the job graph is static and AQE-friendly. Nodes are encoded
  * cust·2 / supp·2+1 to keep the two id spaces disjoint. */
object GraphQueries {

  /** Finest rank scale (1e12 == 1.0), used whenever the graph is small
    * enough for it. A node's update computes 85 · Σ_in (r DIV d), and
    * Σ_in is bounded by the graph's total mass N·R0, so int64 needs
    * N·R0·85 < 2^63. [[adaptiveR0]] picks the largest power-of-ten scale
    * that keeps the mass bound int64-safe (same integer algebra, coarser
    * granularity), so the engine runs up to N ≈ 1.08e15 nodes
    * ([[MaxNodesAdaptive]]) and refuses only past that, where the remedy
    * is the DECIMAL(38,0) contribution-sum lift. */
  private val R0Max = 1000000000000L
  /** Coarsest scale we accept before refusing: at R0=100 a rank unit is
    * 1% of a node's initial mass — coarser than that and five rounds of
    * integer floors would visibly distort the ranking itself. */
  private val R0Min = 100L

  /** Largest power-of-ten rank scale (≤ 1e12) whose total graph mass
    * keeps the per-node update 85·Σ_in(r DIV d) ≤ 85·N·R0 inside int64.
    * Derivation is pure integer arithmetic (no log10 doubles — a float
    * boundary could disagree with the oracle's integer CTE): largest
    * p ∈ {100, 1000, …, 1e12} with p ≤ 2^63 DIV (85·N). The DuckDB
    * oracle computes the identical maximum over the identical
    * power-of-ten relation, so both engines derive the same scale from
    * the same row counts. Loud failure past [[MaxNodesAdaptive]]. */
  def adaptiveR0(nodes: Long): Long = {
    require(nodes >= 0, s"pagerank: node count/bound must be >= 0, got $nodes")
    // An empty edge relation yields an empty rank relation at any scale.
    if (nodes == 0) return R0Max
    require(nodes <= MaxNodesAdaptive,
      s"pagerank: $nodes nodes (or bound) exceeds the adaptive int64-safe " +
        s"bound $MaxNodesAdaptive (even the coarsest rank scale R0=$R0Min " +
        "would overflow 85 * N * R0 past 2^63). Lift the per-node " +
        "contribution sum to DECIMAL(38,0) in both engines.")
    val cap = Long.MaxValue / (85L * nodes)
    var p = R0Min
    while (p * 10L <= cap && p < R0Max) p *= 10L
    p
  }

  /** Undirected (mirrored) customer↔supplier edge relation. */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val bought = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("doc_a"), (col("l_suppkey") * 2 + 1).as("doc_b"))
      .distinct()
    GraphRounds.mirrored(bought)
  }

  /** Largest node count int64 carries at the FINEST scale (R0=1e12):
    * N ≤ 2^63 / (85·1e12) ≈ 1.08·10^5. Past this, [[adaptiveR0]] steps
    * the scale down a decade at a time; public so specs can pin the
    * scale-transition point. */
  val MaxNodesAtScale: Long = Long.MaxValue / (85L * R0Max)

  /** Largest node count the adaptive scale carries before even R0=100
    * overflows: N ≤ 2^63 / (85·100) ≈ 1.08·10^15. The loud-refusal
    * bound; the remedy past it is the DECIMAL(38,0) lift. Public so the
    * guard spec derives its over-bound fixture from the same constant. */
  val MaxNodesAdaptive: Long = Long.MaxValue / (85L * R0Min)

  /** The guarded integer power iteration over a mirrored edge relation
    * `(src, dst)`: five rounds of `contrib = r DIV outdeg`,
    * `r' = 0.15·R0 + (85 · Σcontrib) DIV 100`, returned as
    * (node, r, rank_r0).
    *
    * The node count is checked BEFORE iterating, so a graph past the
    * int64 bound fails loudly instead of wrapping. `nodeUpperBound`
    * lets the caller fix the rank scale from a conservative OVER-estimate
    * that an oracle can derive too (e.g. dimension-table row counts); a
    * too-big bound can only over-fire. An UNDER-estimate would re-open
    * the wrap the guard exists to prevent, so a supplied bound is always
    * checked against the exact node count and an under-estimate fails
    * loudly. The scale rides along as `rank_r0` (rank 1.0 == rank_r0
    * units), so the oracle, which derives the same scale in SQL,
    * hash-checks the derivation as well as the ranks. The bound sets
    * only the scale: the exact node count picks broadcast or sort-merge
    * rounds. */
  def pagerankIterate(e0: DataFrame, nodeUpperBound: Option[Long] = None): DataFrame =
    pagerankIterate(e0, nodeUpperBound, GraphRounds.Bounds())

  /** [[pagerankIterate]] with the round bounds as an argument, so specs
    * can force the sort-merge rounds. */
  private[graft] def pagerankIterate(e0: DataFrame, nodeUpperBound: Option[Long],
      bounds: GraphRounds.Bounds): DataFrame = {
    // The degree pass and the rounds are sibling stages of one action:
    // the eager pin stores the mirror once before either reads it, where
    // a lazy pin makes their tasks race on the block-store locks and a
    // raw reference re-runs the edge build.
    val e1 = graft.GraftCaches.pin(e0, eager = true)
    val (deg, exact) = GraphRounds.pinnedDegrees(e1)
    val nNodes = nodeUpperBound.getOrElse(exact)
    require(nNodes >= exact,
      s"pagerank: nodeUpperBound=$nNodes UNDER-estimates the exact node " +
        s"count $exact — the bound must be conservative or the int64 guard " +
        "is void")
    val r0 = adaptiveR0(nNodes)
    val base = r0 / 100L * 15L // 0.15·R0, exact for any power of ten ≥ 100
    GraphRounds.powerIteration(e1, deg, exact, bounds.rankNodes, 5,
        node = "node", rank = "r", init = lit(r0),
        contribution = expr("r DIV outdeg"),
        update = lit(base) + expr("85 * sum(contrib) DIV 100"))
      .withColumn("rank_r0", lit(r0))
  }

  /** Five integer power-iteration rounds; top-20 suppliers by rank.
    * Guard bound = |customer| + |supplier| (parquet-metadata counts,
    * no data read) — every graph node is one of the two. The SAME bound
    * feeds [[adaptiveR0]], and the oracle derives R0 from the identical
    * `COUNT(customer) + COUNT(supplier)`, so both engines land on the
    * same scale without any value passing between them. At the driver
    * SFs (≤ 16k nodes) the scale stays the finest 1e12; at generated
    * sf1 (~160k nodes) both sides step down to 1e11. */
  def pagerankSuppliers(spark: SparkSession, dir: String): DataFrame =
    pagerankIterate(edges(spark, dir), Some(
      Tables.customer(spark, dir).count() + Tables.supplier(spark, dir).count()))
      .filter(pmod(col("node"), lit(2)) === 1)
      .select(expr("node DIV 2").as("supp_id"), col("r").as("rank_scaled"),
        col("rank_r0"))
      .orderBy(col("rank_scaled").desc, col("supp_id"))
      .limit(20)

  private def prRoundSql(k: Int): String =
    s"""r$k AS (
       |  SELECT e.dst AS node,
       |    (SELECT base FROM r0s) + 85 * SUM(r.r // deg.d) // 100 AS r
       |  FROM e JOIN r${k - 1} r ON r.node = e.src JOIN deg ON deg.src = e.src
       |  GROUP BY e.dst)""".stripMargin

  /** Oracle twin. `r0s` mirrors [[adaptiveR0]] in pure integer SQL: the
    * node bound is the same customer+supplier row count the engine
    * uses, `pw` enumerates the same power-of-ten candidates, and the
    * MAX under `p <= 2^63 // (85·n)` is the same "largest safe scale".
    * `base` = 0.15·R0 via `r0//100*15` (exact for powers of ten ≥ 100,
    * same expression as the engine). */
  val pagerankSuppliersSql: String =
    s"""WITH nb AS (
       |  SELECT (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier) AS n),
       |pw(p) AS (VALUES ${(2 to 12).map(k => s"(CAST(1${"0" * k} AS BIGINT))").mkString(", ")}),
       |r0s AS (
       |  SELECT MAX(p) AS r0, MAX(p) // 100 * 15 AS base
       |  FROM pw, nb WHERE p <= 9223372036854775807 // (85 * GREATEST(nb.n, 1))),
       |bought AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM bought
       |  UNION ALL SELECT s, c FROM bought),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |r0 AS (SELECT src AS node, (SELECT r0 FROM r0s) AS r FROM deg),
       |${(1 to 5).map(prRoundSql).mkString(",\n")}
       |SELECT CAST(node // 2 AS BIGINT) AS supp_id, CAST(r AS BIGINT) AS rank_scaled,
       |  CAST((SELECT r0 FROM r0s) AS BIGINT) AS rank_r0
       |FROM r5 WHERE node % 2 = 1
       |ORDER BY rank_scaled DESC, supp_id LIMIT 20""".stripMargin

  /** Degree profile of the same graph: how concentrated purchasing is —
    * the audit that tells you whether the rank iteration (or any
    * neighborhood-bounded algorithm) faces a hot node. One grouped count
    * then a histogram on log2-ish buckets, all integers. */
  def graphDegreeProfile(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir)
      .groupBy("src").agg(count(lit(1)).as("d"))
      .select(when(pmod(col("src"), lit(2)) === 0, "customer")
        .otherwise("supplier").as("side"),
        expr("CAST(floor(log2(d)) AS INT)").as("deg_bucket"))
      .groupBy("side", "deg_bucket")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("side", "deg_bucket")

  val graphDegreeProfileSql: String =
    """WITH bought AS (
      |  SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT c AS src, s AS dst FROM bought
      |      UNION ALL SELECT s, c FROM bought),
      |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)
      |SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
      |  CAST(floor(log2(d)) AS INT) AS deg_bucket,
      |  COUNT(*) AS n_nodes
      |FROM deg GROUP BY 1, 2 ORDER BY side, deg_bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pagerank_suppliers" -> (pagerankSuppliers _),
    "graph_degree_profile" -> (graphDegreeProfile _))

  val oracles: Map[String, String] = Map(
    "pagerank_suppliers" -> pagerankSuppliersSql,
    "graph_degree_profile" -> graphDegreeProfileSql)
}
