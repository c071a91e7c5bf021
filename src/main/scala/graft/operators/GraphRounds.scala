package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Round scheduling of the iterated graph operators: the mirrored edge
  * relation, the pinned degree relation, the min-label hop, the
  * power-iteration rounds with their join strategy, and the driver-side
  * twins that run a small graph's rounds without Spark jobs. Callers
  * supply their arithmetic and their stop rules. */
private[graft] object GraphRounds {

  /** Largest mirrored edge relation whose rounds run on the driver. A
    * mirrored row is two longs, so 2^16 rows are 1 MB of primitive arrays
    * in driver memory, and a driver round over them takes milliseconds,
    * where a Spark round pays a per-job floor of tens of milliseconds or
    * more. Counted in mirrored rows (two per edge row), never derived
    * from the core count. */
  private val LocalEdgeBound: Long = 1L << 16

  /** Largest node count whose rank state [[powerIteration]] broadcasts:
    * a (node, contribution) row is ~50 B in a built hash relation, so
    * 2^21 nodes are ~100 MB of executor-side build, and the per-round
    * edge-side exchange and sort disappear. Data-derived, never derived
    * from the core count. */
  private val BroadcastRankNodeBound: Long = 1L << 21

  /** Where and how the rounds run: on the driver up to `localEdges`
    * mirrored rows, with broadcast rank state up to `rankNodes` nodes.
    * The public operators use the defaults; specs lower them to force
    * the distributed or the sort-merge rounds. */
  final case class Bounds(localEdges: Long = LocalEdgeBound,
      rankNodes: Long = BroadcastRankNodeBound)

  /** Mirrored (src, dst) relation of a (doc_a, doc_b) edge relation in one
    * pass: explode emits both orientations of each row, so repeated rows
    * stay repeated and the scan and partition count are the input's. */
  def mirrored(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Every node of a mirrored relation as (doc_id, `label` = doc_id);
    * each endpoint appears as a src. */
  def nodeLabels(bidir: DataFrame, label: String): DataFrame =
    bidir.select(col("src").as("doc_id")).distinct()
      .withColumn(label, col("doc_id"))

  /** One min-label hop over a mirrored relation: each node's next
    * comp_id is the min of its own (the carried rows) and its
    * in-neighbors' comp_ids, in one map-side-combined aggregation.
    * `labels` is (doc_id, comp_id) and is read twice, so callers pin it:
    * unpinned, the composed plan doubles with every hop. */
  def hop(bidir: DataFrame, labels: DataFrame): DataFrame =
    bidir.join(labels, col("src") === col("doc_id"))
      .select(col("dst").as("doc_id"), col("comp_id"))
      .union(labels)
      .groupBy("doc_id").agg(min("comp_id").as("comp_id"))

  /** Out-degrees (src, outdeg) of a mirrored relation, repeated rows
    * counted. A map-side-combined count: reducers see at most one row
    * per node and map task, so a hub node cannot serialize one task. */
  def degrees(bidir: DataFrame): DataFrame =
    bidir.groupBy("src").agg(count(lit(1)).as("outdeg"))

  /** [[degrees]] pinned eagerly, and its row count: the exact node
    * count, one job over the stored blocks (`Dataset.count` would add a
    * shuffle stage and a job). */
  def pinnedDegrees(bidir: DataFrame): (DataFrame, Long) = {
    val deg = graft.GraftCaches.pin(degrees(bidir), eager = true)
    (deg, deg.rdd.count())
  }

  /** `iters` power-iteration rounds over a mirrored relation `bidir` and
    * its [[degrees]] `deg`, which hold `nodes` nodes. The state is
    * (`node`, `rank`), starting at `init` on every node. A round
    * evaluates `contribution` (over `rank` and `outdeg`) once per node,
    * sends it along every edge as `contrib`, and aggregates `update`
    * (over `contrib`) per dst into the next `rank`. On a mirrored
    * relation every node has indegree >= 1, so each round's dst set is
    * the node set and no rank mass dangles (a directed relation would
    * need a dangling-mass term). The state is read once per round, so
    * the composed plan grows linearly and needs no per-round pin.
    *
    * Up to `rankNodeBound` nodes both joins broadcast their node-sized
    * side, so the edge side is probed with no exchange or sort; above it
    * the degree-annotated edges are pinned and each round sort-merge
    * joins them with the rank state. */
  def powerIteration(bidir: DataFrame, deg: DataFrame, nodes: Long,
      rankNodeBound: Long, iters: Int, node: String, rank: String,
      init: Column, contribution: Column, update: Column): DataFrame = {
    def next(contribs: DataFrame): DataFrame =
      contribs.groupBy("dst").agg(update.as(rank))
        .select(col("dst").as(node), col(rank))
    val start = deg.select(col("src").as(node), init.as(rank))
    if (nodes <= rankNodeBound)
      (1 to iters).foldLeft(start) { (r, _) =>
        val rc = r.join(broadcast(deg), col(node) === col("src"))
          .select(col("src"), contribution.as("contrib"))
        next(bidir.join(broadcast(rc), "src").select(col("dst"), col("contrib")))
      }
    else {
      val withDeg = graft.GraftCaches.pin(bidir.join(deg, "src"), eager = false)
      (1 to iters).foldLeft(start) { (r, _) =>
        next(withDeg.join(r, col("src") === col(node))
          .select(col("dst"), contribution.as("contrib")))
      }
    }
  }

  /** Applies `step` from `init` until a step returns a state `same` as
    * its input, at most `maxIters` times. Returns the last state and
    * whether the last step changed nothing: the stop rule of both
    * branches of [[Dedup.duplicateComponentsConverged]]. */
  def fixpoint[S](init: S, maxIters: Int)(step: S => S)(same: (S, S) => Boolean): (S, Boolean) = {
    @annotation.tailrec
    def loop(s: S, round: Int): (S, Boolean) =
      if (round == maxIters) (s, false)
      else {
        val next = step(s)
        if (same(s, next)) (next, true) else loop(next, round + 1)
      }
    loop(init, 0)
  }

  /** A mirrored `(src, dst)` edge relation on the driver: row `k` is
    * `(src(k), dst(k))`, repeated rows kept. */
  final case class Edges(src: Array[Long], dst: Array[Long]) {
    /** Distinct node ids, ascending. The relation is mirrored, so every
      * endpoint appears as a `src`. */
    lazy val nodes: Array[Long] = src.distinct.sorted
    /** Each row's endpoints as indices into [[nodes]]. */
    lazy val srcIdx: Array[Int] = src.map(java.util.Arrays.binarySearch(nodes, _))
    lazy val dstIdx: Array[Int] = dst.map(java.util.Arrays.binarySearch(nodes, _))
  }

  /** Materializes the lazily pinned mirror `bidir` in one job that counts
    * its rows while storing its blocks. When it holds at most `bound`
    * rows of non-NULL bigint ids, one more job over the stored blocks
    * reads them. None otherwise; the pin is materialized either way, so
    * distributed rounds over it start from stored blocks, and the degree
    * pass and the rounds, sibling stages of one action, do not race on
    * the block-store locks of a lazily stored pin. */
  def collect(bidir: DataFrame, bound: Long): Option[Edges] = {
    val rows = graft.GraftCaches.pinnedRdd(bidir).getOrElse(
      throw new IllegalArgumentException("GraphRounds.collect needs a pinned relation"))
    val sc = rows.sparkContext
    val n = sc.runJob(rows, (it: Iterator[InternalRow]) => it.size.toLong).sum
    if (n > bound || !bidir.schema.fields.forall(_.dataType == LongType)) None
    else {
      val parts = sc.runJob(rows, (it: Iterator[InternalRow]) => {
        val s = Array.newBuilder[Long]
        val d = Array.newBuilder[Long]
        var nulls = false
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) nulls = true
          else { s += r.getLong(0); d += r.getLong(1) }
        }
        (s.result(), d.result(), nulls)
      })
      if (parts.exists(_._3)) None
      else Some(Edges(parts.flatMap(_._1), parts.flatMap(_._2)))
    }
  }

  /** The driver twin of [[hop]] rounds in
    * [[Dedup.duplicateComponentsConverged]]: a probe is two hops, run to
    * the [[fixpoint]] of at most `maxIters` probes. Returns each node's
    * label, aligned with `e.nodes`, and whether the last probe changed
    * nothing. */
  def components(e: Edges, maxIters: Int): (Array[Long], Boolean) = {
    val s = e.srcIdx
    val d = e.dstIdx
    def hop(l: Array[Long]): Array[Long] = {
      val next = l.clone()
      var k = 0
      while (k < s.length) {
        if (l(s(k)) < next(d(k))) next(d(k)) = l(s(k))
        k += 1
      }
      next
    }
    fixpoint(e.nodes.clone(), maxIters)(l => hop(hop(l)))((a, b) => java.util.Arrays.equals(a, b))
  }

  /** The rounds of [[Dedup.pageRank]], aligned with `e.nodes`. Each row
    * `s → d` adds `c(s) = CAST(round(rank(s) / outdeg(s) * 1e9) AS
    * DECIMAL(38,0))` to `cs(d)` exactly; then `rank(d) = teleport +
    * damping * (cs(d).toDouble / 1e9)`. `outdeg` counts repeated rows.
    * None when a contribution reaches 2^53 or a sum leaves the Long
    * range: below that a Long holds every DECIMAL exactly and Spark's
    * double/decimal conversions agree with it; the caller then runs the
    * distributed rounds, which also own the overflow behavior. */
  def pageRank(e: Edges, iters: Int, damping: Double,
      teleport: Double): Option[Array[Double]] = {
    val s = e.srcIdx
    val d = e.dstIdx
    val n = e.nodes.length
    val outdeg = new Array[Long](n)
    s.foreach(i => outdeg(i) += 1)
    try {
      Some((1 to iters).foldLeft(Array.fill(n)(1.0)) { (rank, _) =>
        val c = Array.tabulate(n)(i => contribution(rank(i), outdeg(i)))
        val cs = new Array[Long](n)
        var k = 0
        while (k < s.length) {
          cs(d(k)) = Math.addExact(cs(d(k)), c(s(k)))
          k += 1
        }
        cs.map(v => teleport + damping * (v.toDouble / 1e9))
      })
    } catch { case _: ArithmeticException => None }
  }

  private val ExactLongDouble = 9.007199254740992e15 // 2^53

  /** Spark's `round` on a double is HALF_UP on its shortest decimal form
    * (`BigDecimal(x)`); the rounded double is integral, and below 2^53
    * its DECIMAL(38,0) cast is that integer. */
  private def contribution(rank: Double, outdeg: Long): Long = {
    val x = rank / outdeg * 1e9
    if (!(math.abs(x) < ExactLongDouble))
      throw new ArithmeticException(s"pagerank contribution $x is outside the exact Long range")
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
  }

  /** A local relation of `rows` with exactly `schema`, nullability
    * included: no job builds or scans it. */
  def relation(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
