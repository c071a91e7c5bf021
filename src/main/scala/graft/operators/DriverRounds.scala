package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructType}

/** Driver-side twins of the iterated graph rounds in [[Dedup]], for edge
  * sets small enough that Spark's per-job floor, not the data, is the
  * cost of a round. Each function applies the algebra of its distributed
  * counterpart to a mirrored edge list held in primitive arrays, so both
  * branches return the same rows, doubles bit for bit. */
private[operators] object DriverRounds {

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
    * a distributed branch over it starts from stored blocks. */
  def collect(bidir: DataFrame, bound: Long): Option[Edges] = {
    val rows = graft.GraftCaches.pinnedRdd(bidir).getOrElse(
      throw new IllegalArgumentException("DriverRounds.collect needs a pinned relation"))
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

  /** The min-label fixpoint of [[Dedup.duplicateComponentsConverged]]:
    * a hop sets every node's label to the minimum of its own and its
    * in-neighbors' previous labels; a probe is two hops; the loop stops
    * after a probe that changes no label, or after `maxIters` probes.
    * Returns each node's label, aligned with `e.nodes`, and whether the
    * last probe changed nothing. */
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
    var lab = e.nodes.clone()
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      val next = hop(hop(lab))
      converged = java.util.Arrays.equals(next, lab)
      lab = next
      round += 1
    }
    (lab, converged)
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
