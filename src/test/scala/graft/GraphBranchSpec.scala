package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Branch equivalence for the two graph operators with a driver-side
  * path: on every input, `Dedup.pageRank` and
  * `Dedup.duplicateComponentsConverged` must return the same schema
  * (nullability included) and the same row multiset (doubles compared
  * bit for bit) whether their rounds run on the driver (edge set within
  * `Dedup.LocalEdgeBound`) or as Spark jobs (bound forced below the
  * edge count). */
class GraphBranchSpec extends AnyFunSuite {
  import GraphBranchSpec.ForceDistributed

  private lazy val spark = TestSpark.spark

  private def edgesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  /** Rows as sortable keys, doubles by their raw bits. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def assertSame(driver: DataFrame, distributed: DataFrame): Unit = {
    assert(driver.schema === distributed.schema)
    assert(driver.schema.map(_.nullable) === distributed.schema.map(_.nullable))
    assert(rowsOf(driver) === rowsOf(distributed))
  }

  private def pageRankBoth(pairs: Seq[(Long, Long)]): Unit =
    try assertSame(
      Dedup.pageRank(edgesOf(pairs)),
      Dedup.pageRank(edgesOf(pairs), 3, 0.85, 0.15, ForceDistributed))
    finally GraftCaches.releaseAll()

  private def componentsBoth(pairs: Seq[(Long, Long)]): Unit =
    try assertSame(
      Dedup.duplicateComponentsConverged(edgesOf(pairs)),
      Dedup.duplicateComponentsConverged(edgesOf(pairs), 20, ForceDistributed))
    finally GraftCaches.releaseAll()

  private val chain7 = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq

  /** A few hundred edges over 120 nodes, with repeats, reversed
    * duplicates and self-loops, from a fixed seed. */
  private val randomGraph: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(20261019L)
    Seq.fill(300)((rng.nextInt(120).toLong * 7L + 3L, rng.nextInt(120).toLong * 7L + 3L))
  }

  private val inputs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "the empty edge set" -> Seq.empty,
    "one pair" -> Seq((4L, 9L)),
    "repeated edge rows" -> Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (1L, 2L)),
    "a diameter-7 chain" -> chain7,
    "two disjoint components" -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L)),
    "a seeded random graph" -> randomGraph)

  inputs.foreach { case (name, pairs) =>
    test(s"pageRank: driver and distributed rounds agree on $name") { pageRankBoth(pairs) }
    test(s"duplicateComponentsConverged: driver and distributed rounds agree on $name") {
      componentsBoth(pairs)
    }
  }

  test("pageRank: the branches agree at other round counts and constants") {
    Seq((0, 0.85, 0.15), (1, 0.85, 0.15), (5, 0.5, 0.5)).foreach { case (iters, d, t) =>
      try assertSame(
        Dedup.pageRank(edgesOf(randomGraph), iters, d, t),
        Dedup.pageRank(edgesOf(randomGraph), iters, d, t, ForceDistributed))
      finally GraftCaches.releaseAll()
    }
  }

  test("maxIters = 2 fails loudly on a diameter-7 chain on both branches") {
    Seq(Dedup.LocalEdgeBound, ForceDistributed).foreach { bound =>
      val ex = intercept[IllegalArgumentException] {
        Dedup.duplicateComponentsConverged(edgesOf(chain7), 2, bound).collect()
      }
      GraftCaches.releaseAll()
      assert(ex.getMessage.contains("labels still changing after 2 probe rounds"))
      assert(ex.getMessage.contains("duplicateComponentsStar"))
    }
  }

  test("the driver branch runs two jobs to build and none to collect") {
    // One job materializes and counts the pinned mirror, one reads it;
    // the result schema comes from analysis alone.
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.set(0)
      body
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.get()
    }
    val edges = edgesOf(randomGraph)
    spark.sparkContext.addSparkListener(listener)
    try {
      var pr: DataFrame = null
      assert(jobsOf { pr = Dedup.pageRank(edges) } === 2)
      assert(jobsOf { pr.collect() } === 0)
      var cc: DataFrame = null
      assert(jobsOf { cc = Dedup.duplicateComponentsConverged(edges) } === 2)
      assert(jobsOf { cc.collect() } === 0)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      GraftCaches.releaseAll()
    }
  }

  test("NULL ids and non-bigint ids take the distributed rounds") {
    import spark.implicits._
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null)).toDF("doc_a", "doc_b")
    val rows = Dedup.duplicateComponentsConverged(withNull).collect()
    GraftCaches.releaseAll()
    assert(rows.exists(_.isNullAt(0)), "the NULL endpoint keeps its distributed-branch row")
    val ints = Seq((1, 2), (2, 3)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateComponentsConverged(ints).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2))).toSet
    GraftCaches.releaseAll()
    assert(got === Set((1, 1, true), (2, 1, false), (3, 1, false)))
  }
}

object GraphBranchSpec {
  /** A driver-branch bound below every edge count. */
  val ForceDistributed: Long = -1L

  /** `duplicateComponentsConverged` on each branch, with the suffix a
    * spec appends to a test name it registers once per branch: the
    * public operator (driver rounds for every small spec graph) keeps
    * the bare name. */
  val componentBranches: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "" -> ((e, maxIters) => Dedup.duplicateComponentsConverged(e, maxIters)),
    " (distributed rounds)" ->
      ((e, maxIters) => Dedup.duplicateComponentsConverged(e, maxIters, ForceDistributed)))
}
