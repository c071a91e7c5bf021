package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the two iterated graph queries on the sf0.01 fixture,
  * counted from query construction through the collect. Their candidate
  * graphs are small, so `Dedup.pageRank` and
  * `Dedup.duplicateComponentsConverged` run their rounds on the driver
  * after one materializing count and one read of the pinned mirror; a
  * per-round Spark job (19 and 31-33 jobs when every round was one) fails
  * this spec. The ceilings are the counts measured on 2026-10-19
  * (`local[4]`, 10 jobs each); they may only go down. */
class GraphJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private val ceilings = Seq("dedup_components_converged" -> 10, "graph_pagerank" -> 10)

  private def jobsOf(name: String): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, dir).collect()
      ListenerBusDrain.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      GraftCaches.releaseAll()
    }
    jobs.get()
  }

  ceilings.foreach { case (name, ceiling) =>
    test(s"$name runs at most $ceiling Spark jobs, construction and action together") {
      val n = jobsOf(name)
      assert(n <= ceiling, s"$name ran $n jobs (ceiling $ceiling)")
    }
  }
}
