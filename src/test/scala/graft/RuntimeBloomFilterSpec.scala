package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Spark's runtime bloom-filter join pruning (InjectRuntimeFilter): when a
  * shuffle join's small side carries a selective predicate, the optimizer
  * builds a bloom filter over its join keys and semi-filters the LARGE
  * side's scan with `might_contain` BEFORE the shuffle — at 100 TB this is
  * the difference between shuffling the whole fact table and shuffling the
  * ~1% that can actually match. The engine relies on it for selective
  * fact-dimension joins, so this spec pins (a) that Spark 4.1 injects the
  * filter under the documented conditions and (b) result parity with the
  * rewrite disabled.
  *
  * The application-side size threshold defaults to 10 GB (the rewrite
  * only pays off on big scans) — the spec lowers it to exercise the path
  * on fixture data; production keeps the default. */
class RuntimeBloomFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private def selectiveJoin() = {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_custkey") < 50)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
  }

  test("bloom filter is injected into the large side of a selective shuffle join") {
    TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle-join shape
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val optimized = selectiveJoin().queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") || optimized.contains("BloomFilter"),
        s"expected an injected bloom filter in the optimized plan:\n$optimized")
    }
  }

  test("bloom-filtered join returns the same rows as with the rewrite disabled") {
    val expected = TestSpark.withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
      selectiveJoin().collect().toSeq
    }
    val got = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      selectiveJoin().collect().toSeq
    }
    assert(got == expected)
  }
}
