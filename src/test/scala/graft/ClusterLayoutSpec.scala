package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-layout scale artifacts: the two plan shapes that decide
  * whether a 100 TB join is cheap — (a) BUCKETED co-location removing
  * the shuffle from a fact⋈fact join entirely, (b) AQE splitting a
  * skewed shuffle partition at runtime. Both asserted on the executed
  * plan, not argued in prose. */
class ClusterLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed fact-fact join plans with ZERO exchanges (co-located SMJ)") {
    val dir = "/root/testdata/sf0.01"
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    graft.sources.Tables.orders(spark, dir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_b_orders")
    graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_b_lineitem")
    try TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      // The join itself must be exchange-free: both sides arrive
      // pre-partitioned by the bucket columns. (The groupBy above the
      // join is ALSO exchange-free on the orders side? No — priority
      // isn't the bucket key, so exactly ONE exchange for the agg is
      // the expected budget.)
      val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "")).size
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(exchanges <= 1,
        s"bucketed join should add no join-side exchange (agg-only budget 1):\n$plan")
      // and the result matches the unbucketed plan bit-for-bit
      val expect = graft.sources.Tables.orders(spark, dir)
        .join(graft.sources.Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet
      assert(j.collect().map(_.toSeq).toSet === expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    import spark.implicits._
    // one hot key carrying ~200k rows vs 200 cold keys with 50 each —
    // far past the skew thresholds set below
    val fact = spark.range(200000).select(lit(0L).as("k"), col("id").as("v"))
      .unionByName(spark.range(10000).select((pmod(col("id"), lit(200)) + 1).as("k"), col("id").as("v")))
    val dim = spark.range(201).select(col("id").as("k"), (col("id") * 7).as("w"))
    TestSpark.withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // No agg above the join: OptimizeSkewedJoin declines to split a
      // partition whose output partitioning a parent still requires.
      // Execute THIS df (collect) so its own QueryExecution finalizes —
      // a .count() would plan and adapt a different query.
      val j = fact.join(dim, "k").select(col("k"), col("v") + col("w"))
      val n = j.collect().length
      assert(n === 210000)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"))
      assert(finalPlan.contains("skew=true"),
        s"AQE should mark the hot partition skewed:\n${finalPlan.take(4000)}")
    }
  }
}
