package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PrefixScan

/** PrefixScan must equal the global-window cumsum bit-for-bit while
  * keeping every stage partition-parallel (that's its whole point: the
  * global window drags the relation into ONE task). */
class PrefixScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("distributed scan equals the global window cumsum (ascending key)") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, ((i * 37) % 101 + 1).toLong)).toDF("id", "v")
    val got = PrefixScan.runningSum(df, Nil, "v", "cum", col("id"))
      .orderBy("id").select("id", "v", "cum").collect().toSeq
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy("id").select("id", "v", "cum").collect().toSeq
    assert(got == want)
  }

  test("composite descending order with tie-break matches the window") {
    import spark.implicits._
    // Heavy key collisions: the tie-break column must carry the order.
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong, (i % 13 + 1).toLong))
      .toDF("id", "k", "v")
    val order = Seq(col("k").desc, col("id"))
    val got = PrefixScan.runningSum(df, Nil, "v", "cum", order: _*)
      .orderBy("id").select("id", "cum").collect().toSeq
    val w = Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy("id").select("id", "cum").collect().toSeq
    assert(got == want)
  }

  test("scan runs over MULTIPLE range partitions (not one global-sort task)") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, 1L)).toDF("id", "v")
    // 8 range partitions with coalescing off (on tiny data AQE would
    // coalesce to 1 — correct too, since the result is partition-count-
    // invariant, but the point here is to exercise the multi-partition
    // offset math).
    TestSpark.withConf("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val ranged = df.repartitionByRange(col("id"))
      assert(ranged.rdd.getNumPartitions > 1,
        "repartitionByRange must spread the scan; a single partition would be the global-window shape")
      val got = PrefixScan.runningSum(df, Nil, "v", "cum", col("id"))
        .orderBy("id").select("cum").as[Long].collect()
      assert(got.toSeq == (1L to 2000L))
    }
    GraftCaches.releaseAll()
  }

  test("decimal scan equals the global decimal window (multi-partition)") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, BigDecimal((i * 13 % 997) + 1).setScale(2)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast(org.apache.spark.sql.types.DecimalType(14, 2)).as("v"))
    val got = PrefixScan.runningSum(df, Nil, "v", "cum", col("id"))
      .orderBy("id").select("id", "cum").collect().toSeq
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy("id").select("id", "cum").collect().toSeq
    assert(got == want)
  }

  test("correct under SQL-cache eviction; loud (never silently wrong) after release") {
    // Round-4 VERDICT: the scan used to depend on a CACHE holding so the
    // totals job and the window job observed the same `_pid` assignment —
    // a correctness dependency on a performance hint. The ranged relation
    // is localCheckpoint'ed (lineage truncated, recompute impossible), so
    // dropping the entire SQL cache layer — the worst case heap-pressure
    // eviction can produce — must not change a single row.
    import spark.implicits._
    val df = (1 to 3000).map(i => (i.toLong, ((i * 61) % 89 + 1).toLong)).toDF("id", "v")
    val scanned = PrefixScan.runningSum(df, Nil, "v", "cum", col("id"))
    spark.catalog.clearCache()   // drops every persisted SQL relation
    val got = scanned.orderBy("id").select("id", "cum").collect().toSeq
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy("id").select("id", "cum").collect().toSeq
    assert(got == want)
    // Round-8 VERDICT: releaseAll now ALSO frees the pin checkpoint
    // blocks (the storage-accumulation fix). A frame acted on after its
    // release — an API-contract violation, not an eviction — must fail
    // LOUDLY (lineage is gone), never silently recompute a different
    // `_pid` assignment.
    val scanned2 = PrefixScan.runningSum(df, Nil, "v", "cum2", col("id"))
    GraftCaches.releaseAll()
    intercept[org.apache.spark.SparkException] {
      scanned2.orderBy("id").select("cum2").collect()
    }
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(PrefixScan.runningSum(df, Nil, "v", "cum", col("id")).count() == 0)
  }

  test("grouped scan equals the per-group window cumsum (groups crossing partitions)") {
    import spark.implicits._
    // 3 groups x ~1700 rows each, forced through 8 range partitions so
    // every group spans multiple partition boundaries — the offsets must
    // stitch each group's ranges back into one exact running sum.
    val df = (1 to 5000).map(i => (i % 3, i.toLong, ((i * 37) % 101 + 1).toLong))
      .toDF("g", "id", "v")
      .repartition(8)
    val got = PrefixScan.runningSum(df, Seq("g"), "v", "cum", col("id"))
      .orderBy("g", "id").select("g", "id", "cum").collect().toSeq
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy("g", "id").select("g", "id", "cum").collect().toSeq
    assert(got == want)
    GraftCaches.releaseAll()
  }

  test("grouped decimal scan equals the per-group decimal window bit-for-bit") {
    import spark.implicits._
    val df = (1 to 4000).map(i => (i % 4, i.toLong, BigDecimal((i * 13 % 997) + 1).setScale(2)))
      .toDF("g", "id", "v")
      .select(col("g"), col("id"),
        col("v").cast(org.apache.spark.sql.types.DecimalType(14, 2)).as("v"))
    val got = PrefixScan.runningSum(df, Seq("g"), "v", "cum", col("id"))
      .orderBy("g", "id").select("g", "id", "cum").collect().toSeq
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy("g", "id").select("g", "id", "cum").collect().toSeq
    assert(got == want)
    GraftCaches.releaseAll()
  }

  test("grouped scan running count reproduces per-group row_number (desc order, ties)") {
    import spark.implicits._
    val df = (1 to 999).map(i => (i % 5, (i % 11).toLong, i.toLong, 1L))
      .toDF("g", "k", "id", "one")
    val order = Seq(col("k").desc, col("id"))
    val got = PrefixScan.runningSum(df, Seq("g"), "one", "rn", order: _*)
      .orderBy("g", "id").select("g", "id", "rn").collect().toSeq
    val w = Window.partitionBy("g").orderBy(order: _*)
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .orderBy("g", "id").select("g", "id", "rn").collect().toSeq
    assert(got == want)
    GraftCaches.releaseAll()
  }

  test("grouped scan: empty input, single group, and single-row groups") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Long, Long)].toDF("g", "id", "v")
    assert(PrefixScan.runningSum(empty, Seq("g"), "v", "cum", col("id")).count() == 0)
    GraftCaches.releaseAll()
    // One group == the global scan.
    val one = (1 to 300).map(i => (7, i.toLong, (i % 13 + 1).toLong)).toDF("g", "id", "v")
    val gotOne = PrefixScan.runningSum(one, Seq("g"), "v", "cum", col("id"))
      .orderBy("id").select("cum").as[Long].collect().toSeq
    val wantOne = (1 to 300).map(i => (1 to i).map(j => (j % 13 + 1).toLong).sum)
    assert(gotOne == wantOne)
    GraftCaches.releaseAll()
    // Every row its own group: cum == v everywhere.
    val singletons = (1 to 200).map(i => (i, i.toLong, (i * 3 % 17 + 1).toLong)).toDF("g", "id", "v")
    val gotS = PrefixScan.runningSum(singletons, Seq("g"), "v", "cum", col("id"))
      .filter(col("cum") =!= col("v")).count()
    assert(gotS == 0)
    GraftCaches.releaseAll()
  }

  test("distributed ntile equals the global ntile window (uneven n, ties, desc)") {
    import spark.implicits._
    // n=103 deliberately not divisible by most k; key collisions force the
    // id tie-break to carry the order, matching every call site's shape.
    val df = (1 to 103).map(i => (i.toLong, (i % 9).toLong)).toDF("id", "k")
    for (k <- Seq(1, 2, 3, 5, 7, 10, 32)) {
      val order = Seq(col("k").desc, col("id"))
      val got = PrefixScan.ntile(df, k, "b", order: _*)
        .orderBy("id").select("id", "b").collect().toSeq
      val want = df
        .withColumn("b", ntile(k).over(Window.orderBy(order: _*)).cast("bigint"))
        .orderBy("id").select("id", "b").collect().toSeq
      assert(got == want, s"ntile($k) diverged from the global window")
      GraftCaches.releaseAll()
    }
  }

  test("ntile with n < k gives every row its own bucket (= rank)") {
    import spark.implicits._
    val df = Seq(10L, 20L, 30L).toDF("id")
    val got = PrefixScan.ntile(df, 7, "b", col("id"))
      .orderBy("id").select("b").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
    GraftCaches.releaseAll()
  }

  test("ntile runs over MULTIPLE range partitions (no single-task window)") {
    import spark.implicits._
    val df = (1 to 4000).map(i => (i.toLong, 1L)).toDF("id", "v")
    val out = PrefixScan.ntile(df, 4, "b", col("id"))
    // The executed plan must carry NO partition-less window: every
    // WindowExec here is _pid-partitioned by construction.
    import org.apache.spark.sql.execution.window.WindowExec
    val bare = out.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty, "ntile plan must not contain an unpartitioned window")
    val got = out.orderBy("id").select("b").as[Long].collect()
    assert(got.toSeq == (1 to 4000).map(i => ((i - 1) / 1000 + 1).toLong))
    GraftCaches.releaseAll()
  }

  test("grouped scan keeps NULL group keys as a real group (round-8 ADVICE)") {
    import spark.implicits._
    // Window.partitionBy treats NULL as its own partition; the offset
    // rejoin is null-safe (<=>) so those rows must NOT be dropped.
    val df = (1 to 900)
      .map(i => (if (i % 3 == 0) None else Some(i % 2), i.toLong, (i % 13 + 1).toLong))
      .toDF("g", "id", "v")
    val got = PrefixScan.runningSum(df, Seq("g"), "v", "cum", col("id"))
      .orderBy(col("g").asc_nulls_first, col("id"))
      .select("g", "id", "cum").collect().toSeq
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .orderBy(col("g").asc_nulls_first, col("id"))
      .select("g", "id", "cum").collect().toSeq
    assert(got == want)
    assert(got.size == 900, "NULL-group rows were dropped by the offset rejoin")
    GraftCaches.releaseAll()

    // Decimal edition, same contract.
    val ddf = df.select(col("g"), col("id"),
      col("v").cast(org.apache.spark.sql.types.DecimalType(14, 2)).as("v"))
    val dgot = PrefixScan.runningSum(ddf, Seq("g"), "v", "cum", col("id"))
      .orderBy(col("g").asc_nulls_first, col("id")).select("g", "id", "cum").collect().toSeq
    val dwant = ddf.withColumn("cum", sum("v").over(w))
      .orderBy(col("g").asc_nulls_first, col("id")).select("g", "id", "cum").collect().toSeq
    assert(dgot == dwant)
    GraftCaches.releaseAll()
  }

  test("grouped scan fails LOUDLY on NULL values instead of diverging (round-8 ADVICE)") {
    import spark.implicits._
    val df = (1 to 100)
      .map(i => (i % 2, i.toLong, if (i == 37) None else Some((i % 7 + 1).toLong)))
      .toDF("g", "id", "v")
    // Global inputs: a run of NULL values mid-relation. Unguarded, the
    // global scan returned NULL running sums for those rows where the
    // window carries the prefix of the non-NULL values.
    val gdf = (1 to 1000)
      .map(i => (i.toLong, if (i >= 500 && i < 520) None else Some(i.toLong)))
      .toDF("id", "v")
    def dec(d: org.apache.spark.sql.DataFrame) = d.withColumn("v",
      col("v").cast(org.apache.spark.sql.types.DecimalType(14, 2)))
    for ((in, grp) <- Seq(df -> Seq("g"), dec(df) -> Seq("g"), gdf -> Nil, dec(gdf) -> Nil)) {
      val e = intercept[IllegalArgumentException] {
        PrefixScan.runningSum(in, grp, "v", "cum", col("id")).count()
      }
      assert(e.getMessage.contains("NULL"), s"${in.schema("v").dataType} groups=$grp")
      GraftCaches.releaseAll()
    }
  }

  test("runningSums: several columns in one scan, grand totals from the scan's collect") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (i % 4, i.toLong, (i % 11).toLong, 1L)).toDF("g", "id", "v", "one")
      .withColumn("d", (col("v") / 4).cast(org.apache.spark.sql.types.DecimalType(14, 2)))
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (got, tot) = PrefixScan.runningSums(df, Seq("g"),
      Seq("v" -> "cv", "one" -> "rn", "d" -> "cd"), col("id"))
    val want = df.withColumn("cv", sum("v").over(w)).withColumn("rn", sum("one").over(w))
      .withColumn("cd", sum("d").over(w))
    assert(got.schema == want.schema)
    assert(got.orderBy("id").collect().toSeq == want.orderBy("id").collect().toSeq)
    val wantTot = df.groupBy("g").agg(sum("v").as("v"), sum("one").as("one"), sum("d").as("d"))
    assert(tot.schema.map(f => f.name -> f.dataType) == wantTot.schema.map(f => f.name -> f.dataType))
    assert(tot.orderBy("g").collect().toSeq == wantTot.orderBy("g").collect().toSeq)
    GraftCaches.releaseAll()
    // Global: one totals row, also for an empty input.
    val (_, gTot) = PrefixScan.runningSums(df, Nil, Seq("v" -> "cv", "d" -> "cd"), col("id"))
    assert(gTot.collect().toSeq == df.agg(sum("v"), sum("d")).collect().toSeq)
    GraftCaches.releaseAll()
    val (_, eTot) = PrefixScan.runningSums(df.filter(lit(false)), Nil, Seq("v" -> "cv"), col("id"))
    assert(eTot.collect().toSeq.map(_.getLong(0)) == Seq(0L))
    GraftCaches.releaseAll()
  }
}
