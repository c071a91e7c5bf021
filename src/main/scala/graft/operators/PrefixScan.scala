package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType, StructField, StructType}

/** Distributed exact prefix scan: running sums (global or per group) and
  * `ntile`, with every stage partition-parallel. A global
  * `Window.orderBy(...)` moves the whole relation into one task, and a
  * `Window.partitionBy(grp)` over few groups puts a whole group in one
  * task; this operator computes the identical result in two phases:
  *
  *   1. `repartitionByRange` on (group, order) gives disjoint, ordered
  *      ranges; each row is tagged `_pid` = its range partition.
  *   2. one collect returns the totals and NULL counts per (`_pid`,
  *      group); the driver prefix-adds them per group into per-partition
  *      offsets and grand totals.
  *   3. a (`_pid`, group)-partitioned running-sum window plus the
  *      broadcast offset yields the running sum over the whole group.
  *
  * Invariants:
  *   - `order` is a TOTAL order within each group: it must end in a
  *     unique tie-break. With duplicate keys across a range boundary the
  *     per-partition windows could not reconstruct one order.
  *   - Value columns sum to Long or exact Decimal, whose addition is
  *     associative, so the result is bit-equal to the window at any
  *     partitioning. Offsets and outputs carry the sum's own analyzed type.
  *   - The ranged relation is pinned ([[graft.GraftCaches.pin]]) before
  *     the collect, which freezes `_pid`: `spark_partition_id()` is
  *     nondeterministic across executions (AQE may re-coalesce), and the
  *     collect and the window read the same checkpointed RDD. The pin is
  *     lazy: the collect is its first action and stores the blocks; a
  *     lost block fails loudly instead of recomputing.
  *   - NULL values are rejected: the window's running sum stays NULL
  *     until a group's first non-NULL value, which per-partition offsets
  *     cannot reconstruct.
  *   - NULL group keys are kept as a real group, as `Window.partitionBy`
  *     does: the offsets rejoin on `<=>`.
  */
object PrefixScan {

  /** Adds `outCol` = running sum of `valueCol` over `order`, per group of
    * `groupCols` (empty for a global scan). */
  def runningSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
      outCol: String, order: Column*): DataFrame =
    scan(df, groupCols, Seq(valueCol -> outCol), order)._1

  /** Adds one running sum per (value, output) column pair in one scan, and
    * returns the grand totals from the scan's own collect as a local
    * DataFrame: `groupCols` plus one column per value column, named after
    * it and typed as its sum. A global scan has exactly one totals row. */
  def runningSums(df: DataFrame, groupCols: Seq[String], cols: Seq[(String, String)],
      order: Column*): (DataFrame, DataFrame) =
    scan(df, groupCols, cols, order)

  /** Adds `outCol` = `ntile(k)` over `order` as BIGINT, value-identical to
    * `ntile(k).over(Window.orderBy(order: _*))`: the first `n % k` buckets
    * carry ⌈n/k⌉ rows, the rest ⌊n/k⌋. The global rank is a running count
    * over the scan; the bucket is integer arithmetic on (rank, n, k) with
    * `n` from the scan's totals. */
  def ntile(df: DataFrame, k: Int, outCol: String, order: Column*): DataFrame = {
    require(k >= 1, s"ntile k must be >= 1, got $k")
    val (ranked, totals) = scan(df.withColumn("_one", lit(1L)), Nil, Seq("_one" -> "_rnk"), order)
    val n = totals.first().getLong(0)
    val q = n / k
    val rem = n % k
    val bucket =
      if (q == 0L) col("_rnk") // n < k: every row its own bucket, bucket = rank
      else expr(
        s"CASE WHEN _rnk <= ${(q + 1) * rem} THEN (_rnk + $q) DIV ${q + 1} " +
        s"ELSE $rem + (_rnk - ${(q + 1) * rem} + ${q - 1}) DIV $q END")
    ranked.withColumn(outCol, bucket.cast("bigint")).drop("_one", "_rnk")
  }

  private def scan(df: DataFrame, groupCols: Seq[String], cols: Seq[(String, String)],
      order: Seq[Column]): (DataFrame, DataFrame) = {
    require(cols.nonEmpty, "PrefixScan: no value columns")
    val spark = df.sparkSession
    val keys = groupCols.map(col)
    val parted = graft.GraftCaches.pin(
      df.repartitionByRange(keys ++ order: _*).withColumn("_pid", spark_partition_id()),
      eager = false)
    val sumTypes = parted.select(cols.map { case (v, _) => sum(col(v)) }: _*)
      .schema.map(_.dataType)
    cols.zip(sumTypes).foreach { case ((v, _), t) =>
      require(t == LongType || t.isInstanceOf[DecimalType],
        s"PrefixScan: value column '$v' sums to $t; only Long and exact Decimal sums are supported")
    }
    val aggs = cols.zip(sumTypes).map { case ((v, _), t) => sum(col(v)).cast(t) } ++
      cols.map { case (v, _) => count(col(v)) }
    val g = groupCols.length
    val k = cols.length
    // One row per non-empty (partition, group): _pid, keys, n, totals, non-NULL counts.
    val parts = parted.groupBy(col("_pid") +: keys: _*)
      .agg(count(lit(1)), aggs: _*)
      .collect()
    parts.foreach { r =>
      cols.indices.foreach { i =>
        val nulls = r.getLong(g + 1) - r.getLong(g + 2 + k + i)
        require(nulls == 0L,
          s"PrefixScan: value column '${cols(i)._1}' contains $nulls NULL row(s); " +
            "a running-sum window and this two-phase scan disagree on NULL " +
            "prefixes. coalesce() the column (or filter NULLs) before the scan.")
      }
    }
    val zero: Seq[Any] = sumTypes.map(t => if (t == LongType) 0L else java.math.BigDecimal.ZERO)
    def plus(a: Seq[Any], b: Seq[Any]): Seq[Any] = a.zip(b).map {
      case (x: Long, y: Long) => x + y
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    }
    // A global scan always has its one group, so an empty input still
    // yields a (zero) totals row.
    val groups = if (g == 0) Map(Seq.empty[Any] -> parts.toSeq)
      else parts.toSeq.groupBy(r => (1 to g).map(r.get))
    // Per group: exclusive prefix over ascending _pid, and the grand total.
    val perGroup = groups.toSeq.map { case (key, rows) =>
      val sorted = rows.sortBy(_.getInt(0))
      val prefix = sorted.scanLeft(zero)((acc, r) => plus(acc, (g + 2 until g + 2 + k).map(r.get)))
      (sorted.zip(prefix).map { case (r, off) => Row.fromSeq((r.getInt(0) +: key) ++ off) },
        Row.fromSeq(key ++ prefix.last))
    }
    val field: ((String, DataType)) => StructField = { case (n, t) => StructField(n, t) }
    val keyFields = groupCols.map(parted.schema(_))
    val offCols = cols.indices.map(i => s"_off$i")
    val offDf = local(spark, perGroup.flatMap(_._1),
      (StructField("_pid", IntegerType) +: keyFields) ++ offCols.zip(sumTypes).map(field))
    val totals = local(spark, perGroup.map(_._2), keyFields ++ cols.map(_._1).zip(sumTypes).map(field))
    val off = broadcast(offDf)
    val cond = (parted("_pid") === off("_pid")) +: groupCols.map(c => parted(c) <=> off(c))
    val joined = (off("_pid") +: groupCols.map(off(_)))
      .foldLeft(parted.join(off, cond.reduce(_ && _)))(_.drop(_))
    val w = Window.partitionBy(col("_pid") +: keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = cols.zip(offCols).zip(sumTypes).foldLeft(joined) { case (d, (((v, o), oc), t)) =>
      d.withColumn(o, (col(oc) + sum(col(v)).over(w)).cast(t))
    }.drop("_pid" +: offCols: _*)
    (out, totals)
  }

  private def local(spark: SparkSession, rows: Seq[Row], fields: Seq[StructField]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields))
}
