package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.operators.Calendar

/** Core relational queries over the shared fixture tables, each with a
  * DuckDB oracle (SURVEY §5.2.1). Naming ties back to SURVEY §2 operator ids.
  *
  * Float-parity notes (binding for every oracle in this repo):
  *  - double SUMs are computed as `SUM(CAST(x AS DECIMAL))` then cast back to
  *    double — decimal addition is exact and associative, so Spark's
  *    partition-parallel partial aggregation and DuckDB's sequential sum
  *    agree bit-for-bit; a raw double SUM would be order-dependent.
  *  - doubles are never formatted into strings (Java vs DuckDB repr differ).
  */
object Relational {

  /** A1-A4 flagship: weekly calendar over `events` (week = 1-based week
    * since 2024-01-01, the generator's epoch). Reference:
    * etl_pipeline.py:74-123 (flatten, group, sort, join). */
  def calendarWeekly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    Calendar.weekly(
      e,
      week = (floor(datediff(col("ts").cast("date"), to_date(lit("2024-01-01"))) / 7) + 1).cast("int"),
      sortKey = col("event_id"),
      line = concat(lit("•"), col("event_id"), lit(": "), col("event_type")))
  }

  val calendarWeeklySql: String =
    """SELECT week, COUNT(*) AS n_events, STRING_AGG(line, CHR(10) ORDER BY event_id) AS content
      |FROM (SELECT CAST(FLOOR(DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) + 1 AS INT) AS week,
      |             event_id, '•' || event_id || ': ' || event_type AS line
      |      FROM events) t
      |GROUP BY week ORDER BY week""".stripMargin

  /** TPC-H Q1-shaped pricing summary: scan-heavy groupBy on low-cardinality
    * keys — at 100 TB this is all map-side partial aggregation; the shuffle
    * moves only |groups| x |partitions| rows. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Exact decimal arithmetic: money columns are 2-decimal values, so the
    // decimal products/sums are exact on both engines; a double SUM (or a
    // double-product-then-round) would diverge on rounding ties.
    val price = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc  = col("l_discount").cast(DecimalType(4, 2))
    val tax   = col("l_tax").cast(DecimalType(4, 2))
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
        sum(price * (lit(1) - disc) * (lit(1) + tax)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** T12 (etl_infrastructure.py:189-232 + config.json): the week→date
    * enrichment the reference stubbed out with constants, done for real:
    * join the period dimension (here nation/region stand in as the broadcast
    * dims) and compute initial/last dates by date arithmetic. nation and
    * region are broadcast — at 100 TB the fact side streams map-side with no
    * shuffle for those joins; the orders⋈customer join shuffles on the key. */
  def weekDateEnrich(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val weekNo = (col("o_orderkey") % 4 + 1).cast("int")
    val start = col("o_orderdate").cast("date")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("o_orderkey"), col("n_name"), weekNo.as("week_no"),
        // dates surfaced as timestamps: parquet DATE and DuckDB DATE reach
        // pandas as different types (date vs Timestamp) in the compare
        date_add(start, (weekNo - 1) * 7).cast("timestamp").as("initial_date"),
        date_add(start, weekNo * 7 - 1).cast("timestamp").as("last_date"))
  }

  val weekDateEnrichSql: String =
    """SELECT o_orderkey, n_name,
      |  CAST(o_orderkey % 4 + 1 AS INT) AS week_no,
      |  CAST(CAST(o_orderdate AS DATE) + CAST((o_orderkey % 4) * 7 AS INT) AS TIMESTAMP) AS initial_date,
      |  CAST(CAST(o_orderdate AS DATE) + CAST((o_orderkey % 4 + 1) * 7 - 1 AS INT) AS TIMESTAMP) AS last_date
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY o_orderkey""".stripMargin

  /** Top-k per group via ranking window (the reference has no top-k; this is
    * the engine-surface staple). Ties broken by key for determinism. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
  }

  val topkPerGroupSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin

  /** A2/A4 (etl_pipeline.py:77-122): group-collect with pinned in-group
    * order + delimiter fold, over the documents dimensions. */
  def groupCollectSorted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))), _.cast("string")), ",").as("ids"))

  val groupCollectSortedSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  STRING_AGG(doc_id, ',' ORDER BY doc_id) AS ids
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** A5 (etl_courses.py:17): count processed rows. */
  def countAll(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"))

  val countAllSql: String = "SELECT COUNT(*) AS n_rows FROM lineitem"

  /** S5 (etl_infrastructure.py:160-166): point lookup by id column — real,
    * unlike the reference's filename-glob that can never match (SURVEY §7.3).
    * At scale the predicate is pushed into the parquet scan. */
  def findById(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") === 42)
      .select("doc_id", "text", "lang", "source", "n_chars")

  val findByIdSql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id = 42"

  /** S6 (etl_infrastructure.py:168-170): the stubbed find_by_period, real:
    * range predicate over the date column, pushed to the scan. */
  def findByPeriod(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  val findByPeriodSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H-Q5-shaped multi-join revenue rollup: fact-fact shuffle join on
    * the order key, dimension joins broadcast, exact decimal revenue. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val revenue = (col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** TPC-H Q8-shaped market-share query: for orders placed by ASIA-region
    * customers, each supplier nation's share of yearly revenue — the
    * deepest join tree in the relational surface (lineitem ⋈ orders ⋈
    * customer ⋈ nation ⋈ region + a second, aliased nation dimension on
    * the supplier side). The plan the engine wants and gets: ONE
    * fact-fact shuffle (lineitem ⋈ orders), every dimension a broadcast
    * hash join, revenue summed as exact DECIMAL, and the per-year share
    * window running over the ≤|years|·|nations| aggregated relation with
    * a single end-stage double division. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val revenue = (col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custRegion = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("c_custkey"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"), col("supp_nation"))
      .agg(sum(revenue).as("rev_dec"))
      .withColumn("year_total", sum("rev_dec").over(Window.partitionBy("o_year")))
      .select(col("o_year"), col("supp_nation"),
        col("rev_dec").cast("double").as("revenue"),
        (col("rev_dec").cast("double") / col("year_total").cast("double")).as("share"))
  }

  val marketShareSql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |        (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE r_name = 'ASIA'
      |  GROUP BY 1, 2)
      |SELECT o_year, supp_nation, CAST(rev_dec AS DOUBLE) AS revenue,
      |  CAST(rev_dec AS DOUBLE) /
      |    CAST(SUM(rev_dec) OVER (PARTITION BY o_year) AS DOUBLE) AS share
      |FROM g ORDER BY o_year, supp_nation""".stripMargin

  /** Last-touch attribution: each purchase event attaches the LATEST
    * preceding click of the same user plus the click→purchase lag — the
    * marketing-attribution join every product-analytics warehouse runs
    * nightly, expressed as the backward as-of operator
    * ([[graft.operators.AsOfJoin.asOf]]) keyed on the user: one union,
    * ONE user exchange, a running last-non-null — never a per-purchase
    * range probe. Purchases with no prior click keep null click_id
    * (unattributed). */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(
        purchases, clicks,
        leftKey = col("user_id"), rightKey = col("user_id"),
        leftTime = col("ts"), rightTime = col("ts"),
        rightTie = "event_id", rightPayload = Seq("event_id", "ts"))
      .select(col("purchase_id"), col("user_id"),
        col("asof_event_id").as("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag_us"))
  }

  val attributionLastTouchSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, ts AS t, 1 AS side, NULL::BIGINT AS tie,
      |         NULL::BIGINT AS p_id, NULL::TIMESTAMP AS p_ts,
      |         event_id AS purchase_id, user_id, ts
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0, event_id, event_id, ts, NULL, NULL, NULL
      |  FROM events WHERE event_type = 'click'),
      |w AS (
      |  SELECT side, purchase_id, user_id, ts,
      |    last_value(p_id IGNORE NULLS) OVER win AS click_id,
      |    last_value(p_ts IGNORE NULLS) OVER win AS click_ts
      |  FROM u
      |  WINDOW win AS (PARTITION BY k ORDER BY t, side, tie
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT purchase_id, user_id, click_id,
      |       epoch_us(ts) - epoch_us(click_ts) AS lag_us
      |FROM w WHERE side = 1""".stripMargin

  /** Join-cardinality estimation audit — the planner's-eye view of a
    * join before running it: compare the uniform-key estimate every
    * cost-based optimizer starts from (|L|·|R| / max(ndv_l, ndv_r)) with
    * the EXACT output size Σ_k n_l(k)·n_r(k) from the per-key histograms.
    * skew_ratio ≫ 1 means the uniform assumption underestimates (skewed
    * keys → a salting/AQE-skew candidate); ≈1 means broadcast/shuffle
    * sizing can trust the estimate. Two per-key count aggregates + a
    * tiny key-relation full-outer join + a 1-row fold — the audit costs
    * two scans, never the join itself. */
  def joinCardAudit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(spark, dir)
      .groupBy((col("user_id") % 25).as("k")).agg(count(lit(1)).as("nl"))
    val r = Tables.orders(spark, dir)
      .groupBy((col("o_custkey") % 25).as("k")).agg(count(lit(1)).as("nr"))
    l.join(r, Seq("k"), "full_outer")
      .agg(
        sum(coalesce(col("nl"), lit(0L))).as("n_left"),
        sum(coalesce(col("nr"), lit(0L))).as("n_right"),
        count(col("nl")).as("ndv_left"),
        count(col("nr")).as("ndv_right"),
        sum(coalesce(col("nl"), lit(0L)) * coalesce(col("nr"), lit(0L))).as("actual"))
      .select(col("n_left"), col("n_right"), col("ndv_left"), col("ndv_right"),
        expr("(n_left * n_right) div greatest(ndv_left, ndv_right)").as("est_uniform"),
        col("actual"),
        (col("actual").cast("double") /
          expr("(n_left * n_right) div greatest(ndv_left, ndv_right)").cast("double"))
          .as("skew_ratio"))
  }

  val joinCardAuditSql: String =
    """WITH l AS (SELECT user_id % 25 AS k, COUNT(*) AS nl FROM events GROUP BY 1),
      |r AS (SELECT o_custkey % 25 AS k, COUNT(*) AS nr FROM orders GROUP BY 1),
      |j AS (SELECT l.nl, r.nr FROM l FULL OUTER JOIN r USING (k)),
      |a AS (
      |  SELECT CAST(SUM(COALESCE(nl, 0)) AS BIGINT) AS n_left,
      |         CAST(SUM(COALESCE(nr, 0)) AS BIGINT) AS n_right,
      |         COUNT(nl) AS ndv_left, COUNT(nr) AS ndv_right,
      |         CAST(SUM(COALESCE(nl, 0) * COALESCE(nr, 0)) AS BIGINT) AS actual
      |  FROM j)
      |SELECT n_left, n_right, ndv_left, ndv_right,
      |  (n_left * n_right) // greatest(ndv_left, ndv_right) AS est_uniform,
      |  actual,
      |  CAST(actual AS DOUBLE) /
      |    CAST((n_left * n_right) // greatest(ndv_left, ndv_right) AS DOUBLE)
      |    AS skew_ratio
      |FROM a""".stripMargin

  /** RFM segmentation — the canonical customer-value model: per user,
    * Recency (days since last event vs the corpus max date), Frequency
    * (purchase count), Monetary (micro-rounded exact decimal purchase
    * value), each cut into terciles with (metric, user) total order so
    * ties are deterministic (recency ordered DESC so tercile 3 is
    * always the "best" band) and concatenated into the familiar
    * "R-F-M" segment label. ONE user-keyed aggregate over events + the
    * 1-row max-date broadcast; the three tercile cuts ride
    * [[graft.operators.PrefixScan.ntile]] — value-identical to the
    * global ntile window but partition-parallel, so the |users|-sized
    * relation never lands in a single task at population scale. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val maxTs = Tables.events(spark, dir).agg(max(to_date(col("ts"))).as("d0"))
    val isP = col("event_type") === "purchase"
    val base = Tables.events(spark, dir)
      .crossJoin(broadcast(maxTs))
      .groupBy("user_id")
      .agg(min(datediff(col("d0"), to_date(col("ts")))).as("recency_days"),
        sum(when(isP, 1L).otherwise(0L)).as("frequency"),
        (sum(when(isP, round(col("value") * lit(1e6)).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).cast("double") / 1e6)
          .as("monetary"))
    val withR = PrefixScan.ntile(base, 3, "r_band",
      col("recency_days").desc, col("user_id"))
    val withF = PrefixScan.ntile(withR, 3, "f_band",
      col("frequency"), col("user_id"))
    val withM = PrefixScan.ntile(withF, 3, "m_band",
      col("monetary"), col("user_id"))
    withM.withColumn("segment",
      concat_ws("-", col("r_band"), col("f_band"), col("m_band")))
  }

  val rfmSegmentsSql: String =
    """WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events),
      |u AS (
      |  SELECT user_id,
      |    CAST(MIN(d0 - CAST(ts AS DATE)) AS BIGINT) AS recency_days,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS frequency,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |                  THEN CAST(round(value * 1000000.0) AS DECIMAL(38,0))
      |                  ELSE 0::DECIMAL(38,0) END) AS DOUBLE) / 1000000.0 AS monetary
      |  FROM events CROSS JOIN mx GROUP BY user_id)
      |SELECT user_id, recency_days, frequency, monetary,
      |  ntile(3) OVER (ORDER BY recency_days DESC, user_id) AS r_band,
      |  ntile(3) OVER (ORDER BY frequency, user_id) AS f_band,
      |  ntile(3) OVER (ORDER BY monetary, user_id) AS m_band,
      |  ntile(3) OVER (ORDER BY recency_days DESC, user_id) || '-' ||
      |    ntile(3) OVER (ORDER BY frequency, user_id) || '-' ||
      |    ntile(3) OVER (ORDER BY monetary, user_id) AS segment
      |FROM u""".stripMargin

  /** Gap-based sessionization over the event stream: a new session starts
    * when a user's inter-event gap exceeds 7 days. lag + running sum over
    * one (user, time) window, then a same-key aggregation — a single hash
    * exchange on user_id end to end; state per user is one row of window
    * context, so the plan holds at any event volume. Microsecond epoch
    * math on both engines (second-truncation could disagree on
    * sub-second gaps). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapMicros = 7L * 24 * 3600 * 1000000L
    val prev = lag(col("ts"), 1).over(w)
    val newSession = when(
      prev.isNull || unix_micros(col("ts")) - unix_micros(prev) > gapMicros, 1)
      .otherwise(0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("session_no", sum(newSession).over(run))
      .groupBy("user_id", "session_no")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        min(col("event_id")).as("first_event"))
  }

  val sessionizeSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 604800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM x)
      |SELECT user_id, session_no, COUNT(*) AS n_events,
      |       MIN(ts) AS session_start, MAX(ts) AS session_end, MIN(event_id) AS first_event
      |FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin

  /** Session path mining — the top navigation sequences: within each
    * 7-day-gap session (the `sessionize` construction), the first 8
    * event types in (ts, event_id) order join into a path string, and
    * the 20 most common paths surface — the "how do users actually move"
    * readout behind funnel design (funnel_stages asserts ONE path;
    * this discovers which paths exist). The path cap bounds both the
    * string and the path-key domain; the per-session order is fixed via
    * sort_array over (ts, event_id, type) structs (collect_list alone
    * has no order contract). Session window + rank reuse ONE user
    * exchange; path counting is a map-side-combined aggregate; top-20
    * is a TakeOrdered heap, never a global sort. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapMicros = 7L * 24 * 3600 * 1000000L
    val prev = lag(col("ts"), 1).over(w)
    val newSession = when(
      prev.isNull || unix_micros(col("ts")) - unix_micros(prev) > gapMicros, 1)
      .otherwise(0)
    val sw = Window.partitionBy("user_id", "session_no")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("session_no", sum(newSession).over(run))
      .withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= 8)
      .groupBy("user_id", "session_no")
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("t"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(transform(col("evs"), e => e("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  val sessionPathsSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 604800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM x),
      |r AS (
      |  SELECT user_id, session_no, event_id, ts, event_type,
      |    row_number() OVER (PARTITION BY user_id, session_no
      |                       ORDER BY ts, event_id) AS rn
      |  FROM s),
      |p AS (
      |  SELECT user_id, session_no,
      |    STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM r WHERE rn <= 8 GROUP BY user_id, session_no)
      |SELECT path, COUNT(*) AS n_sessions
      |FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin

  /** Inter-event gap histogram — the empirical input behind every
    * timeout knob in this surface (the sessionize 7-day gap, the
    * watermark tolerance, state TTLs): per-user consecutive gaps in
    * (ts, event_id) order, bucketed by integer-exact magnitude bands
    * (comparison ladder, no float log — boundary values land
    * deterministically on both engines). ONE user-keyed exchange for
    * the lag window, then a ≤7-group aggregate. */
  def gapHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val bucket = when(col("gap_us") < 1000000L, "a_under_1s")
      .when(col("gap_us") < 60000000L, "b_under_1min")
      .when(col("gap_us") < 3600000000L, "c_under_1h")
      .when(col("gap_us") < 86400000000L, "d_under_1d")
      .when(col("gap_us") < 604800000000L, "e_under_7d")
      .otherwise("f_over_7d")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("gap_us", gap)
      .filter(col("gap_us").isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_gaps"), min("gap_us").as("min_us"),
        max("gap_us").as("max_us"))
  }

  val gapHistogramSql: String =
    """WITH g AS (
      |  SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT CASE WHEN gap_us < 1000000 THEN 'a_under_1s'
      |            WHEN gap_us < 60000000 THEN 'b_under_1min'
      |            WHEN gap_us < 3600000000 THEN 'c_under_1h'
      |            WHEN gap_us < 86400000000 THEN 'd_under_1d'
      |            WHEN gap_us < 604800000000 THEN 'e_under_7d'
      |            ELSE 'f_over_7d' END AS bucket,
      |       COUNT(*) AS n_gaps, MIN(gap_us) AS min_us, MAX(gap_us) AS max_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rollup aggregate (engine-surface staple the reference lacks):
    * status × priority revenue with subtotal and grand-total rows in one
    * pass — Catalyst expands the grouping sets before the (partial) hash
    * aggregation, so the shuffle still carries only group rows. NULL
    * grouping keys are coalesced to a sentinel so both engines order and
    * hash identically. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("total_price"), col("n_orders"))

  val rollupRevenueSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS status,
      |       COALESCE(o_orderpriority, '(all)') AS priority,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
      |       COUNT(*) AS n_orders
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** CUBE grouping sets — all four (status × priority) marginal
    * combinations in one pass of partial aggregates (the full
    * grouping-sets surface next to rollup's prefix chain). */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("total_price"), col("n_orders"))

  val cubeRevenueSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS status,
      |       COALESCE(o_orderpriority, '(all)') AS priority,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
      |       COUNT(*) AS n_orders
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** GROUPING SETS beyond cube/rollup: an explicit, non-lattice set
    * list — (status, priority), (status), () but NOT (priority) — the
    * shape reports actually want (cube computes 4 sets; this computes
    * exactly the 3 asked for, one pass, partial-aggregated per set).
    * Spark 4's `Dataset.groupingSets` API. */
  def groupingSetsMix(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("total_price"), col("n_orders"))

  val groupingSetsMixSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS status,
      |       COALESCE(o_orderpriority, '(all)') AS priority,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
      |       COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** lag/lead neighbors within a user's event sequence — the
    * feature-engineering window every sequence model starts from
    * (inter-event value deltas). One window sort per user partition,
    * event_id as the deterministic order; edge rows carry NULLs.
    * Doubles subtract bit-identically on both engines (IEEE 754), so
    * the delta is hash-checkable without decimal laundering. */
  def leadLagDelta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
  }

  val leadLagDeltaSql: String =
    """SELECT user_id, event_id, value,
      |       lag(value) OVER w AS prev_value,
      |       lead(value) OVER w AS next_value,
      |       value - lag(value) OVER w AS delta
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's event stream in (ts, event_id) order, count (from_type →
    * to_type) transitions and each row's share within its from_type —
    * the funnel/behavior-model input every product-analytics pipeline
    * derives. ONE user-keyed exchange for the lead window (the same
    * sessionize partitioning), then a map-side-combined pair aggregate;
    * the share window runs over ≤|types|² rows. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_share", col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_type")).cast("double"))
  }

  val eventTransitionsSql: String =
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |g AS (SELECT from_type, to_type, COUNT(*) AS n
      |      FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS from_share
      |FROM g ORDER BY from_type, to_type""".stripMargin

  /** Out-of-orderness audit — the watermark-sizing input for every
    * streaming job: per user, in ARRIVAL order (event_id), an event is
    * "late" when its event time sits more than 10 minutes behind the
    * maximum event time already seen for that user (the
    * withWatermark("10 minutes") drop rule applied relationally). Emits
    * per-user late counts and the worst lateness in microseconds — read
    * it to decide whether the configured watermark would lose data. ONE
    * user-keyed exchange: the running-max window and the follow-up
    * aggregate share the same partitioning. */
  def lateEventAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tol = 600000000L // 10 min in microseconds
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
      .withColumn("hwm", max(col("t")).over(w))
      .withColumn("late_us",
        when(col("hwm") - col("t") > tol, col("hwm") - col("t")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("late_us")).as("n_late"),
        max(col("late_us")).as("max_late_us"))
  }

  val lateEventAuditSql: String =
    """WITH s AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM events),
      |l AS (SELECT user_id,
      |        CASE WHEN hwm - t > 600000000 THEN hwm - t END AS late_us
      |      FROM s)
      |SELECT user_id, COUNT(*) AS n_events, COUNT(late_us) AS n_late,
      |       MAX(late_us) AS max_late_us
      |FROM l GROUP BY user_id""".stripMargin

  /** RANGE-frame window: per-user trailing 24h sum of `value` — the
    * time-decayed feature window (RANGE frames bound by the ORDER-BY
    * VALUE distance, not row count, so ties and gaps behave correctly
    * where a ROWS frame would not). Exact decimal running sums. */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayMicros = 24L * 3600 * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("t"))
      .rangeBetween(-dayMicros, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .withColumn("trailing_24h", sum(col("v")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("trailing_24h"))
  }

  val windowRangeFrameSql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS trailing_24h
      |FROM events""".stripMargin

  /** Ranking-function breadth in one pass: dense_rank / percent_rank /
    * cume_dist, all tie-aware (tie rows get identical outputs), so the
    * result is deterministic without a unique tiebreak — the property
    * that makes them safe on real data where the order key repeats.
    * Computed from the (class, value) level relation via grouped
    * PrefixScan + a fact rejoin — never a per-class population window. */
  def rankMetrics(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    // Tie-aware ranks WITHOUT the per-class population window:
    // all three functions are pure arithmetic over the (class, value)
    // LEVEL relation — rank = rows strictly below + 1, dense_rank =
    // level index, cume_dist = inclusive level count / n — so the
    // cumulative counts ride the grouped PrefixScan over levels (far
    // smaller than the fact table) and rejoin the facts by an equi-join
    // on (class, value). Division trees match the builtin window
    // functions bit-for-bit ((rank−1)/(n−1), cum/n — one IEEE division
    // each).
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val lv = o.groupBy("o_orderpriority", "o_totalprice")
      .agg(count(lit(1)).as("c"))
      .withColumn("one", lit(1L))
    // ONE two-column grouped prefix scan (guide §1.2/§2.4):
    // two chained single-column scans paid two range
    // shuffles + pins + totals collects over the same level relation,
    // and the per-class row count `n` re-scanned the whole FACT table —
    // but n = Σ c over the class's levels, which the grouped scan's own
    // totals collect already knows. Same rows, same doubles (the totals
    // DataFrame carries the identical BIGINT the fact-side count did).
    val (dense, n) = PrefixScan.runningSums(
      lv, Seq("o_orderpriority"), Seq("c" -> "cum_incl", "one" -> "drank"),
      col("o_totalprice"))
    val levels = dense
      .join(broadcast(n.select(col("o_orderpriority"), col("c").as("n"))), "o_orderpriority")
      .select(col("o_orderpriority"), col("o_totalprice"), col("drank"),
        when(col("n") > 1L, (col("cum_incl") - col("c")).cast("double") /
          (col("n") - 1L).cast("double")).otherwise(lit(0.0)).as("prank"),
        (col("cum_incl").cast("double") / col("n").cast("double")).as("cdist"))
    o.join(levels, Seq("o_orderpriority", "o_totalprice"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("drank"), col("prank"), col("cdist"))
  }

  val rankMetricsSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  dense_rank() OVER w AS drank,
      |  percent_rank() OVER w AS prank,
      |  cume_dist() OVER w AS cdist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)""".stripMargin

  /** Snapshot upsert (MERGE without a table format): the incremental-
    * refresh shape — updates replace base rows by key, inserts append —
    * as anti-join + union. Both legs shuffle on the key once; at 100 TB
    * this is the compaction job every parquet-lake pipeline runs. The
    * "updates" batch is derived deterministically from the fixture
    * (every 10th order re-priced) so the oracle replays the same merge. */
  def upsertSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(14, 2)).as("price"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("price", (col("price") * 2).cast(DecimalType(14, 2)))
      .withColumn("o_orderstatus", lit("R"))
    base.join(updates.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(updates)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
  }

  val upsertSnapshotSql: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus,
      |                     CAST(o_totalprice AS DECIMAL(14,2)) AS price
      |              FROM orders),
      |upd AS (SELECT o_orderkey, 'R' AS o_orderstatus,
      |               CAST(price * 2 AS DECIMAL(14,2)) AS price
      |        FROM base WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      |FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price FROM upd""".stripMargin

  /** Equi-width histogram via `width_bucket` — the profiling scan every
    * ingest runs (distribution sketch per type, one partial-aggregated
    * groupBy; bucket index math is identical SQL-standard semantics on
    * both engines, including the under/overflow buckets 0 and n+1). */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        width_bucket(col("value"), lit(0d), lit(500d), lit(10L)).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("bucket_sum"))

  // DuckDB has no width_bucket: the oracle spells out the SQL-standard
  // semantics (underflow 0, overflow n+1, else floor((v-low)/width)+1;
  // width = 50.0 is exact in binary so the division is bit-identical).
  val valueHistogramSql: String =
    """SELECT event_type,
      |       CASE WHEN value < 0.0 THEN 0
      |            WHEN value >= 500.0 THEN 11
      |            ELSE CAST(FLOOR(value / 50.0) AS BIGINT) + 1 END AS bucket,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_sum
      |FROM events GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  /** Running share within a partition: each order's cumulative fraction
    * of its priority class's total — the per-class running sum rides the
    * grouped decimal PrefixScan (exact at any partitioning), class
    * totals fold once and broadcast back, a single double division per
    * row. */
  def runningShare(spark: SparkSession, dir: String): DataFrame = {
    // The per-class running decimal sum rides the GROUPED PrefixScan:
    // a 5-priority partitioned window is |orders|/5 rows in
    // one task at population scale. Class totals come from a plain
    // per-class fold broadcast back — exact decimal both ways.
    // Class totals come from the grouped scan's own per-(partition,
    // group) collect (guide §1.2): no separate per-class fold, and no
    // cache whose blocks its broadcast build would race the scan for
    // (sibling-consumer lock-wait); `base` has
    // ONE consumer chain. Exact decimal both ways (BigDecimal addition
    // is associative), identical values and sum type.
    val base = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(14, 2)).as("p"))
    val (cum, tot) = graft.operators.PrefixScan.runningSums(
      base, Seq("o_orderpriority"), Seq("p" -> "running_dec"), col("o_orderkey"))
    cum.join(broadcast(tot.withColumnRenamed("p", "total_dec")), "o_orderpriority")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("running_dec").cast("double").as("running"),
        col("total_dec").cast("double").as("class_total"))
      .withColumn("running_share", col("running") / col("class_total"))
  }

  val runningShareSql: String =
    """SELECT o_orderpriority, o_orderkey, running, class_total,
      |       running / class_total AS running_share
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
      |      PARTITION BY o_orderpriority ORDER BY o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
      |      PARTITION BY o_orderpriority) AS DOUBLE) AS class_total
      |  FROM orders WHERE o_totalprice > 400000) t
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** As-of join (AsOfJoin.asOf): each event picks up the latest order of
    * its key bucket placed on or before the event time — union + running
    * last-non-null window, one hash exchange on the key, no row blow-up.
    * Equal-time ties resolve to the max o_orderkey; events with no prior
    * order keep null payload (left outer as-of). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val leftWithT = Tables.events(spark, dir)
      .select(col("event_id"), (col("user_id") % 25).as("ukey"), col("ts"))
    graft.operators.AsOfJoin.asOf(
        leftWithT, Tables.orders(spark, dir),
        leftKey = col("ukey"), rightKey = col("o_custkey") % 25,
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightTie = "o_orderkey", rightPayload = Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "ukey", "asof_o_orderkey", "asof_o_totalprice")
  }

  val asofJoinSql: String =
    """WITH u AS (
      |  SELECT user_id % 25 AS k, ts AS t, 1 AS side, NULL::BIGINT AS tie,
      |         NULL::BIGINT AS p_ok, NULL::DOUBLE AS p_tp,
      |         event_id, user_id % 25 AS ukey
      |  FROM events
      |  UNION ALL
      |  SELECT o_custkey % 25, o_orderdate, 0, o_orderkey,
      |         o_orderkey, o_totalprice, NULL, NULL
      |  FROM orders),
      |w AS (
      |  SELECT side, event_id, ukey,
      |    last_value(p_ok IGNORE NULLS) OVER win AS asof_o_orderkey,
      |    last_value(p_tp IGNORE NULLS) OVER win AS asof_o_totalprice
      |  FROM u
      |  WINDOW win AS (PARTITION BY k ORDER BY t, side, tie
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, ukey, asof_o_orderkey, asof_o_totalprice
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** Forward as-of join ([[graft.operators.AsOfJoin.asOfForward]]): each
    * event picks up the EARLIEST order of its key bucket placed on or
    * after the event time — the "next scheduled delivery" direction.
    * Same union + single key exchange + running-first window plan as
    * `asof_join`; equal-time ties resolve to the MIN o_orderkey, events
    * with no later order keep null payload. */
  def asofJoinForward(spark: SparkSession, dir: String): DataFrame = {
    val leftWithT = Tables.events(spark, dir)
      .select(col("event_id"), (col("user_id") % 25).as("ukey"), col("ts"))
    graft.operators.AsOfJoin.asOfForward(
        leftWithT, Tables.orders(spark, dir),
        leftKey = col("ukey"), rightKey = col("o_custkey") % 25,
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightTie = "o_orderkey", rightPayload = Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "ukey", "asof_o_orderkey", "asof_o_totalprice")
  }

  val asofJoinForwardSql: String =
    """WITH u AS (
      |  SELECT user_id % 25 AS k, ts AS t, 0 AS side, NULL::BIGINT AS tie,
      |         NULL::BIGINT AS p_ok, NULL::DOUBLE AS p_tp,
      |         event_id, user_id % 25 AS ukey
      |  FROM events
      |  UNION ALL
      |  SELECT o_custkey % 25, o_orderdate, 1, o_orderkey,
      |         o_orderkey, o_totalprice, NULL, NULL
      |  FROM orders),
      |w AS (
      |  SELECT side, event_id, ukey,
      |    first_value(p_ok IGNORE NULLS) OVER win AS asof_o_orderkey,
      |    first_value(p_tp IGNORE NULLS) OVER win AS asof_o_totalprice
      |  FROM u
      |  WINDOW win AS (PARTITION BY k ORDER BY t, side, tie
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, ukey, asof_o_orderkey, asof_o_totalprice
      |FROM w WHERE side = 0 ORDER BY event_id""".stripMargin

  /** Nearest as-of join ([[graft.operators.AsOfJoin.asOfNearest]]): each
    * event picks up the order of its key bucket whose placement time is
    * closest in absolute distance (before OR after), ties between the
    * directions resolving backward — pandas merge_asof
    * direction='nearest'. One key exchange, two linear window scans over
    * the same union; per-direction ties keep the standalone operators'
    * rules (backward max / forward min o_orderkey). */
  def asofJoinNearest(spark: SparkSession, dir: String): DataFrame = {
    val leftWithT = Tables.events(spark, dir)
      .select(col("event_id"), (col("user_id") % 25).as("ukey"), col("ts"))
    graft.operators.AsOfJoin.asOfNearest(
        leftWithT, Tables.orders(spark, dir),
        leftKey = col("ukey"), rightKey = col("o_custkey") % 25,
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightTie = "o_orderkey", rightPayload = Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "ukey", "asof_o_orderkey", "asof_o_totalprice", "asof_dir")
  }

  val asofJoinNearestSql: String =
    """WITH u AS (
      |  SELECT user_id % 25 AS k, ts AS t, 1 AS side, NULL::BIGINT AS tie,
      |         NULL::BIGINT AS p_ok, NULL::DOUBLE AS p_tp,
      |         event_id, user_id % 25 AS ukey
      |  FROM events
      |  UNION ALL
      |  SELECT o_custkey % 25, o_orderdate, 0, o_orderkey,
      |         o_orderkey, o_totalprice, NULL, NULL
      |  FROM orders),
      |w AS (
      |  SELECT side, t, event_id, ukey,
      |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wb AS bt,
      |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER wf AS ft,
      |    last_value(p_ok IGNORE NULLS) OVER wb AS b_ok,
      |    last_value(p_tp IGNORE NULLS) OVER wb AS b_tp,
      |    last_value(p_ok IGNORE NULLS) OVER wf AS f_ok,
      |    last_value(p_tp IGNORE NULLS) OVER wf AS f_tp
      |  FROM u
      |  WINDOW wb AS (PARTITION BY k ORDER BY t, side, tie
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY k ORDER BY t DESC, side, tie DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (
      |  SELECT event_id, ukey, b_ok, b_tp, f_ok, f_tp, ft,
      |    (bt IS NOT NULL AND (ft IS NULL OR (t - bt) <= (ft - t))) AS choose_b
      |  FROM w WHERE side = 1)
      |SELECT event_id, ukey,
      |  CASE WHEN choose_b THEN b_ok ELSE f_ok END AS asof_o_orderkey,
      |  CASE WHEN choose_b THEN b_tp ELSE f_tp END AS asof_o_totalprice,
      |  CASE WHEN choose_b THEN 'b'
      |       WHEN ft IS NOT NULL THEN 'f' END AS asof_dir
      |FROM c""".stripMargin

  /** Exact lower median per group by rank arithmetic — deterministic
    * (value ties break on event_id) and cross-engine exact, unlike
    * interpolating percentile functions whose float math differs between
    * engines. Ranks ride the grouped PrefixScan, so no task ever holds
    * a whole event type. */
  def medianByGroup(spark: SparkSession, dir: String): DataFrame = {
    // Per-type rank rides the GROUPED PrefixScan: a
    // type-partitioned window puts |events|/|types| rows in one task —
    // the per-group single-task class with a handful of event types.
    val ranked = graft.operators.PrefixScan.runningSum(
      Tables.events(spark, dir)
        .select(col("event_type"), col("value"), col("event_id"),
          lit(1L).as("one")),
      Seq("event_type"), "one", "rn", col("value"), col("event_id"))
    val n = Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(n), "event_type")
      .filter(expr("rn = (n + 1) div 2"))
      .select(col("event_type"), col("value").as("median_value"), col("n"))
  }

  val medianByGroupSql: String =
    """SELECT event_type, value AS median_value, n FROM (
      |  SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events) t
      |WHERE rn = (n + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** Time-range join (RangeJoin.timeRangeJoin): pairs of events in the
    * same key bucket within ±6 hours of each other — the
    * near-in-time-event detection pattern. Bucketed equi-join + exact
    * predicate, never a per-key nested loop. The oracle states the naive
    * inequality join directly; both must agree. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val l = e.select(col("event_id"), (col("user_id") % 25).as("ukey"), col("ts"))
    val r = e.select(col("event_id").as("event_id2"),
      (col("user_id") % 25).as("ukey2"), col("ts").as("ts2"))
    graft.operators.RangeJoin.timeRangeJoin(
        l, r, leftKey = col("ukey"), rightKey = col("ukey2"),
        leftTime = col("ts"), rightTime = col("ts2"),
        radiusMicros = 6L * 3600 * 1000000L)
      .filter(col("event_id") < col("event_id2"))
      .select("event_id", "ukey", "event_id2", "delta_us")
  }

  val rangeJoinSql: String =
    """SELECT a.event_id, a.user_id % 25 AS ukey, b.event_id AS event_id2,
      |       epoch_us(a.ts) - epoch_us(b.ts) AS delta_us
      |FROM events a JOIN events b
      |  ON a.user_id % 25 = b.user_id % 25
      | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 21600000000
      | AND a.event_id < b.event_id""".stripMargin

  /** Salted customer⋈nation (SkewJoin.saltedJoin, 8 salts): result must
    * be row-identical to the plain join — the oracle is the PLAIN SQL
    * join, so the salting rewrite itself is what's being hash-checked. */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SkewJoin.saltedJoin(
        Tables.customer(spark, dir), Tables.nation(spark, dir),
        skewedKey = col("c_nationkey"), smallKey = col("n_nationkey"),
        spreadBy = col("c_custkey"), salts = 8)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_acctbal"))

  val skewSaltedJoinSql: String =
    """SELECT n_name, COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Skew-safe distinct count (shuffle on (key, value), then per-key
    * count of distinct rows) ≡ COUNT(DISTINCT ...) GROUP BY. */
  def skewDistinctCount(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SkewJoin.distinctCountByKey(
        Tables.events(spark, dir), col("user_id"), col("event_type"),
        keyName = "user_id")

  val skewDistinctCountSql: String =
    """SELECT user_id, COUNT(DISTINCT event_type) AS n_distinct
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Left-anti join: customers with no high-value (>400k) order. Plans
    * as a hash anti-join on the key with the price filter PUSHED BELOW
    * the join build side — the NOT EXISTS shape that at scale beats any
    * outer-join-plus-null-filter restatement (no wide row
    * materialization, early per-key short-circuit). The fixtures'
    * referential joins are complete, so the unfiltered variant would be
    * a degenerate 0-row check. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-semi join: customers with at least one high-value order —
    * EXISTS without row duplication (a plain inner join would multiply
    * by order count and need a distinct). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")

  val semiJoinSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Exact multi-quantile per group: one sort-based aggregate computes
    * all four cut points (p25/p50/p75/p90, linear interpolation — the
    * same (n-1)·p definition DuckDB's quantile_cont uses). One shuffle
    * on the group key; for hot groups at scale the approx_percentile
    * sketch is the fallback, but the exact form is the oracle-able one. */
  def quantilesByGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D, 0.9D))").as("qs"))
      .select(col("event_type"),
        col("qs")(0).as("p25"), col("qs")(1).as("p50"),
        col("qs")(2).as("p75"), col("qs")(3).as("p90"))

  val quantilesByGroupSql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.75) AS p75, quantile_cont(value, 0.9) AS p90
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Pivot: per-user event-type counts as columns. The value list is
    * pinned (no extra distinct-scan job to discover it) and Catalyst
    * compiles the pivot to ONE pass of conditional aggregates — same
    * single-shuffle plan as a plain groupBy, however many columns. */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .select(col("user_id") +: Seq("click", "error", "purchase", "signup", "view")
        .map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)

  val pivotEventCountsSql: String =
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** TPC-H-Q3-shaped shipping priority: segment-filtered customers join
    * the two date-filtered fact tables, exact-decimal revenue per open
    * order, top 10. Both date predicates reach the parquet scans as
    * PushedFilters; the customer side is a filtered dimension (AQE
    * broadcasts it when it fits, falls back to shuffle join when it
    * doesn't — no manual hint, so the plan adapts to the real
    * cardinality at any SF). The top-10 is a TakeOrderedAndProject:
    * per-partition heaps, only 10 rows cross to the driver. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("1995-03-15"))
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin

  /** Correlation/covariance statistics from EXACT mergeable moments.
    * Native `corr`/`covar_pop` accumulate doubles in partition order, so
    * two engines (or two shuffles) disagree in the last bits; instead the
    * five sufficient moments (Σx, Σy, Σxy, Σx², Σy²) are summed as exact
    * decimals — associative, so partition-parallel partial aggregation is
    * bit-stable — and the statistics are derived with the identical
    * double expression tree on both engines. This is also the correct
    * 100-TB shape: moments are one map-side-combined pass; the final
    * arithmetic touches |groups| rows. */
  def corrStats(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity").cast(DecimalType(12, 2))
    val p = col("l_extendedprice").cast(DecimalType(12, 2))
    val nd  = col("n_rows").cast("double")
    val sx  = col("sx").cast("double")
    val sy  = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sx2 = col("sx2").cast("double")
    val sy2 = col("sy2").cast("double")
    val covar = (sxy - sx * sy / nd) / nd
    val stdQ = sqrt((sx2 - sx * sx / nd) / nd)
    val stdP = sqrt((sy2 - sy * sy / nd) / nd)
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(q).as("sx"), sum(p).as("sy"), sum(q * p).as("sxy"),
        sum(q * q).as("sx2"), sum(p * p).as("sy2"))
      .select(col("l_returnflag"), col("n_rows"),
        covar.as("covar_qp"), stdQ.as("std_q"), stdP.as("std_p"),
        (covar / (stdQ * stdP)).as("corr_qp"))
  }

  // NB the moment casts go DECIMAL → VARCHAR → DOUBLE: DuckDB's direct
  // decimal→double cast divides the int128 payload by 10^scale in double
  // arithmetic (two roundings — off by an ulp for some values), while
  // Spark's Decimal.toDouble is correctly rounded; the strtod round-trip
  // forces DuckDB to the correctly-rounded value too.
  val corrStatsSql: String =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n_rows,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx2,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy2
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n_rows,
      |  (sxy - sx * sy / n_rows::DOUBLE) / n_rows::DOUBLE AS covar_qp,
      |  sqrt((sx2 - sx * sx / n_rows::DOUBLE) / n_rows::DOUBLE) AS std_q,
      |  sqrt((sy2 - sy * sy / n_rows::DOUBLE) / n_rows::DOUBLE) AS std_p,
      |  ((sxy - sx * sy / n_rows::DOUBLE) / n_rows::DOUBLE)
      |    / (sqrt((sx2 - sx * sx / n_rows::DOUBLE) / n_rows::DOUBLE)
      |       * sqrt((sy2 - sy * sy / n_rows::DOUBLE) / n_rows::DOUBLE)) AS corr_qp
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Set operators: viewers who never purchase (EXCEPT) and viewers who
    * do (INTERSECT), tagged and unioned. Both compile to aggregate-free
    * hash joins after dedup — the shuffle moves distinct user ids only. */
  def setOpUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val viewers = e.filter(col("event_type") === "view").select("user_id")
    val buyers  = e.filter(col("event_type") === "purchase").select("user_id")
    viewers.except(buyers).withColumn("op", lit("view_no_purchase"))
      .unionByName(viewers.intersect(buyers).withColumn("op", lit("view_and_purchase")))
      .select("op", "user_id")
  }

  val setOpUsersSql: String =
    """SELECT 'view_no_purchase' AS op, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT 'view_and_purchase' AS op, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |ORDER BY op, user_id""".stripMargin

  /** Ordered 3-stage funnel (view → later click → later purchase): each
    * stage is a per-user MIN over events strictly after the previous
    * stage's timestamp — sequenced, not mere per-type existence. Stages
    * chain as user-keyed aggregate→join steps (all on the same key, so
    * one partitioning serves every hop), then one tagged union counts the
    * survivors per stage in a single global row. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.select(lit(1).as("stage")).unionByName(c.select(lit(2).as("stage")))
      .unionByName(p.select(lit(3).as("stage")))
      .agg(
        sum(when(col("stage") === 1, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("stage") === 2, 1L).otherwise(0L)).as("n_click_after_view"),
        sum(when(col("stage") === 3, 1L).otherwise(0L)).as("n_purchase_after_click"))
  }

  val funnelStagesSql: String =
    """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      |      FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      |      FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |       (SELECT COUNT(*) FROM c) AS n_click_after_view,
      |       (SELECT COUNT(*) FROM p) AS n_purchase_after_click""".stripMargin

  /** Time-series densification: per-user daily counts gap-filled over the
    * user's own [first, last] day via `sequence` + left join, with the
    * last observed daily value carried forward (`last(..., ignoreNulls)`
    * over a running frame). The calendar explode is driven by the
    * per-user span relation — tiny next to the fact table — and the fill
    * window re-uses the join's user partitioning. Day sums are exact
    * decimals so the carried values are bit-stable. */
  def timeGapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("user_id") < 10)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("day_value"))
    val cal = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_value"), ignoreNulls = true).over(w).as("carried_value"),
        col("n_events").isNull.as("is_gap"))
  }

  val timeGapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      |  FROM events WHERE user_id < 10 GROUP BY user_id, CAST(ts AS DATE)),
      |cal AS (
      |  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id) s)
      |SELECT c.user_id, CAST(c.day AS TIMESTAMP) AS day, COALESCE(d.n_events, 0) AS n_events,
      |  last_value(d.day_value IGNORE NULLS) OVER (
      |    PARTITION BY c.user_id ORDER BY c.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value,
      |  d.n_events IS NULL AS is_gap
      |FROM cal c LEFT JOIN daily d USING (user_id, day)
      |ORDER BY user_id, day""".stripMargin

  /** Month-over-month revenue growth: date_trunc bucketing, exact decimal
    * month sums, lag window for the delta. The month relation is tiny
    * (one row per month), so the unpartitioned lag window is safe at any
    * corpus size — the heavy lifting happened in the map-side-combined
    * aggregation below it. Growth is one double division with the same
    * tree on both engines. */
  def monthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("month")
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .withColumn("prev_revenue", lag("revenue", 1).over(w))
      .withColumn("growth",
        (col("revenue") - col("prev_revenue")) / col("prev_revenue"))
  }

  val monthlyGrowthSql: String =
    """WITH m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
      |         COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT month, revenue, n_orders,
      |       lag(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
      |       (revenue - lag(revenue, 1) OVER (ORDER BY month))
      |         / lag(revenue, 1) OVER (ORDER BY month) AS growth
      |FROM m ORDER BY month""".stripMargin

  /** SCD2 (slowly-changing-dimension type 2) history build: collapse each
    * user's event stream into validity intervals per regime — a new
    * interval starts when the attribute (event_type) changes; valid_to is
    * the next change's start, null while current. Change-point detection
    * is one lag over the (user, time) window; interval close is one lead
    * over the filtered change points — both reuse the same user_id
    * partitioning, so the whole history build is a single exchange. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .filter(col("user_id") < 20)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  val scd2HistorySql: String =
    """WITH marked AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events WHERE user_id < 20),
      |chg AS (
      |  SELECT user_id, event_type, ts, event_id FROM marked
      |  WHERE prev_type IS NULL OR prev_type != event_type)
      |SELECT user_id, event_type, ts AS valid_from,
      |       lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |       lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM chg ORDER BY user_id, valid_from""".stripMargin

  /** Wide→long profiling: `Dataset.unpivot` (melt) of the categorical
    * order columns into (col_name, col_value) rows, then one aggregation
    * per column name — the data-profiling pass (cardinality + null count
    * per column) warehouses run before ingesting a new feed. unpivot is
    * zero-shuffle (a generate over each row); the profile aggregation
    * shuffles |columns| × |distinct| tiny rows. */
  def unpivotProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .unpivot(
        Array(col("o_orderkey")),
        Array(col("o_orderstatus"), col("o_orderpriority")),
        "col_name", "col_value")
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("col_value")).as("n_distinct"),
        sum(when(col("col_value").isNull, 1L).otherwise(0L)).as("n_nulls"))

  val unpivotProfileSql: String =
    """SELECT col_name, COUNT(*) AS n_rows,
      |       COUNT(DISTINCT col_value) AS n_distinct,
      |       CAST(SUM(CASE WHEN col_value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
      |FROM (
      |  SELECT o_orderkey, 'o_orderstatus' AS col_name, o_orderstatus AS col_value FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders)
      |GROUP BY col_name ORDER BY col_name""".stripMargin

  /** Interval-overlap join, bucketed: user sessions (from `sessionize`)
    * against month-long campaign windows. The SCALABLE implementation of
    * an overlap join is not a theta join — it's "explode each interval
    * into the time buckets it touches, equi-join on the bucket, keep the
    * residual overlap predicate": every stage shuffles on a month key.
    * The ORACLE deliberately computes the same result with the direct
    * inequality join (different math), so the bucketing rewrite's
    * equivalence is hash-checked. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val sess = sessionize(spark, dir)
    // Campaign window = any ISO week with at least one purchase event
    // (same time domain as the sessions; a dimension-table read would
    // work the same way).
    val camp = e.filter(col("event_type") === "purchase")
      .select(date_trunc("week", col("ts")).as("week")).distinct()
    val bucketed = sess.withColumn("week",
      explode(sequence(
        date_trunc("week", col("session_start")),
        date_trunc("week", col("session_end")),
        expr("interval 1 week"))))
    bucketed.join(camp, "week")
      .filter(col("session_start") < col("week") + expr("interval 1 week") &&
        col("week") <= col("session_end"))
      .groupBy("week")
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_sessions"))
  }

  val intervalOverlapSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 604800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM x),
      |sess AS (
      |  SELECT user_id, session_no, MIN(ts) AS session_start, MAX(ts) AS session_end
      |  FROM s GROUP BY user_id, session_no),
      |camp AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
      |         FROM events WHERE event_type = 'purchase')
      |SELECT week, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_sessions
      |FROM sess JOIN camp
      |  ON sess.session_start < week + INTERVAL 1 WEEK AND week <= sess.session_end
      |GROUP BY week ORDER BY week""".stripMargin

  /** Tolerance-bounded as-of join: each click attaches the user's latest
    * PRIOR purchase only if it is at most 3 days stale — the feature-store
    * freshness rule. Same union+window single-exchange plan as asof_join;
    * the staleness mask and age are post-window column math. */
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"), col("value"))
    graft.operators.AsOfJoin.asOfWithin(
        clicks, purchases,
        leftKey = col("user_id"), rightKey = col("p_user"),
        leftTimeCol = "ts", rightTimeCol = "p_ts",
        rightTie = "p_event", rightPayload = Seq("p_event", "value"),
        toleranceSec = 3L * 86400)
      .select("event_id", "user_id", "asof_p_event", "asof_value", "asof_age_us")
  }

  val asofJoinToleranceSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, ts AS t, 1 AS side, NULL::BIGINT AS tie,
      |         NULL::BIGINT AS p_pe, NULL::DOUBLE AS p_v, NULL::TIMESTAMP AS p_t,
      |         event_id, user_id, ts
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, 0, event_id, event_id, value, ts, NULL, NULL, NULL
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT side, event_id, user_id, ts,
      |    last_value(p_pe IGNORE NULLS) OVER win AS ape,
      |    last_value(p_v IGNORE NULLS) OVER win AS av,
      |    last_value(p_t IGNORE NULLS) OVER win AS at
      |  FROM u
      |  WINDOW win AS (PARTITION BY k ORDER BY t, side, tie
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id,
      |  CASE WHEN epoch_us(ts) - epoch_us(at) <= 259200000000 THEN ape END AS asof_p_event,
      |  CASE WHEN epoch_us(ts) - epoch_us(at) <= 259200000000 THEN av END AS asof_value,
      |  CASE WHEN epoch_us(ts) - epoch_us(at) <= 259200000000
      |       THEN epoch_us(ts) - epoch_us(at) END AS asof_age_us
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** Cumulative revenue curve over the full order history — the classic
    * reporting running total, computed with [[graft.operators.PrefixScan]]'s
    * distributed decimal scan instead of a single-task global window.
    * Decimal addition is exact and associative, so the distributed result
    * is bit-equal to the oracle's global window at any partitioning. */
  def cumulativeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(14, 2)).as("price"))
    graft.operators.PrefixScan
      .runningSum(o, Nil, "price", "cum", col("o_orderdate"), col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("cum").cast("double").as("cum_revenue"))
  }

  val cumulativeRevenueSql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Z-order layout profile of lineitem on (l_partkey, l_suppkey): each
    * row's Morton code (via the zorder_code codegen Expression, SQL-
    * registered by GraftExtensions), folded into fixed 2^24-wide z-range
    * buckets — one bucket ≈ one file of a Z-ORDERed rewrite. The per-
    * bucket min/max of BOTH keys is exactly the min/max file statistic a
    * scan would prune on: narrow ranges on both columns are the point of
    * the layout (a single-column sort leaves the other column's range at
    * full width — ZOrderSpec pins that comparison). Bit math is plain
    * SQL, so the layout keys themselves are oracle-checked. */
  def zorderCluster(spark: SparkSession, dir: String): DataFrame = {
    val z = graft.GraftCaches.track(
      Tables.lineitem(spark, dir)
        .select(col("l_partkey").cast("long").as("pk"), col("l_suppkey").cast("long").as("sk"))
        .select(graft.functions.ZOrderCode.z(col("pk"), col("sk")).as("z"),
          col("pk"), col("sk")))
    // 32 equal-width z-ranges over the observed span: exact integer
    // floor division, so the bucketing is scale-free AND deterministic
    // (ntile would split z-ties by nondeterministic row position).
    val zmax = z.agg(max("z").as("zmax"))
    z.crossJoin(broadcast(zmax))
      .groupBy(floor(col("z") * 32 / (col("zmax") + 1)).cast("bigint").as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min("pk").as("min_pk"), max("pk").as("max_pk"),
        min("sk").as("min_sk"), max("sk").as("max_sk"))
  }

  val zorderClusterSql: String =
    """WITH z AS (
      |  SELECT list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), j ->
      |           (((pk >> CAST(j AS INT)) & 1) << CAST(2*j AS INT))
      |         + (((sk >> CAST(j AS INT)) & 1) << CAST(2*j + 1 AS INT)))), (a,b) -> a|b) AS z,
      |         pk, sk
      |  FROM (SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk FROM lineitem)),
      |zm AS (SELECT MAX(z) AS zmax FROM z)
      |SELECT CAST(floor(z * 32 / (zmax + 1)) AS BIGINT) AS z_bucket, COUNT(*) AS n,
      |       MIN(pk) AS min_pk, MAX(pk) AS max_pk,
      |       MIN(sk) AS min_sk, MAX(sk) AS max_sk
      |FROM z CROSS JOIN zm GROUP BY 1 ORDER BY z_bucket""".stripMargin

  /** TPC-H-Q18-shaped "large orders": aggregate the fact table, HAVING-
    * filter the aggregate, join the survivors back to the dimension-ish
    * side. The agg side shrinks by orders of magnitude before the join —
    * AQE sizes it at runtime and broadcasts the survivor set, so the
    * orders scan never shuffles: the canonical
    * aggregate-then-semi-join-back shape for 100-TB fact tables. */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("total_qty"),
        count(lit(1)).as("n_items"))
      .filter(col("total_qty") > 180)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("total_qty").cast("double").as("total_qty"), col("n_items"))
  }

  val bigOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty,
      |         COUNT(*) AS n_items
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180)
      |SELECT o_orderkey, o_custkey, CAST(total_qty AS DOUBLE) AS total_qty, n_items
      |FROM big JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** Snapshot reconciliation: FULL OUTER join of two deterministic order
    * snapshots (base = keys not divisible by 7; current = keys not
    * divisible by 5, price bumped by 1.00 on keys divisible by 3),
    * classified into added/removed/changed/same with exact decimal net
    * drift per class — the lake-table diff/audit job. One shuffle on the
    * join key; the classification is pure column math on the joined row. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").cast(DecimalType(14, 2)).as("v_base"))
    val curr = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(DecimalType(14, 2)) +
          when(col("o_orderkey") % 3 === 0, lit(1)).otherwise(lit(0))
            .cast(DecimalType(14, 2))).as("v_curr"))
    base.join(curr, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("v_base").isNull, lit("added"))
          .when(col("v_curr").isNull, lit("removed"))
          .when(col("v_base") =!= col("v_curr"), lit("changed"))
          .otherwise(lit("same")).as("status"),
        (coalesce(col("v_curr"), lit(0).cast(DecimalType(14, 2))) -
          coalesce(col("v_base"), lit(0).cast(DecimalType(14, 2)))).as("diff"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("diff")).cast("double").as("net_drift"))
  }

  val snapshotDiffSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(14,2)) AS v_base
      |  FROM orders WHERE o_orderkey % 7 != 0),
      |curr AS (
      |  SELECT o_orderkey AS k,
      |         CAST(o_totalprice AS DECIMAL(14,2)) +
      |           CAST(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS DECIMAL(14,2)) AS v_curr
      |  FROM orders WHERE o_orderkey % 5 != 0)
      |SELECT CASE WHEN v_base IS NULL THEN 'added'
      |            WHEN v_curr IS NULL THEN 'removed'
      |            WHEN v_base != v_curr THEN 'changed'
      |            ELSE 'same' END AS status,
      |       COUNT(*) AS n,
      |       CAST(SUM(COALESCE(v_curr, 0) - COALESCE(v_base, 0)) AS DOUBLE) AS net_drift
      |FROM base FULL OUTER JOIN curr USING (k)
      |GROUP BY 1 ORDER BY status""".stripMargin

  /** Data-quality constraint audit: five declarative rules (domain
    * ranges, null checks, FK orphans, PK duplicates) evaluated in one
    * pass each and unioned into a (rule, n_checked, n_violations)
    * scorecard — the pre-ingest gate a 100-TB pipeline runs before
    * promoting a snapshot. Range/null rules are scan-speed conditional
    * sums; the FK rule is a shuffle join on the key (AQE broadcasts the
    * smaller side); the PK rule is a two-level aggregation. No collect —
    * every rule is a 1-row aggregate unioned declaratively. */
  def constraintAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    def rule(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("rule"), col("n_checked"), col("n_violations"))
    val qty = rule("lineitem_quantity_range",
      li.agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L))
          .as("n_violations")))
    val price = rule("orders_price_positive",
      o.agg(count(lit(1)).as("n_checked"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("n_violations")))
    val nulldate = rule("orders_date_not_null",
      o.agg(count(lit(1)).as("n_checked"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_violations")))
    val orphan = rule("lineitem_fk_orders",
      li.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations")))
    val dup = rule("orders_pk_unique",
      o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_violations")))
    qty.unionByName(price).unionByName(nulldate).unionByName(orphan).unionByName(dup)
  }

  val constraintAuditSql: String =
    """SELECT * FROM (
      |  SELECT 'lineitem_quantity_range' AS rule, COUNT(*) AS n_checked,
      |         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders_price_positive', COUNT(*),
      |         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_date_not_null', COUNT(*),
      |         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders', COUNT(*),
      |         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'orders_pk_unique', COUNT(*),
      |         CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey) t
      |) rules ORDER BY rule""".stripMargin

  /** TPC-H-Q13-shaped order-count distribution: LEFT join so customers
    * with ZERO orders stay in the histogram (the inner-join bug this
    * query exists to catch), then a two-level aggregation — per-customer
    * count, then distribution over counts. Both aggs map-side combine;
    * the second one's domain is tiny (distinct order counts). */
  def customerOrderHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  val customerOrderHistogramSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Histogram-sketch quantiles: p50/p90/p95/p99 estimated by linear
    * interpolation inside a 128-bin equi-width histogram — how monitoring
    * and profiling systems serve percentiles at scale, because the
    * histogram (unlike an exact percentile sort) is a TINY mergeable
    * relation: bins sum across shards/days exactly like the CMS cells.
    * One scan → binned counts; the cumulative walk runs through
    * [[graft.operators.PrefixScan]] (the distributed running-sum shape —
    * no single-task global window even if bins grow); interpolation is
    * fixed-order double math, so estimates are hash-checked. Bin width
    * 5.0 is exact in binary; out-of-range values clamp to edge bins. */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val binW = 5.0
    val nBins = 128L
    val bins = Tables.events(spark, dir)
      .select(greatest(lit(0L),
        least(lit(nBins - 1), floor(col("value") / lit(binW)).cast("long"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val cum = graft.operators.PrefixScan
      .runningSum(bins, Nil, "cnt", "cum", col("bin").asc)
      .withColumn("cum0", col("cum") - col("cnt"))
    val tot = bins.agg(sum("cnt").as("n"))
    val qdf = spark.range(1).select(
      explode(array(lit(0.5), lit(0.9), lit(0.95), lit(0.99))).as("q"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qdf))
      .filter(col("cum").cast("double") >= col("q") * col("n").cast("double") &&
        col("cum0").cast("double") < col("q") * col("n").cast("double"))
      .select(col("q"),
        (col("bin").cast("double") * lit(binW) +
          (col("q") * col("n").cast("double") - col("cum0").cast("double")) /
            col("cnt").cast("double") * lit(binW)).as("est"))
  }

  val histQuantilesSql: String =
    """WITH b AS (SELECT greatest(0, least(127, CAST(floor(value / 5.0) AS BIGINT))) AS bin FROM events),
      |bc AS (SELECT bin, COUNT(*) AS cnt FROM b GROUP BY bin),
      |c AS (SELECT bin, cnt,
      |        SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM bc),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bc),
      |q AS (SELECT unnest([0.5, 0.9, 0.95, 0.99]) AS q)
      |SELECT q.q,
      |       CAST(bin AS DOUBLE) * 5.0 +
      |         (q.q * CAST(n.n AS DOUBLE) - CAST(c.cum - c.cnt AS DOUBLE)) /
      |           CAST(c.cnt AS DOUBLE) * 5.0 AS est
      |FROM c CROSS JOIN n CROSS JOIN q
      |WHERE CAST(c.cum AS DOUBLE) >= q.q * CAST(n.n AS DOUBLE)
      |  AND CAST(c.cum - c.cnt AS DOUBLE) < q.q * CAST(n.n AS DOUBLE)
      |ORDER BY q.q""".stripMargin

  /** Order-independent table fingerprints — the anti-entropy check for
    * comparing replicas/migrations WITHOUT sorting or moving the data:
    * per row, an integer mix of the key columns (seeded multipliers +
    * poly_hash for strings — never string-formatting numerics, whose
    * rendering is engine-specific), summed EXACTLY as decimals (the sum
    * is commutative, so any partitioning/replica order yields the same
    * checksum), folded mod p. One scan + a 1-row aggregate per table:
    * two 100-TB replicas compare by exchanging three numbers. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PolyHash
    val m = PolyHash.Mod
    val (a0, _) = graft.operators.TextOps.MinhashSeeds(0)
    val (a1, _) = graft.operators.TextOps.MinhashSeeds(1)
    val (a2, _) = graft.operators.TextOps.MinhashSeeds(2)
    // Each key is reduced mod p BEFORE the seed multiply: (key % p) * a
    // stays under 2^63 for any key domain, where raw key * a would
    // silently wrap in Spark at orderkey ~1e10+ while DuckDB raises an
    // overflow — breaking the differential exactly at the scale this
    // operator claims to serve. Seeds are < p, so each
    // term is < p^2 ≈ 1e18 and the 3-term sum is < 3p after the term mod.
    def term(key: Column, a: Long): Column =
      pmod(key.cast("bigint"), lit(m)) * a % lit(m)
    def sum1(name: String, df: DataFrame, rowHash: Column): DataFrame =
      df.select(((rowHash % m + m) % m).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast(DecimalType(38, 0))) % lit(m)).cast("bigint").as("checksum"))
        .select(lit(name).as("tbl"), col("n_rows"), col("checksum"))
    val o = sum1("orders", Tables.orders(spark, dir),
      term(col("o_orderkey"), a0) + term(col("o_custkey"), a1) +
        PolyHash.hash(col("o_orderstatus")) * a2 % m)
    val l = sum1("lineitem", Tables.lineitem(spark, dir),
      term(col("l_orderkey"), a0) + term(col("l_partkey"), a1) + term(col("l_suppkey"), a2))
    val c = sum1("customer", Tables.customer(spark, dir),
      term(col("c_custkey"), a0) + term(col("c_nationkey"), a1) +
        PolyHash.hash(col("c_name")) * a2 % m)
    o.unionByName(l).unionByName(c)
  }

  val tableChecksumSql: String = {
    val m = graft.functions.PolyHash.Mod
    val a0 = graft.operators.TextOps.MinhashSeeds(0)._1
    val a1 = graft.operators.TextOps.MinhashSeeds(1)._1
    val a2 = graft.operators.TextOps.MinhashSeeds(2)._1
    def ph(c: String) =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($c,''), x -> ascii(x)::BIGINT)), (a,b) -> (a*31+b) % $m)"
    def t(c: String, a: Long) = s"((CAST($c AS BIGINT) % $m) * ${a}) % $m"
    s"""SELECT * FROM (
       |  SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
       |    CAST(SUM(CAST(((${t("o_orderkey", a0)} + ${t("o_custkey", a1)} + (${ph("o_orderstatus")}*${a2}) % $m) % $m + $m) % $m
       |      AS DECIMAL(38,0))) % $m AS BIGINT) AS checksum
       |  FROM orders
       |  UNION ALL
       |  SELECT 'lineitem', COUNT(*),
       |    CAST(SUM(CAST(((${t("l_orderkey", a0)} + ${t("l_partkey", a1)} + ${t("l_suppkey", a2)}) % $m + $m) % $m
       |      AS DECIMAL(38,0))) % $m AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'customer', COUNT(*),
       |    CAST(SUM(CAST(((${t("c_custkey", a0)} + ${t("c_nationkey", a1)} + (${ph("c_name")}*${a2}) % $m) % $m + $m) % $m
       |      AS DECIMAL(38,0))) % $m AS BIGINT)
       |  FROM customer
       |) t ORDER BY tbl""".stripMargin
  }

  /** Group-wise OLS trend: per event type, the least-squares slope and
    * intercept of value against the epoch-day index — the drift detector
    * a metrics pipeline runs per segment. Same discipline as corrStats:
    * ONE map-side-combined moment pass (x is an exact integer day, y an
    * exact decimal; all five moments are associative decimal sums), then
    * the closed-form slope on |groups| rows with an identical double
    * expression tree on both engines. */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    val x = datediff(to_date(col("ts")), lit("1970-01-01")).cast(DecimalType(10, 0))
    val y = col("value").cast(DecimalType(18, 2))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sx2 = col("sx2").cast("double")
    // Degenerate group (all events on one day): the OLS denominator is 0.
    // Spark (non-ANSI) would yield NULL while DuckDB's IEEE division gives
    // Inf/NaN — NULL the denominator explicitly on BOTH engines so the
    // differential can't diverge on that input.
    val denRaw = nd * sx2 - sx * sx
    val den = when(denRaw === 0.0d, lit(null).cast("double")).otherwise(denRaw)
    val slope = (nd * sxy - sx * sy) / den
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"), sum(x * x).as("sx2"))
      .select(col("event_type"), col("n"),
        slope.as("slope"), ((sy - slope * sx) / nd).as("intercept"))
  }

  val trendSlopeSql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DECIMAL(10,0))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DECIMAL(10,0)) * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DECIMAL(10,0)) * CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DECIMAL(10,0))) AS VARCHAR) AS DOUBLE) AS sx2
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  (n::DOUBLE * sxy - sx * sy) / NULLIF(n::DOUBLE * sx2 - sx * sx, 0) AS slope,
      |  (sy - (n::DOUBLE * sxy - sx * sy) / NULLIF(n::DOUBLE * sx2 - sx * sx, 0) * sx) / n::DOUBLE AS intercept
      |FROM m ORDER BY event_type""".stripMargin

  /** ABC inventory classification — parts bucketed by cumulative
    * revenue share (A: first 80% of revenue, B: next 15%, C: tail), the
    * warehouse-planning classic. The descending-revenue cumulative sum
    * rides the decimal [[graft.operators.PrefixScan]] (|parts| is
    * population-scale — exactly the regime where a global ORDER BY
    * window is one task); the 80/95 thresholds are EXACT decimal
    * comparisons (cum·5 ≤ total·4, cum·20 ≤ total·19 — no share
    * division ever computed at row level, so no float boundary
    * flicker); the 3-row class summary converts to double once at the
    * end (Spark's decimal→double is correctly rounded; the oracle takes
    * the VARCHAR round-trip, the corr_stats discipline). */
  def abcClassification(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    val perPart = Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(sum(revenue).as("rev"))
    // The grand total comes from the scan's own per-partition totals
    // collect (guide §1.2): no separate `tot` aggregate, and no cache
    // whose blocks its broadcast build would race the main pass for (the
    // sibling-consumer lock-wait signature); `ranked` has ONE consumer
    // chain, and the total is an exact-decimal literal
    // (BigDecimal addition is associative, identical value and type to
    // the old sum(rev) cross-broadcast).
    val (ranked, grand) = PrefixScan.runningSums(
      perPart, Nil, Seq("rev" -> "cum"), col("rev").desc, col("l_partkey"))
    val total = lit(grand.first().getDecimal(0)).cast(ranked.schema("cum").dataType)
    val cls = when(col("cum") * 5 <= total * 4, "A")
      .when(col("cum") * 20 <= total * 19, "B")
      .otherwise("C")
    ranked
      .select(cls.as("cls"), col("rev"), total.as("total"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        sum("rev").cast("double").as("revenue"),
        (sum("rev").cast("double") /
          first(col("total")).cast("double")).as("share"))
  }

  val abcClassificationSql: String =
    """WITH pr AS (
      |  SELECT l_partkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |r AS (SELECT l_partkey, rev,
      |             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |                            ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM pr),
      |t AS (SELECT SUM(rev) AS total FROM pr),
      |c AS (SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
      |                  WHEN cum * 20 <= total * 19 THEN 'B'
      |                  ELSE 'C' END AS cls, rev, total
      |      FROM r CROSS JOIN t)
      |SELECT cls, COUNT(*) AS n_parts,
      |       CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS revenue,
      |       CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)
      |         / CAST(CAST(MIN(total) AS VARCHAR) AS DOUBLE) AS share
      |FROM c GROUP BY cls ORDER BY cls""".stripMargin

  /** FIFO matching — the queueing/cost-basis operator (match each
    * outflow against the oldest unconsumed inflow: ad impressions to
    * conversions, receipts to issues, lots to sales) that procedural
    * systems write as a per-key loop. Relationally it is interval
    * algebra on CUMULATIVE quantities: inflow i owns the quantity range
    * (cum_in_{i−1}, cum_in_i], outflow j consumes (cum_out_{j−1},
    * cum_out_j], and FIFO says j draws from i exactly where the ranges
    * overlap — qty = min(hi_i, hi_j) − max(lo_i, lo_j) when positive.
    * Per-user running sums are `Window.partitionBy(user)` (the RIGHT
    * shape here: user cardinality is population-scale, per-user rows
    * bounded — the opposite regime from the PrefixScan queries); the
    * match join is ONE user-keyed equi-join with range predicates, and
    * per user emits ≤ ins + outs − 1 rows — linear, never quadratic.
    * Quantities ride as exact integer cents, so overlap arithmetic is
    * bit-stable; `wait_us` is the per-matched-lot queue latency. Views
    * supply, purchases consume; over-consumption past total supply
    * simply finds no overlapping range (reported by the oracle-side
    * totals staying independent). */
  def fifoMatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = round(col("value") * 100).cast("long")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def cum(tpe: String, side: String) =
      Tables.events(spark, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"), col("ts"), cents.as("q"))
        .withColumn("hi", sum("q").over(w))
        .select(col("user_id"),
          col("event_id").as(s"${side}_event"), col("ts").as(s"${side}_ts"),
          (col("hi") - col("q")).as(s"${side}_lo"), col("hi").as(s"${side}_hi"))
    val ins = cum("view", "in")
    val outs = cum("purchase", "out")
    ins.join(outs, Seq("user_id"))
      .filter(col("in_hi") > col("out_lo") && col("out_hi") > col("in_lo"))
      .select(col("user_id"), col("in_event"), col("out_event"),
        (least(col("in_hi"), col("out_hi")) -
          greatest(col("in_lo"), col("out_lo"))).as("qty_cents"),
        (unix_micros(col("out_ts")) - unix_micros(col("in_ts"))).as("wait_us"))
  }

  val fifoMatchSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS q,
      |         SUM(CAST(round(value * 100) AS BIGINT)) OVER (
      |           PARTITION BY user_id, event_type ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS hi
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |i AS (SELECT user_id, event_id AS in_event, ts AS in_ts,
      |             hi - q AS in_lo, hi AS in_hi FROM c WHERE event_type = 'view'),
      |o AS (SELECT user_id, event_id AS out_event, ts AS out_ts,
      |             hi - q AS out_lo, hi AS out_hi FROM c WHERE event_type = 'purchase')
      |SELECT i.user_id AS user_id, in_event, out_event,
      |       CAST(least(in_hi, out_hi) - greatest(in_lo, out_lo) AS BIGINT) AS qty_cents,
      |       epoch_us(out_ts) - epoch_us(in_ts) AS wait_us
      |FROM i JOIN o ON i.user_id = o.user_id
      |WHERE in_hi > out_lo AND out_hi > in_lo
      |ORDER BY i.user_id, in_event, out_event""".stripMargin

  /** Robust trend over monthly revenue: the Theil–Sen slope (median of
    * all pairwise month-to-month slopes — up to 29% contamination
    * breakdown vs OLS's zero) plus the Mann–Kendall monotonic-trend
    * statistic S and Kendall's tau — the distribution-free twin of
    * `trend_slope`, the pair every robust forecasting pipeline starts
    * from. Everything is calendar-bounded: the pair relation is
    * |months|² (a few thousand rows at ANY corpus size), so the
    * pairwise BNLJ broadcast and the single-partition rank window are
    * inside the bounded-relation whitelist by construction. No
    * transcendentals: slopes are one IEEE division each, S is exact
    * integer sign counting, and the median is the LOWER-median rank
    * pick (rank ⌈n/2⌉ via row_number, the exact_quantiles discipline) —
    * no interpolation, so no engine-divergent midpoint arithmetic. */
  def robustTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mo = graft.GraftCaches.track(
      Tables.orders(spark, dir)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
        .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).cast("double").as("rev")))
    val pairs = graft.GraftCaches.track(
      mo.select(col("m").as("mi"), col("rev").as("ri"))
        .join(mo.select(col("m").as("mj"), col("rev").as("rj")), col("mi") < col("mj"))
        .select(
          ((col("rj") - col("ri")) / (col("mj") - col("mi")).cast("double")).as("slope"),
          when(col("rj") > col("ri"), 1L).when(col("rj") < col("ri"), -1L)
            .otherwise(0L).as("sgn")))
    val stats = pairs.agg(count(lit(1)).as("n_pairs"), sum("sgn").as("mk_s"))
    val nm = mo.agg(count(lit(1)).as("n_months"))
    pairs
      .withColumn("rn", row_number().over(Window.orderBy("slope")))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(nm))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("n_months"), col("n_pairs"), col("mk_s"),
        (col("mk_s").cast("double") / col("n_pairs").cast("double")).as("tau"),
        col("slope").as("slope_ts"))
  }

  val robustTrendSql: String =
    """WITH mo AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT (b.rev - a.rev) / CAST(b.m - a.m AS DOUBLE) AS slope,
      |         CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      |  FROM mo a JOIN mo b ON a.m < b.m),
      |s AS (SELECT COUNT(*) AS n_pairs, CAST(SUM(sgn) AS BIGINT) AS mk_s FROM p),
      |r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM p),
      |nm AS (SELECT COUNT(*) AS n_months FROM mo)
      |SELECT nm.n_months, s.n_pairs, s.mk_s,
      |       CAST(s.mk_s AS DOUBLE) / CAST(s.n_pairs AS DOUBLE) AS tau,
      |       r.slope AS slope_ts
      |FROM r CROSS JOIN s CROSS JOIN nm
      |WHERE r.rn = (s.n_pairs + 1) // 2""".stripMargin

  /** Pure-SQL surface: the same engine driven through `spark.sql` with
    * the subquery forms users actually write — a decorrelated EXISTS
    * (Catalyst rewrites it to a semi join) and scalar aggregate
    * subqueries ("above average" phrased exactly: price·count > sum,
    * all decimal — engines disagree on AVG's rounding) — over temp views.
    * Everything else in the catalog is DataFrame-first; this query pins
    * that the SQL door is open and optimized the same way. */
  def sqlExistsOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT o_orderkey, o_custkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price
        |FROM v_orders
        |WHERE EXISTS (SELECT 1 FROM v_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |  AND CAST(o_totalprice AS DECIMAL(14,2)) * (SELECT COUNT(*) FROM v_orders) >
        |      (SELECT SUM(CAST(o_totalprice AS DECIMAL(14,2))) FROM v_orders)""".stripMargin)
  }

  val sqlExistsOrdersSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |  AND CAST(o_totalprice AS DECIMAL(14,2)) * (SELECT COUNT(*) FROM orders) >
      |      (SELECT SUM(CAST(o_totalprice AS DECIMAL(14,2))) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** Train/validation split leakage audit: users are assigned to splits
    * by a seeded affine hash (80/20 — the deterministic, rerun-stable
    * convention every split in this engine uses; a rand() split can't be
    * audited because it can't be reproduced), and the audit then checks
    * the assignment FROM THE EVENT DATA rather than trusting it: per
    * split, user and event counts, the time range, and the number of
    * users observed in BOTH splits — zero for a correct entity-level
    * split, nonzero the moment someone "splits by event" (the leak every
    * time-series training setup ships once). One groupBy(user) pass to
    * assign + detect, one tiny aggregate per split. */
  def leakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(7)
    val m = graft.functions.PolyHash.Mod
    val split = when((col("user_id") * a + b) % m % 10 < 8, "train").otherwise("val")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), split.as("split"))
    val perUser = ev.groupBy("user_id")
      .agg(count_distinct(col("split")).as("n_splits"))
    ev.join(perUser, "user_id")
      .groupBy("split")
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        min("ts").as("min_ts"), max("ts").as("max_ts"),
        count_distinct(when(col("n_splits") > 1, col("user_id"))).as("n_leaked_users"))
  }

  val leakageAuditSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(7)
    val m = graft.functions.PolyHash.Mod
    s"""WITH ev AS (
       |  SELECT user_id, ts,
       |         CASE WHEN (user_id * ${a} + ${b}) % ${m} % 10 < 8 THEN 'train' ELSE 'val' END AS split
       |  FROM events),
       |pu AS (SELECT user_id, COUNT(DISTINCT split) AS n_splits FROM ev GROUP BY user_id)
       |SELECT split, COUNT(DISTINCT ev.user_id) AS n_users, COUNT(*) AS n_events,
       |       MIN(ts) AS min_ts, MAX(ts) AS max_ts,
       |       COUNT(DISTINCT CASE WHEN n_splits > 1 THEN ev.user_id END) AS n_leaked_users
       |FROM ev JOIN pu USING (user_id)
       |GROUP BY split ORDER BY split""".stripMargin
  }

  /** A/B experiment readout with a Welch t-statistic: users assign to
    * variants by the same seeded-affine-hash discipline as
    * `leakage_audit` (entity-level, reproducible — a rand() assignment
    * can't be re-audited), and the whole readout is ONE map-side-combined
    * conditional aggregation over events (count/sum/sum-of-squares per
    * variant as exact decimal sums — partition order can't perturb them),
    * so at any event volume the readout is a scan plus a 1-row fold.
    * The t statistic stays cross-engine bit-equal because every post-agg
    * op (divide, subtract, sqrt) is a correctly-rounded IEEE double op
    * applied in the same expression-tree order on both engines. */
  def abTestMetrics(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    val m = graft.functions.PolyHash.Mod
    val isA = (col("user_id") * a + b) % m % 2 === 0
    val v = col("value").cast(DecimalType(18, 2))
    val agg = Tables.events(spark, dir)
      .select(isA.as("is_a"), v.as("v"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), col("v"))).as("sv_a"),
        sum(when(!col("is_a"), col("v"))).as("sv_b"),
        sum(when(col("is_a"), col("v") * col("v"))).as("sv2_a"),
        sum(when(!col("is_a"), col("v") * col("v"))).as("sv2_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val meanA = col("sv_a").cast("double") / na
    val meanB = col("sv_b").cast("double") / nb
    val varA = (col("sv2_a").cast("double") - col("sv_a").cast("double") * col("sv_a").cast("double") / na) / na
    val varB = (col("sv2_b").cast("double") - col("sv_b").cast("double") * col("sv_b").cast("double") / nb) / nb
    agg.select(col("n_a"), col("n_b"),
      meanA.as("mean_a"), meanB.as("mean_b"),
      varA.as("var_a"), varB.as("var_b"),
      ((meanA - meanB) / sqrt(varA / na + varB / nb)).as("t_welch"))
  }

  val abTestMetricsSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    val m = graft.functions.PolyHash.Mod
    s"""WITH e AS (
       |  SELECT (user_id * ${a} + ${b}) % ${m} % 2 = 0 AS is_a,
       |         CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events),
       |g AS (
       |  SELECT
       |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
       |    SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS n_b,
       |    CAST(CAST(SUM(CASE WHEN is_a THEN v END) AS VARCHAR) AS DOUBLE) AS sv_a,
       |    CAST(CAST(SUM(CASE WHEN NOT is_a THEN v END) AS VARCHAR) AS DOUBLE) AS sv_b,
       |    CAST(CAST(SUM(CASE WHEN is_a THEN v * v END) AS VARCHAR) AS DOUBLE) AS sv2_a,
       |    CAST(CAST(SUM(CASE WHEN NOT is_a THEN v * v END) AS VARCHAR) AS DOUBLE) AS sv2_b
       |  FROM e)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  sv_a / CAST(n_a AS DOUBLE) AS mean_a,
       |  sv_b / CAST(n_b AS DOUBLE) AS mean_b,
       |  (sv2_a - sv_a * sv_a / CAST(n_a AS DOUBLE)) / CAST(n_a AS DOUBLE) AS var_a,
       |  (sv2_b - sv_b * sv_b / CAST(n_b AS DOUBLE)) / CAST(n_b AS DOUBLE) AS var_b,
       |  (sv_a / CAST(n_a AS DOUBLE) - sv_b / CAST(n_b AS DOUBLE))
       |    / sqrt((sv2_a - sv_a * sv_a / CAST(n_a AS DOUBLE)) / CAST(n_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |           + (sv2_b - sv_b * sv_b / CAST(n_b AS DOUBLE)) / CAST(n_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS t_welch
       |FROM g""".stripMargin
  }

  /** Group-aware k-fold assignment (GroupKFold): every event of a user
    * lands in exactly ONE of 5 folds (fold = seeded affine hash of
    * user_id — cross-fold leakage is impossible by construction, the
    * property `leakage_audit` checks for the 80/20 split), plus the
    * balance audit: per-fold user/event counts, each fold's event share,
    * and its deviation from the ideal 1/k. One groupBy(fold) aggregate;
    * the share window runs over the 5-row fold relation. */
  def groupKfold(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(3)
    val m = graft.functions.PolyHash.Mod
    val fold = (col("user_id") * a + b) % m % 5
    val g = Tables.events(spark, dir)
      .select(fold.cast("bigint").as("fold"), col("user_id"))
      .groupBy("fold")
      .agg(count_distinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
    val share = col("n_events").cast("double") /
      sum("n_events").over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("double")
    g.select(col("fold"), col("n_users"), col("n_events"),
        share.as("event_share"), abs(share - 0.2).as("dev_from_ideal"))
  }

  val groupKfoldSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(3)
    val m = graft.functions.PolyHash.Mod
    s"""WITH g AS (
       |  SELECT (user_id * ${a} + ${b}) % ${m} % 5 AS fold,
       |         COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
       |  FROM events GROUP BY 1)
       |SELECT fold, n_users, n_events,
       |  CAST(n_events AS DOUBLE) / CAST(SUM(n_events) OVER () AS DOUBLE) AS event_share,
       |  abs(CAST(n_events AS DOUBLE) / CAST(SUM(n_events) OVER () AS DOUBLE) - 0.2) AS dev_from_ideal
       |FROM g ORDER BY fold""".stripMargin
  }

  /** Per-group z-score feature normalization — the scaling pass every
    * feature pipeline applies before training. One map-side-combined
    * moment aggregation per event type (corrStats' exact-decimal
    * discipline: count/sum/sum-of-squares are associative decimal sums,
    * so partition order can't perturb them), broadcast back to the fact
    * rows, z computed with an identical double expression tree on both
    * engines. At any corpus size the group-stats relation is |types|
    * rows — the fact table never shuffles. */
  def featureNormalize(spark: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast(DecimalType(18, 2))
    val m = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(v).as("sv"), sum(v * v).as("sv2"))
    val nd = col("n").cast("double")
    val sv = col("sv").cast("double")
    val sv2 = col("sv2").cast("double")
    val mean = sv / nd
    val std = sqrt((sv2 - sv * sv / nd) / nd)
    // std=0 guard (single-row or constant group): non-ANSI Spark division
    // yields NULL but DuckDB's IEEE division yields Inf/NaN — NULL on both
    // engines, the same discipline as trendSlope's NULLIF denominator.
    val stdSafe = when(std === 0.0, lit(null)).otherwise(std)
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(m), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - mean) / stdSafe).as("z"))
  }

  val featureNormalizeSql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sv,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sv2
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |       (value - sv / n::DOUBLE) /
      |         NULLIF(sqrt((sv2 - sv * sv / n::DOUBLE) / n::DOUBLE), 0) AS z
      |FROM events e JOIN m USING (event_type)""".stripMargin

  /** Winsorized per-type stats: clamp `value` to its own type's
    * [p05, p95] and report the clamped mean plus tail counts — the
    * standard heavy-tail-robust preprocessing for reward/engagement
    * features. The quantile relation is one small per-type aggregate
    * BROADCAST onto the fact scan (the fact table never reshuffles for
    * the clamp), and the winsorized mean is reconstructed exactly as
    * (sum_mid + n_lo*lo + n_hi*hi) / n: the mid-mass sum is an exact
    * DECIMAL (order-independent), the tail mass is count x bound, so the
    * one double expression is bit-equal across engines — no
    * order-dependent double summation anywhere. Exact `percentile` keeps
    * the differential bit-for-bit (quantile_cont interpolation matches);
    * at 100 TB you'd swap in approx_percentile and keep the same plan. */
  def winsorizeStats(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.05D, 0.95D))").as("qs"))
      .select(col("event_type"), col("qs")(0).as("lo"), col("qs")(1).as("hi"))
    val v = col("value").cast(DecimalType(18, 2))
    Tables.events(spark, dir)
      .join(broadcast(q), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("value") >= col("lo") && col("value") <= col("hi"), v)).as("sum_mid"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        col("lo"), col("hi"),
        ((col("sum_mid").cast("double") + col("n_lo") * col("lo") + col("n_hi") * col("hi"))
          / col("n")).as("win_mean"))
  }

  val winsorizeStatsSql: String =
    """WITH q AS (
      |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
      |         quantile_cont(value, 0.95) AS hi
      |  FROM events GROUP BY event_type),
      |a AS (
      |  SELECT e.event_type, COUNT(*) AS n,
      |    SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS n_lo,
      |    SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS n_hi,
      |    SUM(CASE WHEN value >= lo AND value <= hi
      |             THEN CAST(value AS DECIMAL(18,2)) END) AS sum_mid,
      |    MIN(lo) AS lo, MIN(hi) AS hi
      |  FROM events e JOIN q USING (event_type) GROUP BY e.event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(n_lo AS BIGINT) AS n_lo,
      |  CAST(n_hi AS BIGINT) AS n_hi, lo, hi,
      |  (CAST(CAST(sum_mid AS VARCHAR) AS DOUBLE) + n_lo * lo + n_hi * hi) / n AS win_mean
      |FROM a ORDER BY event_type""".stripMargin

  /** Robust outlier screen per event type: median + MAD instead of
    * mean + stddev (one fat-fingered 1e9 value drags a z-score
    * threshold into uselessness; the median absolute deviation doesn't
    * budge). Both statistics are PICK-based lower medians (rank =
    * (n+1) div 2 over a total order) — no interpolation, so the values
    * are exact row values and the engines can't disagree on averaging;
    * deviations are one IEEE subtraction each. Flag = dev > 3·1.4826·MAD
    * (the Gaussian-consistency constant), counted per type. Ranks ride the
    * grouped PrefixScan (no task holds a whole type); the exact-median
    * sort is the price, hist_quantiles is the approximate path at
    * 100 TB. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
    // lowerMedian rides the GROUPED PrefixScan: a type-partitioned rank
    // window would put |events|/|types| rows in one task.
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val ranked = graft.operators.PrefixScan.runningSum(
        df.withColumn("one", lit(1L)),
        Seq("event_type"), "one", "rn", col(valueCol), col("event_id"))
      val n = df.groupBy("event_type").agg(count(lit(1)).as("n"))
      ranked.join(broadcast(n), "event_type")
        .filter(expr("rn = (n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = lowerMedian(ev, "value", "med")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = lowerMedian(dev.select(col("event_type"), col("dev"), col("event_id")),
      "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max("med").as("median_value"), max("mad").as("mad"),
        sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  val robustOutliersSql: String =
    """WITH ev AS (SELECT event_type, value, event_id FROM events),
      |med AS (SELECT event_type, value AS med FROM (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n FROM ev) t
      |  WHERE rn = (n + 1) // 2),
      |d AS (SELECT ev.event_type, ev.event_id, med.med, abs(value - med) AS dev
      |      FROM ev JOIN med USING (event_type)),
      |mad AS (SELECT event_type, dev AS mad FROM (
      |  SELECT event_type, dev,
      |         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n FROM d) t
      |  WHERE rn = (n + 1) // 2)
      |SELECT d.event_type, COUNT(*) AS n, MAX(d.med) AS median_value, MAX(mad.mad) AS mad,
      |       CAST(SUM(CASE WHEN d.dev > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  /** Event-type co-occurrence with lift over (user, day) baskets — the
    * market-basket screen ("which behaviors travel together") on the
    * event stream. Baskets are distinct (user, day, type) triples, so the
    * pair self-join is bounded by |types|² per basket regardless of event
    * volume — the explosion is capped by the type domain, never the
    * stream. lift = P(a,b)/(P(a)·P(b)) computed as a ratio of exact
    * counts with one double division. */
  def typeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val basket = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .distinct()
    val b = graft.GraftCaches.track(basket)
    val totals = b.select("user_id", "day").distinct().agg(count(lit(1)).as("n_baskets"))
    val perType = b.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = b.select(col("user_id"), col("day"), col("event_type").as("type_a"))
      .join(b.select(col("user_id"), col("day"), col("event_type").as("type_b")),
        Seq("user_id", "day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(totals))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        ((col("n_both") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  val typeCooccurrenceSql: String =
    """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
      |tot AS (SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b)),
      |pt AS (SELECT event_type, COUNT(*) AS n_t FROM b GROUP BY event_type),
      |p AS (SELECT a.event_type AS type_a, c.event_type AS type_b, COUNT(*) AS n_both
      |      FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
      |                       AND a.event_type < c.event_type
      |      GROUP BY a.event_type, c.event_type)
      |SELECT type_a, type_b, n_both, pa.n_t AS n_a, pb.n_t AS n_b,
      |       CAST(n_both * n_baskets AS DOUBLE) / CAST(pa.n_t * pb.n_t AS DOUBLE) AS lift
      |FROM p JOIN pt pa ON pa.event_type = p.type_a
      |       JOIN pt pb ON pb.event_type = p.type_b
      |       CROSS JOIN tot
      |ORDER BY type_a, type_b""".stripMargin

  /** Cohort retention triangle: users grouped by FIRST-seen week, then
    * for each (cohort, weeks-since) cell the count of cohort users active
    * that week and the retention share — the product-analytics staple.
    * Two map-side-combined aggregations (first-seen per user, distinct
    * user-week activity) and one user-keyed join; the triangle itself is
    * |weeks|² rows. Retention is a ratio of exact counts. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
    val activity = graft.GraftCaches.track(ev.distinct())
    val cohort = activity.groupBy("user_id").agg(min("week").as("cohort_week"))
    val cohortSize = cohort.groupBy("cohort_week").agg(count(lit(1)).as("n_cohort"))
    activity.join(cohort, "user_id")
      .withColumn("weeks_since",
        floor(datediff(col("week"), col("cohort_week")) / 7).cast("bigint"))
      .groupBy("cohort_week", "weeks_since")
      .agg(count_distinct(col("user_id")).as("n_active"))
      .join(broadcast(cohortSize), "cohort_week")
      .select(col("cohort_week"), col("weeks_since"), col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double")).as("retention"))
  }

  val cohortRetentionSql: String =
    """WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY user_id),
      |cs AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM c GROUP BY cohort_week),
      |r AS (SELECT c.cohort_week,
      |             CAST((CAST(a.week AS DATE) - CAST(c.cohort_week AS DATE)) // 7 AS BIGINT) AS weeks_since,
      |             COUNT(DISTINCT a.user_id) AS n_active
      |      FROM a JOIN c USING (user_id)
      |      GROUP BY c.cohort_week, weeks_since)
      |SELECT r.cohort_week, weeks_since, n_active, n_cohort,
      |       CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
      |FROM r JOIN cs USING (cohort_week)
      |ORDER BY cohort_week, weeks_since""".stripMargin

  /** Exponentially time-decayed engagement per user with EXACT decay
    * weights: weight = 2^-(age_weeks), computed as an integer bit shift
    * (1 << age) — never pow()/exp(), whose libm rounding differs between
    * engines — and the weighted sum micro-scaled to exact decimals so
    * partition order can't perturb it. The recency-weighted activity
    * score every ranking/personalization pipeline keeps. Age capped at
    * 40 weeks (2^-40 ≈ 1e-12 is below the 1e-9 quantum anyway). */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val maxTs = Tables.events(spark, dir).agg(max(to_date(col("ts"))).as("d0"))
    val age = least(floor(datediff(col("d0"), to_date(col("ts"))) / 7), lit(40))
      .cast("int")
    val wv = col("value") / expr("shiftleft(CAST(1 AS BIGINT), age)")
    Tables.events(spark, dir)
      .crossJoin(broadcast(maxTs))
      .select(col("user_id"), col("value"), age.as("age"))
      .select(col("user_id"),
        round(wv * lit(1e9)).cast(DecimalType(38, 0)).as("wv"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("wv")).cast("double") / lit(1e9)).as("decayed_value"))
  }

  val decayedEngagementSql: String =
    """WITH m AS (SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events),
      |w AS (SELECT user_id,
      |             CAST(round(value / (1::BIGINT << LEAST((d0 - CAST(ts AS DATE)) // 7, 40)) * 1000000000.0)
      |                  AS DECIMAL(38,0)) AS wv
      |      FROM events CROSS JOIN m)
      |SELECT user_id, COUNT(*) AS n_events,
      |       CAST(SUM(wv) AS DOUBLE) / 1000000000.0 AS decayed_value
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Join-key skew profile over orders-per-customer — the diagnostic run
    * BEFORE choosing a join strategy at scale (a top-10 share near 1.0
    * says salt-or-broadcast; near uniform says plain shuffle is fine).
    * Group-size distribution summarized with the engine's own
    * distributed shapes: the global median rank comes from
    * [[graft.operators.PrefixScan]] (range-partitioned running count —
    * no single-task window over 1e9 keys), the top-10 mass from a
    * TakeOrdered heap, and the scalar pieces meet in 1-row
    * cross-broadcasts. */
  def keySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("c"))
    val cc = graft.GraftCaches.track(counts)
    val stats = cc.agg(count(lit(1)).as("n_keys"),
      sum("c").cast("bigint").as("total_orders"), max("c").as("max_per_key"))
    val ranked = graft.operators.PrefixScan.runningSum(
      cc.withColumn("one", lit(1L)), Nil, "one", "rank", col("c"), col("o_custkey"))
    val med = ranked.crossJoin(broadcast(stats.select(col("n_keys").as("nk"))))
      .filter(col("rank") === expr("(nk + 1) div 2"))
      .select(col("c").as("median_per_key"))
    val top10 = cc.orderBy(col("c").desc, col("o_custkey")).limit(10)
      .agg(sum("c").cast("bigint").as("top10_orders"))
    stats.crossJoin(broadcast(med)).crossJoin(broadcast(top10))
      .select(col("n_keys"), col("total_orders"), col("max_per_key"),
        col("median_per_key"),
        (col("top10_orders").cast("double") /
          col("total_orders").cast("double")).as("top10_share"))
  }

  val keySkewProfileSql: String =
    """WITH c AS (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey),
      |n AS (SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS total_orders,
      |             MAX(c) AS max_per_key FROM c),
      |r AS (SELECT c, row_number() OVER (ORDER BY c, o_custkey) AS rank FROM c),
      |med AS (SELECT c AS median_per_key FROM r CROSS JOIN n WHERE rank = (n_keys + 1) // 2),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS top10_orders
      |      FROM (SELECT c FROM c ORDER BY c DESC, o_custkey LIMIT 10))
      |SELECT n_keys, total_orders, max_per_key, median_per_key,
      |       CAST(top10_orders AS DOUBLE) / CAST(total_orders AS DOUBLE) AS top10_share
      |FROM n CROSS JOIN med CROSS JOIN t""".stripMargin

  /** The SQL catalog door, oracle-checked end to end: register every
    * fixture table as a temp view (`Tables.registerViews` — the no-Scala
    * user's entry point) and drive a WINDOWED analytic purely through
    * `spark.sql` — per-user event rank and the running value total,
    * text identical on both engines except nothing: the SAME SQL string
    * runs in DuckDB. Pins that the catalog path plans the window exactly
    * like the DataFrame path (SqlCatalogSpec checks registration;
    * this checks RESULTS). */
  def sqlWindowDoor(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Tables.registerViews(spark, dir)
    spark.sql(sqlWindowDoorSql)
  }

  /** One SQL text for BOTH engines: the strongest possible parity claim
    * for the SQL door (no dialect translation at all). */
  val sqlWindowDoorSql: String =
    """SELECT user_id, event_id,
      |       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE) AS running_value
      |FROM events
      |WHERE user_id < 30
      |ORDER BY user_id, rn""".stripMargin

  /** TPC-H Q14-shaped promo-revenue share: what fraction of one month's
    * revenue came from PROMO parts. ONE fact-dimension join (part is the
    * small side — broadcast; the shipdate filter prunes the lineitem scan
    * first) feeding a conditional 1-row fold: at 100 TB the shuffle moves
    * |partitions| partial rows, never lineitems. The share is two exact
    * decimal sums and a single trailing IEEE division (both engines
    * evaluate 100.0 * promo / total in the same order — bit-equal). */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-09-01")) &&
        col("l_shipdate") < to_timestamp(lit("1995-10-01")))
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0).cast(DecimalType(12, 2))))
          .as("promo_dec"),
        sum(revenue).as("total_dec"),
        count(lit(1)).as("n_items"))
      .select(
        (lit(100.0) * col("promo_dec").cast("double") / col("total_dec").cast("double"))
          .as("promo_share_pct"),
        col("promo_dec").cast("double").as("promo_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        col("n_items"))
  }

  val promoRevenueSql: String =
    """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |           THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      |           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      |       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      |         AS promo_share_pct,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |           THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      |           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin

  /** TPC-H Q15-shaped top supplier: per-supplier revenue, keep the
    * supplier(s) hitting the global max. The per-supplier fold is ONE
    * map-side-combined aggregate (shuffle carries |suppliers| partial
    * rows); the max runs as a window over the AGGREGATED relation
    * (|suppliers| rows — the single-partition window is justified the
    * same way pareto_frontier's is), and the max comparison happens on
    * the exact DECIMAL sums, never on doubles. Supplier names attach by
    * broadcast at the end, after the 1-or-few-row survivor filter. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    val perSupp = graft.GraftCaches.track(
      Tables.lineitem(spark, dir)
        .groupBy("l_suppkey")
        .agg(sum(revenue).as("rev_dec")))
    // The argmax rides a 1-row MAX aggregate broadcast back as an
    // equi-join on the revenue value — NOT a partition-less max window,
    // which would drag the whole |suppliers| relation into one task.
    val maxRev = perSupp.agg(max("rev_dec").as("max_rev"))
    perSupp
      .join(broadcast(maxRev), col("rev_dec") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_dec").cast("double").as("total_revenue"))
  }

  val topSupplierSql: String =
    """WITH r AS (SELECT l_suppkey,
      |             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec
      |           FROM lineitem GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
      |FROM r JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_dec = (SELECT MAX(rev_dec) FROM r)""".stripMargin

  /** TPC-H Q17-shaped small-quantity screen: revenue from orders whose
    * quantity is below 20% of the part's own average. The correlated
    * per-part average runs as a WINDOW over the partkey exchange — ONE
    * shuffle, no second scan and no join-back (the textbook Q17 plan
    * re-reads lineitem to build the per-part aggregate; the window form
    * shares the exchange). The brand filter broadcasts into the lineitem
    * scan first, so at 100 TB the exchange moves only one brand's rows.
    * avg_qty is an exact decimal window sum over an IEEE count division;
    * both engines compare l_quantity < 0.2 * avg_qty in that order. */
  def avgQtyThreshold(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(col("p_brand") === "Brand#11")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty",
        sum(col("l_quantity").cast(DecimalType(12, 2))).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        (sum(col("l_extendedprice").cast(DecimalType(12, 2))).cast("double") / lit(7.0))
          .as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  val avgQtyThresholdSql: String =
    """WITH j AS (SELECT l_partkey, l_quantity, l_extendedprice
      |           FROM lineitem JOIN part ON l_partkey = p_partkey
      |           WHERE p_brand = 'Brand#11'),
      |w AS (SELECT l_quantity, l_extendedprice,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (PARTITION BY l_partkey) AS DOUBLE)
      |          / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
      |      FROM j)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       COUNT(*) AS n_rows
      |FROM w WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  /** TPC-H Q19-shaped OR-of-ANDs predicate: three (brand, size-range,
    * quantity-range) disjuncts over the part join. The point at scale is
    * PUSHDOWN: the disjunction of part-only conjuncts (brand IN ..,
    * size <= 50) prunes the broadcast build side, and the quantity
    * bounds derived from the OR prune the lineitem scan — Catalyst
    * factors common bounds out of the OR without hand-rewriting. Exact
    * decimal revenue, 1-row fold. */
  def orPredicateRevenue(spark: SparkSession, dir: String): DataFrame = {
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    val pred =
      (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#22" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 35)) ||
      (col("p_brand") === "Brand#6" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  val orPredicateRevenueSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
      |   OR (p_brand = 'Brand#6' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  /** TPC-H Q22-shaped idle-customer report: per nation, the well-funded
    * customers (balance above the positive-balance average) with no
    * ORDER SINCE 2000 (the fixtures give every customer some lifetime
    * order, so the recency cutoff is what makes the anti-set real —
    * and it pushes into the orders scan as a date predicate). The
    * global average is the deliberate 1-row scalar cross-broadcast
    * (PlanGuard-whitelisted shape); the idleness test is a LEFT ANTI
    * join on custkey (at 100 TB: one key exchange over the date-pruned
    * orders, no data columns on the wire); the final fold is one tiny
    * nation aggregate. Balance sums are exact DECIMAL(18,2) (the
    * fixtures carry 2-decimal balances); the avg is one IEEE division
    * and the > compare runs double-vs-double identically in both
    * engines. */
  def idleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgPos = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_bal"))
    cust.crossJoin(broadcast(avgPos))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_bal"))
  }

  val idleCustomersSql: String =
    """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      |           FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, COUNT(*) AS n_custs,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer CROSS JOIN a
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Incremental materialized-view maintenance, hash-checked: the
    * per-type stats view is maintained as OLD-partial ⊕ DELTA-partial
    * (events before/after a mid-month cutoff aggregated separately, then
    * MERGED — counts add, decimal sums add, mins/maxes fold), while the
    * oracle recomputes the view from scratch over all events. Hash
    * equality IS the incremental-maintenance correctness proof: the
    * merge of partials equals the full recompute bit-for-bit (decimal
    * addition is associative; min/max are semigroup folds). At 100 TB
    * this is the shape that matters — a daily delta re-aggregates only
    * the delta partition and merges |types| rows, never rescanning the
    * base. Both branches prune on the pushed ts predicate. */
  def incrementalAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("2024-01-16"))
    def partial(df: DataFrame): DataFrame = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("v"),
        min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val e = Tables.events(spark, dir)
    val base  = partial(e.filter(col("ts") < cutoff))
    val delta = partial(e.filter(col("ts") >= cutoff))
    base.unionByName(delta)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        sum(col("v")).cast("double").as("total_value"),
        min(col("mn")).as("first_ts"), max(col("mx")).as("last_ts"))
  }

  val incrementalAggMergeSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  MIN(ts) AS first_ts, MAX(ts) AS last_ts
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** TPC-H Q6-shaped forecast revenue: a pure filter-and-fold over
    * lineitem — no join at all. The whole query is the PUSHDOWN story:
    * all three predicates (date range, discount band, quantity cap)
    * reach the parquet scan as PushedFilters, so at 100 TB the scan
    * skips row groups on statistics and the fold sees only survivors.
    * Revenue = Σ extendedprice×discount as exact decimals. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          col("l_discount").cast(DecimalType(4, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  val forecastRevenueSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q10-shaped returned-revenue report: the top-20 customers by
    * revenue on RETURNED items. ONE fact-fact shuffle (the returnflag
    * filter prunes the lineitem scan first); customer and nation are
    * broadcast dimensions; the top-20 runs as TakeOrderedAndProject on
    * the |customers|-row aggregate (single pass, no RangePartitioning
    * sampling). Exact decimal revenue; ties break on custkey so the
    * cut is deterministic. */
  def returnedRevenueTopk(spark: SparkSession, dir: String): DataFrame = {
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(revenue).as("rev_dec"), count(lit(1)).as("n_returned"))
      .orderBy(col("rev_dec").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev_dec").cast("double").as("returned_revenue"), col("n_returned"))
  }

  val returnedRevenueTopkSql: String =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(rev_dec AS DOUBLE) AS returned_revenue, n_returned
      |FROM (SELECT c_custkey, c_name, n_name,
      |        SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec,
      |        COUNT(*) AS n_returned
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |      JOIN customer ON o_custkey = c_custkey
      |      JOIN nation ON c_nationkey = n_nationkey
      |      WHERE l_returnflag = 'R'
      |      GROUP BY c_custkey, c_name, n_name) t
      |ORDER BY rev_dec DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** TPC-H Q4-shaped late-shipment priority count: orders (per priority)
    * having at least one line shipped more than 90 days after the order
    * date. The existence test is a LEFT SEMI join — the equi half
    * (orderkey) drives the exchange, the non-equi half (the 90-day
    * lateness predicate) evaluates inside the join, and no lineitem
    * column survives it: at 100 TB the semi join ships only orderkeys
    * back. One tiny priority aggregate on top. */
  def lateShipmentPriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(spark, dir)
    o.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  val lateShipmentPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Sensor-style delta compression audit: per user in (ts, event_id)
    * order, a row survives if it's the user's first, moved by more than
    * 1.0 in value, or arrived after a >10-minute silence — the
    * keep-on-change rule a telemetry pipeline applies before storage.
    * Reports the kept/total compression per event type. ONE user-keyed
    * exchange for the lag window, one tiny type aggregate; the value
    * delta compares doubles and the gap compares integer epoch
    * microseconds, so the keep decision is bit-identical cross-engine. */
  def deltaCompress(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_v", lag(col("value"), 1).over(w))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("keep",
        col("prev_v").isNull ||
        abs(col("value") - col("prev_v")) > 1.0 ||
        unix_micros(col("ts")) - col("prev_us") > 600000000L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_total").cast("double")).as("keep_ratio"))
  }

  val deltaCompressSql: String =
    """WITH w AS (SELECT event_type, value, epoch_us(ts) AS us,
      |        lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
      |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |      FROM events)
      |SELECT event_type, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN prev_v IS NULL OR abs(value - prev_v) > 1.0
      |                     OR us - prev_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN prev_v IS NULL OR abs(value - prev_v) > 1.0
      |                     OR us - prev_us > 600000000 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS keep_ratio
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Concurrent-session load curve by SWEEP LINE: each 60-minute-gap
    * session contributes +1 at its start day and −1 the day after its
    * end; the running sum over day boundaries IS the number of sessions
    * active on each day. The scale point: the interval×day explosion
    * (rolling_distinct_users' bounded-window trick can't help here —
    * sessions have unbounded length) never happens; the shuffle carries
    * 2 boundary rows per session, the day aggregate is |days| rows, and
    * the running sum is PrefixScan's two-phase distributed scan, not a
    * single-partition window. Output rows are boundary days (days with
    * no session edge repeat the previous count implicitly). */
  def activeSessionsDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapMicros = 3600L * 1000000L
    val prev = lag(col("ts"), 1).over(w)
    val newSession = when(
      prev.isNull || unix_micros(col("ts")) - unix_micros(prev) > gapMicros, 1)
      .otherwise(0)
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("session_no", sum(newSession).over(run))
      .groupBy("user_id", "session_no")
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val deltas = sessions.select(to_date(col("st")).as("day"), lit(1L).as("delta"))
      .unionByName(sessions.select(date_add(to_date(col("en")), 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy("day").agg(sum(col("delta")).as("delta"))
    graft.operators.PrefixScan.runningSum(deltas, Nil, "delta", "active", col("day").asc)
      .select(col("day").cast("timestamp").as("day"), col("delta"), col("active"))
  }

  val activeSessionsDailySql: String =
    """WITH x AS (SELECT user_id, event_id, ts,
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |           FROM events),
      |y AS (SELECT user_id, ts,
      |        SUM(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000
      |                 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |      FROM x),
      |s AS (SELECT user_id, session_no, MIN(ts) AS st, MAX(ts) AS en
      |      FROM y GROUP BY user_id, session_no),
      |d AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS delta FROM (
      |        SELECT CAST(st AS DATE) AS day, 1 AS delta FROM s
      |        UNION ALL
      |        SELECT CAST(en AS DATE) + 1 AS day, -1 AS delta FROM s) b
      |      GROUP BY day)
      |SELECT CAST(day AS TIMESTAMP) AS day, delta,
      |       CAST(SUM(delta) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
      |FROM d ORDER BY day""".stripMargin

  /** CDC MERGE (upsert-with-delete) applied as one relational pass: a
    * deterministic changeset over the customer dimension — DELETE every
    * key ≡ 0 (mod 13), UPDATE (acctbal += 100) every remaining key ≡ 0
    * (mod 7), INSERT a fresh key ≡ 3 (mod 1000) shifted past the key
    * space — merged into the base table with full-outer semantics:
    * unchanged rows pass through, updates replace, deletes vanish,
    * inserts append. This is `MERGE INTO` (Delta/Iceberg's upsert
    * primitive) expressed engine-portably: ONE shuffle on the merge key,
    * no per-row driver logic, and the row-provenance column makes every
    * branch of the merge hash-checked. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val deletes = base.filter(pmod(col("c_custkey"), lit(13)) === 0)
      .select(col("c_custkey"), lit(null).cast("string").as("new_name"),
        lit(null).cast("double").as("new_acctbal"), lit("D").as("op"))
    val updates = base.filter(pmod(col("c_custkey"), lit(13)) =!= 0 &&
        pmod(col("c_custkey"), lit(7)) === 0)
      .select(col("c_custkey"), col("c_name").as("new_name"),
        (col("c_acctbal") + 100.0).as("new_acctbal"), lit("U").as("op"))
    // Insert keys shift by 1e10 — past the key domain of any SF this
    // fixture family reaches (collision would need 10^10 customers, SF
    // ~67k; post-review note: a colliding insert would silently act as
    // an update, and the oracle would replicate the same collision, so
    // the offset must clear the domain rather than rely on the gate).
    val inserts = base.filter(pmod(col("c_custkey"), lit(1000)) === 3)
      .select((col("c_custkey") + 10000000000L).as("c_custkey"),
        concat(lit("Customer#new"), col("c_custkey")).as("new_name"),
        lit(0.0).as("new_acctbal"), lit("I").as("op"))
    val changes = deletes.unionByName(updates).unionByName(inserts)
    base.join(changes, Seq("c_custkey"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("c_custkey"),
        coalesce(col("new_name"), col("c_name")).as("c_name"),
        coalesce(col("new_acctbal"), col("c_acctbal")).as("c_acctbal"),
        coalesce(col("op"), lit("K")).as("row_src"))
  }

  val mergeUpsertSql: String =
    """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |changes AS (
      |  SELECT c_custkey, NULL::VARCHAR AS new_name, NULL::DOUBLE AS new_acctbal, 'D' AS op
      |  FROM base WHERE c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal + 100.0, 'U'
      |  FROM base WHERE c_custkey % 13 <> 0 AND c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000000, 'Customer#new' || CAST(c_custkey AS VARCHAR), 0.0, 'I'
      |  FROM base WHERE c_custkey % 1000 = 3)
      |SELECT COALESCE(b.c_custkey, c.c_custkey) AS c_custkey,
      |       COALESCE(c.new_name, b.c_name) AS c_name,
      |       COALESCE(c.new_acctbal, b.c_acctbal) AS c_acctbal,
      |       COALESCE(c.op, 'K') AS row_src
      |FROM base b FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
      |WHERE COALESCE(c.op, '') <> 'D'
      |ORDER BY c_custkey""".stripMargin

  /** Fact→SCD2 dimension lookup: every event of the audited users
    * attaches the dimension VERSION valid at its own timestamp (the
    * type-change rows `scd2_history` derives are the dimension; the
    * attach is "latest change at-or-before the fact"). This is the
    * warehouse temporal-join every slowly-changing dimension needs, and
    * it runs as the backward as-of operator — ONE key exchange, one
    * sort, zero row blow-up — NOT as the |facts|×|versions| interval
    * join the naive BETWEEN formulation would plan. A fact at the exact
    * change instant sees the NEW version (right rows sort first at
    * equal times), so the change event itself is already reclassified. */
  def scd2AsofLookup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir).filter(col("user_id") < 20)
    val changes = base
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id").as("c_user"), col("ts").as("valid_from"),
        col("event_id").as("change_id"), col("event_type").as("dim_type"))
    val facts = base.select(col("user_id"), col("event_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(facts, changes,
        leftKey = col("user_id"), rightKey = col("c_user"),
        leftTime = col("ts"), rightTime = col("valid_from"),
        rightTie = "change_id", rightPayload = Seq("dim_type", "change_id"))
      .select("user_id", "event_id", "asof_dim_type", "asof_change_id")
  }

  val scd2AsofLookupSql: String =
    """WITH b AS (SELECT user_id, event_id, ts, event_type FROM events WHERE user_id < 20),
      |c AS (SELECT user_id, ts AS valid_from, event_id AS change_id, event_type AS dim_type
      |      FROM (SELECT user_id, event_id, ts, event_type,
      |              lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |            FROM b) x
      |      WHERE prev_type IS NULL OR prev_type != event_type),
      |u AS (SELECT user_id AS k, ts AS t, 1 AS side, NULL::BIGINT AS tie,
      |             NULL::VARCHAR AS p_dt, NULL::BIGINT AS p_ci, user_id, event_id
      |      FROM b
      |      UNION ALL
      |      SELECT user_id, valid_from, 0, change_id, dim_type, change_id, NULL, NULL
      |      FROM c),
      |w AS (SELECT side, user_id, event_id,
      |        last_value(p_dt IGNORE NULLS) OVER win AS asof_dim_type,
      |        last_value(p_ci IGNORE NULLS) OVER win AS asof_change_id
      |      FROM u
      |      WINDOW win AS (PARTITION BY k ORDER BY t, side, tie
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id, asof_dim_type, asof_change_id
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** Exact click→purchase conversion-lag quantiles (p50/p90/p99) — the
    * SLA readout over the attribution relation. Quantiles are EXACT, not
    * approximate: per-lag-level counts (integer micros — lag levels are
    * few relative to purchases), PrefixScan's distributed running sum
    * over the level relation, and the rank-hit filter cum ≥ ⌈q·n⌉ >
    * cum−cnt — the corpus never passes through a global sort or a
    * single-partition rank window (hist_quantiles' shape, but exact on
    * distinct levels instead of binned). Scalars ride the whitelisted
    * 1-row cross-broadcast. */
  def conversionLagQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val lags = attributionLastTouch(spark, dir)
      .filter(col("lag_us").isNotNull).select(col("lag_us"))
    val levels = lags.groupBy("lag_us").agg(count(lit(1)).as("cnt"))
    val cum = graft.operators.PrefixScan
      .runningSum(levels, Nil, "cnt", "cum", col("lag_us").asc)
      .withColumn("cum0", col("cum") - col("cnt"))
    val tot = levels.agg(sum("cnt").as("n"))
    val qdf = spark.range(1).select(
      explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qdf))
      .withColumn("target_rank", ceil(col("q") * col("n").cast("double")).cast("bigint"))
      .filter(col("cum") >= col("target_rank") && col("cum0") < col("target_rank"))
      .select(col("q"), col("target_rank"), col("lag_us"), col("n"))
  }

  val conversionLagQuantilesSql: String =
    s"""WITH att AS ($attributionLastTouchSql),
       |l AS (SELECT lag_us FROM att WHERE lag_us IS NOT NULL),
       |lv AS (SELECT lag_us, COUNT(*) AS cnt FROM l GROUP BY lag_us),
       |c AS (SELECT lag_us, cnt,
       |        CAST(SUM(cnt) OVER (ORDER BY lag_us
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM lv),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM lv),
       |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
       |SELECT q, CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT) AS target_rank, lag_us, n
       |FROM c CROSS JOIN n CROSS JOIN q
       |WHERE cum >= CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT)
       |  AND cum - cnt < CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT)
       |ORDER BY q""".stripMargin

  /** Strict ordered funnel (ClickHouse windowFunnel-style, per-step
    * tolerance): view → first click at-or-after it (≤24 h) → first
    * purchase at-or-after that click (≤24 h; the fixtures' per-user
    * event cadence is ~1/36 h, so an hour-scale window would be
    * vacuously empty). Each step is the FORWARD
    * as-of operator — one user-keyed exchange per step, zero row
    * blow-up — never the |views|×|clicks-per-user| join the oracle's
    * row_number formulation materializes (that asymmetry is the point:
    * the oracle states the semantics, the engine states the plan).
    * "First event at-or-after" makes the funnel strict: if a view's
    * earliest following click is late, no later click can rescue it.
    * Output is the 3-row stage table (rows + distinct users). */
  def windowFunnel(spark: SparkSession, dir: String): DataFrame =
    windowFunnelStages(Tables.events(spark, dir), tolUs = 86400000000L)

  /** Operator core of [[windowFunnel]] over any events relation (also
    * the property-test seam: WindowFunnelPropertySpec differentials it
    * against a brute-force reference on generated streams). */
  def windowFunnelStages(ev: DataFrame, tolUs: Long): DataFrame = {
    val dayUs = tolUs
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val s1 = graft.operators.AsOfJoin.asOfForward(views, clicks,
        leftKey = col("user_id"), rightKey = col("c_user"),
        leftTime = col("vts"), rightTime = col("cts"),
        rightTie = "click_id", rightPayload = Seq("click_id", "cts"))
      .filter(col("asof_cts").isNotNull &&
        unix_micros(col("asof_cts")) - unix_micros(col("vts")) <= dayUs)
    val s2 = graft.operators.AsOfJoin.asOfForward(s1, purchases,
        leftKey = col("user_id"), rightKey = col("p_user"),
        leftTime = col("asof_cts"), rightTime = col("pts"),
        rightTie = "purchase_id", rightPayload = Seq("purchase_id", "pts"))
      .filter(col("asof_pts").isNotNull &&
        unix_micros(col("asof_pts")) - unix_micros(col("asof_cts")) <= dayUs)
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))
        .select(lit(name).as("stage"), col("n_rows"), col("n_users"))
    stage(views, "1_view")
      .unionByName(stage(s1, "2_click"))
      .unionByName(stage(s2, "3_purchase"))
  }

  val windowFunnelSql: String =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS cts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts FROM events WHERE event_type = 'purchase'),
      |s1 AS (SELECT user_id, view_id, vts, click_id, cts FROM (
      |        SELECT v.user_id, v.view_id, v.vts, c.click_id, c.cts,
      |               row_number() OVER (PARTITION BY v.user_id, v.view_id
      |                                  ORDER BY c.cts, c.click_id) AS rn
      |        FROM v JOIN c ON c.user_id = v.user_id AND c.cts >= v.vts) x WHERE rn = 1),
      |s1ok AS (SELECT * FROM s1 WHERE epoch_us(cts) - epoch_us(vts) <= 86400000000),
      |s2 AS (SELECT user_id, view_id, cts, purchase_id, pts FROM (
      |        SELECT s.user_id, s.view_id, s.cts, p.purchase_id, p.pts,
      |               row_number() OVER (PARTITION BY s.user_id, s.view_id
      |                                  ORDER BY p.pts, p.purchase_id) AS rn
      |        FROM s1ok s JOIN p ON p.user_id = s.user_id AND p.pts >= s.cts) y WHERE rn = 1),
      |s2ok AS (SELECT * FROM s2 WHERE epoch_us(pts) - epoch_us(cts) <= 86400000000)
      |SELECT '1_view' AS stage, COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users FROM v
      |UNION ALL SELECT '2_click', COUNT(*), COUNT(DISTINCT user_id) FROM s1ok
      |UNION ALL SELECT '3_purchase', COUNT(*), COUNT(DISTINCT user_id) FROM s2ok
      |ORDER BY stage""".stripMargin

  /** TPC-H Q5-shaped local-supplier volume: revenue per nation where the
    * ordering customer and the line's supplier sit in the SAME nation —
    * the join graph whose interesting edge is the c_nationkey =
    * s_nationkey equality BETWEEN two dimension paths, not another
    * fact-dimension key. Plan shape: ONE fact-fact shuffle
    * (lineitem⋈orders on orderkey); customer, supplier, nation, region
    * all broadcast; the same-nation test evaluates inside the broadcast
    * joins, so no extra exchange appears for it. Exact decimal revenue,
    * |nations|-row output. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    val custNation = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  val localSupplierVolumeSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Referential-integrity audit across the star schema's four FK edges
    * (lineitem→orders/part/supplier, orders→customer): orphan counts and
    * coverage per edge — the data-quality gate that runs before anyone
    * trusts a join. Each edge is ONE left-anti probe of the child's
    * DISTINCT keys against the parent (at 100 TB: distinct-key aggs
    * shuffle keys only, the parent sides broadcast after their own
    * distinct); the four 1-row results union into the audit table. */
  def fkIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val keys = child.select(col(childKey).as("k")).distinct()
      val orphans = keys.join(parent.select(col(parentKey).as("k")).distinct(),
        Seq("k"), "left_anti")
      keys.agg(count(lit(1)).as("n_keys"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("fk_edge"), col("n_keys"), col("n_orphans"),
          ((col("n_keys") - col("n_orphans")).cast("double") /
            col("n_keys").cast("double")).as("coverage"))
    }
    val li = Tables.lineitem(spark, dir)
    edge("lineitem.orderkey->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(edge("lineitem.partkey->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(edge("lineitem.suppkey->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(edge("orders.custkey->customer", Tables.orders(spark, dir),
        "o_custkey", Tables.customer(spark, dir), "c_custkey"))
  }

  val fkIntegrityAuditSql: String = {
    def edgeSql(name: String, child: String, childKey: String,
        parent: String, parentKey: String): String =
      s"""SELECT '$name' AS fk_edge,
         |  (SELECT COUNT(DISTINCT $childKey) FROM $child) AS n_keys,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT $childKey AS k FROM $child) c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parent WHERE $parentKey = c.k)) AS n_orphans,
         |  CAST((SELECT COUNT(DISTINCT $childKey) FROM $child)
         |       - (SELECT COUNT(*) FROM (SELECT DISTINCT $childKey AS k FROM $child) c
         |          WHERE NOT EXISTS (SELECT 1 FROM $parent WHERE $parentKey = c.k)) AS DOUBLE)
         |    / CAST((SELECT COUNT(DISTINCT $childKey) FROM $child) AS DOUBLE) AS coverage""".stripMargin
    Seq(
      edgeSql("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edgeSql("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edgeSql("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edgeSql("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("\nUNION ALL\n") + "\nORDER BY fk_edge"
  }

  /** Data-layout file-skipping audit — the number that justifies
    * Z-ordering: partition lineitem into 32 "files" two ways (natural
    * orderkey ranges vs equal-width Z-ranges over (partkey, suppkey)),
    * record per-file min/max stats, and count how many files a fixed
    * (partkey, suppkey) box predicate can NOT skip under each layout.
    * Fewer candidate files = fewer splits a 100 TB scan must touch;
    * the audit is pure integer bucketing + min/max folds, with the two
    * 1-row maxima on the whitelisted scalar cross-broadcast. */
  def layoutSkippingAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftCaches.track(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_partkey").cast("long").as("pk"),
          col("l_suppkey").cast("long").as("sk"))
        .select(col("ok"), col("pk"), col("sk"),
          graft.functions.ZOrderCode.z(col("pk"), col("sk")).as("z")))
    val maxes = base.agg(max("ok").as("okmax"), max("z").as("zmax"))
    def audit(name: String, bucket: org.apache.spark.sql.Column): DataFrame =
      base.crossJoin(broadcast(maxes))
        .groupBy(bucket.as("file_no"))
        .agg(min("pk").as("min_pk"), max("pk").as("max_pk"),
          min("sk").as("min_sk"), max("sk").as("max_sk"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("min_pk") <= 150L && col("max_pk") >= 100L &&
            col("min_sk") <= 20L && col("max_sk") >= 10L, 1L).otherwise(0L))
            .as("n_candidate_files"))
        .select(lit(name).as("layout"), col("n_files"), col("n_candidate_files"))
    audit("natural", floor(col("ok") * 32 / (col("okmax") + 1)).cast("bigint"))
      .unionByName(audit("zorder", floor(col("z") * 32 / (col("zmax") + 1)).cast("bigint")))
  }

  val layoutSkippingAuditSql: String =
    """WITH b AS (SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_partkey AS BIGINT) AS pk,
       |                 CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
       |z AS (SELECT ok, pk, sk,
       |        list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), j ->
       |          (((pk >> CAST(j AS INT)) & 1) << CAST(2*j AS INT))
       |        + (((sk >> CAST(j AS INT)) & 1) << CAST(2*j + 1 AS INT)))), (a,b) -> a|b) AS z
       |      FROM b),
       |m AS (SELECT MAX(ok) AS okmax, MAX(z) AS zmax FROM z),
       |nat AS (SELECT CAST(floor(ok * 32 / (okmax + 1)) AS BIGINT) AS file_no,
       |          MIN(pk) AS min_pk, MAX(pk) AS max_pk, MIN(sk) AS min_sk, MAX(sk) AS max_sk
       |        FROM z CROSS JOIN m GROUP BY file_no),
       |zo AS (SELECT CAST(floor(z * 32 / (zmax + 1)) AS BIGINT) AS file_no,
       |          MIN(pk) AS min_pk, MAX(pk) AS max_pk, MIN(sk) AS min_sk, MAX(sk) AS max_sk
       |        FROM z CROSS JOIN m GROUP BY file_no)
       |SELECT 'natural' AS layout, COUNT(*) AS n_files,
       |  CAST(SUM(CASE WHEN min_pk <= 150 AND max_pk >= 100 AND min_sk <= 20 AND max_sk >= 10
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_files FROM nat
       |UNION ALL
       |SELECT 'zorder', COUNT(*),
       |  CAST(SUM(CASE WHEN min_pk <= 150 AND max_pk >= 100 AND min_sk <= 20 AND max_sk >= 10
       |           THEN 1 ELSE 0 END) AS BIGINT) FROM zo
       |ORDER BY layout""".stripMargin

  /** TPC-H Q7-shaped bilateral trade flows: revenue between two named
    * nations in BOTH directions (supplier nation ≠ customer nation, both
    * drawn from the pair), per direction per year — the
    * cross-border-volume readout. The nation-pair predicate evaluates
    * inside the two broadcast dimension paths (the Q5 family's shape);
    * ONE fact-fact shuffle; exact decimal revenue; ≤ 2×|years| rows. */
  def nationTradeFlows(spark: SparkSession, dir: String): DataFrame = {
    val revenue = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
    val pair = Seq("NATION_18", "NATION_19")
    val suppN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(pair: _*))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custN = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(pair: _*))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  val nationTradeFlowsSql: String =
    """SELECT supp_nation, cust_nation, o_year,
      |  CAST(SUM(rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      |FROM (
      |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |         CAST(year(o_orderdate) AS INT) AS o_year,
      |         CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  WHERE sn.n_name IN ('NATION_18', 'NATION_19')
      |    AND cn.n_name IN ('NATION_18', 'NATION_19')
      |    AND sn.n_name != cn.n_name) t
      |GROUP BY supp_nation, cust_nation, o_year
      |ORDER BY supp_nation, cust_nation, o_year""".stripMargin

  /** Functional-dependency audit (data-profiling classic): for candidate
    * determinant→dependent column pairs over `part`, how many
    * determinant values map to MORE than one dependent value — FD holds
    * iff n_violating = 0. Each candidate costs one (det, dep) distinct
    * aggregate + one det-level fold (shuffles carry value pairs, never
    * rows); the three candidates union into the audit table. The
    * discovered FDs feed normalization and dimension-extraction
    * decisions on wide 100 TB tables. */
  def fdAudit(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    def candidate(det: String, dep: String): DataFrame =
      part.select(col(det).cast("string").as("det"), col(dep).cast("string").as("dep"))
        .distinct()
        .groupBy("det").agg(count(lit(1)).as("n_dep"))
        .agg(count(lit(1)).as("n_det_values"),
          sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(s"$det->$dep").as("fd"), col("n_det_values"), col("n_violating"),
          (col("n_violating") === 0).as("holds"))
    candidate("p_partkey", "p_brand")
      .unionByName(candidate("p_brand", "p_type"))
      .unionByName(candidate("p_type", "p_brand"))
  }

  val fdAuditSql: String = {
    def candidateSql(det: String, dep: String): String =
      s"""SELECT '$det->$dep' AS fd, COUNT(*) AS n_det_values,
         |  CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS holds
         |FROM (SELECT det, COUNT(*) AS n_dep FROM (
         |        SELECT DISTINCT CAST($det AS VARCHAR) AS det, CAST($dep AS VARCHAR) AS dep
         |        FROM part) d
         |      GROUP BY det) g""".stripMargin
    Seq(candidateSql("p_partkey", "p_brand"),
      candidateSql("p_brand", "p_type"),
      candidateSql("p_type", "p_brand"))
      .mkString("\nUNION ALL\n") + "\nORDER BY fd"
  }

  /** Hour-of-day × day-of-week seasonality profile: event counts per
    * (dow, hour) cell with the within-day share and a peak-hour flag —
    * the capacity-planning heatmap behind batch-window scheduling.
    * Calendar extraction is scan-local (session tz pinned UTC, so both
    * engines decode identical wall-clock fields); ONE 168-cell
    * map-side-combined aggregate; the share/peak windows run over ≤24
    * rows per day. */
  def hourlySeasonality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = Window.partitionBy("dow")
    Tables.events(spark, dir)
      .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .groupBy("dow", "hod").agg(count(lit(1)).as("n"))
      .withColumn("day_share",
        col("n").cast("double") / sum(col("n")).over(byDay).cast("double"))
      .withColumn("is_peak", col("n") === max(col("n")).over(byDay))
  }

  val hourlySeasonalitySql: String =
    """WITH c AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hod FROM events),
      |g AS (SELECT dow, hod, COUNT(*) AS n FROM c GROUP BY dow, hod)
      |SELECT dow, hod, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY dow) AS DOUBLE) AS day_share,
      |  n = MAX(n) OVER (PARTITION BY dow) AS is_peak
      |FROM g ORDER BY dow, hod""".stripMargin

  /** TPC-H Q2-shaped correlated-min lookup: for each screened part (one
    * type, small sizes), the EUROPE supplier(s) achieving the minimum
    * observed shipment price — the fixtures carry no partsupp table, so
    * the observed (part, supplier) relation from lineitem stands in for
    * it (cost = MIN extendedprice, exact decimal, so the min and the
    * equality join-back are bit-stable cross-engine). Shape at 100 TB:
    * the (part, supp) aggregate is map-side combined; both dimension
    * screens (part filter, region-filtered supplier) broadcast, so the
    * per-part min window runs over the already-screened slice only —
    * never over the full relation. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = Tables.lineitem(spark, dir)
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("l_extendedprice").cast(DecimalType(12, 2))).as("cost"))
    val euSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    ps.join(broadcast(Tables.part(spark, dir)
          .filter(col("p_type") === "ECONOMY" && col("p_size") <= 15)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("min_cost", min("cost").over(Window.partitionBy("p_partkey")))
      .filter(col("cost") === col("min_cost"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
        col("cost").cast("double").as("cost"))
  }

  val minCostSupplierSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |eu AS (
      |  SELECT s_suppkey, s_name, n_name FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |j AS (
      |  SELECT p_partkey, p_brand, s_name, n_name, cost,
      |         MIN(cost) OVER (PARTITION BY p_partkey) AS min_cost
      |  FROM ps
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN eu ON l_suppkey = s_suppkey
      |  WHERE p_type = 'ECONOMY' AND p_size <= 15)
      |SELECT p_partkey, p_brand, s_name, n_name, CAST(cost AS DOUBLE) AS cost
      |FROM j WHERE cost = min_cost ORDER BY p_partkey, s_name""".stripMargin

  /** TPC-H Q21-shaped "who kept the order waiting": suppliers that were
    * the ONLY late shipper (ship > order date + 60 days) on a finished
    * multi-supplier order, with how many such orders each blocked. The
    * textbook Q21 plan is two lineitem self-joins (EXISTS other-supplier
    * + NOT EXISTS other-late-supplier); here both collapse into ONE
    * grouped pass per (order, supplier) plus an orderkey window that
    * counts suppliers and late suppliers in the same exchange — at
    * 100 TB the fact table moves twice total (order join, orderkey
    * exchange) instead of four times. */
  def soleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), 1)
        .otherwise(0)).as("late"))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum("late").over(w))
      .filter(col("late") === 1 && col("n_supp") > 1 && col("n_late") === 1)
      .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
  }

  val soleLateSupplierSql: String =
    """WITH per_supp AS (
      |  SELECT l_orderkey, l_suppkey,
      |         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY 1, 2),
      |w AS (SELECT l_orderkey, l_suppkey, late,
      |             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
      |             SUM(late) OVER (PARTITION BY l_orderkey) AS n_late
      |      FROM per_supp)
      |SELECT s_suppkey, s_name, COUNT(*) AS numwait
      |FROM w JOIN supplier ON l_suppkey = s_suppkey
      |WHERE late = 1 AND n_supp > 1 AND n_late = 1
      |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q16-shaped supplier/part relationship count: distinct
    * suppliers per surviving (brand, type, size) bucket, with
    * flagged suppliers (negative account balance — the fixtures' stand-in
    * for Q16's complaint screen) removed by LEFT ANTI against a broadcast
    * key list. The distinct runs on (brand, type, size, suppkey) AFTER
    * the broadcast part screen prunes the scan, so the only wide shuffle
    * carries the deduplicated 4-tuples — count-distinct-by-group without
    * an expensive expand. */
  def supplierPartRelationship(spark: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(
        col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 15, 25, 35, 45, 49, 50))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .select("p_brand", "p_type", "p_size", "l_suppkey").distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
  }

  val supplierPartRelationshipSql: String =
    """SELECT p_brand, p_type, p_size, COUNT(*) AS supplier_cnt
      |FROM (SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
      |      FROM lineitem JOIN part ON l_partkey = p_partkey
      |      WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
      |        AND p_size IN (1, 5, 15, 25, 35, 45, 49, 50)
      |        AND NOT EXISTS (SELECT 1 FROM supplier
      |                        WHERE s_suppkey = l_suppkey AND s_acctbal < 0)) r
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q20-shaped dominant-supplier screen: suppliers shipping MORE
    * than 10% of a screened part family's total volume ("widget" parts)
    * — Q20's nested available-quantity semi-join re-expressed over the
    * observed shipment relation. The share test `qty * 10 > total` stays
    * in exact decimal (no IEEE ratio), so the survivor set is bit-stable
    * cross-engine. One map-side-combined (part, supp) aggregate, a
    * per-part window over the screened slice, then broadcast dimension
    * decoration of the (few) survivors. */
  def dominantSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(col("p_name").like("%widget%"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("qty"))
      .withColumn("total", sum("qty").over(Window.partitionBy("l_partkey")))
      .filter(col("qty") * 10 > col("total"))
      .select("l_suppkey").distinct()
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
  }

  val dominantSupplierSql: String =
    """WITH pq AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE '%widget%' GROUP BY 1, 2),
      |t AS (SELECT l_partkey, l_suppkey, qty,
      |             SUM(qty) OVER (PARTITION BY l_partkey) AS total FROM pq)
      |SELECT DISTINCT s_suppkey, s_name, n_name
      |FROM t JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE qty * 10 > total
      |ORDER BY s_suppkey""".stripMargin

  /** Daily-revenue autocorrelation at row lags 1–7: the seasonality
    * detector behind forecast validation ("does yesterday predict
    * today?"). Pearson r per lag via the moment formula, with every
    * moment an EXACT decimal sum (rev is DECIMAL(14,2); products stay
    * inside DECIMAL(38,4)) so partial-agg order can't perturb the
    * result; the only IEEE ops are the final per-lag division and sqrt.
    * The day series aggregates map-side (≤ a few thousand rows at any
    * SF), the 7 lags share ONE single-partition window pass over it,
    * and the lag pairs unpivot scan-side into a 7-group fold. */
  def revenueAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)))
        .cast(DecimalType(14, 2)).as("rev"))
    val lagged = daily.select(col("day") +: col("rev") +:
      (1 to 7).map(k => lag("rev", k).over(w).as(s"rev_$k")): _*)
    val pairs = lagged.select(explode(array((1 to 7).map(k =>
        struct(lit(k).as("k"), col("rev").as("x"), col(s"rev_$k").as("y"))): _*)).as("p"))
      .select(col("p.k").as("k"), col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("y").isNotNull)
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double"); val sx2 = col("sx2").cast("double")
    val sy2 = col("sy2").cast("double")
    val r = (nd * sxy - sx * sy) /
      sqrt((nd * sx2 - sx * sx) * (nd * sy2 - sy * sy))
    pairs.groupBy("k").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .select(col("k"), col("n"), r.as("autocorr"))
  }

  // Moment casts go DECIMAL → VARCHAR → DOUBLE on the DuckDB side for the
  // same reason as corr_stats: the strtod round-trip forces DuckDB to the
  // correctly-rounded double Spark's Decimal.toDouble produces.
  val revenueAutocorrSql: String = {
    val lags = (1 to 7).map(k => s"lag(rev, $k) OVER w AS rev_$k").mkString(", ")
    val cases = (1 to 7).map(k => s"WHEN $k THEN rev_$k").mkString(" ")
    def d(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(14,2)) AS rev
       |  FROM orders GROUP BY 1),
       |l AS (SELECT rev, $lags FROM d WINDOW w AS (ORDER BY day)),
       |p AS (SELECT k, x, y FROM (
       |        SELECT u.k, rev AS x, CASE u.k $cases END AS y
       |        FROM l, (SELECT unnest(range(1, 8)) AS k) u) t
       |      WHERE y IS NOT NULL),
       |m AS (SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
       |             SUM(x*x) AS sx2, SUM(y*y) AS sy2
       |      FROM p GROUP BY k)
       |SELECT CAST(k AS INT) AS k, n,
       |  (CAST(n AS DOUBLE) * ${d("sxy")} - ${d("sx")} * ${d("sy")})
       |  / sqrt((CAST(n AS DOUBLE) * ${d("sx2")} - ${d("sx")} * ${d("sx")})
       |       * (CAST(n AS DOUBLE) * ${d("sy2")} - ${d("sy")} * ${d("sy")})) AS autocorr
       |FROM m ORDER BY k""".stripMargin
  }

  /** Exact quantity-weighted median price per return flag — the robust
    * "typical unit price weighted by volume" statistic percentile
    * sketches approximate. Weighted median = smallest price whose
    * cumulative weight reaches half the group total, so the whole
    * computation stays in exact decimal comparisons: collapse to price
    * LEVELS first (one map-side-combined aggregate — the cumulative
    * window then runs over distinct prices, not rows), ONE flag-keyed
    * exchange shared by the running-weight and total windows, and a
    * min-price fold over the qualifying levels. No interpolation, no
    * IEEE ordering hazards — ties are resolved by the level collapse
    * itself. */
  /* Bench-trio variance of this query (spreads up to 7x) does not
   * correlate with run composition or with this plan: on a quiet box a
   * solo session measured slower than the full-surface one. It tracks
   * the box's session state (the cross-family drift §SURVEY 7.32 pins
   * for the stream_* queries), so the plan stays: grouped two-phase
   * decimal scan + broadcast totals, no partition-less window. */
  def weightedMedianByGroup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    // The per-flag cumulative weight rides the GROUPED PrefixScan: with
    // 3 return flags, a flag-partitioned window would put a
    // third of all price LEVELS in one task — levels grow with the fact
    // table, so that is the per-group single-task class.
    //
    // INTEGER-CENTS reformulation (guide §2.3 "narrower
    // types"): both DECIMAL(12,2) quantities scale exactly to LONG
    // hundredths (price·100, qty·100 — the decimal cast keeps the
    // original rounding, the ×100 is exact at scale 2), so the level
    // collapse, the range shuffle, the pinned scan and the cumulative
    // window all run on 8-byte longs instead of 16-byte decimals with
    // BigDecimal driver arithmetic. The median screen is scale-invariant
    // (cumw·2 ≥ total multiplied through by 100·100 — integer inequality
    // preserved exactly), and min(price_c)/100.0 is the same double as
    // CAST(min(price) AS DOUBLE) (price_c exact in a double, one
    // correctly-rounded division — identical to Decimal(12,2).toDouble).
    // The per-flag totals now come FREE from the scan's own driver-side
    // collect (no second pass over the level relation), so `lv` is
    // consumed exactly once and needs no working-set cache.
    val lv = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("price_c"))
      .agg(sum((col("l_quantity").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("w"))
    val (cum, tot) = PrefixScan.runningSums(
      lv, Seq("l_returnflag"), Seq("w" -> "cumw"), col("price_c"))
    cum.join(broadcast(tot.withColumnRenamed("w", "total")), "l_returnflag")
      .filter(col("cumw") * 2 >= col("total"))
      .groupBy("l_returnflag")
      .agg((min("price_c").cast("double") / lit(100.0))
        .as("weighted_median_price"))
  }

  val weightedMedianByGroupSql: String =
    """WITH lv AS (
      |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
      |         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, price,
      |        SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |        SUM(w) OVER (PARTITION BY l_returnflag) AS total
      |      FROM lv)
      |SELECT l_returnflag, CAST(MIN(price) AS DOUBLE) AS weighted_median_price
      |FROM c WHERE cumw * 2 >= total
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Deterministic MODE aggregate: the most frequent quantity per return
    * flag, ties broken toward the SMALLEST value so the answer is unique
    * cross-engine (the built-in mode() of either engine leaves ties
    * unspecified — unusable under a hash compare). One value-level
    * aggregate, a per-flag max-count window over the ≤|levels| relation,
    * and a min-value fold over the argmax set. */
  def modeByGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity")
        .cast(DecimalType(12, 2)).as("qty"))
      .agg(count(lit(1)).as("n"))
      .withColumn("max_n", max("n").over(Window.partitionBy("l_returnflag")))
      .filter(col("n") === col("max_n"))
      .groupBy("l_returnflag")
      .agg(min("qty").cast("double").as("mode_qty"), max("max_n").as("n_occurrences"))
  }

  val modeByGroupSql: String =
    """WITH lv AS (
      |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS qty, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (SELECT l_returnflag, qty, n,
      |        MAX(n) OVER (PARTITION BY l_returnflag) AS max_n
      |      FROM lv)
      |SELECT l_returnflag, CAST(MIN(qty) AS DOUBLE) AS mode_qty,
      |       MAX(max_n) AS n_occurrences
      |FROM m WHERE n = max_n
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Benford first-digit audit over order totals: observed share per
    * leading digit vs the Benford expectation log10(1+1/d) — the
    * fabricated-data / unit-mixup screen auditors run over financial
    * fact columns. The digit comes from the DECIMAL's string form (no
    * log10 at query time — the nine expected shares are compile-time
    * literals shared verbatim with the oracle SQL), the count is one
    * 9-group map-side-combined aggregate, and each row carries its own
    * share/excess division so no cross-row IEEE fold exists anywhere. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val digit = substring(col("o_totalprice").cast(DecimalType(12, 2))
      .cast("string"), 1, 1).cast("int")
    val benfordP = element_at(
      array(BenfordShares.map(lit): _*), col("digit"))
    Tables.orders(spark, dir)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      .withColumn("total", sum("n_obs").over(Window.partitionBy()))
      .select(col("digit"), col("n_obs"),
        (col("n_obs").cast("double") / col("total").cast("double")).as("share"),
        benfordP.as("benford_p"),
        ((col("n_obs").cast("double") / col("total").cast("double")) - benfordP)
          .as("excess"))
  }

  /** log10(1+1/d) for d = 1..9, evaluated once here so the Spark plan
    * and the oracle SQL interpolate the SAME double literals. */
  private val BenfordShares: Seq[Double] = (1 to 9).map(d => math.log10(1 + 1.0 / d))

  // NB the expected shares interpolate as QUOTED strings ('0.301…'::DOUBLE):
  // a bare high-precision numeric literal parses as DECIMAL in DuckDB and
  // loses the last ulp on the way to DOUBLE; the string form takes the
  // correctly-rounded strtod path and lands on Spark's exact literal.
  val benfordAuditSql: String = {
    val cases = BenfordShares.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN '${p}'::DOUBLE" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM orders),
       |g AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
       |t AS (SELECT digit, n_obs, SUM(n_obs) OVER () AS total FROM g)
       |SELECT digit, n_obs,
       |  CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |  CASE digit $cases END AS benford_p,
       |  (CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE)) - (CASE digit $cases END) AS excess
       |FROM t ORDER BY digit""".stripMargin
  }

  /** Monthly growth accounting over ordering customers: every active
    * month classifies each customer as NEW (first month ever), RETAINED
    * (also active the previous calendar month), or RESURRECTED (active
    * before, but not last month); CHURNED(m) = active(prev observed
    * month) − retained(m). The product-analytics ledger behind "is
    * growth new demand or returning demand". One distinct
    * (customer, month) aggregate, ONE customer-keyed window for the
    * lag-month classification, a month fold, and a ≤|months|-row
    * single-partition lag for churn — the fact table never moves twice. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val act = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        trunc(col("o_orderdate").cast("date"), "month").as("m"))
      .distinct()
    val status = act
      .withColumn("prev", lag("m", 1).over(Window.partitionBy("cust").orderBy("m")))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(col("prev") === add_months(col("m"), -1), "retained")
          .otherwise("resurrected"))
    status.groupBy("m")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
      .withColumn("n_churned",
        coalesce(lag("n_active", 1).over(Window.orderBy("m")), lit(0L)) - col("n_retained"))
      .withColumn("m", col("m").cast("timestamp")) // month keys ship as
      // TIMESTAMP like monthly_growth: parquet date32 vs DuckDB DATE hash
      // differently in the driver compare
  }

  val growthAccountingSql: String =
    """WITH act AS (
      |  SELECT DISTINCT o_custkey AS cust, CAST(date_trunc('month', o_orderdate) AS DATE) AS m
      |  FROM orders),
      |s AS (
      |  SELECT cust, m, lag(m) OVER (PARTITION BY cust ORDER BY m) AS prev
      |  FROM act),
      |c AS (
      |  SELECT m,
      |    CASE WHEN prev IS NULL THEN 'new'
      |         WHEN prev = m - INTERVAL 1 MONTH THEN 'retained'
      |         ELSE 'resurrected' END AS status
      |  FROM s),
      |g AS (
      |  SELECT m, COUNT(*) AS n_active,
      |    CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM c GROUP BY m)
      |SELECT CAST(m AS TIMESTAMP) AS m, n_active, n_new, n_retained, n_resurrected,
      |  COALESCE(lag(n_active) OVER (ORDER BY m), 0) - n_retained AS n_churned
      |FROM g ORDER BY m""".stripMargin

  /** Poisson bootstrap of mean order value: 20 deterministic replicates
    * whose per-row weights are pseudo-Poisson(1) draws from an affine
    * hash of (orderkey, replicate) — THE scalable bootstrap: no
    * resampling passes, no shuffle of the fact table, just a scan-side
    * ×20 expand and one replicate-keyed fold, so uncertainty bands for
    * any 100 TB aggregate cost one extra aggregation. The inverse-CDF
    * thresholds are compile-time literals shared with the oracle (quoted
    * — see benford_audit), the weighted sums are exact decimals, and
    * each replicate mean is a single IEEE division. */
  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val u = pmod(col("o_orderkey") * 1000003L + col("b") * 826838831L + 12345L,
      lit(M)).cast("double") / lit(M.toDouble)
    val w = PoissonCum.map(c => when(col("u") > lit(c), 1).otherwise(0))
      .reduce(_ + _)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast(DecimalType(12, 2)).as("x"))
      .withColumn("b", explode(sequence(lit(1), lit(20))))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum("w").cast("bigint").as("n_eff"),
        (sum(col("w") * col("x")).cast("double") /
          sum("w").cast("double")).as("mean_rev"))
  }

  /** Poisson(1) CDF at k = 0..7, evaluated once so the Spark plan and
    * the oracle SQL interpolate the SAME double literals. */
  private val PoissonCum: Seq[Double] =
    (0 to 7).map { k =>
      (0 to k).map { j =>
        var fj = 1.0; (1 to j).foreach(fj *= _); math.exp(-1.0) / fj
      }.sum
    }

  val poissonBootstrapSql: String = {
    val th = PoissonCum.map(c => s"CASE WHEN u > '${c}'::DOUBLE THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH r AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS x FROM orders),
       |e AS (SELECT o_orderkey, x, unnest(range(1, 21)) AS b FROM r),
       |u AS (SELECT b, x,
       |        CAST((o_orderkey * 1000003 + b * 826838831 + 12345) % 1000000007 AS DOUBLE)
       |          / 1000000007.0 AS u
       |      FROM e),
       |w AS (SELECT b, x, ${th} AS w FROM u)
       |SELECT CAST(b AS INT) AS b, CAST(SUM(w) AS BIGINT) AS n_eff,
       |  CAST(CAST(SUM(w * x) AS VARCHAR) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_rev
       |FROM w GROUP BY b ORDER BY b""".stripMargin
  }

  /** Leave-one-source-out influence: how much each source shifts the
    * corpus mean document length — the influence-function audit behind
    * "which supplier of data is dragging quality". The leave-one-out
    * mean for EVERY source comes from one per-source aggregate plus
    * single-partition total windows over the ≤|sources| relation
    * ((S−s)/(N−n) — no per-source re-scan, no join), so the audit is
    * O(one pass) at any corpus size. Sums are exact longs; the three
    * divisions are the only IEEE ops. */
  def looSourceInfluence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("s_chars"))
      .withColumn("n_total", sum("n_docs").over(all))
      .withColumn("s_total", sum("s_chars").over(all))
      .select(col("source"), col("n_docs"),
        (col("s_chars").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
        (col("s_total").cast("double") / col("n_total").cast("double")).as("overall_mean"),
        ((col("s_total") - col("s_chars")).cast("double") /
          (col("n_total") - col("n_docs")).cast("double")).as("loo_mean"))
      .withColumn("influence", col("loo_mean") - col("overall_mean"))
  }

  val looSourceInfluenceSql: String =
    """WITH g AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS s_chars
      |  FROM documents GROUP BY source),
      |t AS (SELECT source, n_docs, s_chars,
      |        SUM(n_docs) OVER () AS n_total, SUM(s_chars) OVER () AS s_total
      |      FROM g)
      |SELECT source, n_docs,
      |  CAST(s_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
      |  CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS overall_mean,
      |  CAST(s_total - s_chars AS DOUBLE) / CAST(n_total - n_docs AS DOUBLE) AS loo_mean,
      |  CAST(s_total - s_chars AS DOUBLE) / CAST(n_total - n_docs AS DOUBLE)
      |    - CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS influence
      |FROM t ORDER BY source""".stripMargin

  /** k-anonymity / l-diversity audit over the customer quasi-identifiers
    * (nation, account-balance band) with market segment as the sensitive
    * attribute — the re-identification screen a privacy review runs
    * before any record-level data leaves the warehouse: how many
    * quasi-identifier groups are singletons (k = 1), how many expose a
    * homogeneous sensitive value (l = 1), and where the row mass sits.
    * One quasi-group aggregate (count + distinct-sensitive per group),
    * then a 4-band fold — integers end-to-end. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000).cast("int").as("bal_band"))
      .agg(count(lit(1)).as("k"), countDistinct(col("c_mktsegment")).as("l"))
    q.select(
        when(col("k") === 1, "1").when(col("k") < 5, "2-4")
          .when(col("k") < 10, "5-9").otherwise("10+").as("k_band"),
        col("k"), col("l"))
      .groupBy("k_band")
      .agg(count(lit(1)).as("n_groups"), sum("k").as("n_rows"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_homogeneous"),
        min("k").as("min_k"), max("k").as("max_k"))
  }

  val kAnonymityAuditSql: String =
    """WITH q AS (
      |  SELECT c_nationkey AS nat, CAST(floor(c_acctbal / 1000) AS INT) AS bal_band,
      |         COUNT(*) AS k, COUNT(DISTINCT c_mktsegment) AS l
      |  FROM customer GROUP BY 1, 2),
      |b AS (SELECT CASE WHEN k = 1 THEN '1' WHEN k < 5 THEN '2-4'
      |                  WHEN k < 10 THEN '5-9' ELSE '10+' END AS k_band, k, l
      |      FROM q)
      |SELECT k_band, COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_rows,
      |       CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous,
      |       MIN(k) AS min_k, MAX(k) AS max_k
      |FROM b GROUP BY k_band ORDER BY k_band""".stripMargin

  /** Relational division ("FOR ALL"): customers whose EVERY order is
    * high-priority — the textbook double-NOT-EXISTS shape, rewritten as
    * the one-pass aggregate a distributed engine actually wants:
    * count(*) = count(matching) per customer (no self-join, no
    * anti-of-anti — ONE map-side-combined fold over orders), then a
    * broadcast name decoration of the few survivors. */
  def relationalDivision(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(high, 1L).otherwise(0L)).as("n_high"))
      .filter(col("n_orders") === col("n_high"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"))
  }

  val relationalDivisionSql: String =
    """WITH per AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |  FROM orders GROUP BY 1)
      |SELECT c_custkey, c_name, n_orders
      |FROM per JOIN customer ON o_custkey = c_custkey
      |WHERE n_orders = n_high
      |ORDER BY c_custkey""".stripMargin

  /** Exact bitmap-index intersection: per-segment and per-nation
    * customer bitmaps as 32-bit words keyed by custkey div 32, with
    * |segment ∩ nation| read off popcount(AND) — the word-bitmap form
    * of a secondary index, where predicate-combination counts cost
    * bitwise ops over |domain|/32 words instead of row joins (the
    * EXACT sibling of the HLL/Bloom register relations). The word join
    * is an equi-join on word_no; every intersection count is
    * self-audited against the direct (segment, nation) fold in the
    * same result (`agree` must be all-true). Integers end-to-end. */
  def bitmapIndexAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val bits = expr("shiftleft(1L, cast(c_custkey % 32 as int))")
    val segw = cust.groupBy(col("c_mktsegment").as("seg"),
        expr("c_custkey div 32").as("w"))
      .agg(bit_or(bits).as("sbits"))
    val natw = cust.groupBy(col("c_nationkey").as("nat"),
        expr("c_custkey div 32").as("w"))
      .agg(bit_or(bits).as("nbits"))
    val bm = segw.join(natw, "w")
      .groupBy("seg", "nat")
      .agg(sum(bit_count(col("sbits").bitwiseAND(col("nbits"))))
        .cast("bigint").as("n_bitmap"))
    val direct = cust.groupBy(col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("n_direct"))
    bm.join(direct, Seq("seg", "nat"))
      .withColumn("agree", col("n_bitmap") === col("n_direct"))
  }

  val bitmapIndexAuditSql: String =
    """WITH segw AS (
      |  SELECT c_mktsegment AS seg, c_custkey // 32 AS w,
      |         bit_or(1::BIGINT << CAST(c_custkey % 32 AS INT)) AS bits
      |  FROM customer GROUP BY 1, 2),
      |natw AS (
      |  SELECT c_nationkey AS nat, c_custkey // 32 AS w,
      |         bit_or(1::BIGINT << CAST(c_custkey % 32 AS INT)) AS bits
      |  FROM customer GROUP BY 1, 2),
      |bm AS (
      |  SELECT seg, nat, CAST(SUM(bit_count(s.bits & n.bits)) AS BIGINT) AS n_bitmap
      |  FROM segw s JOIN natw n ON s.w = n.w
      |  GROUP BY 1, 2),
      |direct AS (
      |  SELECT c_mktsegment AS seg, c_nationkey AS nat, COUNT(*) AS n_direct
      |  FROM customer GROUP BY 1, 2)
      |SELECT bm.seg, bm.nat, n_bitmap, n_direct, n_bitmap = n_direct AS agree
      |FROM bm JOIN direct d ON bm.seg = d.seg AND bm.nat = d.nat
      |ORDER BY 1, 2""".stripMargin

  /** Discrete-time hazard table for view→purchase conversion with
    * right-censoring: per whole-day horizon, users still at risk,
    * conversions that day, and the hazard d/n — survival analysis'
    * workhorse table, deliberately WITHOUT the Kaplan-Meier cumulative
    * product (an ordered chain of IEEE multiplies that no distributed
    * fold reproduces bit-stably; the hazard column carries the same
    * information one exact division per row). Censoring = last observed
    * event. One user fold, a ≤|horizons| day-level agg, and a reversed
    * cumulative window over that tiny relation. */
  def hazardTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(spark, dir).groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("ts"))).as("first_view"),
      min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"),
      max("ts").as("last_seen"))
    val converted = col("first_purchase").isNotNull &&
      col("first_purchase") >= col("first_view")
    val spells = u.filter(col("first_view").isNotNull)
      .select(when(converted, 1L).otherwise(0L).as("converted"),
        when(converted,
          expr("(unix_micros(first_purchase) - unix_micros(first_view)) div 86400000000"))
          .otherwise(
            expr("(unix_micros(last_seen) - unix_micros(first_view)) div 86400000000"))
          .as("t_days"))
    val atRisk = Window.orderBy(col("t_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spells.groupBy("t_days")
      .agg(sum("converted").as("d_events"), count(lit(1)).as("n_ending"))
      .withColumn("n_at_risk", sum("n_ending").over(atRisk).cast("bigint"))
      .select(col("t_days"), col("n_at_risk"), col("d_events"),
        (col("d_events").cast("double") / col("n_at_risk").cast("double")).as("hazard"))
  }

  val hazardTableSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
      |    MAX(ts) AS last_seen
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT CASE WHEN first_purchase IS NOT NULL AND first_purchase >= first_view
      |              THEN 1 ELSE 0 END AS converted,
      |    CASE WHEN first_purchase IS NOT NULL AND first_purchase >= first_view
      |         THEN (epoch_us(first_purchase) - epoch_us(first_view)) // 86400000000
      |         ELSE (epoch_us(last_seen) - epoch_us(first_view)) // 86400000000
      |    END AS t_days
      |  FROM u WHERE first_view IS NOT NULL),
      |r AS (SELECT t_days, CAST(SUM(converted) AS BIGINT) AS d_events,
      |             COUNT(*) AS n_ending
      |      FROM d GROUP BY t_days),
      |a AS (SELECT t_days, d_events, n_ending,
      |        CAST(SUM(n_ending) OVER (ORDER BY t_days DESC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
      |      FROM r)
      |SELECT t_days, n_at_risk, d_events,
      |  CAST(d_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard
      |FROM a ORDER BY t_days""".stripMargin

  /** Maximum drawdown of the net cash curve (order revenue minus a
    * fixed 250k fulfillment cost per order): the deepest peak-to-trough
    * dip of the running balance, plus the day it bottomed — the
    * risk-report window composition (cumulative sum → running max →
    * max gap) that exercises three stacked frames over one ordered
    * exchange. The curve stays in exact decimal through every window;
    * the trough tie-breaks to the earliest day; the only IEEE op is the
    * final output cast. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(o_totalprice AS DECIMAL(12,2)) - 250000.00")).as("net"))
      .withColumn("cum", sum("net").over(byDay))
      .withColumn("peak", max("cum").over(byDay))
      .withColumn("dd", (col("peak") - col("cum")).cast(DecimalType(20, 2)))
      .withColumn("max_dd", max("dd").over(Window.partitionBy()))
      .filter(col("dd") === col("max_dd"))
      .orderBy("day").limit(1)
      .select(col("day").cast("timestamp").as("trough_day"),
        col("dd").cast("double").as("max_drawdown"))
  }

  val maxDrawdownSql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         SUM(CAST(o_totalprice AS DECIMAL(12,2)) - 250000.00) AS net
      |  FROM orders GROUP BY 1),
      |c AS (SELECT day, SUM(net) OVER w AS cum FROM d
      |      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |p AS (SELECT day, cum, MAX(cum) OVER w AS peak FROM c
      |      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |x AS (SELECT day, CAST(peak - cum AS DECIMAL(20,2)) AS dd FROM p),
      |m AS (SELECT MAX(dd) AS max_dd FROM x)
      |SELECT CAST(x.day AS TIMESTAMP) AS trough_day, CAST(dd AS DOUBLE) AS max_drawdown
      |FROM x JOIN m ON x.dd = m.max_dd
      |ORDER BY trough_day LIMIT 1""".stripMargin

  /** Per-nation Gini coefficient of customer account balances — the
    * inequality audit (who holds the wealth inside each market) via the
    * rank-weighted closed form G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx).
    * Ranks come from ONE nation-partitioned window (ties broken by
    * custkey, so cross-engine identical), Σi·x and Σx are exact decimal
    * sums, and the closed form is three IEEE ops per nation — no pair
    * enumeration, no |n|² anything. */
  def giniByNation(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    // Per-nation ranks ride the GROUPED PrefixScan: a
    // nation-partitioned rank window is |customers|/25 rows in ONE task
    // at population scale. The grouped two-phase scan keeps every task
    // at |relation|/#partitions regardless of group cardinality; n per
    // nation comes from the same fold it always came from (the groupBy).
    val r = PrefixScan.runningSum(
      Tables.customer(spark, dir)
        .select(col("c_nationkey").as("nat"),
          col("c_acctbal").cast(DecimalType(12, 2)).as("x"),
          col("c_custkey"), col("c_acctbal"), lit(1L).as("one")),
      Seq("nat"), "one", "i", col("c_acctbal"), col("c_custkey"))
    val sixD = col("six").cast("double"); val sxD = col("sx").cast("double")
    r.groupBy("nat")
      .agg(count(lit(1)).as("n"),
        sum(col("i").cast("long") * col("x")).as("six"),
        sum("x").as("sx"))
      .select(col("nat"), col("n"),
        ((lit(2.0) * sixD - (col("n") + 1).cast("double") * sxD) /
          (col("n").cast("double") * sxD)).as("gini"))
  }

  val giniByNationSql: String =
    """WITH r AS (
      |  SELECT c_nationkey AS nat, CAST(c_acctbal AS DECIMAL(12,2)) AS x,
      |         row_number() OVER (PARTITION BY c_nationkey
      |                            ORDER BY c_acctbal, c_custkey) AS i,
      |         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      |  FROM customer),
      |m AS (SELECT nat, MAX(n) AS n, SUM(CAST(i AS BIGINT) * x) AS six, SUM(x) AS sx
      |      FROM r GROUP BY nat)
      |SELECT nat, n,
      |  (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE)
      |     - CAST(n + 1 AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
      |  / (CAST(n AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS gini
      |FROM m ORDER BY nat""".stripMargin

  /** Per-user burstiness: the Fano factor (variance-to-mean ratio) of
    * daily event counts over each user's ACTIVE days — the dispersion
    * statistic that separates steady heartbeat traffic (F < 1) from
    * bursty campaign-driven traffic (F > 1). The cross-multiplied form
    * F = (n·Σx² − (Σx)²) / (n·Σx) keeps every moment an exact integer;
    * the bursty flag compares the two integers directly (no epsilon),
    * and the ratio itself is the single IEEE division. One (user, day)
    * fold + one user fold. */
  def burstinessIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy("user_id")
      .agg(count(lit(1)).as("n_days"), sum("x").as("n_events"),
        sum(col("x") * col("x")).as("sx2"))
      .select(col("user_id"), col("n_days"), col("n_events"),
        ((col("n_days") * col("sx2") - col("n_events") * col("n_events")).cast("double") /
          (col("n_days") * col("n_events")).cast("double")).as("fano"),
        (col("n_days") * col("sx2") - col("n_events") * col("n_events") >
          col("n_days") * col("n_events")).as("bursty"))
  }

  val burstinessIndexSql: String =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT user_id, COUNT(*) AS n_days, CAST(SUM(x) AS BIGINT) AS n_events,
      |             CAST(SUM(x * x) AS BIGINT) AS sx2
      |      FROM d GROUP BY user_id)
      |SELECT user_id, n_days, n_events,
      |  CAST(n_days * sx2 - n_events * n_events AS DOUBLE)
      |    / CAST(n_days * n_events AS DOUBLE) AS fano,
      |  n_days * sx2 - n_events * n_events > n_days * n_events AS bursty
      |FROM m ORDER BY user_id""".stripMargin

  /** Lorenz curve of customer wealth: cumulative balance share at each
    * population decile — `gini_by_nation`'s graphical companion, the
    * 10-point readout a fairness/concentration report plots. Deciles
    * ride [[graft.operators.PrefixScan.ntile]] (tie-broken by custkey)
    * so the population-sized rank is partition-parallel, the
    * cumulative sums stay exact decimal over the 10-row decile
    * relation (a bounded global window, whitelisted), and the two
    * share divisions per row are the only IEEE ops. */
  def lorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = graft.operators.PrefixScan.ntile(
      Tables.customer(spark, dir)
        .select(col("c_acctbal").cast(DecimalType(12, 2)).as("x"),
          col("c_custkey"), col("c_acctbal")),
      10, "decile", col("c_acctbal"), col("c_custkey"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    r.groupBy("decile").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .withColumn("cum_s", sum("s").over(cum))
      .withColumn("total_s", sum("s").over(all))
      .withColumn("cum_n", sum("n").over(cum))
      .withColumn("total_n", sum("n").over(all))
      .select(col("decile"), col("n"),
        (col("cum_n").cast("double") / col("total_n").cast("double")).as("pop_share"),
        (col("cum_s").cast("double") / col("total_s").cast("double")).as("wealth_share"))
  }

  val lorenzCurveSql: String =
    """WITH r AS (
      |  SELECT CAST(c_acctbal AS DECIMAL(12,2)) AS x,
      |         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      |  FROM customer),
      |g AS (SELECT decile, COUNT(*) AS n, SUM(x) AS s FROM r GROUP BY decile),
      |c AS (SELECT decile, n, s,
      |        SUM(s) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
      |        SUM(s) OVER () AS total_s,
      |        SUM(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |        SUM(n) OVER () AS total_n
      |      FROM g)
      |SELECT decile, n,
      |  CAST(cum_n AS DOUBLE) / CAST(total_n AS DOUBLE) AS pop_share,
      |  CAST(CAST(cum_s AS VARCHAR) AS DOUBLE) / CAST(CAST(total_s AS VARCHAR) AS DOUBLE) AS wealth_share
      |FROM c ORDER BY decile""".stripMargin

  /** Time-weighted average value (TWAP) per user: each reading holds
    * until the next one, so the average weights every value by the
    * SECONDS it was in force — the metric that makes irregular
    * telemetry comparable (a plain AVG over-counts chatty periods).
    * ONE user-keyed exchange for the lead window; Σv·d stays exact
    * (decimal value × integer seconds); the per-user division is the
    * single IEEE op. Open-ended last readings carry no duration and
    * drop out, like any TWAP over a closed observation window. */
  def twapByUser(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast(DecimalType(12, 2)).as("v"))
      .withColumn("d",
        expr("(lead(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - unix_micros(ts)) div 1000000"))
      .filter(col("d").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("v") * col("d")).as("svd"), sum("d").cast("bigint").as("sd"))
      .filter(col("sd") > 0)
      .select(col("user_id"), col("n_intervals"),
        (col("svd").cast("double") / col("sd").cast("double")).as("twap"))
  }

  val twapByUserSql: String =
    """WITH s AS (
      |  SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v,
      |         (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS d
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |m AS (
      |  SELECT user_id, COUNT(*) AS n_intervals,
      |         SUM(v * d) AS svd, CAST(SUM(d) AS BIGINT) AS sd
      |  FROM s WHERE d IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals,
      |  CAST(CAST(svd AS VARCHAR) AS DOUBLE) / CAST(sd AS DOUBLE) AS twap
      |FROM m WHERE sd > 0 ORDER BY user_id""".stripMargin

  /** Epidemiology-style 2×2 on user-days: does an error that day change
    * the odds of purchasing that day? One (user, day) fold to the
    * exposed/converted flags, one 4-cell fold, then the three standard
    * effect measures — odds ratio (a·d)/(b·c), risk ratio, and risk
    * difference — each from exact integer cells with the divisions as
    * the only IEEE ops (ordered identically cross-engine). The
    * product-analytics incident-impact readout. */
  def epiTwoByTwo(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max(when(col("event_type") === "error", 1).otherwise(0)).as("exposed"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("converted"))
    def cell(e: Int, c: Int) =
      sum(when(col("exposed") === e && col("converted") === c, 1L).otherwise(0L))
    val aD = col("a").cast("double"); val bD = col("b").cast("double")
    val cD = col("c").cast("double"); val dD = col("d").cast("double")
    u.agg(cell(1, 1).as("a"), cell(1, 0).as("b"),
        cell(0, 1).as("c"), cell(0, 0).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        ((col("a") * col("d")).cast("double") /
          (col("b") * col("c")).cast("double")).as("odds_ratio"),
        ((aD / (aD + bD)) / (cD / (cD + dD))).as("risk_ratio"),
        (aD / (aD + bD) - cD / (cD + dD)).as("risk_diff"))
  }

  val epiTwoByTwoSql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS exposed,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY 1, 2),
      |x AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN exposed=1 AND converted=1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN exposed=1 AND converted=0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN exposed=0 AND converted=1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN exposed=0 AND converted=0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM u)
      |SELECT a, b, c, d,
      |  CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE) AS odds_ratio,
      |  (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))
      |    / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))) AS risk_ratio,
      |  CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
      |    - CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS risk_diff
      |FROM x""".stripMargin

  /** Ratio-to-yearly-average seasonal index per calendar month: each
    * (year, month) revenue over its year's mean month, averaged across
    * years — the multiplicative seasonality profile a demand planner
    * deflates by. The per-cell ratio is ONE IEEE division quantized to
    * 1e-9 (the lm_score discipline), so the cross-year average is an
    * exact decimal fold — partial-agg order can't wiggle the index.
    * Partial years contribute their observed-month mean (nmo, not 12). */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byYear = Window.partitionBy("y")
    val m = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"))
      .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("rev"))
      .withColumn("ytotal", sum("rev").over(byYear))
      .withColumn("nmo", count(lit(1)).over(byYear))
    m.select(col("mo"),
        round(col("rev").cast("double") * col("nmo") /
          col("ytotal").cast("double") * 1e9)
          .cast(DecimalType(38, 0)).as("ri"))
      .groupBy("mo")
      .agg(count(lit(1)).as("n_years"),
        (sum("ri").cast("double") / (lit(1e9) * count(lit(1)))).as("seasonal_index"))
  }

  val seasonalIndexSql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS mo,
      |         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |ym AS (SELECT y, mo, rev, SUM(rev) OVER (PARTITION BY y) AS ytotal,
      |              COUNT(*) OVER (PARTITION BY y) AS nmo
      |       FROM m),
      |r AS (SELECT y, mo,
      |        CAST(round(CAST(CAST(rev AS VARCHAR) AS DOUBLE) * nmo
      |                   / CAST(CAST(ytotal AS VARCHAR) AS DOUBLE) * 1000000000.0)
      |             AS DECIMAL(38,0)) AS ri
      |      FROM ym)
      |SELECT mo, COUNT(*) AS n_years,
      |  CAST(SUM(ri) AS DOUBLE) / (1000000000.0 * COUNT(*)) AS seasonal_index
      |FROM r GROUP BY mo ORDER BY mo""".stripMargin

  /** Pareto concentration: what share of total revenue the top customer
    * quintile carries (the "80/20" KPI). Per-customer revenue fold, a
    * [[graft.operators.PrefixScan.ntile]] quintile cut (custkey
    * tie-break; partition-parallel at population scale), and exact
    * decimal numerator/denominator with ONE IEEE division. */
  def paretoShare(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.operators.PrefixScan.ntile(
      Tables.orders(spark, dir)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("rev")),
      5, "quintile", col("rev").desc, col("o_custkey"))
    per.agg(
        sum(when(col("quintile") === 1, col("rev"))).as("top_rev"),
        sum("rev").as("total_rev"),
        sum(when(col("quintile") === 1, 1L).otherwise(0L)).as("n_top"),
        count(lit(1)).as("n_customers"))
      .select(col("n_top"), col("n_customers"),
        (col("top_rev").cast("double") / col("total_rev").cast("double"))
          .as("top_quintile_share"))
  }

  val paretoShareSql: String =
    """WITH per AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      |  FROM orders GROUP BY 1),
      |q AS (SELECT o_custkey, rev,
      |        ntile(5) OVER (ORDER BY rev DESC, o_custkey) AS quintile
      |      FROM per)
      |SELECT CAST(SUM(CASE WHEN quintile = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
      |       COUNT(*) AS n_customers,
      |       CAST(CAST(SUM(CASE WHEN quintile = 1 THEN rev END) AS VARCHAR) AS DOUBLE)
      |         / CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS top_quintile_share
      |FROM q""".stripMargin

  /** Hard per-basket cap for [[basketPairs]]: an order keeps only its
    * [[BasketCap]] LOWEST part keys before pairing (deterministic, the
    * oracle mirrors the same row_number), so the orderkey self-join is
    * bounded at C(cap,2) pairs per order NO MATTER how pathological a
    * mega-basket gets — the maxBucket/capped-LSH discipline applied to
    * the one remaining quadratic-in-group-size query. TPC-H baskets are
    * ≤7 items, so the cap never binds on the fixture shape; it exists for the hot key the fixtures don't have.
    * Public so the mega-basket spec derives its fixture from it. */
  val BasketCap: Int = 32

  /** Market-basket association over order line items: for every pair of
    * parts bought together in one order, support (co-occurrence count)
    * and lift against the parts' independent order frequencies — the
    * classic co-purchase screen. The per-order pair expansion is bounded
    * by [[BasketCap]] (see there); ONE tracked distinct relation feeds
    * the pair join, the per-part frequencies, and the order total (the
    * 1-row scalar cross-broadcast, whitelisted); lift's division is the
    * single IEEE op. TakeOrdered keeps the top 20. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    basketPairsFrom(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      cap = BasketCap)

  /** The capped pair core behind [[basketPairs]], over any (ok, pk)
    * relation — factored out so the mega-basket spec can feed a
    * synthetic hot order and assert the C(cap,2) bound directly.
    * Part frequencies and the order total are counted over the FULL
    * distinct relation; the cap prunes only the pair expansion, so
    * pair_cnt is support over the CAPPED relation — a surviving pair
    * loses the co-occurrences from orders where one member ranked past
    * the cap (BasketPairsSpec shows pair (498,499) counted once instead
    * of twice when order 1's copy is capped away). Only the part
    * frequencies and the order total remain uncapped by design; the
    * oracle mirrors the identical row_number prefilter, so the capped
    * semantics are what's hash-checked. */
  private[graft] def basketPairsFrom(items: DataFrame, cap: Int): DataFrame = {
    // Eager pin, not cache (guide §3.3/§5): the distinct
    // relation is consumed by THREE sibling subtrees of one action (the
    // basket fold, the per-part frequencies, the order total) — a cached
    // first computation makes their tasks race on block locks and each
    // reference re-carries the scan+distinct subtree through planning.
    val op = graft.GraftCaches.pin(items.distinct(), eager = true)
    val cnt = op.groupBy("pk").agg(count(lit(1)).as("c"))
    val nOrders = op.select(countDistinct("ok").as("n_orders"))
    // Capped pair generation in ONE grouped pass (guide §2.3):
    // collect each order's distinct parts, sort, keep the first `cap`
    // (identical survivors to the old row_number-over-(ok order by pk)
    // prefilter — (ok, pk) is distinct, so ranks are tie-free), and emit
    // every ordered pair from the capped array with a nested transform.
    // The pre-r15 shape paid the per-order window TWICE (once per
    // self-join leg: two ok-keyed exchanges + two sorts) and then a
    // sort-merge self-join re-comparing every order's items; this is one
    // ok-keyed exchange and a codegen'd generate — same (p1 < p2) pairs,
    // one row per co-occurrence, so the same pair_cnt.
    val pairs = op.groupBy("ok")
      .agg(slice(sort_array(collect_list(col("pk"))), 1, cap).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), lit(cap)),
          y => struct(x.as("p1"), y.as("p2")))))).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
    // Top-20 cut BEFORE the frequency joins (guide §2.3): the
    // ranking keys (pair_cnt desc, p1, p2) are all present right after
    // the pair aggregation — lift only ANNOTATES the surviving rows — so
    // the TakeOrdered heap runs on the raw pair counts and the per-part
    // frequency joins + the scalar cross-broadcast touch 20 rows instead
    // of every distinct pair (the pre-r15 plan shuffled the full pair
    // relation through two joins only to discard all but 20 rows). Same
    // 20 rows, same values.
    pairs
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("pair_cnt"))
      .orderBy(col("pair_cnt").desc, col("p1"), col("p2"))
      .limit(20)
      .join(cnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
      .join(cnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
      .crossJoin(nOrders)
      .select(col("p1"), col("p2"), col("pair_cnt"), col("c1"), col("c2"),
        ((col("pair_cnt") * col("n_orders")).cast("double") /
          (col("c1") * col("c2")).cast("double")).as("lift"))
  }

  val basketPairsSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |cnt AS (SELECT pk, COUNT(*) AS c FROM op GROUP BY pk),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk ASC) AS rn
      |    FROM op) t WHERE rn <= $BasketCap),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS pair_cnt
      |  FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT p1, p2, pair_cnt, c1.c AS c1, c2.c AS c2,
      |  CAST(pair_cnt * n_orders AS DOUBLE) / CAST(c1.c * c2.c AS DOUBLE) AS lift
      |FROM pairs CROSS JOIN n
      |JOIN cnt c1 ON c1.pk = pairs.p1
      |JOIN cnt c2 ON c2.pk = pairs.p2
      |ORDER BY pair_cnt DESC, p1, p2 LIMIT 20""".stripMargin

  /** One-line skew audit for the basket family (the `lsh_bucket_profile`
    * discipline): basket-size histogram over the distinct (order, part)
    * relation, with the pair cost each size bucket would contribute
    * uncapped vs under [[BasketCap]] — the artifact that shows WHERE the
    * cap bites before anyone pays the quadratic price. */
  def basketSizeProfile(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    op.groupBy("ok").agg(count(lit(1)).as("basket_size"))
      .groupBy("basket_size").agg(count(lit(1)).as("n_orders"))
      .select(col("basket_size"), col("n_orders"),
        (col("basket_size") * (col("basket_size") - 1) / 2 * col("n_orders"))
          .cast("bigint").as("pairs_uncapped"),
        (least(col("basket_size"), lit(BasketCap.toLong)) *
          (least(col("basket_size"), lit(BasketCap.toLong)) - 1) / 2 * col("n_orders"))
          .cast("bigint").as("pairs_capped"))
  }

  val basketSizeProfileSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |sz AS (SELECT ok, COUNT(*) AS basket_size FROM op GROUP BY ok)
      |SELECT basket_size, COUNT(*) AS n_orders,
      |  CAST(basket_size * (basket_size - 1) // 2 * COUNT(*) AS BIGINT) AS pairs_uncapped,
      |  CAST(LEAST(basket_size, $BasketCap) * (LEAST(basket_size, $BasketCap) - 1) // 2
      |       * COUNT(*) AS BIGINT) AS pairs_capped
      |FROM sz GROUP BY basket_size ORDER BY basket_size""".stripMargin

  /** Order-to-ship lag in BUSINESS DAYS (weekends excluded) — the SLA
    * histogram a fulfilment report needs; calendar days over-penalize
    * Friday orders. No calendar UDF: each date maps to its Monday-aligned
    * epoch index m (1970-01-01 is a Thursday → +3), the weekday count
    * below m is the closed form 5·(m div 7) + min(m mod 7, 5), and the
    * lag is one subtraction — pure integer arithmetic both engines
    * reproduce bit-for-bit. ONE orderkey equi-join (AQE picks the
    * build side), then a histogram fold whose level count is bounded
    * by the calendar span, never the fact count. */
  def businessDayLag(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("ord"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("mo", datediff(col("ord"), lit("1970-01-01").cast("date")) + lit(3))
      .withColumn("ms", datediff(col("ship"), lit("1970-01-01").cast("date")) + lit(3))
      // FLOOR division (via pmod the numerator is exactly divisible, so
      // DIV is exact): Spark's bare `div` truncates toward zero while the
      // oracle's DuckDB `//` floors — they diverge on Monday-aligned
      // indexes that go negative (dates before 1970-01-01). `%` is
      // truncated (C-style) on BOTH engines, so the remainder term needs
      // no mirror.
      .select(((lit(5) * expr("(ms - pmod(ms, 7)) div 7") + least(col("ms") % 7, lit(5))) -
        (lit(5) * expr("(mo - pmod(mo, 7)) div 7") + least(col("mo") % 7, lit(5)))).as("bus_days"))
      .groupBy("bus_days").agg(count(lit(1)).as("n_items"))
  }

  val businessDayLagSql: String =
    """WITH j AS (
      |  SELECT datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) + 3 AS mo,
      |         datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) + 3 AS ms
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT (5 * (ms // 7) + least(ms % 7, 5))
      |     - (5 * (mo // 7) + least(mo % 7, 5)) AS bus_days,
      |       COUNT(*) AS n_items
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Leave-one-out target encoding of order priority against the
    * 'fulfilled' flag — the standard high-cardinality categorical
    * feature prep for tabular training, LOO-smoothed so a row never
    * sees its own label (the leakage `leakage_audit` screens for).
    * Per category the LOO encoding takes exactly TWO values —
    * (pos−1)/(n−1) for positive rows, pos/(n−1) for negatives — so the
    * audit relation is category-sized with NO per-row expansion; the
    * two divisions are the only IEEE ops. ONE 5-level fold. */
  def targetEncodeLoo(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .select(col("priority"), col("n"), col("pos"),
        ((col("pos") - 1).cast("double") / (col("n") - 1).cast("double")).as("enc_pos"),
        (col("pos").cast("double") / (col("n") - 1).cast("double")).as("enc_neg"))

  val targetEncodeLooSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |g AS (SELECT priority, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
      |      FROM o GROUP BY priority)
      |SELECT priority, n, pos,
      |  CAST(pos - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS enc_pos,
      |  CAST(pos AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS enc_neg
      |FROM g ORDER BY priority""".stripMargin

  /** Normalized window-rank readout: percent_rank and cume_dist of the
    * three priciest parts per container — the two rank-normalizing
    * window functions, both exact rationals of integer ranks
    * ((r−1)/(n−1) and r/n under a tie-free ordering) so the doubles
    * match bit-for-bit. ONE brand-keyed exchange serves all three
    * window functions (same spec → same sort). */
  def percentRankParts(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    // Per-brand ranks ride the GROUPED PrefixScan: Window.partitionBy
    // over 25 brands is |parts|/25 rows in ONE task at population scale
    // — the same single-task class the global-window guard screens for,
    // per-group edition. The ordering is tie-free, so
    // percent_rank = (rn−1)/(n−1) and cume_dist = rn/n exactly (one
    // IEEE division each, matching the builtin window functions'
    // arithmetic bit-for-bit; n>1 guard mirrors percent_rank's n=1
    // definition).
    val ranked = PrefixScan.runningSum(
      Tables.part(spark, dir)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          lit(1L).as("one")),
      Seq("p_brand"), "one", "rn",
      col("p_retailprice").desc, col("p_partkey"))
    val n = Tables.part(spark, dir)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_g"))
    ranked.filter(col("rn") <= 3)
      .join(broadcast(n), "p_brand")
      .select(col("p_brand").as("brand"), col("rn"),
        col("p_partkey").as("partkey"), col("p_retailprice").as("price"),
        when(col("n_g") > 1, (col("rn") - 1).cast("double") /
          (col("n_g") - 1).cast("double")).otherwise(lit(0.0)).as("pr"),
        (col("rn").cast("double") / col("n_g").cast("double")).as("cd"))
  }

  val percentRankPartsSql: String =
    """WITH r AS (
      |  SELECT p_brand AS brand, p_partkey AS partkey,
      |         p_retailprice AS price,
      |         percent_rank() OVER w AS pr, cume_dist() OVER w AS cd,
      |         row_number() OVER w AS rn
      |  FROM part
      |  WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey))
      |SELECT brand, rn, partkey, price, pr, cd
      |FROM r WHERE rn <= 3 ORDER BY brand, rn""".stripMargin

  /** Single-split changepoint scan over the daily revenue series — the
    * first step of binary segmentation: for every split point the
    * |mean-before − mean-after| gap, maximized. Cumulative decimal sums
    * come off ONE date-ordered window over the calendar-bounded daily
    * relation (≤ |days| rows regardless of fact scale, the
    * seasonal_index precedent); the two means and their gap are the
    * only IEEE ops; TakeOrdered picks the winner deterministically
    * (date tie-break). */
  def changepointScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("rev"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    daily
      .withColumn("k", row_number().over(Window.orderBy("day")))
      .withColumn("s", sum("rev").over(cum))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("t", sum("rev").over(all))
      .filter(col("k") < col("n"))
      .select(col("day").cast("timestamp").as("split_day"), col("k").as("n_before"),
        (col("s").cast("double") / col("k")).as("mean_before"),
        ((col("t") - col("s")).cast("double") / (col("n") - col("k"))).as("mean_after"))
      .withColumn("gap", abs(col("mean_before") - col("mean_after")))
      .orderBy(col("gap").desc, col("split_day"))
      .limit(1)
  }

  val changepointScanSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT day, row_number() OVER (ORDER BY day) AS k,
      |         SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |         COUNT(*) OVER () AS n, SUM(rev) OVER () AS t
      |  FROM daily),
      |m AS (
      |  SELECT CAST(day AS TIMESTAMP) AS split_day, k AS n_before,
      |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / k AS mean_before,
      |    CAST(CAST(t - s AS VARCHAR) AS DOUBLE) / (n - k) AS mean_after
      |  FROM c WHERE k < n)
      |SELECT split_day, n_before, mean_before, mean_after,
      |       abs(mean_before - mean_after) AS gap
      |FROM m ORDER BY gap DESC, split_day LIMIT 1""".stripMargin

  /** Full-outer reconciliation of the customer master against the order
    * fact — the data-quality join that catalogs BOTH orphan directions
    * in one pass (an anti-join audits one direction at a time; this is
    * the bidirectional ledger). Classifies every key as matched /
    * customer-only / order-only and folds to a ≤3-row audit; ONE keyed
    * exchange at any scale, the fk_integrity_audit's two-sided sibling. */
  def fullOuterReconcile(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val ords = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(14, 2))).as("rev"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "matched")
          .when(col("c_custkey").isNotNull, "customer_only")
          .otherwise("order_only").as("status"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("rev"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"),
        sum("n_orders").as("total_orders"),
        coalesce(sum("rev").cast("double"), lit(0.0)).as("total_rev"))
  }

  val fullOuterReconcileSql: String =
    """WITH ords AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      |  FROM orders GROUP BY 1),
      |j AS (
      |  SELECT CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL THEN 'matched'
      |              WHEN c.c_custkey IS NOT NULL THEN 'customer_only'
      |              ELSE 'order_only' END AS status,
      |         COALESCE(o.n_orders, 0) AS n_orders, o.rev AS rev
      |  FROM customer c FULL OUTER JOIN ords o ON c.c_custkey = o.o_custkey)
      |SELECT status, COUNT(*) AS n_keys,
      |       CAST(SUM(n_orders) AS BIGINT) AS total_orders,
      |       COALESCE(CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE), 0.0) AS total_rev
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** Exact global order statistics of a population-sized column with no
    * single-task window: the classic p25/p50/p75/p90/p99 readout of the
    * event value distribution, exact (value micro-rounded to int64 so
    * engines can't disagree on a tie). The global rank rides
    * [[graft.operators.PrefixScan]] (running count over the (value, id)
    * total order — partition-parallel at any population), n comes from
    * the same two-phase pass's 1-row count, and each quantile is the row
    * whose rank equals ⌈p·n⌉ (exact integer arithmetic:
    * (n·pq + 99) DIV 100), picked by a 5-row broadcast equi-join. The
    * scale story `hist_quantiles` (bucketed) and
    * `weighted_median_by_group` (per-group window) don't cover: EXACT
    * population quantiles, distributed. */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixScan
    val base = Tables.events(spark, dir)
      .select(round(col("value") * 1e6).cast("bigint").as("vmicro"),
        col("event_id"), lit(1L).as("one"))
    val ranked = PrefixScan.runningSum(base, Nil, "one", "rnk",
      col("vmicro"), col("event_id"))
    // Bounded driver scalar (the PrefixScan discipline: its own offsets
    // are the same shape); the scan is cheap — one column, no shuffle.
    val n = base.count()
    val pqs = Seq(25L, 50L, 75L, 90L, 99L)
    val kDf = spark.createDataFrame(
      pqs.map(pq => (pq / 100.0, (n * pq + 99L) / 100L)))
      .toDF("pct", "k")
    ranked.join(broadcast(kDf), col("rnk") === col("k"))
      .select(col("pct"), (col("vmicro").cast("double") / 1e6).as("value"))
  }

  val exactQuantilesSql: String =
    """WITH v AS (
      |  SELECT CAST(round(value * 1000000.0) AS BIGINT) AS vmicro, event_id
      |  FROM events),
      |r AS (SELECT vmicro,
      |        row_number() OVER (ORDER BY vmicro, event_id) AS rnk,
      |        COUNT(*) OVER () AS n
      |      FROM v),
      |p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pq)
      |SELECT CAST(pq AS DOUBLE) / 100.0 AS pct,
      |       CAST(vmicro AS DOUBLE) / 1000000.0 AS value
      |FROM r JOIN p ON rnk = (n * pq + 99) // 100
      |ORDER BY pct""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "exact_quantiles" -> (exactQuantiles _),
    "basket_pairs" -> (basketPairs _),
    "basket_size_profile" -> (basketSizeProfile _),
    "business_day_lag" -> (businessDayLag _),
    "target_encode_loo" -> (targetEncodeLoo _),
    "percent_rank_parts" -> (percentRankParts _),
    "changepoint_scan" -> (changepointScan _),
    "full_outer_reconcile" -> (fullOuterReconcile _),
    "epi_two_by_two" -> (epiTwoByTwo _),
    "seasonal_index" -> (seasonalIndex _),
    "pareto_share" -> (paretoShare _),
    "twap_by_user" -> (twapByUser _),
    "lorenz_curve" -> (lorenzCurve _),
    "burstiness_index" -> (burstinessIndex _),
    "max_drawdown" -> (maxDrawdown _),
    "gini_by_nation" -> (giniByNation _),
    "hazard_table" -> (hazardTable _),
    "bitmap_index_audit" -> (bitmapIndexAudit _),
    "relational_division" -> (relationalDivision _),
    "k_anonymity_audit" -> (kAnonymityAudit _),
    "poisson_bootstrap" -> (poissonBootstrap _),
    "loo_source_influence" -> (looSourceInfluence _),
    "benford_audit" -> (benfordAudit _),
    "growth_accounting" -> (growthAccounting _),
    "weighted_median_by_group" -> (weightedMedianByGroup _),
    "mode_by_group" -> (modeByGroup _),
    "revenue_autocorr" -> (revenueAutocorr _),
    "min_cost_supplier" -> (minCostSupplier _),
    "sole_late_supplier" -> (soleLateSupplier _),
    "supplier_part_relationship" -> (supplierPartRelationship _),
    "dominant_supplier" -> (dominantSupplier _),
    "hourly_seasonality" -> (hourlySeasonality _),
    "fd_audit" -> (fdAudit _),
    "nation_trade_flows" -> (nationTradeFlows _),
    "layout_skipping_audit" -> (layoutSkippingAudit _),
    "fk_integrity_audit" -> (fkIntegrityAudit _),
    "local_supplier_volume" -> (localSupplierVolume _),
    "window_funnel" -> (windowFunnel _),
    "conversion_lag_quantiles" -> (conversionLagQuantiles _),
    "scd2_asof_lookup" -> (scd2AsofLookup _),
    "active_sessions_daily" -> (activeSessionsDaily _),
    "forecast_revenue" -> (forecastRevenue _),
    "returned_revenue_topk" -> (returnedRevenueTopk _),
    "late_shipment_priority" -> (lateShipmentPriority _),
    "delta_compress" -> (deltaCompress _),
    "incremental_agg_merge" -> (incrementalAggMerge _),
    "promo_revenue" -> (promoRevenue _),
    "top_supplier" -> (topSupplier _),
    "avg_qty_threshold" -> (avgQtyThreshold _),
    "or_predicate_revenue" -> (orPredicateRevenue _),
    "idle_customers" -> (idleCustomers _),
    "sql_window_door" -> (sqlWindowDoor _),
    "key_skew_profile" -> (keySkewProfile _),
    "cohort_retention" -> (cohortRetention _),
    "decayed_engagement" -> (decayedEngagement _),
    "robust_outliers" -> (robustOutliers _),
    "type_cooccurrence" -> (typeCooccurrence _),
    "feature_normalize" -> (featureNormalize _),
    "winsorize_stats" -> (winsorizeStats _),
    "leakage_audit" -> (leakageAudit _),
    "ab_test_metrics" -> (abTestMetrics _),
    "group_kfold" -> (groupKfold _),
    "sql_exists_orders" -> (sqlExistsOrders _),
    "trend_slope" -> (trendSlope _),
    "robust_trend" -> (robustTrend _),
    "fifo_match" -> (fifoMatch _),
    "abc_classification" -> (abcClassification _),
    "table_checksum" -> (tableChecksum _),
    "hist_quantiles" -> (histQuantiles _),
    "customer_order_histogram" -> (customerOrderHistogram _),
    "constraint_audit" -> (constraintAudit _),
    "big_orders" -> (bigOrders _),
    "snapshot_diff" -> (snapshotDiff _),
    "zorder_cluster" -> (zorderCluster _),
    "cumulative_revenue" -> (cumulativeRevenue _),
    "asof_join_tolerance" -> (asofJoinTolerance _),
    "interval_overlap" -> (intervalOverlap _),
    "monthly_growth" -> (monthlyGrowth _),
    "scd2_history" -> (scd2History _),
    "unpivot_profile" -> (unpivotProfile _),
    "shipping_priority" -> (shippingPriority _),
    "corr_stats" -> (corrStats _),
    "set_op_users" -> (setOpUsers _),
    "funnel_stages" -> (funnelStages _),
    "time_gap_fill" -> (timeGapFill _),
    "merge_upsert" -> (mergeUpsert _),
    "range_join" -> (rangeJoin _),
    "skew_salted_join" -> (skewSaltedJoin _),
    "skew_distinct_count" -> (skewDistinctCount _),
    "anti_join" -> (antiJoin _),
    "semi_join" -> (semiJoin _),
    "pivot_event_counts" -> (pivotEventCounts _),
    "quantiles_by_group" -> (quantilesByGroup _),
    "median_by_group" -> (medianByGroup _),
    "asof_join" -> (asofJoin _),
    "asof_join_forward" -> (asofJoinForward _),
    "asof_join_nearest" -> (asofJoinNearest _),
    "late_event_audit" -> (lateEventAudit _),
    "market_share" -> (marketShare _),
    "attribution_last_touch" -> (attributionLastTouch _),
    "join_card_audit" -> (joinCardAudit _),
    "session_paths" -> (sessionPaths _),
    "gap_histogram" -> (gapHistogram _),
    "rfm_segments" -> (rfmSegments _),
    "sessionize" -> (sessionize _),
    "rollup_revenue" -> (rollupRevenue _),
    "cube_revenue" -> (cubeRevenue _),
    "grouping_sets_mix" -> (groupingSetsMix _),
    "lead_lag_delta" -> (leadLagDelta _),
    "event_transitions" -> (eventTransitions _),
    "window_range_frame" -> (windowRangeFrame _),
    "rank_metrics" -> (rankMetrics _),
    "upsert_snapshot" -> (upsertSnapshot _),
    "value_histogram" -> (valueHistogram _),
    "running_share" -> (runningShare _),
    "calendar_weekly" -> (calendarWeekly _),
    "pricing_summary" -> (pricingSummary _),
    "week_date_enrich" -> (weekDateEnrich _),
    "topk_per_group" -> (topkPerGroup _),
    "group_collect_sorted" -> (groupCollectSorted _),
    "count_all" -> (countAll _),
    "find_by_id" -> (findById _),
    "find_by_period" -> (findByPeriod _),
    "revenue_by_nation" -> (revenueByNation _))

  val oracles: Map[String, String] = Map(
    "basket_pairs" -> basketPairsSql,
    "basket_size_profile" -> basketSizeProfileSql,
    "business_day_lag" -> businessDayLagSql,
    "target_encode_loo" -> targetEncodeLooSql,
    "percent_rank_parts" -> percentRankPartsSql,
    "changepoint_scan" -> changepointScanSql,
    "exact_quantiles" -> exactQuantilesSql,
    "full_outer_reconcile" -> fullOuterReconcileSql,
    "epi_two_by_two" -> epiTwoByTwoSql,
    "seasonal_index" -> seasonalIndexSql,
    "pareto_share" -> paretoShareSql,
    "twap_by_user" -> twapByUserSql,
    "lorenz_curve" -> lorenzCurveSql,
    "burstiness_index" -> burstinessIndexSql,
    "max_drawdown" -> maxDrawdownSql,
    "gini_by_nation" -> giniByNationSql,
    "hazard_table" -> hazardTableSql,
    "bitmap_index_audit" -> bitmapIndexAuditSql,
    "relational_division" -> relationalDivisionSql,
    "k_anonymity_audit" -> kAnonymityAuditSql,
    "poisson_bootstrap" -> poissonBootstrapSql,
    "loo_source_influence" -> looSourceInfluenceSql,
    "benford_audit" -> benfordAuditSql,
    "growth_accounting" -> growthAccountingSql,
    "weighted_median_by_group" -> weightedMedianByGroupSql,
    "mode_by_group" -> modeByGroupSql,
    "revenue_autocorr" -> revenueAutocorrSql,
    "min_cost_supplier" -> minCostSupplierSql,
    "sole_late_supplier" -> soleLateSupplierSql,
    "supplier_part_relationship" -> supplierPartRelationshipSql,
    "dominant_supplier" -> dominantSupplierSql,
    "hourly_seasonality" -> hourlySeasonalitySql,
    "fd_audit" -> fdAuditSql,
    "nation_trade_flows" -> nationTradeFlowsSql,
    "layout_skipping_audit" -> layoutSkippingAuditSql,
    "fk_integrity_audit" -> fkIntegrityAuditSql,
    "local_supplier_volume" -> localSupplierVolumeSql,
    "window_funnel" -> windowFunnelSql,
    "conversion_lag_quantiles" -> conversionLagQuantilesSql,
    "scd2_asof_lookup" -> scd2AsofLookupSql,
    "active_sessions_daily" -> activeSessionsDailySql,
    "forecast_revenue" -> forecastRevenueSql,
    "returned_revenue_topk" -> returnedRevenueTopkSql,
    "late_shipment_priority" -> lateShipmentPrioritySql,
    "delta_compress" -> deltaCompressSql,
    "incremental_agg_merge" -> incrementalAggMergeSql,
    "promo_revenue" -> promoRevenueSql,
    "top_supplier" -> topSupplierSql,
    "avg_qty_threshold" -> avgQtyThresholdSql,
    "or_predicate_revenue" -> orPredicateRevenueSql,
    "idle_customers" -> idleCustomersSql,
    "sql_window_door" -> sqlWindowDoorSql,
    "key_skew_profile" -> keySkewProfileSql,
    "cohort_retention" -> cohortRetentionSql,
    "decayed_engagement" -> decayedEngagementSql,
    "robust_outliers" -> robustOutliersSql,
    "type_cooccurrence" -> typeCooccurrenceSql,
    "feature_normalize" -> featureNormalizeSql,
    "winsorize_stats" -> winsorizeStatsSql,
    "leakage_audit" -> leakageAuditSql,
    "ab_test_metrics" -> abTestMetricsSql,
    "group_kfold" -> groupKfoldSql,
    "sql_exists_orders" -> sqlExistsOrdersSql,
    "trend_slope" -> trendSlopeSql,
    "robust_trend" -> robustTrendSql,
    "fifo_match" -> fifoMatchSql,
    "abc_classification" -> abcClassificationSql,
    "table_checksum" -> tableChecksumSql,
    "hist_quantiles" -> histQuantilesSql,
    "customer_order_histogram" -> customerOrderHistogramSql,
    "constraint_audit" -> constraintAuditSql,
    "big_orders" -> bigOrdersSql,
    "snapshot_diff" -> snapshotDiffSql,
    "zorder_cluster" -> zorderClusterSql,
    "cumulative_revenue" -> cumulativeRevenueSql,
    "asof_join_tolerance" -> asofJoinToleranceSql,
    "interval_overlap" -> intervalOverlapSql,
    "monthly_growth" -> monthlyGrowthSql,
    "scd2_history" -> scd2HistorySql,
    "unpivot_profile" -> unpivotProfileSql,
    "shipping_priority" -> shippingPrioritySql,
    "corr_stats" -> corrStatsSql,
    "set_op_users" -> setOpUsersSql,
    "funnel_stages" -> funnelStagesSql,
    "time_gap_fill" -> timeGapFillSql,
    "merge_upsert" -> mergeUpsertSql,
    "range_join" -> rangeJoinSql,
    "skew_salted_join" -> skewSaltedJoinSql,
    "skew_distinct_count" -> skewDistinctCountSql,
    "anti_join" -> antiJoinSql,
    "semi_join" -> semiJoinSql,
    "pivot_event_counts" -> pivotEventCountsSql,
    "quantiles_by_group" -> quantilesByGroupSql,
    "median_by_group" -> medianByGroupSql,
    "asof_join" -> asofJoinSql,
    "asof_join_forward" -> asofJoinForwardSql,
    "asof_join_nearest" -> asofJoinNearestSql,
    "late_event_audit" -> lateEventAuditSql,
    "market_share" -> marketShareSql,
    "attribution_last_touch" -> attributionLastTouchSql,
    "join_card_audit" -> joinCardAuditSql,
    "session_paths" -> sessionPathsSql,
    "gap_histogram" -> gapHistogramSql,
    "rfm_segments" -> rfmSegmentsSql,
    "sessionize" -> sessionizeSql,
    "rollup_revenue" -> rollupRevenueSql,
    "cube_revenue" -> cubeRevenueSql,
    "grouping_sets_mix" -> groupingSetsMixSql,
    "lead_lag_delta" -> leadLagDeltaSql,
    "event_transitions" -> eventTransitionsSql,
    "window_range_frame" -> windowRangeFrameSql,
    "rank_metrics" -> rankMetricsSql,
    "upsert_snapshot" -> upsertSnapshotSql,
    "value_histogram" -> valueHistogramSql,
    "running_share" -> runningShareSql,
    "calendar_weekly" -> calendarWeeklySql,
    "pricing_summary" -> pricingSummarySql,
    "week_date_enrich" -> weekDateEnrichSql,
    "topk_per_group" -> topkPerGroupSql,
    "group_collect_sorted" -> groupCollectSortedSql,
    "count_all" -> countAllSql,
    "find_by_id" -> findByIdSql,
    "find_by_period" -> findByPeriodSql,
    "revenue_by_nation" -> revenueByNationSql)
}
