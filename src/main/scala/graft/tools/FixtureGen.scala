package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic fixture generator for SCALE measurement:
  * reproduces the driver testdata's ten-table
  * star schema (TESTDATA.md / FIXTURES.md §A — same column names, types,
  * key ranges, fanouts, and value distributions) at ARBITRARY scale
  * factor, so the growth of a query between two generated SFs measures
  * the ENGINE's scaling, not a distribution shift. Row counts are the
  * driver's own: lineitem = 6M·sf, orders = 1.5M·sf (fanout 4),
  * customer = 150k·sf, part = 200k·sf, supplier = 10k·sf,
  * events = 1M·sf, documents = 50k·sf, embeddings = 20k·sf.
  *
  * Everything derives from `spark.range` + `hash()` column expressions —
  * no driver-side data, no RNG state, fully distributed and
  * reproducible: the same (sf, table, id) always yields the same row on
  * any cluster. Usage: `runMain graft.tools.FixtureGen <sf> <outDir>`.
  *
  * NOT a replacement for `/root/testdata` (the DuckDB-oracle gate runs
  * there; this generator's distributions are statistically equivalent
  * but not row-identical) — it exists so sf1 can be measured on a box
  * whose driver fixtures stop at sf0.1.
  */
object FixtureGen {

  private val Vocab = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "fast", "the", "row", "agg", "key", "query",
    "a", "scan", "batch", "join", "order", "sort", "filter", "hash",
    "group", "line", "part", "big", "slow", "customer")

  private def vocabCol(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(Vocab.map(lit): _*), (pmod(seed, lit(Vocab.size)) + 1).cast("int"))

  def region(spark: SparkSession): DataFrame =
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, sf: Double): DataFrame =
    spark.range((150000 * sf).toLong).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(hash(col("id"), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      (pmod(hash(col("id"), lit(2)), lit(900000)).cast("double") / 100.0).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").map(lit): _*),
        (pmod(hash(col("id"), lit(3)), lit(5)) + 1).cast("int")).as("c_mktsegment"))

  def supplier(spark: SparkSession, sf: Double): DataFrame =
    spark.range((10000 * sf).toLong).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(hash(col("id"), lit(4)), lit(25)).cast("int").as("s_nationkey"),
      (pmod(hash(col("id"), lit(5)), lit(900000)).cast("double") / 100.0).as("s_acctbal"))

  def part(spark: SparkSession, sf: Double): DataFrame =
    spark.range((200000 * sf).toLong).select(
      col("id").as("p_partkey"),
      concat(
        element_at(array(Seq("cold", "small", "large", "dark", "quick",
          "soft", "plain", "spare").map(lit): _*),
          (pmod(hash(col("id"), lit(6)), lit(8)) + 1).cast("int")),
        lit(" "),
        element_at(array(Seq("widget", "bolt", "gear", "spring", "panel",
          "lens", "frame", "wheel").map(lit): _*),
          (pmod(hash(col("id"), lit(7)), lit(8)) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"),
        (pmod(hash(col("id"), lit(8)), lit(25)) + 1)).as("p_brand"),
      element_at(array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD").map(lit): _*),
        (pmod(hash(col("id"), lit(9)), lit(6)) + 1).cast("int")).as("p_type"),
      (pmod(hash(col("id"), lit(10)), lit(50)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)).cast("double") / 10.0).as("p_retailprice"))

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val nC = math.max(1L, (150000 * sf).toLong)
    spark.range((1500000 * sf).toLong).select(
      col("id").as("o_orderkey"),
      pmod(hash(col("id"), lit(11)), lit(nC)).as("o_custkey"),
      element_at(array(Seq("F", "O", "P").map(lit): _*),
        (pmod(hash(col("id"), lit(12)), lit(3)) + 1).cast("int")).as("o_orderstatus"),
      (lit(1000.0) +
        pmod(hash(col("id"), lit(13)), lit(44900000)).cast("double") / 100.0)
        .as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"),
        pmod(hash(col("id"), lit(14)), lit(2400)).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*),
        (pmod(hash(col("id"), lit(15)), lit(5)) + 1).cast("int")).as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val nP = math.max(1L, (200000 * sf).toLong)
    val nS = math.max(1L, (10000 * sf).toLong)
    // Fanout 1..7 (mean 4), matching the driver's lineitem/orders = 4.
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1),
          (pmod(hash(col("o_orderkey"), lit(16)), lit(7)) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(17)), lit(nP)).as("l_partkey"),
        pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(18)), lit(nS)).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(19)), lit(50)) + 1)
          .cast("double").as("l_quantity"),
        (lit(900.0) +
          pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(20)), lit(9400000))
            .cast("double") / 100.0).as("l_extendedprice"),
        (pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(21)), lit(11))
          .cast("double") / 100.0).as("l_discount"),
        (pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(22)), lit(9))
          .cast("double") / 100.0).as("l_tax"),
        element_at(array(Seq("A", "N", "R").map(lit): _*),
          (pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(23)), lit(3)) + 1)
            .cast("int")).as("l_returnflag"),
        element_at(array(Seq("F", "O").map(lit): _*),
          (pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(24)), lit(2)) + 1)
            .cast("int")).as("l_linestatus"),
        date_add(col("o_orderdate").cast("date"),
          (pmod(hash(col("o_orderkey"), col("l_linenumber"), lit(25)), lit(120)) + 1)
            .cast("int"))
          .cast("timestamp").as("l_shipdate"))
  }

  def events(spark: SparkSession, sf: Double): DataFrame = {
    val n = (1000000 * sf).toLong
    val nUsers = math.max(1L, n / 66)
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(
        lit(java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L) +
          pmod(hash(col("id"), lit(26)), lit(30L * 86400)) * lit(1000000L) +
          pmod(hash(col("id"), lit(27)), lit(1000000L)))
        .as("ts"),
      pmod(hash(col("id"), lit(28)), lit(nUsers)).as("user_id"),
      element_at(array(Seq("click", "error", "purchase", "signup", "view")
        .map(lit): _*),
        (pmod(hash(col("id"), lit(29)), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(hash(col("id"), lit(30)), lit(20000)).cast("double") / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(hash(col("id"), lit(31)), lit(100)), lit("}"))
        .as("props"))
  }

  /** The planting predicates, published as the single source of truth
    * (a spec re-deriving them from duplicated magic constants would let
    * a generator tweak silently decouple the spec's notion of "planted"
    * from the generator's — both read THESE). A document id is a planted
    * exact duplicate iff [[isPlantedDocDup]]; its source is
    * [[docDupSourceId]] (the preceding even id, never itself planted).
    * An embedding id is a planted near-duplicate iff
    * [[isPlantedNearDup]]; its source is [[nearDupSourceId]] (the
    * preceding multiple of 4, never itself planted). */
  def isPlantedDocDup(id: Column): Column =
    pmod(hash(id, lit(32)), lit(250)) === 0 && pmod(id, lit(2)) === 1

  def docDupSourceId(id: Column): Column = id - lit(1)

  def isPlantedNearDup(id: Column): Column =
    pmod(hash(id, lit(40)), lit(25)) === 0 && pmod(id, lit(4)) =!= 0

  def nearDupSourceId(id: Column): Column = id - pmod(id, lit(4))

  def documents(spark: SparkSession, sf: Double): DataFrame = {
    val n = (50000 * sf).toLong
    // ~0.2% of docs are EXACT duplicates of their predecessor (the
    // driver fixture has 8 dup texts per 5000 docs) — dedup families
    // need a non-empty duplicate relation to measure. Only ODD ids can
    // be duplicates and they always seed from the (even, therefore
    // never-redirected) id-1, so the "exact duplicate of its source"
    // invariant holds unconditionally (an unconditional id-1 seed could
    // itself be a redirected doc, silently breaking it).
    // Gate 1/250 on the odd half ≈ the same 0.2% overall rate.
    val seed = when(isPlantedDocDup(col("id")),
      docDupSourceId(col("id"))).otherwise(col("id"))
    spark.range(n)
      .withColumn("s", seed)
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(0), pmod(hash(col("s"), lit(33)), lit(76)) + 9),
          i => vocabCol(hash(col("s"), i, lit(34))))).as("text"),
        element_at(array(Seq("en", "en", "en", "en", "de", "es", "fr", "zh",
          "en", "es").map(lit): _*),
          (pmod(hash(col("id"), lit(35)), lit(10)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(hash(col("id"), lit(36)), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Embeddings with PLANTED clustered near-duplicates: ~3% of vectors
    * copy a source vector's components plus small
    * per-dimension noise, landing at cosine ≈ 0.95–0.97 to the source —
    * the τ≥0.9 regime semantic dedup actually runs in, which the base
    * near-random distribution cannot produce. Source selection is
    * transitively safe by construction: only ids with id%4 ≠ 0 can be
    * redirected, and they always seed from the preceding multiple of 4
    * (never itself redirected), so every planted pair is GUARANTEED
    * near-collinear — up to 3 copies of one source form a cluster.
    * Geometry: base components are uniform in ±0.37 (‖base‖ ≈ 1.71 over
    * 64 dims); noise is uniform in ±0.1 (‖noise‖ ≈ 0.46), so
    * copy↔source cosine ≈ 1/√(1+0.27²) ≈ 0.965 and copy↔copy ≈ 0.93. */
  def embeddings(spark: SparkSession, sf: Double): DataFrame = {
    val near = isPlantedNearDup(col("id"))
    spark.range((20000 * sf).toLong)
      .withColumn("nr", near)
      .withColumn("s", when(near, nearDupSourceId(col("id")))
        .otherwise(col("id")))
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(hash(col("s"), j, lit(37)), lit(1000)) - lit(500)).cast("float")
            / lit(1350.0f))
            + when(col("nr"),
                (pmod(hash(col("id"), j, lit(42)), lit(200)) - lit(100)).cast("float")
                  / lit(1000.0f))
              .otherwise(lit(0.0f))).as("embedding"),
        pmod(hash(col("id"), lit(38)), lit(10)).cast("int").as("label"))
  }

  /** The ten-table star schema, in write order. Public so ScaleBench's
    * artifact header and FixtureLayoutSpec enumerate the SAME tables the
    * generator writes. */
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** The 32-file layout contract: every generated table is written as
    * exactly this many parquet files regardless of the generator
    * session's parallelism. 32 matches local[32] and
    * spark.sql.shuffle.partitions — a table with fewer files caps every
    * downstream scan below the box's parallelism (measured: an 8-file
    * regeneration inflated large-SF medians up to 9× on
    * unchanged queries; the fixture layout, not the engine, was being
    * measured). FixtureLayoutSpec asserts the written count; ScaleBench
    * records per-table counts in its artifact header. */
  val LayoutFiles: Int = 32

  def tableFor(spark: SparkSession, name: String, sf: Double): DataFrame =
    name match {
      case "region" => region(spark)
      case "nation" => nation(spark)
      case "customer" => customer(spark, sf)
      case "supplier" => supplier(spark, sf)
      case "part" => part(spark, sf)
      case "orders" => orders(spark, sf)
      case "lineitem" => lineitem(spark, sf)
      case "events" => events(spark, sf)
      case "documents" => documents(spark, sf)
      case "embeddings" => embeddings(spark, sf)
      case other => throw new IllegalArgumentException(s"unknown fixture table $other")
    }

  /** Parquet data-file count of one written table — the single
    * implementation behind both ScaleBench's artifact header and
    * FixtureLayoutSpec (post-review: two verbatim copies would let the
    * header and the spec drift apart). -1 = table directory absent. */
  def parquetFileCount(dir: String, table: String): Int =
    Option(new java.io.File(s"$dir/$table.parquet").listFiles())
      .map(_.count(f => f.isFile && f.getName.endsWith(".parquet")))
      .getOrElse(-1)

  def writeAll(spark: SparkSession, sf: Double, outDir: String): Unit =
    TableNames.foreach { name =>
      // Fixed LayoutFiles-file layout regardless of the GENERATOR's
      // parallelism, via RANGE partitioning on each table's leading key
      // column (post-review: plain repartition(32) is ROUND-ROBIN with a
      // per-input-partition offset — on a small table it can leave
      // output slots empty and Spark skips empty partitions at write,
      // so an 8-thread generator wrote supplier@sf0.01 as 31 files).
      // Range partitioning over >= LayoutFiles distinct key values fills
      // every partition by construction, is independent of the
      // generator session's parallelism, and clusters each file by key
      // (parquet min/max skipping friendly). Row CONTENT stays purely
      // id-determined either way; tables with fewer distinct keys than
      // LayoutFiles (region, nation) honestly write fewer files.
      // REPRODUCIBILITY CONTRACT: row content and the
      // LayoutFiles file COUNT are reproducible across regenerations;
      // file BYTES are not — repartitionByRange picks its boundaries by
      // reservoir-sampling seeded from the RDD id, so row-to-file
      // placement can differ between generator sessions. Every consumer
      // here reads whole directories (ScaleBench, the specs, the scale
      // artifacts' per-table file-count headers), so placement is
      // immaterial; if byte-stable fixture dirs ever matter (e.g.
      // checksumming), switch to explicit bucketing on a computed
      // pmod(key, LayoutFiles) column instead of relying on this.
      val df = tableFor(spark, name, sf)
      df.repartitionByRange(LayoutFiles, col(df.columns.head))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[fixturegen] $name written to $outDir/$name.parquet")
    }

  def main(args: Array[String]): Unit = {
    val Array(sfStr, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    writeAll(spark, sfStr.toDouble, outDir)
    spark.stop()
  }
}
