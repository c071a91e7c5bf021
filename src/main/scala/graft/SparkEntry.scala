package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CurationQueries, DedupQueries, GraphQueries, MediaStreamQueries, Parsing, Relational, SimilarityQueries, TextQueries}

/** Driver contract (SURVEY.md §7).
  *
  * Each capability area contributes a (queries, oracles) pair from
  * `graft.queries.*`; this object is only the aggregation point.
  *
  * Query results are unordered: a returned DataFrame is a set of rows,
  * and a consumer that needs an order sorts. A query sorts only where
  * the order changes the result: a top-k (`orderBy(...).limit(k)`), a
  * window ordering, or a step that reads rows in order. Each result-side
  * global sort would add a range-sampling job and a range exchange.
  * `PlanGuardSpec` fails on an optimized plan whose root is a global
  * `Sort`.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.calendarWeekly(spark, "/root/testdata/sf0.001")

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracles),
      (Parsing.queries, Parsing.oracles),
      (TextQueries.queries, TextQueries.oracles),
      (DedupQueries.queries, DedupQueries.oracles),
      (SimilarityQueries.queries, SimilarityQueries.oracles),
      (MediaStreamQueries.queries, MediaStreamQueries.oracles),
      (CurationQueries.queries, CurationQueries.oracles),
      (GraphQueries.queries, GraphQueries.oracles))

  /** Merges per-module maps, failing LOUDLY on a duplicate query name —
    * a plain `++` would let a later module silently shadow an earlier
    * query (round 9 caught `pack_sequences` being swallowed exactly this
    * way: the surface shrank by one with every gate still green). */
  private def merged[V](parts: Iterator[Map[String, V]]): Map[String, V] =
    parts.reduce { (a, b) =>
      val dup = a.keySet.intersect(b.keySet)
      require(dup.isEmpty, s"duplicate query names across modules: $dup")
      a ++ b
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.iterator.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged(modules.iterator.map(_._2))
}
