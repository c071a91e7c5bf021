package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's flagship relational query: the group-by-week assessment
  * calendar (`/root/reference/etl_pipeline.py:63-147`, SURVEY §2.5 A1-A4):
  * flatten (A1, explode) → bullet-format lines (T13) → group by week with
  * insertion-ordered collect (A2) → sort groups (A3) → newline-join (A4).
  *
  * Re-expressed Spark-first: the within-group order the reference gets from
  * Python dict/list insertion order is pinned here by an explicit sort key
  * (collect_list + array_sort over a (key, line) struct), which is the only
  * way to get a deterministic fold under distributed execution. The single
  * shuffle is the groupBy; partial aggregation (map-side combine of the
  * collect buffers) still applies, and at 100 TB the week key is low-
  * cardinality so the reduce side is tiny — the heavy lifting stays in the
  * map side scan+project.
  */
object Calendar {

  /** Generic weekly rollup: `lines` keyed by `sortKey` folded per `week`. */
  def weekly(df: DataFrame, week: Column, sortKey: Column, line: Column): DataFrame =
    df.select(week.as("week"), sortKey.as("k"), line.as("line"))
      .groupBy("week")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(array_sort(collect_list(struct(col("k"), col("line")))),
            x => x.getField("line")),
          "\n").as("content"))
}
