package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSON sinks (SURVEY §2.6).
  *
  * The canonical engine sink is distributed JSONL (`writeJsonl`) — at
  * 100 TB one file per task, no driver involvement. The reference-parity
  * shapes (one pretty file per course, K1, and a single JSON array, K2 —
  * etl_infrastructure.py:148-158, etl_pipeline.py:52-61) are inherently
  * single-machine layouts, so those writers `collect()` and are documented
  * for small result sets only (a term's courses, not a corpus).
  *
  * Each writer is one action over its input. A caller writing one
  * relation several ways should pass a relation that is already
  * materialized (e.g. derived from `Syllabus.parse`, which computes its
  * result once); an unmaterialized plan is recomputed from its sources
  * by every writer.
  */
object JsonSinks {

  /** K1/K2 canonical: distributed JSONL directory. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** K2 compat: one JSON array file. Driver-side render — small results. */
  def writeJsonArray(df: DataFrame, path: String): Unit = {
    val rows = df.toJSON.collect()
    val body = rows.mkString("[\n  ", ",\n  ", "\n]")
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** K1 compat: one pretty-ish file per course named
    * `{name|unknown}-{nrc|no-nrc}.json` (etl_infrastructure.py:153-158).
    * Queries should read the JSONL sink instead — the reference's own
    * read path globs `{course_id}_*` and can never match this naming
    * (latent bug, SURVEY S5); our engine queries by column. */
  def writePerCourse(serialized: DataFrame, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    // The name component is data-derived: strip path separators and dot
    // segments so a hostile course name can't escape the sink directory
    // (the reference shares this flaw; the port hardens it).
    val safeName = regexp_replace(
      regexp_replace(col("name"), "[/\\\\]", "_"), "\\.\\.", "_")
    val rows = serialized
      .withColumn("_fname", concat(
        when(safeName =!= "", safeName).otherwise(lit("unknown")),
        lit("-"),
        when(col("nrc") =!= "", col("nrc")).otherwise(lit("no-nrc")),
        lit(".json")))
      .select(col("_fname"), to_json(struct(serialized.columns.map(col): _*)).as("_json"))
      .collect()
    rows.foreach { r =>
      Files.write(Paths.get(dir, r.getString(0)),
        r.getString(1).getBytes(StandardCharsets.UTF_8))
    }
  }
}
