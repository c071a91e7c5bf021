package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Course

/** Output projection P6 (etl_infrastructure.py:172-232): the reference's
  * JSON shape — renamed keys (`course_id→id`, `areas→area`, `code→abrev`,
  * `total_weeks→weeks`, week_range flattened to initial_week/last_week),
  * injected `initial_date`/`last_date`, and always-empty `exams`/
  * `bibliography` arrays (the parser discards those columns, R5).
  *
  * Dates come from the broadcast period dimension (the reference's dead
  * config load made real, SURVEY §7.3), falling back to the reference's
  * hard-coded constants when the period is unknown. With
  * `computeWeekDates=true` the engine computes true per-week dates
  * (T12's intended semantics): `start + (week-1)*7 days`.
  */
object CourseJson {
  /** The schema a JSON read of a [[serialize]] sink has: serialize's
    * fields and types as `spark.read.json` infers them from the written
    * lines — fields in name order at every level, every integral field
    * `bigint` (JSON has one integral number type), everything nullable.
    * Read-backs declare it, so they run no schema-inference job; pinned
    * against both serialize's schema and inference by
    * SyllabusPipelineSpec. */
  val readSchema: StructType = {
    def struct(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (name, t) => StructField(name, t) })
    val strings = ArrayType(StringType)
    struct(
      "area" -> strings,
      "assessments" -> ArrayType(struct(
        "abrev" -> StringType, "initial_date" -> StringType,
        "last_date" -> StringType, "name" -> StringType,
        "week" -> LongType, "weight" -> DoubleType)),
      "credits" -> LongType,
      "faculty" -> strings,
      "id" -> StringType,
      "name" -> StringType,
      "nrc" -> StringType,
      "period" -> StringType,
      "units" -> ArrayType(struct(
        "achievement" -> StringType, "activities" -> strings,
        "bibliography" -> strings, "exams" -> strings,
        "initial_date" -> StringType, "initial_week" -> LongType,
        "last_date" -> StringType, "last_week" -> LongType,
        "number" -> LongType, "syllabus" -> strings, "title" -> StringType)),
      "weeks" -> LongType)
  }

  private val FallbackStart = "2025-08-25"
  private val FallbackEnd = "2025-12-06"

  def serialize(cs: Dataset[Course], periods: DataFrame,
      computeWeekDates: Boolean = false): DataFrame = {
    val joined = cs.join(broadcast(periods),
      cs("metadata.period") === periods("period_key"), "left")
    val start = coalesce(col("start_date"), lit(FallbackStart))
    val end = coalesce(col("end_date"), lit(FallbackEnd))
    def weekDate(week: Column, offsetDays: Int): Column =
      if (computeWeekDates)
        date_format(date_add(start.cast("date"), (week - 1) * 7 + offsetDays), "yyyy-MM-dd")
      else start
    def weekEndDate(week: Column): Column =
      if (computeWeekDates)
        date_format(date_add(start.cast("date"), week * 7 - 1), "yyyy-MM-dd")
      else end

    joined.select(
      col("metadata.courseId").as("id"),
      col("name"),
      col("metadata.period").as("period"),
      col("faculty"),
      col("credits"),
      col("totalWeeks").as("weeks"),
      col("areas").as("area"),
      col("metadata.nrc").as("nrc"),
      transform(col("units"), u => struct(
        u.getField("number").as("number"),
        u.getField("title").as("title"),
        u.getField("achievement").as("achievement"),
        u.getField("initialWeek").as("initial_week"),
        u.getField("lastWeek").as("last_week"),
        weekDate(u.getField("initialWeek"), 0).as("initial_date"),
        weekEndDate(u.getField("lastWeek")).as("last_date"),
        u.getField("syllabus").as("syllabus"),
        u.getField("activities").as("activities"),
        array().cast("array<string>").as("exams"),
        array().cast("array<string>").as("bibliography"))).as("units"),
      transform(col("assessments"), a => struct(
        a.getField("name").as("name"),
        a.getField("code").as("abrev"),
        a.getField("weight").as("weight"),
        a.getField("week").as("week"),
        weekDate(a.getField("week"), 0).as("initial_date"),
        weekEndDate(a.getField("week")).as("last_date"))).as("assessments"))
  }
}
