package graft

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.operators.{SectionRouting, Syllabus}
import graft.sinks.{CourseJson, JsonSinks}
import graft.sources.{DocSource, Periods}

/** End-to-end pipeline over engine-authored fixtures (FIXTURES.md §B) —
  * from UNROUTED per-page extractions: the S3 section-routing operator
  * (page cursor carry-over, mid-page switch, drop-unrelated) runs first,
  * so the full reference dataflow is exercised, not pre-routed inputs. */
class SyllabusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val generalPage =
    """I. INFORMACIÓN GENERAL
      |Nombre del Curso: Cálculo I
      |Código del curso: 1AEL0244
      |Periodo: 2025-2
      |Cuerpo académico: •García Juan, López Ana
      |Créditos: 3
      |Semanas: 16
      |NRC: 8281
      |Carreras
      |: Ingeniería Civil,
      |Área o programa Ingeniería de Sistemas
      |II. MISIÓN Y VISIÓN
      |texto de mision""".stripMargin

  private val unitsRaw = Seq(
    Seq("Unidad n. 1: Límites y continuidad", "", "", "", ""),
    Seq("COMPETENCIA (S): Razonamiento", "", "", "", ""),
    Seq("cuantitativo", "", "", "", ""),
    Seq("LOGRO DE LA UNIDAD: Al finalizar la", "", "", "", ""),
    Seq("unidad, calcula límites", "", "", "", ""),
    Seq("SEMANA CONTENIDO ACTIVIDADES", "", "", "", ""),
    Seq("Semana 1 - 4", "•Límites laterales •Continuidad", "•Taller 1", "•Examen parcial", "•Stewart cap 1"),
    Seq("extra", "•Asíntotas", "", "", ""))

  private val assessRaw = Seq(
    Seq("TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"),
    Seq("PC-01", "Razonamiento", "25%", "4", "U1", "No"),
    Seq("EX FINAL", "Todas", "40%", "16", "", "Sí"),
    Seq("BAD", "X", "10%", "n/a", "", ""))

  /** goodDoc as raw pages: the units table is split across two pages (the
    * second has NO heading → cursor carry-over), the assessments heading
    * appears MID-page, and a trailing bibliography-section table must be
    * dropped — every branch of etl_infrastructure.py:18-55. */
  private val goodPages = Seq(
    RawPage("d1", "UG-202520_1AEL0244-8281.pdf", 0, generalPage, null),
    RawPage("d1", "UG-202520_1AEL0244-8281.pdf", 1,
      "VI. UNIDADES DE APRENDIZAJE", unitsRaw.take(6)),
    RawPage("d1", "UG-202520_1AEL0244-8281.pdf", 2,
      "texto de continuación sin encabezado", unitsRaw.drop(6)),
    RawPage("d1", "UG-202520_1AEL0244-8281.pdf", 3,
      "cierre de unidades\nVIII. EVALUACIÓN", assessRaw),
    RawPage("d1", "UG-202520_1AEL0244-8281.pdf", 4,
      "IX. BIBLIOGRAFÍA DEL CURSO", Seq(Seq("Stewart", "dropped"))))
  private val badNamePages = Seq(
    RawPage("d2", "syllabus.pdf", 0, generalPage, null))
  private val badGrammarPages = Seq(
    RawPage("d3", "UG-202520_1AMA0042-1234.pdf", 0, generalPage, null),
    RawPage("d3", "UG-202520_1AMA0042-1234.pdf", 1,
      "VI. UNIDADES DE APRENDIZAJE", Seq(Seq("Foo"))))
  private val emptyDocPages = Seq(
    RawPage("d4", "UG-202510_1ASI0001-0042.pdf", 0,
      "I. INFORMACIÓN GENERAL\nnothing labeled here", null))

  private def allPages =
    spark.createDataset(goodPages ++ badNamePages ++ badGrammarPages ++ emptyDocPages)(
      Encoders.product[RawPage]).toDF()

  private def parseAll() = Syllabus.parseFromPages(allPages)

  test("section routing assembles docs: carry-over, mid-page switch, drops") {
    def nested(r: org.apache.spark.sql.Row, c: String): Seq[Seq[String]] =
      r.getAs[scala.collection.Seq[scala.collection.Seq[String]]](c).map(_.toSeq).toSeq
    val docs = SectionRouting.assembleDocs(allPages).collect()
      .map(r => r.getAs[String]("doc_id") -> r).toMap
    val d1 = docs("d1")
    assert(nested(d1, "units_raw") === unitsRaw)
    assert(nested(d1, "assessments_raw") === assessRaw)
    assert(d1.getAs[scala.collection.Seq[String]]("pages").length === 5)
    // the bibliography-section table went nowhere
    assert(!nested(d1, "units_raw").flatten.contains("dropped"))
    // a doc with no routed tables gets empty arrays, not nulls
    assert(nested(docs("d4"), "units_raw") === Seq.empty)
    assert(nested(docs("d4"), "assessments_raw") === Seq.empty)
  }

  test("pipeline parses a full course with merges, defaults and envelope") {
    val results = parseAll().collect().sortBy(_.doc_id)
    assert(results.map(r => r.doc_id -> r.status).toSeq ===
      Seq("d1" -> "ok", "d2" -> "error", "d3" -> "error", "d4" -> "ok"))

    val c = results(0).course.get
    assert(c.metadata === CourseMetadata("1AEL0244", "8281", "2025-2"))
    assert(c.name === "Cálculo I")
    assert(c.faculty === Seq("García Juan", "López Ana"))
    assert(c.credits === 3)
    assert(c.totalWeeks === 16)
    assert(c.areas === Seq("Ingeniería Civil", "Ingeniería de Sistemas"))
    assert(c.units === Seq(CourseUnit(1, "Límites y continuidad",
      "Al finalizar la unidad, calcula límites", 1, 4,
      Seq("Límites laterales", "Continuidad", "Asíntotas"), Seq("Taller 1"))))
    assert(c.assessments === Seq(
      Assessment("PC", "01", 25.0, 4, isRecoverable = false),
      Assessment("EX FINAL", "", 40.0, 16, isRecoverable = true)))

    assert(results(1).error.contains("Invalid filename format"))
    assert(results(2).error.contains("Invalid unit title format: Foo"))

    // missing labels fall back to the reference defaults
    val d4 = results(3).course.get
    assert(d4.name === "")
    assert(d4.faculty === Seq.empty)
    assert(d4.credits === 0)
    assert(d4.totalWeeks === 16)
    assert(d4.areas === Seq.empty)
  }

  test("weekly calendar pins group order and formats like the reference (A1-A4)") {
    val cs = Syllabus.courses(parseAll())
    val cal = Syllabus.weeklyCalendar(cs).collect()
    assert(cal.map(_.getInt(0)).toSeq === Seq(4, 16))
    assert(cal(0).getString(1) === "•1AEL0244: PC (25.0%)")
    assert(cal(1).getString(1) === "•1AEL0244: EX FINAL (40.0%)")
  }

  test("serializer emits the reference JSON shape (P6) with period dates") {
    val cs = Syllabus.courses(parseAll())
    val out = CourseJson.serialize(cs, Periods.default(spark))
    assert(out.columns.toSeq === Seq("id", "name", "period", "faculty", "credits",
      "weeks", "area", "nrc", "units", "assessments"))
    val row = out.filter(out("id") === "1AEL0244").head()
    assert(row.getAs[Int]("weeks") === 16)
    val unit = row.getAs[Seq[org.apache.spark.sql.Row]]("units").head
    assert(unit.getAs[String]("initial_date") === "2025-08-25")
    assert(unit.getAs[String]("last_date") === "2025-12-06")
    assert(unit.getAs[Seq[String]]("exams") === Seq.empty)
    assert(unit.getAs[Seq[String]]("bibliography") === Seq.empty)
    val a = row.getAs[Seq[org.apache.spark.sql.Row]]("assessments").head
    assert(a.getAs[String]("abrev") === "01")
    assert(a.getAs[Double]("weight") === 25.0)
  }

  test("serializer computes true week dates when asked (T12 fix)") {
    val cs = Syllabus.courses(parseAll())
    val out = CourseJson.serialize(cs, Periods.default(spark), computeWeekDates = true)
    val row = out.filter(out("id") === "1AEL0244").head()
    val unit = row.getAs[Seq[org.apache.spark.sql.Row]]("units").head
    assert(unit.getAs[String]("initial_date") === "2025-08-25") // week 1
    assert(unit.getAs[String]("last_date") === "2025-09-21")    // end of week 4
  }

  test("JSONL sink round-trips through the real read path (S5/S6 fix)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val cs = Syllabus.courses(parseAll())
    JsonSinks.writeJsonl(CourseJson.serialize(cs, Periods.default(spark)), s"$dir/courses")
    val byId = DocSource.findById(spark, s"$dir/courses", "1AEL0244")
    assert(byId.count() === 1)
    assert(byId.head().getAs[String]("name") === "Cálculo I")
    val byPeriod = DocSource.findByPeriod(spark, s"$dir/courses", "2025-2")
    assert(byPeriod.count() === 1)
    // per-course compat files use the {name}-{nrc}.json naming
    JsonSinks.writePerCourse(CourseJson.serialize(cs, Periods.default(spark)), s"$dir/per")
    val files = new java.io.File(s"$dir/per").list().toSeq
    assert(files.contains("Cálculo I-8281.json"))
    // single JSON array (K2 shape)
    JsonSinks.writeJsonArray(CourseJson.serialize(cs, Periods.default(spark)), s"$dir/all_courses.json")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/all_courses.json")), "UTF-8")
    assert(body.startsWith("[") && body.endsWith("]"))
  }

  test("JSONL read-backs declare serialize's schema: the one inference finds, built with no job") {
    import org.apache.spark.sql.types._
    // Field order and nullability aside; `widen` maps integral types to
    // bigint, the type a JSON read gives every integral number.
    def norm(t: DataType, widen: Boolean): DataType = t match {
      case st: StructType =>
        StructType(st.fields.sortBy(_.name).map(f => StructField(f.name, norm(f.dataType, widen))))
      case at: ArrayType => ArrayType(norm(at.elementType, widen))
      case ByteType | ShortType | IntegerType if widen => LongType
      case other => other
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val ser = CourseJson.serialize(Syllabus.courses(parseAll()), Periods.default(spark))
    JsonSinks.writeJsonl(ser, s"$dir/courses")
    val declared = CourseJson.readSchema
    assert(norm(declared, widen = true) === norm(ser.schema, widen = true))
    assert(norm(declared, widen = false) ===
      norm(spark.read.json(s"$dir/courses").schema, widen = false))

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (byId, byPeriod) =
      try {
        val built = (DocSource.findById(spark, s"$dir/courses", "1AEL0244"),
          DocSource.findByPeriod(spark, s"$dir/courses", "2025-2"))
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        built
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0, "building a read-back ran a job")
    assert(byId.schema === declared && byPeriod.schema === declared)
  }

  test("per-course sink sanitizes path separators in data-derived names") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sanitize").toString
    val hostile = spark.createDataFrame(Seq(
      ("../escape/me", "1234"), ("a/b\\c", "5678"))).toDF("name", "nrc")
    JsonSinks.writePerCourse(hostile, dir)
    val files = new java.io.File(dir).list().toSeq
    assert(files.length === 2)
    // no file escaped the sink dir; separators and dot-dot neutralized
    files.foreach { f =>
      assert(!f.contains("/") && !f.contains("\\") && !f.contains(".."))
    }
    assert(files.contains("__escape_me-1234.json"))
    assert(files.contains("a_b_c-5678.json"))
  }
}
