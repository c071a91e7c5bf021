package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Syllabus document sources (SURVEY §2.1).
  *
  * S1: the recursive, pattern-filtered file scan is Spark-native —
  * `binaryFile` with `pathGlobFilter`/`recursiveFileLookup` prunes at
  * file-listing time, the distributed equivalent of the reference's
  * `rglob("UG-*_1A*-*.pdf")` (etl_pipeline.py:32-35).
  *
  * S2/S3: no PDF library ships in this environment, so binary → pages/
  * tables extraction sits behind the pre-extraction contract (SURVEY §7.2):
  * any adapter producing `(doc_id, filename, pages, units_raw,
  * assessments_raw)` plugs in; fixtures provide it as JSONL/parquet.
  * Everything downstream — the entire semantic content of the reference —
  * is engine code over that relation.
  */
object DocSource {

  /** FIXTURES.md §B schema. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("filename", StringType),
    StructField("pages", ArrayType(StringType)),
    StructField("units_raw", ArrayType(ArrayType(StringType))),
    StructField("assessments_raw", ArrayType(ArrayType(StringType)))))

  /** S1: recursive glob scan over a directory of PDFs; yields
    * (path, filename, content) — extraction adapters map `content`. */
  def binaryScan(spark: SparkSession, dir: String,
      glob: String = "UG-*_1A*-*.pdf"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"),
        element_at(split(col("path"), "/"), -1).as("filename"),
        col("content"))

  /** S2 — the binary→pages decode seam. A decoder turns the `binaryScan`
    * relation (path, filename, content) into the UNROUTED per-page
    * contract (doc_id, filename, page_no, text, page_table) that
    * [[graft.operators.SectionRouting.assembleDocs]] /
    * [[graft.operators.Syllabus.parseFromPages]] consume — the exact
    * surface of the reference's pdfplumber adapter
    * (etl_infrastructure.py:9-16 text, :18-55 per-page `extract_table()`).
    * A production PDF decoder (PDFBox et al. — not present in this
    * environment) implements this same trait with `mapPartitions` over
    * `content`; the engine-side plumbing is identical either way. */
  trait PageDecoder {
    def decode(scanned: DataFrame): DataFrame
  }

  /** Built-in decoder for a trivial delimited binary page format, so the
    * binary path runs end-to-end without any PDF library:
    *
    *  - pages separated by form feed `\f` (the classic page break);
    *  - within a page, an optional GROUP SEPARATOR (0x1D) splits page
    *    text from the page's (single, like `extract_table()`) table;
    *  - table rows separated by RECORD SEPARATOR (0x1E), cells by UNIT
    *    SEPARATOR (0x1F).
    *
    * Fully columnar (split/posexplode/transform — whole-stage codegen,
    * no UDF): decoding distributes with the file scan. */
  object DelimitedPages extends PageDecoder {
    val PageSep = "\f"
    val TableSep = "\u001d" // GROUP SEPARATOR
    val RowSep = "\u001e"   // RECORD SEPARATOR
    val CellSep = "\u001f"  // UNIT SEPARATOR

    override def decode(scanned: DataFrame): DataFrame = {
      val parts = split(col("page_raw"), TableSep, 2)
      scanned
        .select(col("filename").as("doc_id"), col("filename"),
          posexplode(split(
            org.apache.spark.sql.functions.decode(col("content"), "UTF-8"),
            PageSep))
            .as(Seq("page_no", "page_raw")))
        .select(col("doc_id"), col("filename"), col("page_no"),
          element_at(parts, 1).as("text"),
          when(size(parts) === 2,
            transform(split(element_at(parts, 2), RowSep),
              r => split(r, CellSep))).as("page_table"))
    }

    /** Inverse of [[decode]] for one document — fixture/writer aid;
      * round-trip pinned in DocSourceSpec. */
    def encodeDoc(pages: Seq[(String, Seq[Seq[String]])]): Array[Byte] =
      pages.map { case (text, table) =>
        if (table == null || table.isEmpty) text
        else text + TableSep + table.map(_.mkString(CellSep)).mkString(RowSep)
      }.mkString(PageSep).getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** S1+S2 composed: recursive glob scan, then binary→pages decode. Feed
    * the result to `Syllabus.parseFromPages` for the full reference
    * pipeline from real binary input. */
  def decodedScan(spark: SparkSession, dir: String,
      glob: String = "UG-*_1A*-*.pdf",
      decoder: PageDecoder = DelimitedPages): DataFrame =
    decoder.decode(binaryScan(spark, dir, glob))

  /** Pre-extracted documents from JSONL (the test-fixture adapter). */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Pre-extracted documents from parquet. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S5/S6 (etl_infrastructure.py:160-170, both effectively unimplemented
    * in the reference): the real read path over the serialized JSONL sink —
    * predicate pushdown by column, not filename globbing. `limit(1)`
    * matches the reference's first-match semantics
    * (etl_infrastructure.py:162-165 loads only the first glob hit).
    * The sink is read with the serializer's declared schema
    * ([[graft.sinks.CourseJson.readSchema]]), so building either read
    * runs no schema-inference job over the sink. */
  def findById(spark: SparkSession, outDir: String, courseId: String): DataFrame =
    readCourses(spark, outDir).filter(col("id") === courseId).limit(1)

  def findByPeriod(spark: SparkSession, outDir: String, period: String): DataFrame =
    readCourses(spark, outDir).filter(col("period") === period)

  private def readCourses(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(graft.sinks.CourseJson.readSchema).json(outDir)
}
