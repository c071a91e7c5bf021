package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.sources.Tables

/** Scalar parse/cast/filter operators from SURVEY §2.2-§2.3, each restated
  * over the shared fixture tables with a DuckDB oracle. The reference does
  * these row-at-a-time in Python (`/root/reference/etl_pipeline.py`,
  * `etl_infrastructure.py`); here each is a columnar, codegen-friendly
  * expression chain — no UDFs, so Catalyst folds/pushes/fuses them freely
  * and the same plan scales to arbitrarily many input files.
  */
object Parsing {

  /** T1 (etl_infrastructure.py:58-70): anchored regex parse of a structured
    * name into typed fields + `YYYYT → YYYY-T`-style reformat. */
  def filenameMetaParse(spark: SparkSession, dir: String): DataFrame = {
    val code = regexp_extract(col("c_name"), "^Customer#(\\d+)$", 1)
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        expr(s"try_cast(regexp_extract(c_name, '^Customer#(\\\\d+)$$', 1) as bigint)").as("cust_no"),
        concat(substring(code, 1, 4), lit("-"), substring(code, 5, 1)).as("period_fmt"))
  }

  val filenameMetaParseSql: String =
    """SELECT c_custkey,
      |  TRY_CAST(regexp_extract(c_name, '^Customer#(\d+)$', 1) AS BIGINT) AS cust_no,
      |  substr(regexp_extract(c_name, '^Customer#(\d+)$', 1), 1, 4) || '-' ||
      |  substr(regexp_extract(c_name, '^Customer#(\d+)$', 1), 5, 1) AS period_fmt
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** T2/T3 (etl_infrastructure.py:75-133): case-insensitive labeled-field
    * lookup — first regex group, trimmed, miss → ''. */
  def labelFieldLookup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        trim(regexp_extract(col("text"), "(?i)\\bspark\\s+([a-z]+)", 1)).as("label_val"))

  val labelFieldLookupSql: String =
    """SELECT doc_id, trim(regexp_extract(text, '(?i)\bspark\s+([a-z]+)', 1)) AS label_val
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T4/T5/P4 (etl_pipeline.py:311-314, etl_infrastructure.py:143-146):
    * bullet-split + trim + drop-empties, as higher-order array functions. */
  def bulletSplitFilter(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(transform(split(col("text"), " "), w => trim(w)), w => w =!= "")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(words).cast("bigint").as("n_words"),
        array_join(words, "|").as("words_joined"))
  }

  val bulletSplitFilterSql: String =
    """SELECT doc_id,
      |  len(list_filter(list_transform(string_split(text, ' '), x -> trim(x)), x -> x != '')) AS n_words,
      |  array_to_string(list_filter(list_transform(string_split(text, ' '), x -> trim(x)), x -> x != ''), '|') AS words_joined
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T8 (etl_pipeline.py:284-285): name/code split on first '-', missing
    * code → ''. Grouped so the output is the distinct parse table. */
  def nameCodeSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .select(
        col("o_orderpriority"),
        regexp_extract(col("o_orderpriority"), "^([^-]*)", 1).as("name"),
        when(col("o_orderpriority").contains("-"),
          trim(regexp_extract(col("o_orderpriority"), "^[^-]*-(.*)$", 1)))
          .otherwise(lit("")).as("code"),
        col("n"))

  val nameCodeSplitSql: String =
    """SELECT o_orderpriority,
      |  regexp_extract(o_orderpriority, '^([^-]*)', 1) AS name,
      |  CASE WHEN contains(o_orderpriority, '-')
      |       THEN trim(regexp_extract(o_orderpriority, '^[^-]*-(.*)$', 1))
      |       ELSE '' END AS code,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** T6/T7 (etl_infrastructure.py:110-133, etl_pipeline.py:293-297):
    * try_cast-with-default — the engine's "never raise, coalesce to the
    * reference's fallback" cast discipline. `missing_k` always falls back
    * (the key is absent), exercising the default path on every row. */
  def tryCastDefaults(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        coalesce(expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) as int)"), lit(0)).as("k"),
        coalesce(expr("try_cast(regexp_extract(props, '\"zz\": (\\\\d+)', 1) as int)"), lit(-1)).as("missing_k"),
        coalesce(expr("try_cast(rtrim(event_type, '%') as double)"), lit(0.0)).as("wt"))

  val tryCastDefaultsSql: String =
    """SELECT event_id,
      |  COALESCE(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT), 0) AS k,
      |  COALESCE(TRY_CAST(regexp_extract(props, '"zz": (\d+)', 1) AS INT), -1) AS missing_k,
      |  COALESCE(TRY_CAST(rtrim(event_type, '%') AS DOUBLE), 0.0) AS wt
      |FROM events ORDER BY event_id""".stripMargin

  /** The built-in JSON path for the same extraction: ONE `from_json`
    * parse per row materializes a struct all fields project from — vs
    * a regex scan per key (try_cast_defaults keeps the regex
    * deliberately, as the reference-parity artifact whose oracle pays
    * the identical regex) or per-key `get_json_object` re-parses. */
  def propsJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val parsed = from_json(col("props"), StructType(Seq(
      StructField("k", IntegerType), StructField("zz", IntegerType),
      StructField("ts", LongType))))
    Tables.events(spark, dir)
      .select(col("event_id"), parsed.as("p"))
      .select(
        col("event_id"),
        coalesce(col("p.k"), lit(0)).as("k"),
        coalesce(col("p.zz"), lit(-1)).as("missing_k"))
  }

  val propsJsonExtractSql: String =
    """SELECT event_id,
      |  COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INT), 0) AS k,
      |  COALESCE(TRY_CAST(json_extract_string(props, '$.zz') AS INT), -1) AS missing_k
      |FROM events ORDER BY event_id""".stripMargin

  /** T9 (etl_pipeline.py:299): positional arity guard + case-folded
    * substring flag. */
  def recoverableFlag(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        (size(words) > 5 && lower(col("text")).contains("join")).as("is_flagged"))
  }

  val recoverableFlagSql: String =
    """SELECT doc_id,
      |  (len(string_split(text, ' ')) > 5 AND contains(lower(text), 'join')) AS is_flagged
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T10 (etl_pipeline.py:230,280): cell-wise literal replace normalization
    * (counting occurrences via the length delta, as the lang-id op does). */
  def replaceNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        ((length(col("text")) - length(expr("replace(text, 'batch', '')"))) / 5).cast("int").as("n_batch"))

  val replaceNormalizeSql: String =
    """SELECT doc_id,
      |  CAST((len(text) - len(replace(text, 'batch', ''))) / 5 AS INT) AS n_batch
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T11 (etl_infrastructure.py:120-127): two-group regex re-join of a field
    * split across lines, then split/trim/drop-empties into a list. */
  def multilineAreasRegex(spark: SparkSession, dir: String): DataFrame = {
    val a1 = regexp_extract(col("text"), "fast ([a-z]+)", 1)
    val a2 = regexp_extract(col("text"), "slow ([a-z]+)", 1)
    val areas = filter(array(a1, a2), x => x =!= "")
    Tables.documents(spark, dir)
      .select(col("doc_id"), array_join(areas, ",").as("areas"), size(areas).cast("bigint").as("n_areas"))
  }

  val multilineAreasRegexSql: String =
    """SELECT doc_id,
      |  COALESCE(array_to_string(list_filter([regexp_extract(text, 'fast ([a-z]+)', 1),
      |                               regexp_extract(text, 'slow ([a-z]+)', 1)], x -> x != ''), ','), '') AS areas,
      |  len(list_filter([regexp_extract(text, 'fast ([a-z]+)', 1),
      |                   regexp_extract(text, 'slow ([a-z]+)', 1)], x -> x != '')) AS n_areas
      |FROM documents ORDER BY doc_id""".stripMargin

  /** X2/P3 (etl_pipeline.py:17-30,287-291): error envelope — malformed rows
    * are routed to a rejects relation with a reason, not thrown; the main
    * flow is the 'ok' slice. Surfaces the reference's warn-and-drop as data. */
  def errorEnvelopeRejects(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        when(expr("try_cast(regexp_extract(props, '\"k\": (-?\\\\d+)', 1) as int)").isNull, lit("reject:bad_k"))
          .when(col("value") < 0, lit("reject:neg_value"))
          .otherwise(lit("ok")).as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"))

  val errorEnvelopeRejectsSql: String =
    """SELECT status, COUNT(*) AS n FROM (
      |  SELECT CASE WHEN TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT) IS NULL THEN 'reject:bad_k'
      |              WHEN value < 0 THEN 'reject:neg_value'
      |              ELSE 'ok' END AS status
      |  FROM events) t
      |GROUP BY status ORDER BY status""".stripMargin

  /** P1/P2 (etl_pipeline.py:273-282): header-row anti-filter (leading-cell
    * equality) + arity guard on the split row. */
  def headerRowAntifilter(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), element_at(words, 1).as("first_word"), size(words).cast("bigint").as("n_cells"))
      .filter(col("n_cells") >= 4 && col("first_word") =!= "the")
  }

  val headerRowAntifilterSql: String =
    """SELECT doc_id, first_word, n_cells FROM (
      |  SELECT doc_id, string_split(text, ' ')[1] AS first_word,
      |         len(string_split(text, ' ')) AS n_cells
      |  FROM documents) t
      |WHERE n_cells >= 4 AND first_word != 'the'
      |ORDER BY doc_id""".stripMargin

  /** S3 (etl_infrastructure.py:18-55): section routing — per-row heading
    * detection + last-non-null propagation down the ordered stream, exactly
    * the reference's "heading carries over across page breaks" semantics.
    * The window partitions by user (doc) so state never crosses documents
    * and the shuffle is one hash exchange on the partition key. */
  def sectionRouteLastval(spark: SparkSession, dir: String): DataFrame = {
    val heading = when(col("event_type") === "signup", concat(lit("S:"), col("event_id")))
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        last(heading, ignoreNulls = true).over(w).as("section"))
  }

  val sectionRouteLastvalSql: String =
    """SELECT event_id, user_id,
      |  last_value(CASE WHEN event_type = 'signup' THEN 'S:' || event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS section
      |FROM events ORDER BY event_id""".stripMargin

  /** S3 proper (etl_infrastructure.py:18-55): the REAL
    * SectionRouting.assembleDocs operator — heading detect, first-page
    * sectionless, cross-page carry-over, mid-page switch, one-table-per-
    * page routing to units/assessments — run over a per-page relation
    * derived deterministically from `documents` (50 docs × N pages; pages
    * doc_id%11==0 open with the units heading, ==5 switch to the
    * assessments heading MID-page, ==8 open an unrelated section whose
    * tables must be dropped; pages doc_id%3==2 carry no table). The oracle
    * rebuilds the derivation plus the routing window in SQL, so the whole
    * operator — not an analog — is hash-checked. */
  def sectionTableRoute(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SectionRouting
    val pages = Tables.documents(spark, dir).select(
      (col("doc_id") % 50).as("doc_id"),
      lit("p.pdf").as("filename"),
      expr("doc_id div 50").as("page_no"),
      when(col("doc_id") % 11 === 0,
          concat(lit(SectionRouting.UnitsSection + "\n"), col("text")))
        .when(col("doc_id") % 11 === 5,
          concat(lit("intro line\n" + SectionRouting.AssessmentsSection + "\n"), col("text")))
        .when(col("doc_id") % 11 === 8,
          concat(lit("VII. METODOLOGÍA\n"), col("text")))
        .otherwise(col("text")).as("text"),
      when(col("doc_id") % 3 =!= 2,
        array(array(col("doc_id").cast("string"), substring(col("text"), 1, 20)))).as("page_table"))
    SectionRouting.assembleDocs(pages)
      .select(
        col("doc_id"),
        size(col("units_raw")).cast("bigint").as("n_units_rows"),
        size(col("assessments_raw")).cast("bigint").as("n_assess_rows"),
        array_join(transform(col("units_raw"), r => array_join(r, "|")), ";").as("units_cells"),
        array_join(transform(col("assessments_raw"), r => array_join(r, "|")), ";").as("assess_cells"))
  }

  val sectionTableRouteSql: String = {
    import graft.operators.SectionRouting
    val names = SectionRouting.SectionNames.map(n => s"'$n'").mkString(", ")
    s"""WITH p AS (
       |  SELECT doc_id % 50 AS doc, doc_id // 50 AS page_no,
       |    CASE WHEN doc_id % 11 = 0 THEN '${SectionRouting.UnitsSection}' || chr(10) || text
       |         WHEN doc_id % 11 = 5 THEN 'intro line' || chr(10) || '${SectionRouting.AssessmentsSection}' || chr(10) || text
       |         WHEN doc_id % 11 = 8 THEN 'VII. METODOLOGÍA' || chr(10) || text
       |         ELSE text END AS ptext,
       |    CASE WHEN doc_id % 3 != 2 THEN [[CAST(doc_id AS VARCHAR), substr(text, 1, 20)]] END AS page_table
       |  FROM documents),
       |s AS (
       |  SELECT doc, page_no, page_table,
       |    last_value(CASE WHEN len(heads) > 0 THEN heads[-1] END IGNORE NULLS)
       |      OVER (PARTITION BY doc ORDER BY page_no
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS section
       |  FROM (SELECT *, list_filter(string_split(ptext, chr(10)), l -> l IN ($names)) AS heads FROM p))
       |SELECT doc AS doc_id,
       |  len(coalesce(flatten(list(page_table ORDER BY page_no)
       |    FILTER (WHERE section = '${SectionRouting.UnitsSection}' AND page_table IS NOT NULL AND len(page_table) > 0)), [])) AS n_units_rows,
       |  len(coalesce(flatten(list(page_table ORDER BY page_no)
       |    FILTER (WHERE section = '${SectionRouting.AssessmentsSection}' AND page_table IS NOT NULL AND len(page_table) > 0)), [])) AS n_assess_rows,
       |  COALESCE(array_to_string(list_transform(coalesce(flatten(list(page_table ORDER BY page_no)
       |    FILTER (WHERE section = '${SectionRouting.UnitsSection}' AND page_table IS NOT NULL AND len(page_table) > 0)), []),
       |    r -> array_to_string(r, '|')), ';'), '') AS units_cells,
       |  COALESCE(array_to_string(list_transform(coalesce(flatten(list(page_table ORDER BY page_no)
       |    FILTER (WHERE section = '${SectionRouting.AssessmentsSection}' AND page_table IS NOT NULL AND len(page_table) > 0)), []),
       |    r -> array_to_string(r, '|')), ';'), '') AS assess_cells
       |FROM s GROUP BY doc ORDER BY doc""".stripMargin
  }

  /** JSONL ingest with a corrupt-record envelope — the training-data
    * wire format (one JSON doc per line) read through Spark's distributed
    * JSON source with an EXPLICIT schema (no inference pass over the
    * data: one scan, scale-safe) in PERMISSIVE mode, so malformed lines
    * land whole in `_corrupt_record` instead of failing the job — the
    * source-layer twin of `error_envelope_rejects`. The JSONL relation is
    * derived deterministically from `documents` (a poly-hash-selected 10%
    * of lines are corrupted by prefixing a byte that can never start
    * JSON), so the oracle can replay both the line construction and the
    * parse outcome; everything evaluates scan-side, zero shuffles. */
  def jsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val line = concat(
      lit("{\"id\": "), col("doc_id"),
      lit(", \"lang\": \""), col("lang"),
      lit("\", \"n_chars\": "), col("n_chars"), lit("}"))
    val corrupt = pmod(graft.functions.PolyHash.hash(
      concat(col("doc_id").cast("string"), lit(":jz"))), lit(10)) === 0
    val lines = Tables.documents(spark, dir)
      .select(when(corrupt, concat(lit("#"), line)).otherwise(line).as("value"))
      .as(org.apache.spark.sql.Encoders.STRING)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(lines)
      .select(col("id"), col("lang"), col("n_chars"),
        col("_corrupt_record").isNotNull.as("is_corrupt"),
        col("_corrupt_record").as("raw"))
  }

  val jsonlIngestSql: String = {
    val m = graft.functions.PolyHash.Mod
    s"""WITH l AS (
       |  SELECT doc_id, lang, n_chars,
       |    '{"id": ' || doc_id || ', "lang": "' || lang || '", "n_chars": ' || n_chars || '}' AS line,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(
       |        string_split(CAST(doc_id AS VARCHAR) || ':jz', ''), c -> ascii(c)::BIGINT)),
       |      (a,b) -> (a*31+b) % $m) % 10 = 0 AS corrupt
       |  FROM documents)
       |SELECT CASE WHEN corrupt THEN NULL ELSE doc_id END AS id,
       |       CASE WHEN corrupt THEN NULL ELSE lang END AS lang,
       |       CASE WHEN corrupt THEN NULL ELSE n_chars END AS n_chars,
       |       corrupt AS is_corrupt,
       |       CASE WHEN corrupt THEN '#' || line END AS raw
       |FROM l ORDER BY is_corrupt, id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jsonl_ingest" -> (jsonlIngest _),
    "filename_meta_parse" -> (filenameMetaParse _),
    "label_field_lookup" -> (labelFieldLookup _),
    "bullet_split_filter" -> (bulletSplitFilter _),
    "name_code_split" -> (nameCodeSplit _),
    "try_cast_defaults" -> (tryCastDefaults _),
    "props_json_extract" -> (propsJsonExtract _),
    "recoverable_flag" -> (recoverableFlag _),
    "replace_normalize" -> (replaceNormalize _),
    "multiline_areas_regex" -> (multilineAreasRegex _),
    "error_envelope_rejects" -> (errorEnvelopeRejects _),
    "header_row_antifilter" -> (headerRowAntifilter _),
    "section_route_lastval" -> (sectionRouteLastval _),
    "section_table_route" -> (sectionTableRoute _))

  val oracles: Map[String, String] = Map(
    "jsonl_ingest" -> jsonlIngestSql,
    "filename_meta_parse" -> filenameMetaParseSql,
    "label_field_lookup" -> labelFieldLookupSql,
    "bullet_split_filter" -> bulletSplitFilterSql,
    "name_code_split" -> nameCodeSplitSql,
    "try_cast_defaults" -> tryCastDefaultsSql,
    "props_json_extract" -> propsJsonExtractSql,
    "recoverable_flag" -> recoverableFlagSql,
    "replace_normalize" -> replaceNormalizeSql,
    "multiline_areas_regex" -> multilineAreasRegexSql,
    "error_envelope_rejects" -> errorEnvelopeRejectsSql,
    "header_row_antifilter" -> headerRowAntifilterSql,
    "section_route_lastval" -> sectionRouteLastvalSql,
    "section_table_route" -> sectionTableRouteSql)
}
