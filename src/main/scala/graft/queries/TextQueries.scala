package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.sources.Tables

/** Text-analysis operators over `documents` (SURVEY north-star): token
  * counting, language-ID heuristic, quality scoring, fingerprinting,
  * TF-IDF term ranking. The scalar ops are single-pass, shuffle-free,
  * codegen-friendly column math — at 100 TB they run at scan speed; TF-IDF
  * is the classic two-aggregation + term-keyed join shape.
  */
object TextQueries {

  /** Token counting: whitespace tokens + BPE-ish regex runs. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("bigint").as("n_alpha_runs"),
        col("n_chars"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-ish pre-tokenization count: the alternation every byte-pair
    * tokenizer's pre-split uses — alphabetic runs | single digits |
    * single non-alnum marks (GPT-2-style digit splitting). The resulting
    * count tracks real tokenizer token counts far better than whitespace
    * words (punctuation and numbers dominate the gap), which is what
    * token budgeting and pricing at corpus scale need. Pure scan-speed
    * column math; the pattern is RE2-safe so both engines agree. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val rx = "[a-z]+|[0-9]|[^a-z0-9\\s]"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(lower(col("text")), lit(rx)).cast("bigint").as("n_bpe_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+")).cast("bigint").as("n_word_tokens"))
      .withColumn("n_nonword_tokens", col("n_bpe_tokens") - col("n_word_tokens"))
  }

  val bpeTokenCountSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS n_bpe_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+')) AS n_word_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
      |    - len(regexp_extract_all(lower(text), '[a-z]+')) AS n_nonword_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Curriculum binning: ntile quartiles of document length within each
    * language — the "order the corpus easy→hard, feed in quartiles"
    * step of curriculum training. ntile is the SQL-standard balanced
    * binning (floor/ceil bucket sizes), deterministic here because the
    * order key (n_chars, doc_id) is a total order. One window sort per
    * language partition — at 100 TB, partition-parallel per language. */
  def ntileQualityBins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("bin", ntile(4).over(w).cast("bigint"))
  }

  val ntileQualityBinsSql: String =
    """SELECT doc_id, lang, n_chars,
      |       ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
      |FROM documents ORDER BY doc_id""".stripMargin

  private val enRx = "\\b(the|a|an|of)\\b"
  private val esRx = "\\b(el|la|los|de)\\b"
  private val deRx = "\\b(der|die|das|und)\\b"

  /** Language-ID heuristic: stopword-marker counts per language, argmax. */
  def langIdHeuristic(spark: SparkSession, dir: String): DataFrame = {
    val sEn = regexp_count(col("text"), lit(enRx))
    val sEs = regexp_count(col("text"), lit(esRx))
    val sDe = regexp_count(col("text"), lit(deRx))
    Tables.documents(spark, dir)
      .select(col("doc_id"), sEn.cast("bigint").as("s_en"), sEs.cast("bigint").as("s_es"), sDe.cast("bigint").as("s_de"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
  }

  val langIdHeuristicSql: String =
    s"""SELECT doc_id, s_en, s_es, s_de,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
       |       WHEN s_es >= s_de THEN 'es'
       |       ELSE 'de' END AS pred_lang
       |FROM (SELECT doc_id,
       |  len(regexp_extract_all(text, '\\b(the|a|an|of)\\b')) AS s_en,
       |  len(regexp_extract_all(text, '\\b(el|la|los|de)\\b')) AS s_es,
       |  len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')) AS s_de
       |FROM documents) t ORDER BY doc_id""".stripMargin

  /** Classifier-eval confusion matrix for the language-ID heuristic:
    * ground-truth `lang` × `pred_lang` cell counts, each cell's share of
    * its true-language row (the per-class recall decomposition), and the
    * correct-cell flag — the evaluation every heuristic filter needs
    * before it gates a corpus. One (lang, pred) aggregate; the share
    * window partitions by lang over ≤|langs| rows per partition. */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val sEn = regexp_count(col("text"), lit(enRx))
    val sEs = regexp_count(col("text"), lit(esRx))
    val sDe = regexp_count(col("text"), lit(deRx))
    val pred = when(sEn >= sEs && sEn >= sDe, "en")
      .when(sEs >= sDe, "es").otherwise("de")
    val g = Tables.documents(spark, dir)
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    g.select(col("lang"), col("pred_lang"), col("n"),
        (col("n").cast("double") /
          sum("n").over(Window.partitionBy("lang")).cast("double")).as("share_of_lang"),
        (col("lang") === col("pred_lang")).as("correct"))
  }

  val langidConfusionSql: String =
    s"""WITH p AS (
       |  SELECT lang,
       |    CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
       |         WHEN s_es >= s_de THEN 'es'
       |         ELSE 'de' END AS pred_lang
       |  FROM (SELECT lang,
       |    len(regexp_extract_all(text, '\\b(the|a|an|of)\\b')) AS s_en,
       |    len(regexp_extract_all(text, '\\b(el|la|los|de)\\b')) AS s_es,
       |    len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')) AS s_de
       |  FROM documents) t),
       |g AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang)
       |SELECT lang, pred_lang, n,
       |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS share_of_lang,
       |  lang = pred_lang AS correct
       |FROM g ORDER BY lang, pred_lang""".stripMargin

  /** Quality scoring: length/stopword-ratio composite. The arithmetic is
    * written with the identical operation tree on both engines so the
    * doubles are bit-equal. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")).cast("bigint").as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(
        col("doc_id"), col("n_tokens"),
        (length(col("text")).cast("double") / col("n_tokens")).as("avg_token_len"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
          (col("n_stop").cast("double") / col("n_tokens")) * 0.5).as("quality"))

  val qualityScoreSql: String =
    """SELECT doc_id, n_tokens,
      |  CAST(len(text) AS DOUBLE) / n_tokens AS avg_token_len,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  least(n_tokens / 50.0, 1.0) * 0.5 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 AS quality
      |FROM (SELECT doc_id, text,
      |  len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |  len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |FROM documents) t ORDER BY doc_id""".stripMargin

  /** Per-source quota cap — the Common-Crawl-style per-domain cap every
    * corpus mixer applies so one crawl source can't dominate the mix:
    * keep at most K=10 documents per source, ranked by the SAME quality
    * composite as `quality_score` (shared expression tree, so the
    * doubles stay bit-equal cross-engine). Scale shape: one shuffle
    * keyed on source with the bounded-heap
    * [[graft.functions.TopKAggregator]] doing map-side partial top-K —
    * ≤10 rows per map task per source on the wire, never a full
    * per-source posting through one window reducer (the oracle IS the
    * row_number window formulation, so the heap rewrite is what's
    * hash-checked). Output is ≤ |sources|×10 rows at any corpus size. */
  def sourceQuotaCap(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")).cast("bigint").as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(col("source"), col("doc_id"),
        (least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
          (col("n_stop").cast("double") / col("n_tokens")) * 0.5).as("quality"))
    scored.groupBy("source")
      .agg(graft.functions.TopKAggregator.topK(10)(col("doc_id"), col("quality")).as("top"))
      .select(col("source"), posexplode(arrays_zip(col("top.ids"), col("top.sims"))))
      .select(col("source"), (col("pos") + 1).cast("bigint").as("rk"),
        col("col.ids").as("doc_id"), col("col.sims").as("quality"))
  }

  val sourceQuotaCapSql: String =
    """WITH s AS (
      |  SELECT source, doc_id,
      |    least(n_tokens / 50.0, 1.0) * 0.5 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 AS quality
      |  FROM (SELECT source, doc_id,
      |          len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |          len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |        FROM documents) t)
      |SELECT source, CAST(rn AS BIGINT) AS rk, doc_id, quality FROM (
      |  SELECT source, doc_id, quality,
      |         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn
      |  FROM s) r
      |WHERE rn <= 10""".stripMargin

  /** Gopher-style quality rule bundle (Rae et al. 2021's repetition-free
    * heuristics, the rule-filter stage every pretraining pipeline runs
    * before model-based scoring): word-count bounds, mean/max word
    * length bounds, minimum stop-word evidence, and the conjunction as
    * the keep decision. All rules are single-pass scan-speed column math
    * over the token array — no shuffle, fully codegen'd, and each rule
    * is emitted as its own flag so downstream can audit WHICH rule
    * rejected a document (the corpus-card composition need), not just
    * that one did. */
  /** Gopher-style REPETITION profile per source: the share of 3-gram
    * occurrences that are repeats of an earlier gram in the same
    * document — the "duplicated n-gram fraction" screen that catches
    * boilerplate/spam a length-or-stopword rule can't. Gram hashes ride
    * the native [[graft.functions.WindowFoldHashes]] fold (one tight
    * loop per doc, no per-window slices); aggregation is exact BIGINT
    * sums per source with ONE IEEE division for the share — scan +
    * grouped agg, shuffle carries (source, two counters). */
  def repNgramProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), graft.operators.TextOps.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("source"),
        graft.functions.WindowFoldHashes.of(col("ws"), 3).as("hs"))
      .select(col("source"), size(col("hs")).cast("bigint").as("t"),
        size(array_distinct(col("hs"))).cast("bigint").as("d"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("t").as("grams_total"), sum("d").as("grams_distinct"))
      .withColumn("rep_share",
        (col("grams_total") - col("grams_distinct")).cast("double")
          / col("grams_total").cast("double"))

  val repNgramProfileSql: String =
    s"""WITH g AS (
       |  SELECT source,
       |    list_transform(range(1, len(whs)-1),
       |      i -> ((whs[i]*31 + whs[i+1]) % ${PolyHash.Mod} * 31 + whs[i+2]) % ${PolyHash.Mod}) AS hs
       |  FROM (
       |    SELECT source,
       |      list_transform(ws, w ->
       |        list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                    (a,b) -> (a*31+b) % ${PolyHash.Mod})) AS whs
       |    FROM (SELECT source, list_filter(string_split(text,' '), x -> x != '') AS ws FROM documents)
       |    WHERE len(ws) >= 3))
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(hs)) AS BIGINT) AS grams_total,
       |  CAST(SUM(len(list_distinct(hs))) AS BIGINT) AS grams_distinct,
       |  CAST(SUM(len(hs)) - SUM(len(list_distinct(hs))) AS DOUBLE)
       |    / CAST(SUM(len(hs)) AS DOUBLE) AS rep_share
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")
    val wordsOk = col("n_words") >= 30 && col("n_words") <= 5000
    val meanOk = col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0
    val maxOk = col("max_word_len") <= 15L
    val stopOk = col("n_stop") >= 2L
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("bigint").as("n_words"),
        aggregate(toks, lit(0L), (a, w) => a + length(w)).as("sum_len"),
        array_max(transform(toks, w => length(w))).cast("bigint").as("max_word_len"),
        regexp_count(col("text"), lit(enRx)).cast("bigint").as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        (col("sum_len").cast("double") / col("n_words")).as("mean_word_len"),
        col("max_word_len"), col("n_stop"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("max_word_len"), col("n_stop"),
        wordsOk.as("words_ok"), meanOk.as("mean_ok"),
        maxOk.as("max_ok"), stopOk.as("stop_ok"),
        (wordsOk && meanOk && maxOk && stopOk).as("pass"))
  }

  val gopherQualitySql: String =
    """SELECT doc_id, n_words, mean_word_len, max_word_len, n_stop,
      |  words_ok, mean_ok, max_ok, stop_ok,
      |  (words_ok AND mean_ok AND max_ok AND stop_ok) AS pass
      |FROM (SELECT doc_id, n_words, mean_word_len, max_word_len, n_stop,
      |  (n_words >= 30 AND n_words <= 5000) AS words_ok,
      |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS mean_ok,
      |  (max_word_len <= 15) AS max_ok,
      |  (n_stop >= 2) AS stop_ok
      |FROM (SELECT doc_id,
      |  CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
      |    / CAST(len(ws) AS BIGINT) AS mean_word_len,
      |  CAST(list_max(list_transform(ws, w -> len(w))) AS BIGINT) AS max_word_len,
      |  CAST(len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS BIGINT) AS n_stop
      |FROM (SELECT doc_id, text,
      |  list_filter(string_split(text, ' '), x -> x != '') AS ws
      |FROM documents) w) m) r ORDER BY doc_id""".stripMargin

  /** Stage-by-stage curation funnel — the observability relation every
    * corpus pipeline publishes next to its output: how many documents
    * each filter stage received, kept, and dropped, with the stages
    * applied CUMULATIVELY in the canonical order
    * lang-ID → Gopher rules → exact dedup → per-source quota. Each
    * stage reuses the EXACT expression tree of its standalone query
    * (lang_id_heuristic / gopher_quality / dedup_exact's md5 /
    * source_quota_cap's cap), so the funnel is the composition of
    * already-hash-checked parts. Scale shape: one scan computes all
    * flags; exact dedup is one window keyed on the content hash
    * (min-surviving-doc_id, no self-join); the quota stage needs only
    * COUNTS, so it collapses to Σ_source min(10, survivors) — a
    * per-source aggregate, no window at all. Output is 4 rows. */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.operators.TextOps.words(col("text"))
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      size(toks).cast("bigint").as("n_words"),
      aggregate(toks, lit(0L), (a, w) => a + length(w)).as("sum_len"),
      array_max(transform(toks, w => length(w))).cast("bigint").as("max_word_len"),
      regexp_count(col("text"), lit(enRx)).cast("bigint").as("s_en"),
      regexp_count(col("text"), lit(esRx)).cast("bigint").as("s_es"),
      regexp_count(col("text"), lit(deRx)).cast("bigint").as("s_de"),
      md5(col("text")).as("h"))
    val meanWl = col("sum_len").cast("double") / col("n_words")
    val flags = base
      .withColumn("lang_ok", col("s_en") >= col("s_es") && col("s_en") >= col("s_de"))
      .withColumn("gopher_ok", col("lang_ok") &&
        col("n_words") >= 30 && col("n_words") <= 5000 &&
        meanWl >= 3.0 && meanWl <= 10.0 &&
        col("max_word_len") <= 15L && col("s_en") >= 2L)
      .withColumn("dedup_ok", col("gopher_ok") &&
        col("doc_id") === min(when(col("gopher_ok"), col("doc_id")))
          .over(Window.partitionBy("h")))
    val counts = flags.agg(
      count(lit(1)).as("n_all"),
      sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("gopher_ok"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("dedup_ok"), 1L).otherwise(0L)).as("n3"))
    val quota = flags.filter(col("dedup_ok"))
      .groupBy("source").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(least(col("c"), lit(10L))), lit(0L)).as("n4"))
    counts.crossJoin(broadcast(quota))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("lang_en").as("filter"),
          col("n_all").as("n_in"), col("n1").as("n_kept")),
        struct(lit(2L).as("stage"), lit("gopher_rules").as("filter"),
          col("n1").as("n_in"), col("n2").as("n_kept")),
        struct(lit(3L).as("stage"), lit("exact_dedup").as("filter"),
          col("n2").as("n_in"), col("n3").as("n_kept")),
        struct(lit(4L).as("stage"), lit("source_quota").as("filter"),
          col("n3").as("n_in"), col("n4").as("n_kept")))).as("s"))
      .select(col("s.stage"), col("s.filter"), col("s.n_in"), col("s.n_kept"),
        (col("s.n_in") - col("s.n_kept")).as("n_dropped"))
  }

  val filterFunnelSql: String =
    """WITH b AS (
      |  SELECT doc_id, source, md5(text) AS h,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
      |      / CAST(len(ws) AS BIGINT) AS mean_word_len,
      |    CAST(list_max(list_transform(ws, w -> len(w))) AS BIGINT) AS max_word_len,
      |    CAST(len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS BIGINT) AS s_en,
      |    CAST(len(regexp_extract_all(text, '\b(el|la|los|de)\b')) AS BIGINT) AS s_es,
      |    CAST(len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS BIGINT) AS s_de
      |  FROM (SELECT doc_id, source, text,
      |          list_filter(string_split(text, ' '), x -> x != '') AS ws
      |        FROM documents) w),
      |f AS (
      |  SELECT *,
      |    (s_en >= s_es AND s_en >= s_de) AS lang_ok,
      |    (s_en >= s_es AND s_en >= s_de
      |      AND n_words >= 30 AND n_words <= 5000
      |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |      AND max_word_len <= 15 AND s_en >= 2) AS gopher_ok
      |  FROM b),
      |g AS (
      |  SELECT *, (gopher_ok AND doc_id = MIN(CASE WHEN gopher_ok THEN doc_id END)
      |                             OVER (PARTITION BY h)) AS dedup_ok
      |  FROM f),
      |counts AS (
      |  SELECT COUNT(*) AS n_all,
      |    CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN gopher_ok THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN dedup_ok THEN 1 ELSE 0 END) AS BIGINT) AS n3
      |  FROM g),
      |quota AS (
      |  SELECT COALESCE(CAST(SUM(LEAST(c, 10)) AS BIGINT), 0) AS n4
      |  FROM (SELECT source, COUNT(*) AS c FROM g WHERE dedup_ok GROUP BY source) s)
      |SELECT stage, filter, n_in, n_kept, n_in - n_kept AS n_dropped FROM (
      |  SELECT 1::BIGINT AS stage, 'lang_en' AS filter, n_all AS n_in, n1 AS n_kept FROM counts
      |  UNION ALL SELECT 2, 'gopher_rules', n1, n2 FROM counts
      |  UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM counts
      |  UNION ALL SELECT 4, 'source_quota', n3, n4 FROM counts CROSS JOIN quota) u""".stripMargin

  /** Document fingerprint via the native poly_hash expression (codegen'd);
    * oracle rebuilds the same rolling hash with list_reduce. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), PolyHash.hash(col("text")).as("fp"), col("n_chars"))

  val docFingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text,''), c -> ascii(c)::BIGINT)),
       |              (a,b) -> (a*31+b) % ${PolyHash.Mod}) AS fp,
       |  n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality/cost Pareto frontier — the curation trade-off view: at each
    * quantized quality level (floor(quality·1000), the same double
    * composite as `quality_score`, so levels are bit-equal cross-engine)
    * keep the CHEAPEST document (min tokens, tie → min doc_id), then
    * flag the levels no higher level beats on cost — "the best corpus
    * you can assemble at every quality budget". Scale shape: the
    * per-level argmin is one q3-keyed shuffle with a window bounded by
    * docs-per-level; the frontier scan runs on the LEVEL relation
    * (≤ 1001 rows by construction — quality ∈ [0,1]), so its
    * single-partition window is justified the same way bm25's is. */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= ""))
          .cast("bigint").as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        floor((least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
          (col("n_stop").cast("double") / col("n_tokens")) * 0.5) * 1000)
          .cast("bigint").as("q3"))
    val lvl = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("q3").orderBy(col("n_tokens"), col("doc_id"))))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("q3")))
      .filter(col("rn") === 1)
      .select(col("q3"), col("doc_id"), col("n_tokens"), col("n_docs"))
    val prior = Window.orderBy(col("q3").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    lvl.withColumn("on_frontier",
        coalesce(col("n_tokens") < min("n_tokens").over(prior), lit(true)))
  }

  val paretoFrontierSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5
      |                + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000) AS BIGINT) AS q3
      |  FROM s),
      |lvl AS (
      |  SELECT q3, doc_id, n_tokens,
      |    row_number() OVER (PARTITION BY q3 ORDER BY n_tokens, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY q3) AS n_docs
      |  FROM q),
      |k AS (SELECT q3, doc_id, n_tokens, n_docs FROM lvl WHERE rn = 1)
      |SELECT q3, doc_id, n_tokens, n_docs,
      |  COALESCE(n_tokens < MIN(n_tokens) OVER (ORDER BY q3 DESC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), TRUE) AS on_frontier
      |FROM k ORDER BY q3 DESC""".stripMargin

  /** MLM masking plan (BERT-style, Devlin et al. 2019): a deterministic
    * 15% of token positions per document are selected for masking, and
    * each selected position gets the 80/10/10 [MASK]/random-token/keep
    * treatment. Unlike the usual rand()-driven masking, every decision is
    * a pure function of (doc_id, position) via poly_hash — reproducible
    * across runs, engines, and partitionings, so a training job can
    * regenerate the exact epoch-0 masking for debugging. The decision
    * hash d ∈ [0,100): d<12 → [MASK] (12/15 of selections = 80%),
    * d∈[12,14) → replace with the deterministic "random" token at
    * position (d·7 mod n), d=14 → keep-but-predict; d≥15 → unmasked.
    * Entirely array higher-order functions over the token array — a
    * zero-shuffle scan-speed map at any corpus size (the plan relation is
    * the same rows as the input). */
  def mlmMaskPlan(spark: SparkSession, dir: String): DataFrame = {
    val toks = org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")
    val dec = transform(toks, (_, i) => pmod(PolyHash.hash(
      concat(col("doc_id").cast("string"), lit(":"), i.cast("string"), lit(":mlm"))), lit(100)))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"), dec.as("dec"))
      .select(col("doc_id"), col("toks"), col("dec"),
        size(col("toks")).as("n"))
    d.select(
        col("doc_id"),
        col("n").cast("bigint").as("n_tokens"),
        size(org.apache.spark.sql.functions.filter(col("dec"), x => x < 15))
          .cast("bigint").as("n_masked"),
        array_join(transform(
          org.apache.spark.sql.functions.filter(
            sequence(lit(0), col("n") - 1), i => element_at(col("dec"), i + 1) < 15),
          i => i.cast("string")), ",").as("masked_positions"),
        array_join(transform(col("toks"), (x, i) => {
          val h = element_at(col("dec"), i + 1)
          when(h < 12, lit("[MASK]"))
            .when(h < 14, element_at(col("toks"), pmod(h * 7, col("n")).cast("int") + 1))
            .otherwise(x)
        }), " ").as("masked_text"))
      .filter(col("n") > 0)
  }

  val mlmMaskPlanSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    list_transform(range(1, len(toks)+1), i ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(
       |          string_split(CAST(doc_id AS VARCHAR) || ':' || CAST(i-1 AS VARCHAR) || ':mlm', ''),
       |          c -> ascii(c)::BIGINT)),
       |        (a,b) -> (a*31+b) % ${PolyHash.Mod}) % 100) AS dec
       |  FROM t)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(dec, x -> x < 15)) AS BIGINT) AS n_masked,
       |  array_to_string(list_transform(
       |    list_filter(range(1, n+1), i -> dec[i] < 15), i -> CAST(i-1 AS VARCHAR)), ',') AS masked_positions,
       |  array_to_string(list_transform(range(1, n+1), i ->
       |    CASE WHEN dec[i] < 12 THEN '[MASK]'
       |         WHEN dec[i] < 14 THEN toks[CAST((dec[i]*7) % n AS INT) + 1]
       |         ELSE toks[i] END), ' ') AS masked_text
       |FROM d WHERE n > 0 ORDER BY doc_id""".stripMargin

  /** T5-style span-corruption plan (Raffel et al. 2020) — the seq2seq
    * denoising counterpart of `mlm_mask_plan`: ~5% of positions are
    * deterministic span STARTS (poly_hash(doc_id, position) % 20 == 0),
    * each start corrupts a 3-token window, overlapping windows merge into
    * one span (union semantics — no sequential greedy state, so the plan
    * is order-free and replayable in plain SQL). Encoder input = text
    * with each span collapsed to its <extra_id_k> sentinel; decoder
    * target = the corrupted tokens, each span prefixed by its sentinel.
    * Scale shape: one (doc, pos) explode + per-doc windows (corrupt flag
    * = 3-row sliding max, sentinel k = running sum of span starts) + one
    * per-doc reassembly aggregation — token-level shuffles like
    * dedup_spans, window partitions bounded by document length. */
  def spanCorruptionPlan(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextOps.spanCorruptionPlan(
        Tables.documents(spark, dir), "doc_id", "text", everyN = 20, spanLen = 3)

  val spanCorruptionPlanSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
       |  FROM t),
       |st AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform(
       |        string_split(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':t5', ''),
       |        c -> ascii(c)::BIGINT)),
       |      (a,b) -> (a*31+b) % ${PolyHash.Mod}) % 20 = 0 THEN 1 ELSE 0 END AS start
       |  FROM tok),
       |f AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(start) OVER (PARTITION BY doc_id ORDER BY pos
       |                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS corrupt
       |  FROM st),
       |r AS (
       |  SELECT doc_id, pos, tok, corrupt,
       |    CASE WHEN corrupt AND NOT COALESCE(
       |      lag(corrupt) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
       |      THEN 1 ELSE 0 END AS run_start
       |  FROM f),
       |k AS (
       |  SELECT doc_id, pos, tok, corrupt, run_start,
       |    SUM(run_start) OVER (PARTITION BY doc_id ORDER BY pos
       |                         ROWS UNBOUNDED PRECEDING) - 1 AS k
       |  FROM r)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       |  CAST(SUM(run_start) AS BIGINT) AS n_spans,
       |  COALESCE(string_agg(CASE WHEN NOT corrupt THEN tok
       |             WHEN run_start = 1 THEN '<extra_id_' || k || '>' END,
       |           ' ' ORDER BY pos), '') AS input_text,
       |  COALESCE(string_agg(CASE WHEN corrupt AND run_start = 1 THEN '<extra_id_' || k || '> ' || tok
       |             WHEN corrupt THEN tok END,
       |           ' ' ORDER BY pos), '') AS target_text
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** TF-IDF top-3 terms per document. Two partial-aggregating groupBys
    * (doc-term TF, then term DF) and one join keyed on the term — the
    * shape that scales: the shuffle carries (term, count) pairs, never
    * documents, and the ranking window partitions by doc (bounded by
    * document length, not corpus size). The IDF factor is N/df as one
    * IEEE division (no log), so scores are bit-equal across engines;
    * ties break by term for a deterministic ranking. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val terms = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf") * (lit(nDocs).cast("double") / col("df"))
    tf.join(dfRel, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), score.as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)).cast("bigint"))
      .filter(col("rn") <= 3)
  }

  val tfidfTopTermsSql: String =
    """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT doc_id, term, tf, df, score, rn FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * (CAST(n.n AS DOUBLE) / df.df) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY tf.tf * (CAST(n.n AS DOUBLE) / df.df) DESC, tf.term ASC) AS rn
      |  FROM tf JOIN df USING (term) CROSS JOIN n) s
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** BM25 top-10 retrieval for a fixed 3-term query set. Log-free scoring
    * (idf as the rational (N-df+0.5)/(df+0.5), no ln — the repo-wide
    * cross-engine exactness discipline: IEEE ÷ and × reproduce bit-for-bit
    * across engines, libm's ln does not), so every score is hash-checked.
    * Scale shape: the tf aggregation filters to query terms BEFORE the
    * shuffle (the scan-side filter is the retrieval pruning), df and the
    * (N, avgdl) scalars are broadcast, and the per-term top-10 is the
    * bounded-heap [[graft.functions.TopKAggregator]] — ≤10 rows per map
    * task per term on the shuffle, never a full posting list through one
    * window reducer. Per-doc length is `size()` of the token array AT THE
    * SCAN — no explode/groupBy shuffle just to count tokens — and N rides
    * the same aggregate as avgdl, so there is no separate driver-side
    * count() action and the (single-consumer) token relation needs no
    * cache. The oracle is the row_number window formulation, so the
    * aggregator rewrite itself is what's being hash-checked. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("spark", "join", "vector")
    val docs = Tables.documents(spark, dir)
    val words = org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")
    val dl = docs.select(col("doc_id"), size(words).cast("bigint").as("dl"))
    val scal = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("bigint").cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select(col("doc_id"), explode(words).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n").cast("double") - col("df") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val denom = col("tf").cast("double") +
      lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))
    val score = idf * ((col("tf").cast("double") * lit(2.2)) / denom)
    tf.join(dl, "doc_id").join(broadcast(dfRel), "term").crossJoin(broadcast(scal))
      .select(col("term"), col("doc_id"), score.as("score"))
      .groupBy("term")
      .agg(graft.functions.TopKAggregator.topK(10)(col("doc_id"), col("score")).as("top"))
      .select(col("term"), posexplode(arrays_zip(col("top.ids"), col("top.sims"))))
      .select(col("term"), (col("pos") + 1).cast("bigint").as("rn"),
        col("col.ids").as("doc_id"), col("col.sims").as("score"))
  }

  val bm25SearchSql: String =
    """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
      |a AS (SELECT CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / (SELECT n FROM n) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
      |       WHERE term IN ('spark', 'join', 'vector') GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |s AS (SELECT tf.term, tf.doc_id,
      |        ((CAST((SELECT n FROM n) AS DOUBLE) - df.df + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
      |        * ((CAST(tf.tf AS DOUBLE) * 2.2)
      |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / a.avgdl)))) AS score
      |      FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN a)
      |SELECT term, rn, doc_id, score FROM (
      |  SELECT term, CAST(row_number() OVER (PARTITION BY term
      |           ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn, doc_id, score
      |  FROM s) r
      |WHERE rn <= 10""".stripMargin

  /** Exact-phrase search ("spark join") via the positional inverted
    * index: each phrase word filters the token stream AT THE SCAN (the
    * posting list for one term, a tiny fraction of the corpus), and the
    * occurrence join is an equi-join on (doc_id, adjusted position) —
    * never a substring scan over full documents, never a regex. At
    * 100 TB this is two pruned posting lists joined on their natural
    * key; n-word phrases chain n-1 such joins. Positions are 0-based. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.GraftCaches.track(
      Tables.documents(spark, dir).select(col("doc_id"),
        posexplode(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= ""))
          .as(Seq("pos", "w"))))
    val first = toks.filter(col("w") === "spark").select(col("doc_id"), col("pos"))
    val second = toks.filter(col("w") === "join")
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    first.join(second, Seq("doc_id", "pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).cast("bigint").as("first_pos"))
  }

  val phraseSearchSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM documents),
      |t AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS p FROM d),
      |f AS (SELECT doc_id, p FROM t WHERE w = 'spark'),
      |s AS (SELECT doc_id, p - 1 AS p FROM t WHERE w = 'join')
      |SELECT f.doc_id, COUNT(*) AS n_hits, CAST(MIN(f.p) - 1 AS BIGINT) AS first_pos
      |FROM f JOIN s ON f.doc_id = s.doc_id AND f.p = s.p GROUP BY f.doc_id""".stripMargin

  /** Deterministic epoch shuffle — the global permutation + fixed-size
    * sharding every training run does between epochs. The permutation
    * key is a seeded affine hash of the doc id (reproducible across
    * engines and runs — reshuffling an epoch is just changing the seed),
    * and the GLOBAL position comes from
    * [[graft.operators.PrefixScan.runningSum]] — range-partitioned
    * running count, so no single-task `Window.orderBy` over the corpus;
    * at 100 TB every stage stays partition-parallel and each shard of 64
    * docs is addressable as (shard, pos) by the data loader. The oracle
    * is the global-window formulation, so the PrefixScan rewrite itself
    * is hash-checked. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    val m = PolyHash.Mod
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), ((col("doc_id") * a + b) % m).as("skey"), lit(1L).as("one"))
    graft.operators.PrefixScan.runningSum(keyed, Nil, "one", "rk", col("skey"), col("doc_id"))
      .select(col("doc_id"), col("skey"),
        expr("(rk - 1) div 64").as("shard"),
        expr("(rk - 1) % 64").as("pos"))
  }

  val epochShuffleSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    s"""WITH k AS (SELECT doc_id, (doc_id * ${a} + ${b}) % ${PolyHash.Mod} AS skey FROM documents),
       |r AS (SELECT doc_id, skey,
       |        CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) - 1 AS rk
       |      FROM k)
       |SELECT doc_id, skey, rk // 64 AS shard, rk % 64 AS pos FROM r""".stripMargin
  }

  /** HLL-style approximate distinct-token count: 64 registers keyed by
    * poly_hash(term) % 64, each holding the max bit-pattern observable
    * rho = trailing-zero count of the remaining hash bits + 1, harmonic
    * combine. Sketch shape for 100 TB: the register relation is a
    * 64-row partial-aggregating groupBy (mergeable across any partitioning
    * — the map side collapses to 64 rows per task), and every observable
    * is integer math while the harmonic sum adds exact powers of two, so
    * the "approximate" estimate is still bit-reproducible and
    * differentially tested against DuckDB. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir).select(
      explode(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")).as("term"))
    val h = PolyHash.hash(col("term"))
    val withH = terms.select(h.as("h"))
      .select(pmod(col("h"), lit(64)).as("bucket"), expr("h div 64").as("w"))
    val rho = when(col("w") === 0, lit(25))
      .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1) + 1)
    withH.select(col("bucket"), rho.as("rho"))
      .groupBy("bucket")
      .agg(max(col("rho")).as("max_rho"))
      .agg(
        count(lit(1)).as("n_used"),
        sum(pow(lit(2.0), -col("max_rho"))).as("s_present"))
      .select(
        lit(64).as("m"),
        col("n_used"),
        (lit(0.709) * 64 * 64 / (col("s_present") + (lit(64) - col("n_used")))).as("estimate"))
  }

  val hllDistinctSql: String =
    s"""WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
       |h AS (SELECT list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term,''), c -> ascii(c)::BIGINT)),
       |                         (a,b) -> (a*31+b) % ${PolyHash.Mod}) AS hv FROM t),
       |r AS (SELECT hv % 64 AS bucket,
       |        CASE WHEN hv // 64 = 0 THEN 25
       |             ELSE bit_count(((hv // 64) & -(hv // 64)) - 1) + 1 END AS rho
       |      FROM h),
       |regs AS (SELECT bucket, MAX(rho) AS max_rho FROM r GROUP BY bucket)
       |SELECT 64 AS m, COUNT(*) AS n_used,
       |  0.709::DOUBLE * 64 * 64 / (SUM(pow(2, -max_rho)) + (64 - COUNT(*))) AS estimate
       |FROM regs""".stripMargin

  /** Deterministic hash-Bernoulli sampling: keep a row iff
    * poly_hash(salted id) mod 100 < rate. Unlike `df.sample`, the subset
    * is a pure function of the data — stable across runs, engines, and
    * partitionings (the property a reproducible training-data pipeline
    * needs) — and evaluates scan-side with zero shuffle. */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(pmod(PolyHash.hash(concat(col("doc_id").cast("string"), lit(":s42"))),
        lit(100)) < 10)
      .select("doc_id", "lang", "n_chars")

  val hashSampleSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE list_reduce(list_prepend(0::BIGINT, list_transform(
       |        string_split(CAST(doc_id AS VARCHAR) || ':s42',''), c -> ascii(c)::BIGINT)),
       |        (a,b) -> (a*31+b) % ${PolyHash.Mod}) % 100 < 10
       |ORDER BY doc_id""".stripMargin

  /** Fixed-window token chunking with overlap (32-token chunks, stride
    * 24): the pre-tokenization shaping step of a training pipeline. */
  def docChunking(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextOps.chunkTokens(
        Tables.documents(spark, dir), "doc_id", "text",
        chunkSize = 32, overlap = 8)

  val docChunkingSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |s AS (SELECT doc_id, toks, n, unnest(range(0, greatest(n - 8, 1), 24)) AS st FROM t)
      |SELECT doc_id, CAST(st // 24 AS INT) AS chunk_no,
      |       array_to_string(list_slice(toks, st + 1, st + 32), ' ') AS chunk_text,
      |       CAST(least(32, n - st) AS INT) AS n_tokens
      |FROM s ORDER BY doc_id, chunk_no""".stripMargin

  /** Training-sequence packing (operators/Packing): 32-token chunks
    * (no overlap — packed sequences must not duplicate tokens) greedily
    * first-fit into 128-token sequences per doc_id%8 shard. The oracle
    * re-runs the identical greedy fold as a recursive CTE, so the packing
    * decisions themselves — not just counts — are differentially tested. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(
        graft.operators.TextOps.chunkTokens(
          Tables.documents(spark, dir), "doc_id", "text",
          chunkSize = 32, overlap = 0),
        "doc_id", "chunk_no", "n_tokens", shards = 8, budget = 128)
      .toDF()

  /** Chunk + greedy-pack CTE chain over `srcRel(doc_id, text)` — shared by
    * pack_sequences and corpus_pipeline. `ch` is MATERIALIZED: the
    * recursive fold scans it once per iteration (one per chunk rank), and
    * without materialization DuckDB re-evaluates the whole upstream chain
    * each time — quadratic blowup at larger SFs. */
  private def packingCtes(srcRel: String): String =
    s"""t AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM $srcRel),
       |c0 AS (SELECT doc_id, unnest(range(0, greatest(n - 1, 0) + 1, 32)) AS st, n FROM t),
       |ch AS MATERIALIZED (SELECT doc_id % 8 AS shard, doc_id,
       |         CAST(st // 32 AS INT) AS chunk_no,
       |         CAST(least(32, n - st) AS INT) AS n_tokens,
       |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id, st) AS rn
       |       FROM c0),
       |rec AS (
       |  SELECT shard, rn, doc_id, chunk_no, n_tokens,
       |         0::BIGINT AS seq_no, n_tokens::BIGINT AS cum
       |  FROM ch WHERE rn = 1
       |  UNION ALL
       |  SELECT c.shard, c.rn, c.doc_id, c.chunk_no, c.n_tokens,
       |         CASE WHEN r.cum + c.n_tokens > 128 THEN r.seq_no + 1 ELSE r.seq_no END,
       |         CASE WHEN r.cum + c.n_tokens > 128 THEN c.n_tokens::BIGINT
       |              ELSE r.cum + c.n_tokens END
       |  FROM rec r JOIN ch c ON c.shard = r.shard AND c.rn = r.rn + 1)""".stripMargin

  private val packingSelect: String =
    """SELECT shard, seq_no, COUNT(*)::BIGINT AS n_chunks,
      |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |       string_agg(doc_id || ':' || chunk_no, ',' ORDER BY rn) AS chunks
      |FROM rec GROUP BY shard, seq_no ORDER BY shard, seq_no""".stripMargin

  val packSequencesSql: String =
    s"WITH RECURSIVE ${packingCtes("documents")}\n$packingSelect"

  /** Repetition ratio (the Gopher-style duplicate-3-gram quality signal):
    * 1 - distinct_grams/total_grams per document — high values flag the
    * boilerplate/spam documents a training pipeline down-weights. One
    * division, identical operation tree both engines. */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    val grams = when(size(col("ws")) >= 3,
      transform(sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
      .otherwise(array().cast("array<string>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        greatest(size(col("ws")) - 2, lit(0)).cast("bigint").as("n_grams"),
        size(array_distinct(grams)).cast("bigint").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  val repetitionRatioSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      |  FROM documents),
      |g AS (SELECT doc_id,
      |        CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n_grams,
      |        CASE WHEN len(ws) >= 3
      |             THEN list_transform(range(1, len(ws) - 1),
      |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |             ELSE [] END AS grams
      |      FROM w)
      |SELECT doc_id, n_grams,
      |       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
      |       CASE WHEN n_grams > 0
      |            THEN 1.0::DOUBLE - (CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(n_grams AS DOUBLE))
      |            ELSE 0.0::DOUBLE END AS rep_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  /** Redaction pass: mask digit runs (ids, counters — the PII-scrub shape)
    * and count the replacements, one codegen regex pass per row. */
  def textRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        regexp_replace(col("props"), "\\d+", "<NUM>").as("redacted"),
        regexp_count(col("props"), lit("\\d+")).cast("bigint").as("n_redacted"))

  val textRedactSql: String =
    """SELECT event_id,
      |  regexp_replace(props, '\d+', '<NUM>', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(props, '\d+')) AS BIGINT) AS n_redacted
      |FROM events ORDER BY event_id""".stripMargin

  /** Stratified deterministic sampling: per-language keep rates (en 50%,
    * fr 25%, rest 10%) decided by the same seeded content hash as
    * hash_sample — the domain-mixing step of corpus assembly, reproducible
    * across engines, partitionings and reruns. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(PolyHash.hash(concat(col("doc_id").cast("string"), lit(":s7"))), lit(100))
    val rate = when(col("lang") === "en", 50)
      .when(col("lang") === "fr", 25).otherwise(10)
    Tables.documents(spark, dir)
      .filter(h < rate)
      .select("doc_id", "lang", "n_chars")
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE list_reduce(list_prepend(0::BIGINT, list_transform(
       |        string_split(CAST(doc_id AS VARCHAR) || ':s7',''), c -> ascii(c)::BIGINT)),
       |        (a,b) -> (a*31+b) % ${PolyHash.Mod}) % 100
       |      < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'fr' THEN 25 ELSE 10 END
       |ORDER BY doc_id""".stripMargin

  /** The flagship composition: the full corpus-preparation DAG —
    * quality filter (token count + repetition ratio) → near-dup cluster
    * resolution (only keepers survive) → chunk → greedy-pack into
    * training sequences — as ONE declarative query, hash-checked end to
    * end. This is the query a real training-data pipeline ships; every
    * stage reuses an operator that is also oracle-checked in isolation,
    * and Catalyst fuses the whole thing (the quality filter pushes below
    * the shingle computation; one shuffle for the LSH bands, one for the
    * component labels, one for the pack shards). */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE tokenization pass feeds BOTH the dedup shingles and the
    // quality grams (the query-level analog of lshBandsFrom sharing
    // shingles between bands and verify). The
    // tokenized relation is tracked in GraftCaches so the words() scan
    // runs once; at cluster scale write it to a table instead.
    val tokenized = graft.GraftCaches.track(docs.select(
      col("doc_id"), col("text"),
      graft.operators.TextOps.words(col("text")).as("ws")))
    val shingles = tokenized.filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        graft.operators.TextOps.shingleHashes(col("ws")).as("hs"))
    val drops = graft.operators.Dedup.duplicateComponents(
        graft.operators.Dedup.candidatePairsFromBands(
          graft.operators.Dedup.lshBandsFrom(shingles, "doc_id"), "doc_id"),
        iters = 3)
      .filter(!col("is_keeper")).select("doc_id")
    val grams = when(size(col("ws")) >= 3,
      transform(sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val quality = tokenized
      .withColumn("n_toks", size(col("ws")))
      .withColumn("n_grams", greatest(size(col("ws")) - 2, lit(0)))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - size(array_distinct(grams)).cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .filter(col("n_toks") >= 20 && col("rep_ratio") <= 0.6)
      .select("doc_id", "text")
    val survivors = quality.join(drops, Seq("doc_id"), "left_anti")
    graft.operators.Packing.packSequences(
        graft.operators.TextOps.chunkTokens(survivors, "doc_id", "text",
          chunkSize = 32, overlap = 0),
        "doc_id", "chunk_no", "n_tokens", shards = 8, budget = 128)
      .toDF()
  }

  val corpusPipelineSql: String =
    s"""WITH RECURSIVE ${DedupQueries.shingleCte},
       |${DedupQueries.bandsCte},
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bb a JOIN bb b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |l0 AS (SELECT DISTINCT src AS doc_id, src AS comp_id FROM e2),
       |${(1 to 3).map(DedupQueries.labelStepCte).mkString(",\n")},
       |drops AS (SELECT doc_id FROM l3 WHERE doc_id != comp_id),
       |qd AS (SELECT doc_id, text,
       |         list_filter(string_split(text, ' '), x -> x != '') AS ws
       |       FROM documents),
       |q AS (SELECT doc_id, text FROM (
       |  SELECT doc_id, text, len(ws) AS n_toks,
       |         greatest(len(ws) - 2, 0) AS n_grams,
       |         CASE WHEN len(ws) >= 3
       |              THEN list_transform(range(1, len(ws) - 1),
       |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |              ELSE [] END AS grams
       |  FROM qd) z
       |  WHERE n_toks >= 20
       |    AND (CASE WHEN n_grams > 0
       |              THEN 1.0::DOUBLE - (CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(n_grams AS DOUBLE))
       |              ELSE 0.0::DOUBLE END) <= 0.6::DOUBLE),
       |surv AS MATERIALIZED (SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
       |${packingCtes("surv")}
       |$packingSelect""".stripMargin

  /** Domain-mixing weights: per-source token inventory and the sampling
    * weight that equalizes each source's share (target = uniform across
    * sources; weight_s = total/(k * tokens_s)). Exact integer sums, one
    * double division — the corpus-mixing bookkeeping every multi-source
    * training run starts from. */
  def sourceMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.operators.TextOps.words(col("text"))).cast("bigint").as("nt"))
    val per = tok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("total"), count(lit(1)).as("k"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("total").cast("double") / (col("k") * col("n_tokens")).cast("double")).as("weight"))
  }

  val sourceMixWeightsSql: String =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS k FROM per)
      |SELECT source, n_docs, n_tokens,
      |       CAST(total AS DOUBLE) / CAST(k * n_tokens AS DOUBLE) AS weight
      |FROM per CROSS JOIN tot ORDER BY source""".stripMargin

  /** Corpus-level n-gram statistics: top-30 word bigrams by count.
    * Bigram construction is SHUFFLE-FREE array math (`zip_with` over two
    * shifted slices of the token array — no posexplode + self-join on
    * position, which would shuffle the corpus twice); the only exchange
    * is the count aggregation's, and that is map-side combined on the
    * heavy hitters by definition. Tie-break on the bigram string keeps
    * the top-k deterministic. */
  def ngramTop(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), " "), w => w =!= "")
    val bigrams = zip_with(
      slice(words, lit(1), size(words) - 1),
      slice(words, lit(2), size(words) - 1),
      (a, b) => concat(a, lit(" "), b))
    Tables.documents(spark, dir)
      .select(explode(bigrams).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(30)
  }

  val ngramTopSql: String =
    """SELECT bigram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS bigram
      |  FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS l FROM documents) t)
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30""".stripMargin

  /** Token-budget curriculum sampling: walk the corpus best-first
    * (longest docs first — the stand-in quality key; any score column
    * slots in) and keep documents while the RUNNING token total fits the
    * budget — the standard "select the next N-billion-token training
    * slice" job. The cumulative sum is [[graft.operators.PrefixScan]]'s
    * distributed two-phase scan, NOT a global `Window.orderBy` (which
    * would drag the whole corpus into one task); integer math, so the cut
    * point is identical on both engines. */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2500L
    val nTokens = size(filter(split(col("text"), " "), w => w =!= "")).cast("bigint")
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), nTokens.as("n_tokens"))
    graft.operators.PrefixScan
      .runningSum(scored, Nil, "n_tokens", "cum_tokens", col("n_chars").desc, col("doc_id"))
      .filter(col("cum_tokens") <= budget)
  }

  val tokenBudgetSampleSql: String =
    """SELECT doc_id, n_chars, n_tokens, cum_tokens FROM (
      |  SELECT doc_id, n_chars,
      |         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) OVER (
      |           ORDER BY n_chars DESC, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM documents) t
      |WHERE cum_tokens <= 2500 ORDER BY doc_id""".stripMargin

  /** Per-document word-length profile computed ENTIRELY with array
    * higher-order functions — sort_array for order statistics (max and
    * lower-median by index), `aggregate` for the character total — no
    * explode, no shuffle: the whole profile is one codegen'd scan-speed
    * projection, which is the point (exploding to rows would shuffle
    * |tokens| × |corpus| rows for a per-document answer). */
  def arrayStats(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), " "), w => w =!= "")
    val lens = sort_array(transform(words, w => length(w).cast("bigint")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lens.as("lens"),
        aggregate(transform(words, w => length(w).cast("bigint")),
          lit(0L), (acc, x) => acc + x).as("total_chars"))
      .filter(size(col("lens")) > 0)
      .select(col("doc_id"),
        size(col("lens")).cast("bigint").as("n_words"),
        element_at(col("lens"), lit(1)).as("min_len"),
        element_at(col("lens"), size(col("lens"))).as("max_len"),
        element_at(col("lens"),
          floor((size(col("lens")) + 1) / 2).cast("int")).as("median_len"),
        col("total_chars"))
  }

  val arrayStatsSql: String =
    """SELECT doc_id, len(ll) AS n_words, ll[1] AS min_len, ll[len(ll)] AS max_len,
      |       ll[CAST(floor((len(ll) + 1) / 2) AS INT)] AS median_len,
      |       list_reduce(list_prepend(0::BIGINT, l), (a, b) -> a + b) AS total_chars
      |FROM (
      |  SELECT doc_id,
      |         list_transform(list_filter(string_split(text, ' '), x -> x != ''), w -> len(w)) AS l,
      |         list_sort(list_transform(list_filter(string_split(text, ' '), x -> x != ''), w -> len(w))) AS ll
      |  FROM documents) t
      |WHERE len(ll) > 0 ORDER BY doc_id""".stripMargin

  /** Tokenizer vocabulary build: top-100 corpus words by frequency with
    * DENSE STABLE ids (rank by count desc, word asc — deterministic under
    * any partitioning). The count aggregation is the only corpus-size
    * shuffle; the id-assigning window runs over |vocab| rows, bounded by
    * the vocab size, not the corpus. */
  def vocabBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(100)
      .withColumn("vocab_id",
        row_number().over(Window.orderBy(col("n").desc, col("word"))).cast("bigint"))
  }

  val vocabBuildSql: String =
    """SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS vocab_id
      |FROM (SELECT word, COUNT(*) AS n
      |      FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      |            FROM documents)
      |      GROUP BY word ORDER BY n DESC, word LIMIT 100) t
      |ORDER BY vocab_id""".stripMargin

  /** Corpus encoding against the built vocabulary: posexplode the token
    * stream, broadcast-join the (tiny) vocab, re-assemble each document's
    * ordered id sequence (OOV → 0) — the tokenize-to-ids pass that feeds
    * sequence packing. Order is restored by sorting (pos, id) structs
    * inside the aggregation, not by assuming collect order; the vocab
    * join is a broadcast, so the corpus never shuffles for the lookup —
    * the single exchange is the per-document regroup. */
  def encodeTokens(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabBuild(spark, dir).select(col("word"), col("vocab_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => w =!= "")).as(Seq("pos", "word")))
      .join(broadcast(vocab), Seq("word"), "left")
      .withColumn("tid", coalesce(col("vocab_id"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            s => s.getField("tid").cast("string")), ",").as("token_ids"))
  }

  val encodeTokensSql: String =
    """WITH vocab AS (
      |  SELECT word, row_number() OVER (ORDER BY n DESC, word) AS vocab_id
      |  FROM (SELECT word, COUNT(*) AS n
      |        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      |              FROM documents)
      |        GROUP BY word ORDER BY n DESC, word LIMIT 100) t),
      |tok AS (
      |  SELECT doc_id, u.word, u.pos
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l
      |        FROM documents) d,
      |       LATERAL (SELECT l[i] AS word, i AS pos
      |                FROM unnest(range(1, len(l) + 1)) AS r(i)) u)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       CAST(SUM(CASE WHEN vocab_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       STRING_AGG(COALESCE(vocab_id, 0), ',' ORDER BY pos) AS token_ids
      |FROM tok LEFT JOIN vocab USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Count-min-sketch heavy hitters: terms whose SKETCH estimate clears
    * 2% of the token stream, reported next to the exact count so the
    * one-sided error (est >= exact, always) is itself hash-checked. The
    * exact relation exists here only because the fixture vocabulary is
    * small; at 100 TB the sketch relation (≤ d·w rows, mergeable by
    * cell-wise SUM across shards) replaces the full-stream shuffle the
    * exact count would need — see [[graft.operators.Sketches]]. The
    * threshold total rides the same 1-row broadcast as sourceMixWeights. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val tokens = graft.GraftCaches.track(
      Tables.documents(spark, dir)
        .select(explode(graft.operators.TextOps.words(col("text"))).as("term")))
    val sketch = Sketches.cmsSketch(tokens, "term")
    val exact = graft.GraftCaches.track(
      tokens.groupBy("term").agg(count(lit(1)).as("exact")))
    val est = Sketches.cmsEstimates(sketch, exact.select("term"), "term")
    val tot = exact.agg(sum("exact").as("total"))
    est.join(exact, Seq("term"))
      .crossJoin(broadcast(tot))
      .filter(col("est").cast("double") >= lit(0.02) * col("total").cast("double"))
      .select(col("term"), col("est"), col("exact"))
  }

  val cmsHeavyHittersSql: String = {
    val M = PolyHash.Mod
    val seeds = (0 until graft.operators.Sketches.CmsDepth)
      .map(j => { val (a, b) = graft.operators.TextOps.MinhashSeeds(j); s"($j, ${a}, ${b})" })
      .mkString(", ")
    val w = graft.operators.Sketches.CmsWidth
    s"""WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
       |ex AS (SELECT term, COUNT(*) AS exact FROM tok GROUP BY term),
       |exh AS (SELECT term, exact,
       |          list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term, ''), c -> ascii(c)::BIGINT)),
       |                      (a,b) -> (a*31+b) % $M) AS h
       |        FROM ex),
       |seeds AS (SELECT * FROM (VALUES $seeds) AS s(row_j, a, b)),
       |cells AS (SELECT (t.h*s.a + s.b) % $M % $w AS bucket, s.row_j
       |          FROM (SELECT tok.term,
       |                  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(tok.term, ''), c -> ascii(c)::BIGINT)),
       |                              (a,b) -> (a*31+b) % $M) AS h
       |                FROM tok) t CROSS JOIN seeds s),
       |sk AS (SELECT row_j, bucket, COUNT(*) AS cnt FROM cells GROUP BY row_j, bucket),
       |probe AS (SELECT e.term, s.row_j, (e.h*s.a + s.b) % $M % $w AS bucket
       |          FROM exh e CROSS JOIN seeds s),
       |est AS (SELECT p.term, MIN(sk.cnt) AS est
       |        FROM probe p JOIN sk USING (row_j, bucket) GROUP BY p.term),
       |tot AS (SELECT SUM(exact) AS total FROM ex)
       |SELECT e.term, est.est, e.exact
       |FROM est JOIN exh e USING (term) CROSS JOIN tot
       |WHERE est.est::DOUBLE >= 0.02 * total::DOUBLE
       |ORDER BY e.term""".stripMargin
  }

  /** Inverted-index build: per term, document frequency, collection
    * frequency, and the (doc_id:tf) posting list in doc order — the
    * search-index relation a retrieval stack materializes from the
    * corpus. Two shuffles, both fully map-side combined: (term, doc) for
    * tf, then term for the postings; posting arrays assemble with
    * collect_list + array_sort (deterministic order pinned by the sort,
    * not by arrival). Serialized to CSV for the compare. At 100 TB the
    * term shuffle is the inherent cost (it IS the index); hot terms are
    * bounded by per-doc tf pre-aggregation. */
  def postingLists(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.operators.TextOps.words(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("tf")))),
          s => concat(s.getField("doc_id").cast("string"), lit(":"),
            s.getField("tf").cast("string"))), ",").as("postings"))

  val postingListsSql: String =
    """WITH tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      |        FROM documents) t
      |  GROUP BY term, doc_id)
      |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |       STRING_AGG(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
      |FROM tf GROUP BY term ORDER BY term""".stripMargin

  /** Weighted sample without replacement, deterministically: priority
    * sampling (Duffield/Lund/Thorup) with key = weight / u and u a
    * hash-uniform in (0, 1] derived from the doc id — heavier docs get
    * larger keys, the global top-k by key IS the weighted sample. The
    * log-free key (vs A-ES's -ln(u)/w) keeps the math to two IEEE
    * divisions, bit-equal across engines. Plan shape: scan-speed key
    * column + TakeOrderedAndProject (per-partition bounded heap, tiny
    * global merge — never a full sort), identical at any corpus size;
    * and the sample is REPRODUCIBLE run to run, which a rand()-based
    * sampler can't promise. Seeds reuse the MinhashSeeds constants. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    val m = PolyHash.Mod
    val u = ((col("doc_id") * lit(a) + lit(b)) % lit(m) + lit(1L)).cast("double") /
      lit((m + 1).toDouble)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("weight"),
        (col("n_chars").cast("double") / u).as("skey"))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(50)
  }

  val weightedSampleSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    val m = PolyHash.Mod
    s"""SELECT doc_id, n_chars AS weight,
       |       CAST(n_chars AS DOUBLE) /
       |         (CAST((doc_id * ${a} + ${b}) % ${m} + 1 AS DOUBLE) / ${(m + 1).toDouble}) AS skey
       |FROM documents
       |ORDER BY skey DESC, doc_id ASC LIMIT 50""".stripMargin
  }

  /** Corpus-inequality audit: the Gini coefficient of per-document token
    * counts — the one-number answer to "is my corpus a few huge docs or
    * many small ones", which drives packing efficiency and sampling
    * design. G = (2·Σ(rank·x) − (n+1)·Σx) / (n·Σx) over ascending-sorted
    * counts: ranks come from [[graft.operators.PrefixScan]] as a
    * range-partitioned running COUNT (the distributed ranking shape — no
    * single-task global window), every moment is an exact decimal sum,
    * and only the final division is double. */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.operators.TextOps.words(col("text"))).cast("long").as("x"))
      .withColumn("one", lit(1L))
    val ranked = graft.operators.PrefixScan
      .runningSum(toks, Nil, "one", "rank", col("x").asc, col("doc_id").asc)
    val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
    // moments are EXACT decimal sums; the closed form runs in doubles
    // (every operand here is an integer < 2^53, so the casts are exact)
    // with an identical expression tree on both engines
    ranked.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(d20)).as("sx"),
        sum((col("rank") * col("x")).cast(d20)).as("six"))
      .select(col("n"), col("sx").cast("bigint").as("total_tokens"),
        ((lit(2.0) * col("six").cast("double") -
          (col("n") + 1).cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("sx").cast("double"))).as("gini"))
  }

  val tokenGiniSql: String =
    """WITH t AS (
      |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x != '')) AS x
      |  FROM documents),
      |r AS (SELECT x, row_number() OVER (ORDER BY x ASC, doc_id ASC) AS rank FROM t)
      |SELECT COUNT(*) AS n,
      |       CAST(SUM(CAST(x AS DECIMAL(20,0))) AS BIGINT) AS total_tokens,
      |       (2.0 * CAST(SUM(CAST(rank * x AS DECIMAL(20,0))) AS DOUBLE)
      |          - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(CAST(x AS DECIMAL(20,0))) AS DOUBLE))
      |         / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(x AS DECIMAL(20,0))) AS DOUBLE)) AS gini
      |FROM r""".stripMargin

  /** Bigram language-model quality score: the mean corpus-MLE transition
    * probability avg p(w_{i+1}|w_i) per document — the cheap LM-quality
    * signal (fluent prose scores high; shuffled/boilerplate word salad
    * scores low) a data pipeline computes when a real LM pass is too
    * expensive. No logs on purpose: ln is transcendental and engines
    * disagree in the last ulp, so the score is the mean PROBABILITY, each
    * ratio c2/c1 one correctly-rounded IEEE division (bit-identical on
    * both engines), micro-scaled to exact decimals for the
    * order-insensitive sum (the embedDimStats discipline).
    *
    * Scale shape: the bigram relation is computed once (pinned working
    * set); unigram-context and bigram counts are two map-side-combined
    * groupBys; scoring joins are equi-joins keyed on the gram — the same
    * distributed shape as TF-IDF, no single-task stage anywhere. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val l = graft.operators.TextOps.words(col("text"))
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), l.as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("l")) - 1),
          i => struct(element_at(col("l"), i).as("w1"),
            concat_ws(" ", element_at(col("l"), i),
              element_at(col("l"), i + 1)).as("bg")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.bg").as("bg"))
    val big = graft.GraftCaches.track(bigrams)
    val c2 = big.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val p = col("c2").cast("double") / col("c1").cast("double")
    big.join(c2, "bg").join(c1, "w1")
      .select(col("doc_id"),
        round(p * lit(1e9)).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("pi"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("pi")).cast("double") / (lit(1e9) * count(lit(1)))).as("avg_p"))
  }

  val lmScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l FROM documents),
      |big AS (
      |  SELECT doc_id, l[i] AS w1, l[i] || ' ' || l[i+1] AS bg
      |  FROM tok, LATERAL (SELECT unnest(range(1, len(l))) AS i) u
      |  WHERE len(l) >= 2),
      |c2 AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(CAST(round(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) * 1000000000.0)
      |                     AS DECIMAL(38,0))) AS DOUBLE) / (1000000000.0 * COUNT(*)) AS avg_p
      |FROM big b JOIN c2 USING (bg) JOIN c1 USING (w1)
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * word trigrams that occur in no other document — the self-information
    * complement of [[DedupQueries]]' duplicate-gram inventory, used to
    * up-weight documents that contribute new content and down-weight
    * boilerplate recombinations. One distinct (doc, gram) relation feeds
    * both the document-frequency aggregation and the per-doc rollup —
    * the inverted-index shuffle IS the work, same as duplicate_ngrams. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val l = graft.operators.TextOps.words(col("text"))
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), l.as("l"))
      .filter(size(col("l")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("l")) - 2),
          i => concat_ws(" ", element_at(col("l"), i),
            element_at(col("l"), i + 1), element_at(col("l"), i + 2)))).as("g"))
      .distinct()
    val g = graft.GraftCaches.track(grams)
    val dfreq = g.groupBy("g").agg(count(lit(1)).as("df"))
    g.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  val ngramNoveltySql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS l FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g
      |  FROM tok, LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) u
      |  WHERE len(l) >= 3),
      |dfq AS (SELECT g, COUNT(*) AS df FROM gr GROUP BY g)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
      |FROM gr JOIN dfq USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic k-per-group reservoir sample (10 docs per language):
    * priority = a seeded affine hash of the id mapped to [0,1), smallest-k
    * kept — reproducible run to run (a rand() reservoir can't be), and
    * folded through the bounded-heap [[graft.functions.TopKAggregator]]
    * so the shuffle carries AT MOST k rows per map task per group where
    * the window formulation ships every row of a group to one reducer.
    * The oracle deliberately IS the window formulation — the aggregator
    * rewrite's equivalence is itself hash-checked (the interval_overlap
    * discipline). */
  def reservoirPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(6)
    val m = PolyHash.Mod
    val u = ((col("doc_id") * lit(a) + lit(b)) % lit(m)).cast("double") / lit(m.toDouble)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), u.as("u"))
      .groupBy("lang")
      .agg(graft.functions.TopKAggregator.topK(10)(col("doc_id"), -col("u")).as("t"))
      .select(col("lang"), posexplode(col("t.ids")).as(Seq("pos", "doc_id")))
      .select(col("lang"), (col("pos") + 1).cast("bigint").as("rank"), col("doc_id"))
  }

  val reservoirPerGroupSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(6)
    val m = PolyHash.Mod
    s"""WITH s AS (
       |  SELECT lang, doc_id,
       |         CAST((doc_id * ${a} + ${b}) % ${m} AS DOUBLE) / ${m.toDouble} AS u
       |  FROM documents)
       |SELECT lang,
       |       CAST(row_number() OVER (PARTITION BY lang ORDER BY u ASC, doc_id ASC) AS BIGINT) AS rank,
       |       doc_id
       |FROM s
       |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY u ASC, doc_id ASC) <= 10
       |ORDER BY lang, rank""".stripMargin
  }

  /** Padding-waste audit for length-bucketed batching: documents ranked
    * by token count (ascending, id tie-break) via [[graft.operators
    * .PrefixScan]]'s distributed running count — never a global
    * single-task window — then grouped into batches of 32 in rank order;
    * per batch, the padded cost is n·max(tokens) and the waste is padded
    * minus real — the number every training-throughput discussion starts
    * from (length-sorted batching exists to shrink exactly this). The
    * oracle computes the same ranks with a global window, so the
    * distributed ranking rewrite is itself hash-checked. */
  def paddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.operators.TextOps.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("one", lit(1L))
    graft.operators.PrefixScan
      .runningSum(toks, Nil, "one", "rank", col("n_tokens").asc, col("doc_id").asc)
      .withColumn("batch_no", floor((col("rank") - 1) / 32).cast("bigint"))
      .groupBy("batch_no")
      .agg(count(lit(1)).as("n_docs"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .select(col("batch_no"), col("n_docs"), col("max_tokens"), col("sum_tokens"),
        (col("n_docs") * col("max_tokens") - col("sum_tokens")).as("padding_waste"),
        (col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double")).as("efficiency"))
  }

  val paddingWasteSql: String =
    """WITH t AS (
      |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |        row_number() OVER (ORDER BY n_tokens ASC, doc_id ASC) AS rank FROM t),
      |b AS (SELECT *, (rank - 1) // 32 AS batch_no FROM r)
      |SELECT batch_no, COUNT(*) AS n_docs, MAX(n_tokens) AS max_tokens,
      |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste,
      |       CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) * MAX(n_tokens) AS DOUBLE) AS efficiency
      |FROM b GROUP BY batch_no ORDER BY batch_no""".stripMargin

  /** One-row dataset card: corpus size, token mass, and language
    * diversity as the INVERSE SIMPSON index n²/Σc² (the "effective number
    * of languages") — deliberately not Shannon entropy, whose ln() is
    * transcendental and engine-divergent in the last ulp; inverse Simpson
    * is a ratio of exact integers, so the one double division is
    * bit-identical on both engines. Top language by count with
    * lowest-name tie-break via struct-min. Two tiny aggregates (per-lang
    * counts are |langs| rows) cross-joined into the single card row. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = size(graft.operators.TextOps.words(col("text"))).cast("long")
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(words).as("total_words"))
    val langs = docs.groupBy("lang").agg(count(lit(1)).as("c"))
    val langAgg = langs.agg(
      count(lit(1)).as("n_langs"),
      sum(col("c") * col("c")).as("sumsq"),
      min(struct((-col("c")).as("nc"), col("lang"))).as("top"))
    base.crossJoin(langAgg)
      .select(col("n_docs"), col("total_words"),
        (col("total_words").cast("double") / col("n_docs").cast("double")).as("mean_doc_words"),
        col("n_langs"),
        (col("n_docs").cast("double") * col("n_docs").cast("double") /
          col("sumsq").cast("double")).as("lang_diversity"),
        col("top.lang").as("top_lang"),
        ((-col("top.nc")).cast("double") / col("n_docs").cast("double")).as("top_lang_share"))
  }

  val corpusCardSql: String =
    """WITH base AS (
      |  SELECT COUNT(*) AS n_docs,
      |         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS total_words
      |  FROM documents),
      |l AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
      |la AS (SELECT COUNT(*) AS n_langs,
      |              CAST(SUM(c * c) AS BIGINT) AS sumsq,
      |              MIN(struct_pack(nc := -c, lang := lang)) AS top
      |       FROM l)
      |SELECT n_docs, total_words,
      |       CAST(total_words AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_words,
      |       n_langs,
      |       CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sumsq AS DOUBLE) AS lang_diversity,
      |       top.lang AS top_lang,
      |       CAST(-top.nc AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_lang_share
      |FROM base CROSS JOIN la""".stripMargin

  /** PII inventory: per-document counts of email-shaped, URL-shaped and
    * long-digit-run spans plus a corpus-level rollup flag — the privacy
    * audit that decides whether a source needs the redaction pass
    * (text_redact is the scrubber; this is the detector that scopes it).
    * Pure scan-speed regexp_count column math, RE2-safe patterns shared
    * verbatim with the oracle. */
  def piiInventory(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val url = "https?://[^\\s]+"
    val digits = "[0-9]{6,}"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(lower(col("text")), lit(email)).cast("bigint").as("n_emails"),
        regexp_count(lower(col("text")), lit(url)).cast("bigint").as("n_urls"),
        regexp_count(col("text"), lit(digits)).cast("bigint").as("n_digit_runs"))
      .withColumn("has_pii",
        col("n_emails") + col("n_urls") + col("n_digit_runs") > 0)
  }

  val piiInventorySql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(lower(text), 'https?://[^\s]+')) AS BIGINT) AS n_urls,
      |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_digit_runs,
      |  len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
      |    + len(regexp_extract_all(lower(text), 'https?://[^\s]+'))
      |    + len(regexp_extract_all(text, '[0-9]{6,}')) > 0 AS has_pii
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Applies [[sourceMixWeights]]' equal-token-share plan as an actual
    * deterministic sampler: each source's keep rate is min(1, weight)
    * (a sampler can only downsample; upweighting happens at training
    * time), membership decided by the seeded affine hash of the doc id —
    * reproducible across engines, partitionings and reruns, unlike any
    * rand() sampler. Output is the per-source before/after audit: the
    * proof the mix plan was APPLIED, with token masses to show the
    * rebalancing effect. One broadcast of the |sources|-row weight
    * relation; the corpus never shuffles for the sampling decision. */
  def mixApply(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(4)
    val m = PolyHash.Mod
    val u = ((col("doc_id") * lit(a) + lit(b)) % lit(m)).cast("double") / lit(m.toDouble)
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.operators.TextOps.words(col("text"))).cast("bigint").as("nt"))
    val per = tok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("total"), count(lit(1)).as("k"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0), col("total").cast("double") /
          (col("k") * col("n_tokens")).cast("double")).as("rate"))
    tok.join(broadcast(rates), "source")
      .withColumn("kept", u < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("nt").as("tokens_before"),
        sum(when(col("kept"), col("nt")).otherwise(0L)).as("tokens_kept"),
        max("rate").as("rate"))
  }

  val mixApplySql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(4)
    val m = PolyHash.Mod
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS nt
       |  FROM documents),
       |per AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
       |        FROM tok GROUP BY source),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS k FROM per),
       |rates AS (SELECT source,
       |            LEAST(1.0, CAST(total AS DOUBLE) / CAST(k * n_tokens AS DOUBLE)) AS rate
       |          FROM per CROSS JOIN tot),
       |flagged AS (
       |  SELECT t.source, t.nt, r.rate,
       |         CAST((t.doc_id * ${a} + ${b}) % ${m} AS DOUBLE) / ${m.toDouble} < r.rate AS kept
       |  FROM tok t JOIN rates r USING (source))
       |SELECT source, COUNT(*) AS n_before,
       |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(nt) AS BIGINT) AS tokens_before,
       |       CAST(SUM(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept,
       |       MAX(rate) AS rate
       |FROM flagged GROUP BY source ORDER BY source""".stripMargin
  }

  /** BPE merge training ([[graft.operators.Bpe.train]]): 8 rounds of
    * count-pairs → merge-argmax over the word vocabulary. The oracle
    * unrolls every round as CTEs — same frequency-weighted pair count,
    * same (cnt DESC, l, r) argmax tie-break, same single-pass string
    * replace — so the learned merge LIST is hash-checked bit-for-bit,
    * the pageRank/LPA unrolled-oracle discipline applied to the
    * tokenizer surface. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.train(Tables.documents(spark, dir), "text", rounds = BpeRounds)

  private val BpeRounds = 8

  /** Shared CTE chain for the BPE oracle family: vocab → v0 (char-split
    * symbol strings, word `w` threaded through every round so the FINAL
    * state doubles as the encoded vocabulary) → N rounds of (pair count
    * p_i, argmax m_i, merged state v_i). `bpe_train` reads the m_i rows;
    * `bpe_apply` reads v_N. */
  private def bpeCtes(rounds: Int): String = {
    def roundCte(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT syms[j] AS l, syms[j+1] AS r, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM (SELECT f, list_filter(string_split(trim(s), ' '), x -> x != '') AS syms
         |        FROM v${i - 1}) t,
         |       LATERAL (SELECT unnest(range(1, len(syms))) AS j) u
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT w, f, replace(s, ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
         |                         ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS s
         |  FROM v${i - 1})""".stripMargin
    s"""vocab AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |    FROM documents) GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT w, f, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s FROM vocab),
       |${(1 to rounds).map(roundCte).mkString(",\n")}""".stripMargin
  }

  val bpeTrainSql: String = {
    val unions = (1 to BpeRounds).map(i =>
      s"SELECT $i AS round, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtes(BpeRounds)}
       |${unions}""".stripMargin
  }

  /** BPE ENCODE ([[graft.operators.Bpe.encodeVocab]]): the corpus
    * re-tokenized with the 8 learned merges. The encoded vocabulary is
    * the training loop's own final state (apply = train-state, one code
    * path), broadcast against the exploded corpus tokens — the shuffle
    * carries (word, units) pairs sized by the VOCABULARY, and the per-doc
    * aggregation is one map-side-combined groupBy; at 100 TB the encode
    * cost is the token explode, never a per-document merge loop. The
    * oracle replays the same 8-round chain and reads v8 as the encoder,
    * so every per-doc subword count is hash-checked bit-for-bit. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val enc = graft.operators.Bpe.encodeVocab(docs, "text", rounds = BpeRounds)
    docs.select(col("doc_id"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .join(broadcast(enc), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("units")).cast("bigint").as("n_units"))
      .select(col("doc_id"), col("n_words"), col("n_units"),
        (col("n_units").cast("double") / col("n_words")).as("units_per_word"))
  }

  val bpeApplySql: String =
    s"""WITH ${bpeCtes(BpeRounds)},
       |enc AS (SELECT w, len(list_filter(string_split(trim(s), ' '), x -> x != '')) AS units
       |        FROM v$BpeRounds),
       |tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |        FROM documents)
       |SELECT t.doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(e.units) AS BIGINT) AS n_units,
       |       CAST(CAST(SUM(e.units) AS BIGINT) AS DOUBLE) / COUNT(*) AS units_per_word
       |FROM tok t JOIN enc e USING (w) GROUP BY t.doc_id""".stripMargin

  /** Unigram-LM tokenizer TRAINING ([[graft.operators.Unigram.train]]):
    * seed the top-[[UnigramTopK]] substrings (plus all single chars),
    * then [[UnigramIters]] hard-EM rounds — Viterbi-segment every vocab
    * word under Laplace-smoothed piece likelihoods, recount. Output is
    * (iter, piece, cnt) for EVERY inventory piece at EVERY iteration
    * (iter 0 = seeds), so the oracle pins each round differentially,
    * exactly like `ivf_train_assign`'s per-iteration CTE chains and
    * `bpe_train`'s per-round merge rows. The oracle unrolls the Viterbi
    * DP to [[UnigramDpUnroll]] positions per round (fixture max word
    * length is 8; the ENGINE's DP is unbounded — only the SQL replay is
    * length-bounded). All counts are exact BIGINTs; the only IEEE ops
    * are one division per piece per round and the DP's fixed-order score
    * products, both replayed literally by the oracle. */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.train(requireDpUnroll(Tables.documents(spark, dir)), "text",
        iters = UnigramIters, topK = UnigramTopK)

  private val UnigramIters = 3
  private val UnigramTopK = 48
  private val UnigramDpUnroll = 12

  /** Guard the oracle's silent length bound: the
    * DuckDB replay unrolls the Viterbi DP to [[UnigramDpUnroll]]
    * positions, so a corpus word longer than that is simply DROPPED
    * from the oracle's segmentation union while the engine's DP (which
    * is unbounded) still counts it — a hash mismatch with a
    * very-hard-to-diagnose cause. Fail LOUDLY here instead: one tiny
    * max-length aggregate over the exploded words (the corpus is about
    * to be scanned several times for training anyway) converts the
    * "fixture max word length is 8" assumption into an enforced
    * precondition. Returns `docs` for chaining. */
  private def requireDpUnroll(docs: DataFrame): DataFrame = {
    val row = docs
      .select(explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .agg(max(length(col("w")))).head()
    val maxLen = if (row.isNullAt(0)) 0 else row.getInt(0)
    require(maxLen <= UnigramDpUnroll,
      s"unigram oracle DP is unrolled to $UnigramDpUnroll positions but the " +
        s"corpus has a word of length $maxLen — raise UnigramDpUnroll or the " +
        "oracle will silently drop the over-length word's counts")
    docs
  }

  /** Shared CTE chain for the unigram oracle family: vocab → substring
    * seeds → c0 (top-K ∪ single chars) → per round t: smoothed probs
    * pr_t, Viterbi DP levels b_t_1..L (each level = per-word argmax over
    * the ≤[[graft.operators.Unigram.MaxPieceLen]] split points, ties to
    * the smallest j), per-word segmentation seg_t at its own length,
    * and hard recount c_t. `unigram_train` reads c_0..c_N;
    * `unigram_apply` adds one more chain under the final counts and
    * reads its segmentation as the encoder. */
  private def unigramCtes(chains: Int, withVocab: Boolean = true): String = {
    val P = graft.operators.Unigram.MaxPieceLen
    val L = UnigramDpUnroll
    def chain(t: Int): String = {
      val prev = s"c${t - 1}"
      val pr =
        s"""pr$t AS MATERIALIZED (
           |  SELECT piece, (cnt + 1)::DOUBLE /
           |    ((SELECT SUM(cnt) FROM $prev) + (SELECT COUNT(*) FROM $prev))::DOUBLE AS p
           |  FROM $prev)""".stripMargin
      val b0 = s"b${t}_0 AS (SELECT w, f, length(w) AS n, 1.0::DOUBLE AS s, '' AS seg FROM vocab)"
      def level(k: Int): String = {
        val cands = (math.max(0, k - P) until k).map { j =>
          s"""    SELECT b.w, b.f, b.n, b.s * pr.p AS s,
             |      b.seg || ' ' || substr(b.w, ${j + 1}, ${k - j}) AS seg, $j AS j
             |    FROM b${t}_$j b JOIN pr$t pr ON pr.piece = substr(b.w, ${j + 1}, ${k - j})
             |    WHERE b.n >= $k""".stripMargin
        }.mkString("\n    UNION ALL\n")
        s"""b${t}_$k AS MATERIALIZED (
           |  SELECT w, f, n, s, seg FROM (
           |    SELECT w, f, n, s, seg,
           |      row_number() OVER (PARTITION BY w ORDER BY s DESC, j ASC) AS rn
           |    FROM (
           |$cands) cand) ranked
           |  WHERE rn = 1)""".stripMargin
      }
      val seg =
        s"""seg$t AS MATERIALIZED (
           |  SELECT w, f, trim(seg) AS seg FROM (
           |${(1 to L).map(k => s"    SELECT * FROM b${t}_$k WHERE n = $k").mkString("\n    UNION ALL\n")}))""".stripMargin
      val cnt =
        s"""c$t AS MATERIALIZED (
           |  SELECT c.piece, COALESCE(CAST(SUM(x.f) AS BIGINT), 0) AS cnt
           |  FROM c0 c LEFT JOIN (
           |    SELECT unnest(string_split(seg, ' ')) AS piece, f FROM seg$t) x
           |  ON x.piece = c.piece
           |  GROUP BY c.piece)""".stripMargin
      (Seq(pr, b0) ++ (1 to L).map(level) ++ Seq(seg, cnt)).mkString(",\n")
    }
    // `withVocab = false` for oracles that already define the identical
    // `vocab` CTE (the BPE chain shares the same whitespace tokenizer).
    val vocabCtes =
      """tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |        FROM documents),
        |vocab AS MATERIALIZED (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
        |""".stripMargin
    s"""${if (withVocab) vocabCtes else ""}subs AS MATERIALIZED (
       |  SELECT substr(w, CAST(pos AS INT), CAST(l AS INT)) AS piece,
       |         CAST(SUM(f) AS BIGINT) AS cnt
       |  FROM vocab,
       |       LATERAL (SELECT unnest(range(1, length(w) + 1)) AS pos) u1,
       |       LATERAL (SELECT unnest(range(1, least($P, length(w) - pos + 1) + 1)) AS l) u2
       |  GROUP BY 1),
       |c0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM
       |    (SELECT piece, cnt FROM subs ORDER BY cnt DESC, piece LIMIT $UnigramTopK)
       |  UNION
       |  SELECT piece, cnt FROM subs WHERE length(piece) = 1),
       |${(1 to chains).map(chain).mkString(",\n")}""".stripMargin
  }

  val unigramTrainSql: String = {
    val unions = (0 to UnigramIters).map(t =>
      s"SELECT $t AS iter, piece, cnt FROM c$t").mkString("\n  UNION ALL ")
    s"""WITH ${unigramCtes(UnigramIters)}
       |$unions
       |ORDER BY iter, piece""".stripMargin
  }

  /** Unigram-LM ENCODE ([[graft.operators.Unigram.encodeVocab]]): the
    * corpus re-tokenized by the trained model — one more Viterbi pass
    * under the FINAL counts gives each vocab word its segmentation,
    * broadcast against the exploded corpus tokens (the `bpe_apply`
    * shape: the shuffle carries vocabulary-sized (word, units) pairs;
    * at 100 TB the encode cost is the token explode, never a
    * per-document DP). The oracle replays the training chains plus the
    * final encode chain and reads its per-word unit counts. */
  def unigramApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = requireDpUnroll(Tables.documents(spark, dir))
    val enc = graft.operators.Unigram.encodeVocab(docs, "text",
      iters = UnigramIters, topK = UnigramTopK)
    docs.select(col("doc_id"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .join(broadcast(enc.select(col("w"), col("units"))), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("units")).cast("bigint").as("n_units"))
      .select(col("doc_id"), col("n_words"), col("n_units"),
        (col("n_units").cast("double") / col("n_words")).as("units_per_word"))
  }

  val unigramApplySql: String = {
    val last = UnigramIters + 1
    s"""WITH ${unigramCtes(last)},
       |enc AS (SELECT w,
       |          len(list_filter(string_split(seg, ' '), x -> x != '')) AS units
       |        FROM seg$last),
       |dtok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |         FROM documents)
       |SELECT t.doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(e.units) AS BIGINT) AS n_units,
       |       CAST(CAST(SUM(e.units) AS BIGINT) AS DOUBLE) / COUNT(*) AS units_per_word
       |FROM dtok t JOIN enc e USING (w) GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** Tokenizer bake-off: per source, words and subword units under the
    * trained BPE (8 merges) vs the trained unigram-LM (3 EM rounds) —
    * the fertility comparison a tokenizer selection actually runs.
    * Both encoders are VOCABULARY-sized broadcasts against one exploded
    * token pass (the corpus is scanned once; at 100 TB the cost is the
    * explode, the models are kilobytes). The oracle replays BOTH
    * training chains (8 BPE round CTEs + 3 unigram EM chains + the
    * encode chain) over one shared `vocab`, so the comparison itself is
    * hash-checked end-to-end. */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = requireDpUnroll(Tables.documents(spark, dir))
    // ONE shared (w, f) vocabulary relation feeds BOTH trainers
    // (guide §2.4), so the corpus-scan + explode + word-count aggregate
    // runs once, not once per trainer. Lazy pin:
    // the consumers are sequential driver actions (BPE trains fully
    // before unigram seeding), so the first argmax collect materializes
    // it. Both trained vocabularies are identical by construction — the
    // loops only ever see (w, f).
    val wc = graft.GraftCaches.pin(
      graft.operators.Bpe.wordCounts(docs, "text"), eager = false)
    val bpe = graft.operators.Bpe.encodeVocabFromCounts(wc, rounds = BpeRounds)
      .withColumnRenamed("units", "bu")
    val uni = graft.operators.Unigram.encodeVocabFromCounts(wc,
        iters = UnigramIters, topK = UnigramTopK)
      .select(col("w"), col("units").as("uu"))
    docs.select(col("source"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .join(broadcast(bpe), "w")
      .join(broadcast(uni), "w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("bu")).cast("bigint").as("bpe_units"),
        sum(col("uu")).cast("bigint").as("uni_units"))
      .select(col("source"), col("n_words"), col("bpe_units"), col("uni_units"),
        (col("bpe_units").cast("double") / col("n_words")).as("bpe_fertility"),
        (col("uni_units").cast("double") / col("n_words")).as("uni_fertility"))
  }

  val tokenizerCompareSql: String =
    s"""WITH ${bpeCtes(BpeRounds)},
       |${unigramCtes(UnigramIters + 1, withVocab = false)},
       |benc AS (SELECT w, len(list_filter(string_split(trim(s), ' '), x -> x != '')) AS bu
       |         FROM v$BpeRounds),
       |uenc AS (SELECT w, len(list_filter(string_split(seg, ' '), x -> x != '')) AS uu
       |         FROM seg${UnigramIters + 1}),
       |stok AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |         FROM documents)
       |SELECT t.source, COUNT(*) AS n_words,
       |       CAST(SUM(b.bu) AS BIGINT) AS bpe_units,
       |       CAST(SUM(u.uu) AS BIGINT) AS uni_units,
       |       CAST(CAST(SUM(b.bu) AS BIGINT) AS DOUBLE) / COUNT(*) AS bpe_fertility,
       |       CAST(CAST(SUM(u.uu) AS BIGINT) AS DOUBLE) / COUNT(*) AS uni_fertility
       |FROM stok t JOIN benc b USING (w) JOIN uenc u USING (w)
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** SentencePiece-style character-coverage audit for the trained
    * unigram model: per source, how many corpus characters land inside
    * MULTI-char pieces vs fall back to single-char pieces — the
    * coverage knob a tokenizer deployment tunes (heavy char-fallback on
    * a source means the inventory under-serves it). Exact BIGINT
    * character counts, one IEEE division for the ratio; the encoder is
    * the same vocabulary-sized broadcast as `unigram_apply`, so the
    * corpus pass is one explode + one map-side-combined aggregate. */
  def unigramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = requireDpUnroll(Tables.documents(spark, dir))
    val enc = graft.operators.Unigram.encodeVocab(docs, "text",
        iters = UnigramIters, topK = UnigramTopK)
      .select(col("w"),
        length(col("w")).cast("bigint").as("nc"),
        (length(col("w")) - size(org.apache.spark.sql.functions.filter(
          split(col("seg"), " "), p => length(p) === 1))).cast("bigint").as("nm"))
    docs.select(col("source"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .join(broadcast(enc), "w")
      .groupBy("source")
      .agg(sum(col("nc")).cast("bigint").as("n_chars"),
        sum(col("nm")).cast("bigint").as("n_multi_chars"))
      .select(col("source"), col("n_chars"), col("n_multi_chars"),
        (col("n_multi_chars").cast("double") / col("n_chars")).as("multi_char_coverage"))
  }

  val unigramCoverageSql: String = {
    val last = UnigramIters + 1
    s"""WITH ${unigramCtes(last)},
       |enc AS (SELECT w, length(w)::BIGINT AS nc,
       |          (length(w) - len(list_filter(string_split(seg, ' '),
       |                                       p -> length(p) = 1)))::BIGINT AS nm
       |        FROM seg$last),
       |stok AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |         FROM documents)
       |SELECT t.source, CAST(SUM(e.nc) AS BIGINT) AS n_chars,
       |       CAST(SUM(e.nm) AS BIGINT) AS n_multi_chars,
       |       CAST(CAST(SUM(e.nm) AS BIGINT) AS DOUBLE) /
       |         CAST(SUM(e.nc) AS BIGINT) AS multi_char_coverage
       |FROM stok t JOIN enc e USING (w) GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  /** SFT loss-masking plan: split each document's token stream into a
    * prompt prefix (no loss) and a response suffix (loss) at a
    * deterministic hash-derived boundary — the per-example bookkeeping
    * every supervised-fine-tuning run needs (train only on the response
    * tokens). The boundary is poly_hash(doc_id)-derived so the plan is
    * reproducible across runs, engines, and partitionings, like
    * `mlm_mask_plan` / `span_corruption_plan`. Entirely scan-local
    * column math (size + one hash + string repeat) — ZERO data shuffles
    * at any corpus size. */
  def sftLossMask(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.TextOps.words(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"))
      .filter(col("n_tokens") >= 2)
      .withColumn("prompt_len",
        lit(1L) + pmod(PolyHash.hash(concat(col("doc_id").cast("string"), lit(":sft"))),
          col("n_tokens") - 1))
      .select(
        col("doc_id"), col("n_tokens"), col("prompt_len"),
        (col("n_tokens") - col("prompt_len")).as("n_loss_tokens"),
        ((col("n_tokens") - col("prompt_len")).cast("double") /
          col("n_tokens").cast("double")).as("loss_ratio"),
        concat(expr("repeat('0', CAST(prompt_len AS INT))"),
          expr("repeat('1', CAST(n_tokens - prompt_len AS INT))")).as("loss_mask"))
  }

  val sftLossMaskSql: String = {
    val m = PolyHash.Mod
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(
       |        string_split(CAST(doc_id AS VARCHAR) || ':sft', ''), c -> ascii(c)::BIGINT)),
       |      (a,b) -> (a*31+b) % $m) AS h
       |  FROM documents),
       |p AS (SELECT doc_id, n_tokens, 1 + (h % (n_tokens - 1)) AS prompt_len
       |      FROM d WHERE n_tokens >= 2)
       |SELECT doc_id, n_tokens, prompt_len,
       |  n_tokens - prompt_len AS n_loss_tokens,
       |  CAST(n_tokens - prompt_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS loss_ratio,
       |  repeat('0', CAST(prompt_len AS INT)) || repeat('1', CAST(n_tokens - prompt_len AS INT)) AS loss_mask
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer-fertility audit per language: characters per whitespace
    * token and alpha-run (subword proxy) density — the cross-lingual
    * tokenizer-efficiency readout (high chars/token for a language means
    * its text fragments into more subwords per word, i.e. the tokenizer
    * taxes that language). Exact integer sums per language, IEEE
    * divisions applied once at the end in a fixed order — hash-exact
    * across engines. ONE lang-keyed map-side-combined aggregate; the
    * share divisions run on the ≤|langs|-row relation. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.TextOps.words(col("text"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        size(toks).cast("bigint").as("nt"),
        regexp_count(col("text"), lit("[a-z]+")).cast("bigint").as("na"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"), sum("n_chars").as("n_chars"),
        sum("na").as("n_alpha_runs"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_alpha_runs"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double")).as("chars_per_token"),
        (col("n_alpha_runs").cast("double") / col("n_tokens").cast("double")).as("alpha_per_token"))
  }

  val tokenizerFertilitySql: String =
    """SELECT lang, n_docs, n_tokens, n_chars, n_alpha_runs,
      |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token,
      |  CAST(n_alpha_runs AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS alpha_per_token
      |FROM (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |    CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS n_alpha_runs
      |  FROM documents GROUP BY lang) t
      |ORDER BY lang""".stripMargin

  /** Temperature-scaled source mixing (τ = 0.5): sampling weight ∝
    * p_s^(1/τ) = p_s² — the standard multilingual/multi-source rebalance
    * (Conneau & Lample 2019 use τ ∈ [0.3, 1]; 0.5 upsamples heads less
    * brutally than uniform). τ = 0.5 is chosen deliberately so the whole
    * computation stays EXACT: p² ∝ n_docs², hence weight =
    * n_docs² / Σ n_docs² — integer sums and ONE IEEE division, no
    * libm pow (the repo-wide cross-engine exactness discipline).
    * Shape: one source-keyed aggregate + a 1-row scalar broadcast
    * (whitelisted BNLJ pattern, same as source_mix_weights). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum("n_docs").as("total"),
      sum(col("n_docs") * col("n_docs")).as("sq_sum"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("total").cast("double")).as("p_raw"),
        ((col("n_docs") * col("n_docs")).cast("double") /
          col("sq_sum").cast("double")).as("weight"),
        (((col("n_docs") * col("n_docs")).cast("double") /
          col("sq_sum").cast("double")) * 10000.0).as("exp_docs_at_10k"))
  }

  val temperatureMixSql: String =
    """WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
      |               CAST(SUM(n_docs * n_docs) AS BIGINT) AS sq_sum FROM per)
      |SELECT source, n_docs,
      |  CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS p_raw,
      |  CAST(n_docs * n_docs AS DOUBLE) / CAST(sq_sum AS DOUBLE) AS weight,
      |  (CAST(n_docs * n_docs AS DOUBLE) / CAST(sq_sum AS DOUBLE)) * 10000.0 AS exp_docs_at_10k
      |FROM per CROSS JOIN tot ORDER BY source""".stripMargin

  /** Token-budget shard planner: assign documents (in stable doc_id
    * ingest order) to fixed-budget output shards (2000 tokens) by the
    * RUNNING token total, then report per-shard packing stats — the
    * "write N-token training shards" planning job every corpus export
    * runs. The cumulative sum is [[graft.operators.PrefixScan]]'s
    * distributed two-phase scan (range exchange + per-partition offsets
    * — driver traffic = numPartitions rows), NOT a global window; a doc
    * lands in the shard its FIRST token falls in (start-offset rule), so
    * assignment is integer-exact and partitioning-independent. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val nt = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val d = Tables.documents(spark, dir).select(col("doc_id"), nt.as("n_tokens"))
    graft.operators.PrefixScan
      .runningSum(d, Nil, "n_tokens", "cum_tokens", col("doc_id"))
      .withColumn("shard_id", expr(s"(cum_tokens - n_tokens) div $budget"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill_ratio", col("n_tokens").cast("double") / lit(budget.toDouble))
  }

  val shardPlanSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
      |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) OVER (
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM documents)
      |SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |  CAST(SUM(n_tokens) AS DOUBLE) / 2000.0 AS fill_ratio
      |FROM (SELECT *, (cum_tokens - n_tokens) // 2000 AS shard_id FROM c) t
      |GROUP BY shard_id ORDER BY shard_id""".stripMargin

  /** Deterministic cross-source round-robin interleave — the streaming
    * data-loader order (one example per source in rotation, each source
    * internally hash-shuffled like `epoch_shuffle`): global position =
    * within-source rank × n_sources + source index. The within-source
    * rank is a source-partitioned window (reducer bounded by the largest
    * source slice — the same bound any per-source shuffle already has);
    * the source-index relation is ≤|sources| rows, so its global window
    * and the broadcast join are constant-sized at any corpus scale. Emits
    * the first 60 positions (the head of the interleaved stream). */
  def interleaveSources(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(6)
    val m = PolyHash.Mod
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), ((col("doc_id") * a + b) % m).as("skey"))
    // Per-source shuffle ranks ride the GROUPED PrefixScan: a
    // source-partitioned row_number would put |docs|/|sources| in one task.
    val ranked = graft.operators.PrefixScan.runningSum(
        d.withColumn("one", lit(1L)), Seq("source"), "one", "r0",
        col("skey"), col("doc_id"))
      .withColumn("r", col("r0") - 1).drop("r0", "one")
    val idx = d.select("source").distinct()
      .select(col("source"),
        (row_number().over(Window.orderBy("source")) - 1).cast("bigint").as("si"),
        count(lit(1)).over(Window.partitionBy()).cast("bigint").as("k"))
    ranked.join(broadcast(idx), "source")
      .select(col("doc_id"), col("source"), col("r"), col("si"),
        (col("r") * col("k") + col("si")).as("position"))
      .filter(col("position") < 60)
  }

  val interleaveSourcesSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(6)
    s"""WITH d AS (SELECT doc_id, source, (doc_id * ${a} + ${b}) % ${PolyHash.Mod} AS skey
       |           FROM documents),
       |r AS (SELECT doc_id, source, skey,
       |        CAST(row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS BIGINT) - 1 AS r
       |      FROM d),
       |s AS (SELECT source,
       |        CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1 AS si,
       |        CAST(COUNT(*) OVER () AS BIGINT) AS k
       |      FROM (SELECT DISTINCT source FROM documents) t)
       |SELECT r.doc_id, r.source, r.r, s.si, r.r * s.k + s.si AS position
       |FROM r JOIN s USING (source)
       |WHERE r.r * s.k + s.si < 60 ORDER BY position""".stripMargin
  }

  /** Deterministic train/val/test split (80/10/10 by affine hash of
    * doc_id — reproducible across runs, engines, partitionings; the same
    * seeded-hash discipline as leakage_audit/group_kfold) with the
    * per-language stratification audit: per (lang, split) doc/token
    * counts and the split's share WITHIN its language — the check that
    * a hash split didn't skew any language's evaluation slice. One
    * (lang, split) aggregate; the share window runs over ≤3 rows per
    * language. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(7)
    val m = PolyHash.Mod
    val bucket = pmod(col("doc_id") * a + b, lit(m)) % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    Tables.documents(spark, dir)
      .select(col("lang"), split.as("split"),
        size(graft.operators.TextOps.words(col("text"))).cast("bigint").as("nt"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .withColumn("lang_share", col("n_docs").cast("double") /
        sum("n_docs").over(Window.partitionBy("lang")).cast("double"))
  }

  val datasetSplitSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(7)
    s"""WITH d AS (
       |  SELECT lang,
       |    CASE WHEN (doc_id * ${a} + ${b}) % ${PolyHash.Mod} % 100 < 80 THEN 'train'
       |         WHEN (doc_id * ${a} + ${b}) % ${PolyHash.Mod} % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS nt
       |  FROM documents),
       |g AS (SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
       |      FROM d GROUP BY lang, split)
       |SELECT lang, split, n_docs, n_tokens,
       |  CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS lang_share
       |FROM g ORDER BY lang, split""".stripMargin
  }

  /** Per-source HLL distinct-token estimate — `hll_distinct`'s 64-register
    * sketch GROUPED by source, demonstrating the property that makes HLL
    * the scale tool: registers are mergeable under MAX across any
    * partitioning, so the per-group sketch is one map-side-combined
    * (source, bucket) aggregate — 64 rows per source per task on the
    * wire — followed by a ≤64-row-per-source harmonic fold. The 2^-rho
    * terms are exact powers of two, so the estimate is IEEE-exact
    * cross-engine like the global sketch. */
  def hllBySource(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir).select(col("source"),
      explode(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")).as("term"))
    val h = PolyHash.hash(col("term"))
    val withH = terms.select(col("source"), h.as("h"))
      .select(col("source"), pmod(col("h"), lit(64)).as("bucket"),
        expr("h div 64").as("w"))
    val rho = when(col("w") === 0, lit(25))
      .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1) + 1)
    withH.select(col("source"), col("bucket"), rho.as("rho"))
      .groupBy("source", "bucket")
      .agg(max(col("rho")).as("max_rho"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_used"),
        sum(pow(lit(2.0), -col("max_rho"))).as("s_present"))
      .select(col("source"), col("n_used"),
        (lit(0.709) * 64 * 64 / (col("s_present") + (lit(64) - col("n_used")))).as("estimate"))
  }

  val hllBySourceSql: String =
    s"""WITH t AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
       |h AS (SELECT source, list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term,''), c -> ascii(c)::BIGINT)),
       |                         (a,b) -> (a*31+b) % ${PolyHash.Mod}) AS hv FROM t),
       |r AS (SELECT source, hv % 64 AS bucket,
       |        CASE WHEN hv // 64 = 0 THEN 25
       |             ELSE bit_count(((hv // 64) & -(hv // 64)) - 1) + 1 END AS rho
       |      FROM h),
       |regs AS (SELECT source, bucket, MAX(rho) AS max_rho FROM r GROUP BY source, bucket)
       |SELECT source, COUNT(*) AS n_used,
       |  0.709::DOUBLE * 64 * 64 / (SUM(pow(2, -max_rho)) + (64 - COUNT(*))) AS estimate
       |FROM regs GROUP BY source ORDER BY source""".stripMargin

  /** HLL set algebra across sources: estimated distinct-token union,
    * intersection (inclusion–exclusion), and Jaccard for every source
    * pair — cross-source overlap WITHOUT any token-level join, from 64
    * bytes of mergeable state per source. This is the O(1)-state
    * companion to `source_minhash_overlap`'s exact audit: at 100 TB the
    * registers max-merge map-side, the pair step touches only
    * |sources|² × 64 register rows, and the corpus is read once. Pair
    * membership is an EXPLODED equi-join (pair → its two members), so
    * no cartesian/BNLJ appears; per-source and union estimates use the
    * same exact-dyadic harmonic fold as `hll_by_source`, and the
    * inclusion–exclusion arithmetic is ordered identically cross-engine. */
  def hllSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir).select(col("source"),
      explode(org.apache.spark.sql.functions.filter(split(col("text"), " "), w => w =!= "")).as("term"))
    val h = PolyHash.hash(col("term"))
    val rho = when(col("w") === 0, lit(25))
      .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1) + 1)
    val regs = graft.GraftCaches.track(
      terms.select(col("source"), h.as("h"))
        .select(col("source"), pmod(col("h"), lit(64)).as("bucket"),
          expr("h div 64").as("w"))
        .select(col("source"), col("bucket"), rho.as("rho"))
        .groupBy("source", "bucket")
        .agg(max(col("rho")).as("max_rho")))
    def estimate(grouped: DataFrame, keys: Seq[String]): DataFrame =
      grouped.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_used"),
          sum(pow(lit(2.0), -col("max_rho"))).as("s_present"))
        .select(keys.map(col) :+
          (lit(0.709) * 64 * 64 / (col("s_present") + (lit(64) - col("n_used"))))
            .as("estimate"): _*)
    val est = estimate(regs, Seq("source"))
    val pairs = est.select(col("source").as("s1"))
      .join(broadcast(est.select(col("source").as("s2"))), col("s1") < col("s2"))
    val membership = pairs.select(col("s1"), col("s2"),
      explode(array(col("s1"), col("s2"))).as("source"))
    val unionEst = estimate(
      regs.join(broadcast(membership), "source")
        .groupBy("s1", "s2", "bucket")
        .agg(max(col("max_rho")).as("max_rho")),
      Seq("s1", "s2"))
      .withColumnRenamed("estimate", "est_union")
    unionEst
      .join(broadcast(est.select(col("source").as("s1"), col("estimate").as("est_a"))), "s1")
      .join(broadcast(est.select(col("source").as("s2"), col("estimate").as("est_b"))), "s2")
      .withColumn("est_inter", col("est_a") + col("est_b") - col("est_union"))
      .select(col("s1"), col("s2"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"),
        (col("est_inter") / col("est_union")).as("jaccard"))
  }

  val hllSourceOverlapSql: String =
    s"""WITH t AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
       |h AS (SELECT source, list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term,''), c -> ascii(c)::BIGINT)),
       |                         (a,b) -> (a*31+b) % ${PolyHash.Mod}) AS hv FROM t),
       |r AS (SELECT source, hv % 64 AS bucket,
       |        CASE WHEN hv // 64 = 0 THEN 25
       |             ELSE bit_count(((hv // 64) & -(hv // 64)) - 1) + 1 END AS rho
       |      FROM h),
       |regs AS (SELECT source, bucket, MAX(rho) AS max_rho FROM r GROUP BY source, bucket),
       |est AS (SELECT source,
       |          0.709::DOUBLE * 64 * 64 / (SUM(pow(2, -max_rho)) + (64 - COUNT(*))) AS estimate
       |        FROM regs GROUP BY source),
       |pairs AS (SELECT a.source AS s1, b.source AS s2
       |          FROM est a, est b WHERE a.source < b.source),
       |u AS (SELECT p.s1, p.s2, r.bucket, MAX(r.max_rho) AS max_rho
       |      FROM pairs p JOIN regs r ON r.source = p.s1 OR r.source = p.s2
       |      GROUP BY p.s1, p.s2, r.bucket),
       |uest AS (SELECT s1, s2,
       |           0.709::DOUBLE * 64 * 64 / (SUM(pow(2, -max_rho)) + (64 - COUNT(*))) AS est_union
       |         FROM u GROUP BY s1, s2)
       |SELECT s1, s2, ea.estimate AS est_a, eb.estimate AS est_b, est_union,
       |       ea.estimate + eb.estimate - est_union AS est_inter,
       |       (ea.estimate + eb.estimate - est_union) / est_union AS jaccard
       |FROM uest
       |JOIN est ea ON ea.source = s1
       |JOIN est eb ON eb.source = s2
       |ORDER BY s1, s2""".stripMargin

  /** Exact tie-aware ROC-AUC of the quality score against the
    * lang='en' label — the language-bias audit of the (English-
    * stopword-based) quality composite: AUC ≫ 0.5 quantifies exactly
    * how anglocentric the heuristic filter is, the fairness check a
    * multilingual curation pipeline publishes. AUC is the Mann-Whitney
    * rank-sum with midranks for ties, kept ENTIRELY in integer
    * arithmetic until one final division (2·ΣR⁺ = Σ nⁱ⁺·(2·cum_below +
    * nⁱ + 1) over distinct quantized score levels) — bit-exact
    * cross-engine, no libm. Scale shape: one score-level aggregate, a
    * PrefixScan over the ≤1e6-level relation, and a 1-row fold — the
    * corpus never passes through a global rank window. */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val quality = least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
      (col("n_stop").cast("double") / col("n_tokens")) * 0.5
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), nTokens.as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(floor(quality * 1000000.0).cast("bigint").as("qkey"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val per = d.groupBy("qkey")
      .agg(count(lit(1)).as("n"), sum("pos").as("npos"))
    graft.operators.PrefixScan
      .runningSum(per, Nil, "n", "cum", col("qkey"))
      .select(col("npos"), col("n"), (col("cum") - col("n")).as("cumb"))
      .agg(sum("npos").as("n_pos"), sum(col("n") - col("npos")).as("n_neg"),
        sum(col("npos") * (lit(2L) * col("cumb") + col("n") + 1L)).as("r2"))
      .select(col("n_pos"), col("n_neg"),
        (col("r2") - col("n_pos") * (col("n_pos") + 1L)).as("u_stat2"),
        ((col("r2") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  val qualityAucSql: String =
    """WITH q AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |l AS (
      |  SELECT CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5 +
      |           (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000000.0) AS BIGINT) AS qkey,
      |    CASE WHEN lang = 'en' THEN 1::BIGINT ELSE 0::BIGINT END AS pos
      |  FROM q),
      |per AS (SELECT qkey, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS npos
      |        FROM l GROUP BY qkey),
      |c AS (SELECT npos, n,
      |        CAST(SUM(n) OVER (ORDER BY qkey ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS cumb
      |      FROM per),
      |f AS (SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
      |             CAST(SUM(n - npos) AS BIGINT) AS n_neg,
      |             CAST(SUM(npos * (2 * cumb + n + 1)) AS BIGINT) AS r2
      |      FROM c)
      |SELECT n_pos, n_neg, r2 - n_pos * (n_pos + 1) AS u_stat2,
      |  CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
      |    CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM f""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift statistic between the quality
    * distributions of two corpus cohorts (even vs odd doc_id — the
    * old/new snapshot split, like embedding_drift) — the distribution-
    * shift gate a retraining pipeline checks before trusting a new
    * crawl. D = max |F_a − F_b| over distinct quantized score levels:
    * integer cumulative counts via PrefixScan (the level relation, not
    * the corpus, carries the running sums), per-level CDFs as two fixed
    * IEEE divisions against the 1-row cohort totals, and the argmax
    * resolved by (D desc, level asc) limit 1 — deterministic,
    * hash-exact. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val quality = least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
      (col("n_stop").cast("double") / col("n_tokens")) * 0.5
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), nTokens.as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(floor(quality * 1000000.0).cast("bigint").as("qkey"),
        when(pmod(col("doc_id"), lit(2)) === 0, 1L).otherwise(0L).as("a"),
        when(pmod(col("doc_id"), lit(2)) === 1, 1L).otherwise(0L).as("b"))
    val per = d.groupBy("qkey")
      .agg(sum("a").as("na"), sum("b").as("nb"))
    // ONE two-column prefix scan (guide §1.2/§2.4): two chained
    // single-column scans paid two range shuffles + pins +
    // totals collects over the same level relation, and the separate
    // `tot` aggregate re-executed the WHOLE document scan (regexp pass
    // included) because `per` sat un-cached. The combined scan computes
    // both cumulative counts in one pass and its totals collect already
    // knows the cohort totals — inlined as literals, so the
    // crossJoin(broadcast(tot)) exchange is gone too. Same rows, same
    // doubles (lit(ta) is the identical BIGINT the old `tot` carried).
    val (c2, totals) = graft.operators.PrefixScan.runningSums(
      per, Nil, Seq("na" -> "cum_a", "nb" -> "cum_b"), col("qkey"))
    val t = totals.first()
    val (ta, tb) = (t.getLong(0), t.getLong(1))
    c2.select(col("qkey"), lit(ta).as("n_a"), lit(tb).as("n_b"),
        abs(col("cum_a").cast("double") / lit(ta).cast("double") -
          col("cum_b").cast("double") / lit(tb).cast("double")).as("d"))
      .orderBy(col("d").desc, col("qkey").asc)
      .limit(1)
      .select(col("qkey").as("ks_at"), col("n_a"), col("n_b"),
        col("d").as("ks_stat"))
  }

  val ksDriftSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |l AS (
      |  SELECT CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5 +
      |           (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000000.0) AS BIGINT) AS qkey,
      |    CASE WHEN doc_id % 2 = 0 THEN 1::BIGINT ELSE 0::BIGINT END AS a,
      |    CASE WHEN doc_id % 2 = 1 THEN 1::BIGINT ELSE 0::BIGINT END AS b
      |  FROM q),
      |per AS (SELECT qkey, CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
      |        FROM l GROUP BY qkey),
      |c AS (SELECT qkey,
      |        CAST(SUM(na) OVER w AS BIGINT) AS cum_a,
      |        CAST(SUM(nb) OVER w AS BIGINT) AS cum_b
      |      FROM per WINDOW w AS (ORDER BY qkey ROWS UNBOUNDED PRECEDING)),
      |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM per)
      |SELECT qkey AS ks_at, ta AS n_a, tb AS n_b,
      |  abs(CAST(cum_a AS DOUBLE) / CAST(ta AS DOUBLE) -
      |      CAST(cum_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS ks_stat
      |FROM c CROSS JOIN tot
      |ORDER BY ks_stat DESC, ks_at ASC LIMIT 1""".stripMargin

  /** ROUGE-1/ROUGE-2 recall for a deterministic reference↔candidate
    * pairing (doc d ≥ 250 scored against reference d−250) — the
    * summarization/generation eval metric expressed as a dataflow:
    * distinct unigram/bigram hash sets built scan-side with array HOFs
    * (no token explode), ONE id equi-join to align each pair, and the
    * overlap counts via array_intersect — exact integer counts, one
    * IEEE division per metric. At eval scale the join carries two hash
    * arrays per pair, never token rows. */
  def rougePairs(spark: SparkSession, dir: String): DataFrame = {
    val uni = array_distinct(transform(graft.operators.TextOps.words(col("text")),
      w => PolyHash.hash(w)))
    val ws = graft.operators.TextOps.words(col("text"))
    val bi = array_distinct(transform(
      zip_with(slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      g => PolyHash.hash(g)))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), uni.as("uni"), bi.as("bi"))
    val cand = d.filter(col("doc_id") >= 250)
      .select(col("doc_id").as("cand_id"), (col("doc_id") - 250).as("ref_id"),
        col("uni").as("c_uni"), col("bi").as("c_bi"))
    cand.join(d.select(col("doc_id").as("ref_id"), col("uni").as("r_uni"),
        col("bi").as("r_bi")), "ref_id")
      .select(col("ref_id"), col("cand_id"),
        size(array_intersect(col("c_uni"), col("r_uni"))).cast("bigint").as("n1_overlap"),
        size(col("r_uni")).cast("bigint").as("n1_ref"),
        (size(array_intersect(col("c_uni"), col("r_uni"))).cast("double") /
          size(col("r_uni")).cast("double")).as("rouge1_recall"),
        size(array_intersect(col("c_bi"), col("r_bi"))).cast("bigint").as("n2_overlap"),
        size(col("r_bi")).cast("bigint").as("n2_ref"),
        (size(array_intersect(col("c_bi"), col("r_bi"))).cast("double") /
          greatest(size(col("r_bi")), lit(1)).cast("double")).as("rouge2_recall"))
  }

  val rougePairsSql: String = {
    val m = PolyHash.Mod
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(ws, w ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                  (a,b) -> (a*31+b) % $m))) AS uni,
       |    list_distinct(list_transform(
       |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]), gg ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(string_split(gg,''), c -> ascii(c)::BIGINT)),
       |                  (a,b) -> (a*31+b) % $m))) AS bi
       |  FROM t)
       |SELECT r.doc_id AS ref_id, c.doc_id AS cand_id,
       |  CAST(len(list_intersect(c.uni, r.uni)) AS BIGINT) AS n1_overlap,
       |  CAST(len(r.uni) AS BIGINT) AS n1_ref,
       |  CAST(len(list_intersect(c.uni, r.uni)) AS DOUBLE) /
       |    CAST(len(r.uni) AS DOUBLE) AS rouge1_recall,
       |  CAST(len(list_intersect(c.bi, r.bi)) AS BIGINT) AS n2_overlap,
       |  CAST(len(r.bi) AS BIGINT) AS n2_ref,
       |  CAST(len(list_intersect(c.bi, r.bi)) AS DOUBLE) /
       |    CAST(greatest(len(r.bi), 1) AS DOUBLE) AS rouge2_recall
       |FROM g c JOIN g r ON r.doc_id = c.doc_id - 250
       |WHERE c.doc_id >= 250 ORDER BY cand_id""".stripMargin
  }

  /** Cross-lingual gram-overlap matrix: for every language pair, the
    * count and Jaccard of SHARED distinct 3-gram shingles — the
    * cross-language contamination/code-switching audit (a high overlap
    * between two languages' gram inventories means boilerplate or
    * mislabeled text bleeding across lang buckets). The inverted-index
    * shape: distinct (lang, gram) rows self-join ON THE GRAM (each
    * gram's posting list is bounded by |langs|, so the join output is
    * ≤ C(|langs|,2) per gram — never quadratic in docs), then one
    * lang-pair aggregate; per-lang inventory sizes broadcast back onto
    * the ≤ C(|langs|,2)-row matrix. */
  def langGramOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lg = graft.GraftCaches.track(
      Tables.documents(spark, dir)
        .filter(size(graft.operators.TextOps.words(col("text"))) >= 3)
        .select(col("lang"),
          explode(graft.operators.TextOps.shingleHashes(
            graft.operators.TextOps.words(col("text")))).as("g"))
        .distinct())
    val per = lg.groupBy("lang").agg(count(lit(1)).as("n_grams"))
    val shared = lg.as("a").join(lg.as("b"),
        col("a.g") === col("b.g") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(per.select(col("lang").as("lang_a"), col("n_grams").as("na"))), "lang_a")
      .join(broadcast(per.select(col("lang").as("lang_b"), col("n_grams").as("nb"))), "lang_b")
      .select(col("lang_a"), col("lang_b"), col("n_shared"), col("na"), col("nb"),
        (col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double")).as("jaccard"))
  }

  val langGramOverlapSql: String = {
    val m = PolyHash.Mod
    s"""WITH t AS (
       |  SELECT lang, list_filter(string_split(text, ' '), x -> x != '') AS ws
       |  FROM documents),
       |wt AS (
       |  SELECT lang,
       |    list_transform(ws, w ->
       |      list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
       |                  (a,b) -> (a*31+b) % $m)) AS whs
       |  FROM t WHERE len(ws) >= 3),
       |lg AS MATERIALIZED (
       |  SELECT DISTINCT lang,
       |    unnest(list_transform(range(1, len(whs)-1),
       |      i -> ((whs[i]*31 + whs[i+1]) % $m * 31 + whs[i+2]) % $m)) AS g
       |  FROM wt),
       |per AS (SELECT lang, COUNT(*) AS n_grams FROM lg GROUP BY lang),
       |sh AS (SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_shared
       |       FROM lg a JOIN lg b ON a.g = b.g AND a.lang < b.lang
       |       GROUP BY a.lang, b.lang)
       |SELECT lang_a, lang_b, n_shared, pa.n_grams AS na, pb.n_grams AS nb,
       |  CAST(n_shared AS DOUBLE) / CAST(pa.n_grams + pb.n_grams - n_shared AS DOUBLE) AS jaccard
       |FROM sh JOIN per pa ON pa.lang = sh.lang_a JOIN per pb ON pb.lang = sh.lang_b
       |ORDER BY lang_a, lang_b""".stripMargin
  }

  /** Collocation mining by LIFT — the log-free PMI ratio
    * p(ab) / (p(a)·p(b)): bigrams occurring ≥5× ranked by how much more
    * often they co-occur than independence predicts. Log-free keeps the
    * score one fixed-order chain of IEEE divisions (the repo exactness
    * discipline — same ranking as PMI, bit-equal cross-engine). Shape:
    * the bigram and unigram aggregates are map-side-combined
    * (heavy-hitter keys combine by definition), counts join back on the
    * WORD (vocabulary-sized, AQE-broadcastable), scalars ride a 1-row
    * cross-broadcast, and the top-20 is TakeOrdered — no global sort
    * materialization. */
  def bigramLift(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    val pairs = Tables.documents(spark, dir)
      .select(explode(zip_with(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val uni = graft.GraftCaches.track(
      Tables.documents(spark, dir)
        .select(explode(ws).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw")))
    val bi = pairs.groupBy("wa", "wb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    val tot = uni.agg(sum("nw").as("t_uni"))
      .crossJoin(pairs.agg(count(lit(1)).as("t_bi")))
    bi.join(uni.select(col("w").as("wa"), col("nw").as("n_a")), "wa")
      .join(uni.select(col("w").as("wb"), col("nw").as("n_b")), "wb")
      .crossJoin(broadcast(tot))
      .select(col("wa"), col("wb"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") / col("t_bi").cast("double")) /
          ((col("n_a").cast("double") / col("t_uni").cast("double")) *
            (col("n_b").cast("double") / col("t_uni").cast("double")))).as("lift"))
      .orderBy(col("lift").desc, col("wa").asc, col("wb").asc)
      .limit(20)
  }

  val bigramLiftSql: String =
    """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws FROM documents),
      |pr AS (SELECT ws[i] AS wa, ws[i+1] AS wb
      |       FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM t) x),
      |uni AS (SELECT w, COUNT(*) AS nw FROM (SELECT unnest(ws) AS w FROM t) u GROUP BY w),
      |bi AS (SELECT wa, wb, COUNT(*) AS n_ab FROM pr GROUP BY wa, wb HAVING COUNT(*) >= 5),
      |tot AS (SELECT (SELECT CAST(SUM(nw) AS BIGINT) FROM uni) AS t_uni,
      |               (SELECT COUNT(*) FROM pr) AS t_bi)
      |SELECT wa, wb, n_ab, a.nw AS n_a, b.nw AS n_b,
      |  (CAST(n_ab AS DOUBLE) / CAST(t_bi AS DOUBLE)) /
      |    ((CAST(a.nw AS DOUBLE) / CAST(t_uni AS DOUBLE)) *
      |     (CAST(b.nw AS DOUBLE) / CAST(t_uni AS DOUBLE))) AS lift
      |FROM bi JOIN uni a ON a.w = bi.wa JOIN uni b ON b.w = bi.wb CROSS JOIN tot
      |ORDER BY lift DESC, wa ASC, wb ASC LIMIT 20""".stripMargin

  /** KV-cache prefix-sharing audit: documents sharing an identical
    * 8-token prefix form a cache-hit group — (n−1)·8 prefix tokens per
    * group are served from cache instead of recomputed, the
    * serving-side planning stat behind prefix caching / radix-attention
    * batching. One prefix-keyed map-side-combined aggregate; the
    * shuffle carries (prefix, count), never documents. */
  def prefixShare(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    Tables.documents(spark, dir)
      .filter(size(ws) >= 8)
      .select(array_join(slice(ws, lit(1), lit(8)), " ").as("prefix"))
      .groupBy("prefix").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("prefix"), col("n_docs"),
        ((col("n_docs") - 1L) * 8L).as("tokens_saved"))
  }

  val prefixShareSql: String =
    """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws FROM documents),
      |p AS (SELECT array_to_string(list_slice(ws, 1, 8), ' ') AS prefix FROM t WHERE len(ws) >= 8),
      |g AS (SELECT prefix, COUNT(*) AS n_docs FROM p GROUP BY prefix HAVING COUNT(*) >= 2)
      |SELECT prefix, n_docs, CAST((n_docs - 1) * 8 AS BIGINT) AS tokens_saved
      |FROM g ORDER BY n_docs DESC, prefix ASC""".stripMargin

  /** Calibration-bin readout (the per-bin view behind expected
    * calibration error): treat the shared quality composite as the
    * "confidence" that a document is English (the label `quality_auc`
    * audits), bucket into 11 deciles of the micro-quantized score, and
    * compare per-bin mean confidence against observed accuracy — the
    * reliability-diagram relation of a heuristic classifier. All bin
    * content is integer (counts + summed micro-scores); the three
    * divisions happen once per bin in a fixed order, and the share
    * window runs over the ≤11-row bin relation. ONE bin-keyed
    * map-side-combined aggregate over the corpus. */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val quality = least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
      (col("n_stop").cast("double") / col("n_tokens")) * 0.5
    Tables.documents(spark, dir)
      .select(col("lang"), nTokens.as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(floor(quality * 1000000.0).cast("bigint").as("qmicro"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("qmicro div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        sum("qmicro").as("sum_qmicro"))
      .withColumn("share", col("n").cast("double") /
        sum("n").over(Window.partitionBy()).cast("double"))
      .withColumn("mean_conf",
        col("sum_qmicro").cast("double") / col("n").cast("double") / 1000000.0)
      .withColumn("accuracy", col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("gap", abs(col("accuracy") - col("mean_conf")))
  }

  val calibrationBinsSql: String =
    """WITH q AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |l AS (
      |  SELECT CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5 +
      |           (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000000.0) AS BIGINT) AS qmicro,
      |    CASE WHEN lang = 'en' THEN 1::BIGINT ELSE 0::BIGINT END AS pos
      |  FROM q),
      |b AS (
      |  SELECT CAST(qmicro // 100000 AS BIGINT) AS bin, COUNT(*) AS n,
      |         CAST(SUM(pos) AS BIGINT) AS n_pos,
      |         CAST(SUM(qmicro) AS BIGINT) AS sum_qmicro
      |  FROM l GROUP BY 1)
      |SELECT bin, n, n_pos, sum_qmicro,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
      |  CAST(sum_qmicro AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_conf,
      |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
      |  abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
      |      CAST(sum_qmicro AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0) AS gap
      |FROM b ORDER BY bin""".stripMargin

  /** Cohen's kappa between two independent curation screens — the
    * inter-rater-agreement statistic that tells a pipeline owner whether
    * a cheap filter (length >= 25 tokens) and an expensive one (quality
    * composite >= 0.5) are measuring the same thing or should both run.
    * The 2×2 confusion cells come from ONE map-side-combined conditional
    * aggregate (a scan plus a 1-row fold at any corpus size); po / pe /
    * kappa are built from integer cells with correctly-rounded IEEE
    * divisions in the same expression-tree order on both engines. */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val quality = least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
      (col("n_stop").cast("double") / col("n_tokens")) * 0.5
    val cells = Tables.documents(spark, dir)
      .select(nTokens.as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select((col("n_tokens") >= 25L).as("a"),
        (floor(quality * 1000000.0).cast("bigint") >= 500000L).as("b"))
      .agg(
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val po = (col("n11") + col("n00")).cast("double") / n.cast("double")
    val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double") /
      (n * n).cast("double")
    cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
      po.as("po"), pe.as("pe"), ((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  val cohenKappaSql: String =
    """WITH q AS (
      |  SELECT len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |         len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |r AS (
      |  SELECT n_tokens >= 25 AS a,
      |    CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5 +
      |      (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000000.0) AS BIGINT) >= 500000 AS b
      |  FROM q),
      |c AS (
      |  SELECT CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |         CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |         CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |         CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM r)
      |SELECT n11, n10, n01, n00,
      |  CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
      |  CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE) /
      |    CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00) AS DOUBLE) AS pe,
      |  (CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) -
      |   CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE) /
      |     CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00) AS DOUBLE)) /
      |  (1.0 -
      |   CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE) /
      |     CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00) AS DOUBLE)) AS kappa
      |FROM c""".stripMargin

  /** Vocabulary-growth (Heaps-law) curve over 3-gram types: bucket
    * documents into 50-doc-id cohorts and count the distinct 3-grams
    * whose FIRST occurrence falls in each cohort, plus the running
    * vocabulary size — the diminishing-returns view that answers "does
    * more data still add new phrases?" (unigrams saturate instantly on
    * any corpus; 3-gram types keep growing, which is also why n-gram LMs
    * and dedup shingles use them). Per-gram first-doc is one gram-keyed
    * aggregate (the vocab_build shuffle shape); the running total over
    * the ≤|corpus|/50-row bucket relation goes through PrefixScan's
    * distributed two-phase sum, never a single global partition. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    val grams = transform(sequence(lit(1), size(col("ws")) - 2),
      i => concat_ws(" ", element_at(col("ws"), i),
        element_at(col("ws"), i + 1), element_at(col("ws"), i + 2)))
    val perBucket = Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(grams).as("gram"))
      .groupBy("gram").agg(min("doc_id").as("first_doc"))
      .groupBy(expr("first_doc div 50").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    graft.operators.PrefixScan
      .runningSum(perBucket, Nil, "new_types", "cum_types", col("bucket"))
  }

  val vocabGrowthSql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      |  FROM d WHERE len(ws) >= 3),
      |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
      |b AS (SELECT CAST(first_doc // 50 AS BIGINT) AS bucket,
      |             COUNT(*) AS new_types
      |      FROM f GROUP BY 1)
      |SELECT bucket, new_types,
      |  CAST(SUM(new_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum_types
      |FROM b ORDER BY bucket""".stripMargin

  /** Type-token ratio per source — the lexical-diversity screen that
    * flags template/boilerplate-heavy sources (low TTR) before they
    * dilute a training mix. Distinct types per source collapse in a
    * (source, token)-keyed aggregate BEFORE the per-source fold, so the
    * second shuffle carries one row per distinct pair, not one per
    * occurrence; the division happens once per source row. */
  def ttrBySource(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("n").as("n_tokens"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens").cast("double"))
  }

  val ttrBySourceSql: String =
    """WITH t AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
      |  FROM documents),
      |p AS (SELECT source, w, COUNT(*) AS n FROM t GROUP BY source, w)
      |SELECT source, COUNT(*) AS n_types, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS ttr
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** Chi-squared independence audit of the lang × source contingency —
    * "is language balance uniform across sources, or does some source
    * skew the mix?" (the stratification check behind dataset_split /
    * temperature_mix). Observed cells come from ONE map-side-combined
    * aggregate; row/column/grand totals and the χ² contribution
    * ((O·N − R·C)² / (N·R·C), the O/E form cleared of early divisions so
    * everything but the last step stays integer) are windows over the
    * ≤|langs|·|sources|-row cell relation. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .withColumn("r", sum("o").over(Window.partitionBy("lang")))
      .withColumn("c", sum("o").over(Window.partitionBy("source")))
      .withColumn("n", sum("o").over(Window.partitionBy()))
    val dev = col("o") * col("n") - col("r") * col("c")
    cells
      .withColumn("expected",
        (col("r") * col("c")).cast("double") / col("n").cast("double"))
      .withColumn("contrib", (dev * dev).cast("double") /
        (col("n") * col("r") * col("c")).cast("double"))
      // The χ² total sums per-cell doubles; IEEE addition order differs
      // between engines, so sum picofloored integers (exact, order-free)
      // and divide once — the repo-wide exactness discipline.
      .withColumn("chi2_pico",
        sum(floor(col("contrib") * 1e12).cast("bigint")).over(Window.partitionBy()))
      .withColumn("chi2", col("chi2_pico").cast("double") / 1e12)
  }

  val chi2IndependenceSql: String =
    """WITH g AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
      |w AS (
      |  SELECT lang, source, o,
      |    CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS r,
      |    CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS c,
      |    CAST(SUM(o) OVER () AS BIGINT) AS n
      |  FROM g),
      |e AS (
      |  SELECT lang, source, o, r, c, n,
      |    CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
      |    CAST((o * n - r * c) * (o * n - r * c) AS DOUBLE) /
      |      CAST(n * r * c AS DOUBLE) AS contrib
      |  FROM w)
      |SELECT lang, source, o, r, c, n, expected, contrib,
      |  CAST(SUM(CAST(floor(contrib * 1000000000000.0) AS BIGINT)) OVER () AS BIGINT)
      |    AS chi2_pico,
      |  CAST(SUM(CAST(floor(contrib * 1000000000000.0) AS BIGINT)) OVER () AS DOUBLE)
      |    / 1000000000000.0 AS chi2
      |FROM e ORDER BY lang, source""".stripMargin

  /** Bloom-filter membership screen with its measured quality
    * ([[graft.operators.Sketches.bloomSketch]]): build the 65536-bit /
    * 3-hash filter over the distinct 3-gram shingles of the EVEN-doc_id
    * corpus half, probe it with the odd half's shingles, and report the
    * observed false-positive rate against exact membership — the audit
    * that sizes the filter before it fronts an expensive exact-dedup or
    * decontamination join (the query-side twin of the scan-side runtime
    * bloom machinery). No false negatives by construction
    * (n_false_neg is pinned at 0). The register relation is ≤2048 rows
    * broadcast at the probe; exact membership is one hash-keyed join of
    * the two distinct-shingle relations; the trailing 1-row member-count
    * cross-broadcast is the whitelisted scalar shape. */
  def bloomFpr(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(graft.operators.TextOps.shingleHashes(col("ws"))).as("h"))
    val member = grams.filter(col("doc_id") % 2 === 0).select("h").distinct()
    val probe = grams.filter(col("doc_id") % 2 === 1).select("h").distinct()
    val sketch = graft.operators.Sketches.bloomSketch(member, "h")
    val flagged = graft.operators.Sketches.bloomProbe(sketch, probe, "h")
      .join(member.withColumn("is_member", lit(true)), Seq("h"), "left")
      .agg(count(lit(1)).as("n_probe"),
        sum(when(col("is_member").isNull, 1L).otherwise(0L)).as("n_nonmember"),
        sum(when(col("is_member").isNull && col("bloom_pos"), 1L).otherwise(0L)).as("n_fp"),
        sum(when(col("is_member").isNotNull && !col("bloom_pos"), 1L).otherwise(0L)).as("n_false_neg"))
    flagged.crossJoin(member.agg(count(lit(1)).as("n_member")))
      .select(col("n_member"), col("n_probe"), col("n_nonmember"), col("n_fp"),
        col("n_false_neg"),
        // NULL, not an ANSI divide-by-zero: on a saturated small-vocab
        // corpus every probe shingle can be a member (n_nonmember = 0 —
        // the sf1 scale run hit exactly this) and an undefined FPR is
        // the honest answer, not a crash. Oracle mirrors the CASE.
        when(col("n_nonmember") > 0,
          col("n_fp").cast("double") / col("n_nonmember").cast("double"))
          .as("fpr"))
  }

  val bloomFprSql: String =
    s"""WITH ${DedupQueries.shingleCte},
      |m AS (SELECT DISTINCT unnest(hs) AS h FROM w WHERE doc_id % 2 = 0),
      |p AS (SELECT DISTINCT unnest(hs) AS h FROM w WHERE doc_id % 2 = 1),
      |mb AS (SELECT unnest([
      |         (h * 961748941 + 68718952) % 1000000007 % 65536,
      |         (h * 824633761 + 90000049) % 1000000007 % 65536,
      |         (h * 715827883 + 13466917) % 1000000007 % 65536]) AS bit
      |       FROM m),
      |regs AS (SELECT bit // 32 AS reg,
      |           bit_or(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS bits
      |         FROM mb GROUP BY 1),
      |pb AS (SELECT h, unnest([
      |         (h * 961748941 + 68718952) % 1000000007 % 65536,
      |         (h * 824633761 + 90000049) % 1000000007 % 65536,
      |         (h * 715827883 + 13466917) % 1000000007 % 65536]) AS bit
      |       FROM p),
      |hits AS (
      |  SELECT pb.h,
      |    ((COALESCE(regs.bits, 0::BIGINT) >> CAST(pb.bit % 32 AS INTEGER)) & 1) = 1 AS hit
      |  FROM pb LEFT JOIN regs ON pb.bit // 32 = regs.reg),
      |byh AS (SELECT h, bool_and(hit) AS bloom_pos FROM hits GROUP BY h),
      |fl AS (SELECT byh.h, bloom_pos, m.h IS NOT NULL AS is_member
      |       FROM byh LEFT JOIN m ON byh.h = m.h),
      |a AS (
      |  SELECT COUNT(*) AS n_probe,
      |    CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_nonmember,
      |    CAST(SUM(CASE WHEN NOT is_member AND bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
      |    CAST(SUM(CASE WHEN is_member AND NOT bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
      |  FROM fl),
      |mc AS (SELECT COUNT(*) AS n_member FROM m)
      |SELECT n_member, n_probe, n_nonmember, n_fp, n_false_neg,
      |  CASE WHEN n_nonmember > 0
      |       THEN CAST(n_fp AS DOUBLE) / CAST(n_nonmember AS DOUBLE) END AS fpr
      |FROM a, mc""".stripMargin

  /** Rank-based quantile normalization of the quality composite WITHIN
    * each source — the cross-source fairness transform: raw quality
    * scores are not comparable across sources (different length/stopword
    * regimes), but each doc's within-source quantile is. Emits
    * q_uniform = (2·rank − 1) / (2·n) ∈ (0,1) (the midpoint convention),
    * deterministic via the (score, doc_id) total order. Ranks ride the
    * grouped PrefixScan (no task holds a whole source); a single
    * end-stage division. Feeds source-balanced threshold filters where
    * a global cut would silently drop whole sources. */
  def quantileTransform(spark: SparkSession, dir: String): DataFrame = {
    // Per-source ranks ride the GROUPED PrefixScan: a source-partitioned
    // window would put |docs|/|sources| rows in one task.
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val quality = least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
      (col("n_stop").cast("double") / col("n_tokens")) * 0.5
    val scored = graft.GraftCaches.track(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), nTokens.as("n_tokens"),
          regexp_count(col("text"), lit(enRx)).as("n_stop"))
        .select(col("doc_id"), col("source"),
          floor(quality * 1000000.0).cast("bigint").as("qmicro"),
          lit(1L).as("one")))
    val ranked = graft.operators.PrefixScan.runningSum(
      scored, Seq("source"), "one", "rank", col("qmicro"), col("doc_id"))
    val n = scored.groupBy("source").agg(count(lit(1)).as("n"))
    ranked.drop("one").join(broadcast(n), "source")
      .withColumn("q_uniform",
        (lit(2L) * col("rank") - 1L).cast("double") / (lit(2L) * col("n")).cast("double"))
  }

  val quantileTransformSql: String =
    """WITH q AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, source,
      |    CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5 +
      |      (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000000.0) AS BIGINT) AS qmicro
      |  FROM q)
      |SELECT doc_id, source, qmicro,
      |  CAST(row_number() OVER (PARTITION BY source ORDER BY qmicro, doc_id) AS BIGINT)
      |    AS rank,
      |  COUNT(*) OVER (PARTITION BY source) AS n,
      |  CAST(2 * row_number() OVER (PARTITION BY source ORDER BY qmicro, doc_id) - 1
      |       AS DOUBLE) / CAST(2 * COUNT(*) OVER (PARTITION BY source) AS DOUBLE)
      |    AS q_uniform
      |FROM l""".stripMargin

  /** Curriculum mixing schedule: per-epoch source weights annealing
    * linearly from the uniform mix (epoch 0 — maximum diversity early)
    * to the quality-mass mix (epoch 2 — concentrate on high-quality
    * sources late), the data-side curriculum knob next to
    * temperature_mix's static reweighting. One source aggregate; the
    * quality-mass share rides the tiny single-partition totals window;
    * the 3-epoch explode multiplies only the ≤|sources|-row relation.
    * Fixed-order IEEE arithmetic: (1 − e/2)·(1/k) + (e/2)·share. */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    val quality = least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
      (col("n_stop").cast("double") / col("n_tokens")) * 0.5
    val src = Tables.documents(spark, dir)
      .select(col("source"), nTokens.as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(col("source"), floor(quality * 1000000.0).cast("bigint").as("qmicro"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("qmicro").as("q_mass"))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      .withColumn("share",
        col("q_mass").cast("double") / sum("q_mass").over(Window.partitionBy()).cast("double"))
    val anneal = col("epoch").cast("double") / 2.0
    src.select(col("source"), col("n_docs"), col("k"), col("share"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
      .select(col("epoch"), col("source"), col("n_docs"), col("share"),
        ((lit(1.0) - anneal) * (lit(1.0) / col("k").cast("double")) +
          anneal * col("share")).as("weight"))
  }

  val curriculumScheduleSql: String =
    """WITH q AS (
      |  SELECT source,
      |    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |  FROM documents),
      |l AS (
      |  SELECT source,
      |    CAST(floor((least(n_tokens / 50.0, 1.0) * 0.5 +
      |      (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5) * 1000000.0) AS BIGINT) AS qmicro
      |  FROM q),
      |s AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(qmicro) AS BIGINT) AS q_mass
      |  FROM l GROUP BY source),
      |t AS (
      |  SELECT source, n_docs,
      |    COUNT(*) OVER () AS k,
      |    CAST(q_mass AS DOUBLE) / CAST(SUM(q_mass) OVER () AS DOUBLE) AS share
      |  FROM s)
      |SELECT e.epoch, source, n_docs, share,
      |  (1.0 - CAST(e.epoch AS DOUBLE) / 2.0) * (1.0 / CAST(k AS DOUBLE)) +
      |    (CAST(e.epoch AS DOUBLE) / 2.0) * share AS weight
      |FROM t CROSS JOIN (SELECT unnest([0::BIGINT, 1::BIGINT, 2::BIGINT]) AS epoch) e
      |ORDER BY e.epoch, source""".stripMargin

  /** Sentence-level shape statistics — the quality axis gopher_quality's
    * word-level screens miss: sentence count (terminal-punctuation runs)
    * and words-per-sentence, flagging both fragment walls (huge w/s — no
    * sentence structure, e.g. log dumps / tag soup) and staccato spam
    * (tiny w/s). Scan-local regexp counts + one end-stage division —
    * zero data shuffles, codegen'd. */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(graft.operators.TextOps.words(col("text"))).cast("bigint")
    Tables.documents(spark, dir)
      .select(col("doc_id"), nTokens.as("n_tokens"),
        regexp_count(col("text"), lit("[.!?]+")).cast("bigint").as("n_sentences"))
      .withColumn("words_per_sentence",
        when(col("n_sentences") > 0L,
          col("n_tokens").cast("double") / col("n_sentences").cast("double")))
      .withColumn("fragment_flag",
        col("n_sentences") === 0L || col("words_per_sentence") > 80.0)
  }

  val sentenceStatsSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
      |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_sentences,
      |  CASE WHEN n_sentences > 0
      |       THEN CAST(n_tokens AS DOUBLE) / CAST(n_sentences AS DOUBLE) END
      |    AS words_per_sentence,
      |  (n_sentences = 0 OR
      |   CASE WHEN n_sentences > 0
      |        THEN CAST(n_tokens AS DOUBLE) / CAST(n_sentences AS DOUBLE) END > 80.0)
      |    AS fragment_flag
      |FROM s""".stripMargin

  /** Pseudo-relevance-feedback query expansion (RM3-lite): the top-5
    * co-occurring terms from each query term's bm25 top-10 documents —
    * the classic recall-widening step between first retrieval and
    * rerank (expanded terms feed a second bm25 pass). The expansion
    * candidate space is BOUNDED by construction: tokens of 10 docs per
    * query term, so the per-term ranking window never sees more than a
    * few hundred rows regardless of corpus size; the doc-id join against
    * the token stream broadcasts the 30-row candidate relation. Original
    * query terms are excluded from their own expansions. */
  def queryExpansion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qTerms = Seq("spark", "join", "vector")
    val cands = bm25Search(spark, dir).select(col("term"), col("doc_id"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
    val w = Window.partitionBy("term").orderBy(col("tf").desc, col("w").asc)
    toks.join(broadcast(cands), "doc_id")
      .filter(!col("w").isin(qTerms: _*))
      .groupBy("term", "w").agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("term"), col("w").as("exp_term"), col("tf"), col("rank"))
  }

  val queryExpansionSql: String =
    s"""WITH b AS (SELECT term, doc_id FROM ($bm25SearchSql) t),
       |tk AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |       FROM documents),
       |c AS (SELECT b.term, tk.w, COUNT(*) AS tf
       |      FROM tk JOIN b USING (doc_id)
       |      WHERE tk.w NOT IN ('spark', 'join', 'vector')
       |      GROUP BY b.term, tk.w),
       |r AS (SELECT term, w AS exp_term, tf,
       |        CAST(row_number() OVER (PARTITION BY term ORDER BY tf DESC, w ASC) AS BIGINT)
       |          AS rank
       |      FROM c)
       |SELECT term, exp_term, tf, rank FROM r
       |WHERE rank <= 5 ORDER BY term, rank""".stripMargin

  /** Search-result snippet extraction: for every bm25 hit, the ±2-token
    * window around the term's FIRST occurrence — the serving-side
    * result presentation step, done as pure array ops on the already-
    * matched (term, doc) pairs: the 30-row hit relation broadcasts onto
    * the document scan, the occurrence index is array_position, and the
    * window is one slice — no regex, no second search. Note the
    * LENGTH-vs-END-INDEX slice convention difference between engines is
    * absorbed here (Spark slice takes length; the oracle's list_slice
    * takes an end index). */
  def searchSnippets(spark: SparkSession, dir: String): DataFrame = {
    val cands = bm25Search(spark, dir).select(col("term"), col("rn"), col("doc_id"))
    val start = greatest(lit(1), col("pos") - 2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), graft.operators.TextOps.words(col("text")).as("ws"))
      .join(broadcast(cands), "doc_id")
      .withColumn("pos", array_position(col("ws"), col("term")))
      .select(col("term"), col("rn"), col("doc_id"), col("pos"),
        array_join(slice(col("ws"), start.cast("int"), lit(5)), " ").as("snippet"))
  }

  val searchSnippetsSql: String =
    s"""WITH b AS (SELECT term, rn, doc_id FROM ($bm25SearchSql) t),
       |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
       |      FROM documents),
       |s AS (SELECT b.term, b.rn, b.doc_id,
       |        CAST(list_position(d.ws, b.term) AS BIGINT) AS pos, d.ws
       |      FROM d JOIN b USING (doc_id))
       |SELECT term, rn, doc_id, pos,
       |  array_to_string(list_slice(ws, GREATEST(1, pos - 2), GREATEST(1, pos - 2) + 4), ' ')
       |    AS snippet
       |FROM s ORDER BY term, rn""".stripMargin

  /** Vocabulary-coverage curve: what share of all 3-gram OCCURRENCES the
    * top-k most frequent gram types cover, at fixed cutoffs — the
    * "how big must the vocab/cache be" readout (the companion to
    * vocab_growth's type-discovery curve: growth says how many types
    * exist, coverage says how few carry the mass). Frequency ranking
    * and the cumulative sum both run through PrefixScan's distributed
    * two-phase machinery over the (freq desc, gram) range partitioning —
    * the gram relation never collapses to one partition; totals ride
    * the whitelisted 1-row cross-broadcast. */
  def tokenCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    val grams = transform(sequence(lit(1), size(col("ws")) - 2),
      i => concat_ws(" ", element_at(col("ws"), i),
        element_at(col("ws"), i + 1), element_at(col("ws"), i + 2)))
    val freq = Tables.documents(spark, dir)
      .select(ws.as("ws")).filter(size(col("ws")) >= 3)
      .select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("freq"))
      .withColumn("one", lit(1L))
    // ONE two-column prefix scan (guide §1.2/§2.4, the ks_drift shape):
    // two chained single-column scans paid two range
    // shuffles + pins + totals collects over the same gram relation, and
    // the separate `tot` aggregate re-executed the WHOLE corpus gram
    // explode because `freq` sat un-cached. The combined scan computes
    // rank and cum_freq in one pass, and its totals collect already knows
    // sum(freq) and the type count — inlined as literals, so the
    // crossJoin(broadcast(tot)) is gone too. Same rows, same doubles
    // (lit(total) is the identical BIGINT the old `tot` carried).
    val (cum, grand) = graft.operators.PrefixScan.runningSums(
      freq, Nil, Seq("one" -> "rank", "freq" -> "cum_freq"),
      col("freq").desc, col("gram"))
    val g = grand.first()
    val (nTypes, total) = (g.getLong(0), g.getLong(1))
    cum.filter(col("rank").isin(100L, 500L, 1000L, 2000L, 5000L))
      .select(col("rank").as("top_k"), col("cum_freq"),
        lit(total).as("total"), lit(nTypes).as("n_types"),
        (col("cum_freq").cast("double") / lit(total).cast("double")).as("coverage"))
  }

  val tokenCoverageSql: String =
    """WITH d AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT unnest(list_transform(range(1, len(ws)-1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      |  FROM d WHERE len(ws) >= 3),
      |f AS (SELECT gram, COUNT(*) AS freq FROM g GROUP BY gram),
      |r AS (
      |  SELECT gram, freq,
      |    CAST(row_number() OVER (ORDER BY freq DESC, gram) AS BIGINT) AS rank,
      |    CAST(SUM(freq) OVER (ORDER BY freq DESC, gram
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq
      |  FROM f),
      |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total, COUNT(*) AS n_types FROM f)
      |SELECT rank AS top_k, cum_freq, total, n_types,
      |  CAST(cum_freq AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
      |FROM r CROSS JOIN t
      |WHERE rank IN (100, 500, 1000, 2000, 5000)
      |ORDER BY top_k""".stripMargin

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009): each
    * document's tokens fold into a FIXED 16-bucket count vector via the
    * engine's poly-hash — the unbounded-vocabulary-to-bounded-width map
    * that feeds linear models and collision-tolerant featurizers without
    * ever materializing a vocabulary (no dictionary state to ship at
    * 100 TB — the hash IS the dictionary). Emitted as the sparse
    * (doc_id, bucket, cnt) relation; ONE map-side-combined aggregate,
    * codegen'd end to end. */
  def featureHashing(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .groupBy(col("doc_id"),
        (graft.functions.PolyHash.hash(col("w")) % 16).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  val featureHashingSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
       |  FROM documents)
       |SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w, ''),
       |      c -> ascii(c)::BIGINT)),
       |    (a,b) -> (a*31+b) % ${graft.functions.PolyHash.Mod}) % 16 AS bucket,
       |  COUNT(*) AS cnt
       |FROM t GROUP BY 1, 2""".stripMargin

  /** DPO/RLHF preference-pair assembly: deterministic candidate pairing
    * (doc d responds to the same implicit prompt as doc d−250 — the
    * rouge_pairs pairing rule), chosen/rejected decided by the SHARED
    * quality composite (same expression tree as `quality_score`, so the
    * doubles are bit-equal cross-engine), ties → lower doc_id wins.
    * Emits the (chosen, rejected, margin) triple a preference-tuning run
    * consumes. Scale shape: quality is scan-local column math; the pair
    * attach is ONE equi-join on the derived pair key — no window, no
    * all-pairs; output is |pairs| rows. */
  def dpoPairs(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(org.apache.spark.sql.functions.filter(
      split(col("text"), " "), w => w =!= "")).cast("bigint")
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), nTokens.as("n_tokens"),
        regexp_count(col("text"), lit(enRx)).as("n_stop"))
      .select(col("doc_id"),
        (least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.5 +
          (col("n_stop").cast("double") / col("n_tokens")) * 0.5).as("quality"))
    val a = q.filter(col("doc_id") >= 250)
      .select((col("doc_id") - 250).as("pair_id"), col("doc_id").as("a_id"),
        col("quality").as("a_q"))
    val b = q.select(col("doc_id").as("pair_id"), col("quality").as("b_q"))
    // Strict >: on a quality tie the lower-id side (b, id = pair_id) wins.
    val aWins = col("a_q") > col("b_q")
    a.join(b, "pair_id")
      .select(col("pair_id"),
        when(aWins, col("a_id")).otherwise(col("pair_id")).as("chosen_id"),
        when(aWins, col("pair_id")).otherwise(col("a_id")).as("rejected_id"),
        when(aWins, col("a_q")).otherwise(col("b_q")).as("chosen_q"),
        when(aWins, col("b_q")).otherwise(col("a_q")).as("rejected_q"),
        (when(aWins, col("a_q")).otherwise(col("b_q")) -
          when(aWins, col("b_q")).otherwise(col("a_q"))).as("margin"))
  }

  val dpoPairsSql: String =
    """WITH q AS (SELECT doc_id,
      |    least(n_tokens / 50.0, 1.0) * 0.5 + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 AS quality
      |  FROM (SELECT doc_id,
      |          len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
      |          len(regexp_extract_all(text, '\b(the|a|an|of)\b')) AS n_stop
      |        FROM documents) t),
      |p AS (SELECT a.doc_id - 250 AS pair_id, a.doc_id AS a_id, a.quality AS a_q, b.quality AS b_q,
      |        a.quality > b.quality AS a_wins
      |      FROM q a JOIN q b ON a.doc_id - 250 = b.doc_id
      |      WHERE a.doc_id >= 250)
      |SELECT pair_id,
      |  CASE WHEN a_wins THEN a_id ELSE pair_id END AS chosen_id,
      |  CASE WHEN a_wins THEN pair_id ELSE a_id END AS rejected_id,
      |  CASE WHEN a_wins THEN a_q ELSE b_q END AS chosen_q,
      |  CASE WHEN a_wins THEN b_q ELSE a_q END AS rejected_q,
      |  (CASE WHEN a_wins THEN a_q ELSE b_q END) - (CASE WHEN a_wins THEN b_q ELSE a_q END) AS margin
      |FROM p ORDER BY pair_id""".stripMargin

  /** Per-source Simpson diversity over token types — the log-free
    * lexical-diversity screen (Simpson's λ = Σ nᵢ(nᵢ−1) / (N(N−1)), the
    * probability two sampled tokens are the same type): template-heavy
    * sources score high-λ and get flagged without any libm `log`
    * (integer numerators, ONE trailing IEEE division — the repo-wide
    * cross-engine exactness discipline). Two map-side-combined
    * aggregates: (source, term) counts, then the per-source fold; the
    * shuffle carries (source, term, count), never documents. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("source"), explode(org.apache.spark.sql.functions.filter(
        split(col("text"), " "), w => w =!= "")).as("term"))
    terms.groupBy("source", "term").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("n") * (col("n") - 1)).as("num"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (col("num").cast("double") /
          (col("n_tokens") * (col("n_tokens") - 1)).cast("double")).as("simpson"))
  }

  val simpsonDiversitySql: String =
    """WITH c AS (SELECT source, term, COUNT(*) AS n
      |           FROM (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      |                 FROM documents) t
      |           GROUP BY source, term)
      |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
      |  CAST(SUM(n * (n - 1)) AS DOUBLE) / CAST(SUM(n) * (SUM(n) - 1) AS DOUBLE) AS simpson
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Per-source hapax-legomena ratio: the share of a source's token
    * TYPES that occur exactly once corpus-wide in that source — the
    * complement view to `simpson_diversity` (hapax-poor sources are
    * template mills; hapax-rich ones carry long-tail vocabulary worth
    * keeping). Same two-aggregate shape; integer counts, one trailing
    * division. */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("source"), explode(org.apache.spark.sql.functions.filter(
        split(col("text"), " "), w => w =!= "")).as("term"))
    terms.groupBy("source", "term").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_ratio"))
  }

  val hapaxRatioSql: String =
    """WITH c AS (SELECT source, term, COUNT(*) AS n
      |           FROM (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      |                 FROM documents) t
      |           GROUP BY source, term)
      |SELECT source, COUNT(*) AS n_types,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Max-sequence-length sweep: for L ∈ {64, 128, 256, 512}, what share
    * of corpus tokens a one-doc-per-row loader keeps, pads, and
    * truncates — the curve that picks a training max_seq_len before
    * `pack_sequences` even enters the picture. Scan-side explode of the
    * four L values (no join; at 100 TB the 4× row expansion is absorbed
    * by map-side combine into a 4-row aggregate), integer token sums,
    * end-only divisions. */
  def seqlenSweep(spark: SparkSession, dir: String): DataFrame = {
    val n = size(graft.operators.TextOps.words(col("text"))).cast("long")
    Tables.documents(spark, dir)
      .select(n.as("n_tokens"),
        explode(array(lit(64L), lit(128L), lit(256L), lit(512L))).as("seq_len"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(least(col("n_tokens"), col("seq_len"))).as("kept_tokens"),
        sum(col("seq_len") - least(col("n_tokens"), col("seq_len"))).as("pad_tokens"),
        sum(greatest(col("n_tokens") - col("seq_len"), lit(0L))).as("truncated_tokens"))
      .select(col("seq_len"), col("n_docs"), col("total_tokens"), col("kept_tokens"),
        col("pad_tokens"), col("truncated_tokens"),
        (col("kept_tokens").cast("double") /
          (col("n_docs") * col("seq_len")).cast("double")).as("slot_efficiency"),
        (col("truncated_tokens").cast("double") /
          col("total_tokens").cast("double")).as("truncation_share"))
  }

  val seqlenSweepSql: String =
    """WITH t AS (SELECT len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
      |           FROM documents),
      |s AS (SELECT n_tokens, unnest(CAST([64, 128, 256, 512] AS BIGINT[])) AS seq_len FROM t)
      |SELECT seq_len, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(least(n_tokens, seq_len)) AS BIGINT) AS kept_tokens,
      |  CAST(SUM(seq_len - least(n_tokens, seq_len)) AS BIGINT) AS pad_tokens,
      |  CAST(SUM(greatest(n_tokens - seq_len, 0)) AS BIGINT) AS truncated_tokens,
      |  CAST(SUM(least(n_tokens, seq_len)) AS DOUBLE)
      |    / CAST(COUNT(*) * seq_len AS DOUBLE) AS slot_efficiency,
      |  CAST(SUM(greatest(n_tokens - seq_len, 0)) AS DOUBLE)
      |    / CAST(SUM(n_tokens) AS DOUBLE) AS truncation_share
      |FROM s GROUP BY seq_len ORDER BY seq_len""".stripMargin

  /** Loss-spike replay: given the deterministic epoch-0 data order
    * (`epoch_shuffle`'s seeded-affine key) and a batch size of 16, which
    * documents fed training steps 5–7? The debugging query every
    * training run eventually needs — and it only exists because the
    * engine's shuffle is a deterministic RANKING, not an RNG. The rank
    * is PrefixScan's distributed running sum; the step filter cuts to
    * ~48 rows BEFORE the document join (AQE broadcasts the tiny side),
    * so at 100 TB the replay costs one keyed rank pass + a pinpoint
    * join, never a full re-sort. */
  def batchReplay(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    val m = PolyHash.Mod
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), ((col("doc_id") * a + b) % m).as("skey"), lit(1L).as("one"))
    val ranked = graft.operators.PrefixScan
      .runningSum(keyed, Nil, "one", "rk", col("skey"), col("doc_id"))
      .withColumn("step", expr("(rk - 1) div 16"))
      .filter(col("step").between(5, 7))
      .withColumn("pos_in_batch", expr("(rk - 1) % 16"))
      .select(col("doc_id"), col("step"), col("pos_in_batch"))
    val docMeta = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(graft.operators.TextOps.words(col("text"))).cast("bigint").as("n_tokens"))
    ranked.join(docMeta, "doc_id")
      .select(col("step"), col("pos_in_batch"), col("doc_id"),
        col("source"), col("lang"), col("n_tokens"))
  }

  val batchReplaySql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(5)
    s"""WITH k AS (SELECT doc_id, (doc_id * ${a} + ${b}) % ${PolyHash.Mod} AS skey FROM documents),
       |r AS (SELECT doc_id,
       |        CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) - 1 AS rk
       |      FROM k),
       |s AS (SELECT doc_id, rk // 16 AS step, rk % 16 AS pos_in_batch
       |      FROM r WHERE rk // 16 BETWEEN 5 AND 7)
       |SELECT step, pos_in_batch, s.doc_id, source, lang,
       |       len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
       |FROM s JOIN documents d ON s.doc_id = d.doc_id
       |ORDER BY step, pos_in_batch""".stripMargin
  }

  /** Bigram-LM next-token lookup: the top-3 successors (by corpus bigram
    * count) of three fixed context words — the inference-side read of
    * the n-gram language model `lm_score` trains. The context filter
    * prunes the exploded bigram stream AT THE SCAN (three posting lists,
    * not the corpus); the rank window partitions by context word over
    * the ≤|vocab| successor relation. Ties break (count desc, word asc)
    * so the cut is deterministic cross-engine. */
  def nextTokenTopk(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Seq("spark", "data", "join")
    val ws = graft.operators.TextOps.words(col("text"))
    val pairs = Tables.documents(spark, dir)
      .select(explode(zip_with(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1").isin(ctx: _*))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("w1").orderBy(col("cnt").desc, col("w2").asc)).cast("bigint"))
      .filter(col("rk") <= 3)
  }

  val nextTokenTopkSql: String =
    """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws FROM documents),
      |b AS (SELECT ws[i] AS w1, ws[i+1] AS w2
      |      FROM t, unnest(range(1, len(ws))) AS u(i)
      |      WHERE ws[i] IN ('spark', 'data', 'join')),
      |c AS (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2)
      |SELECT w1, w2, cnt, rk FROM (
      |  SELECT w1, w2, cnt,
      |         CAST(row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2 ASC) AS BIGINT) AS rk
      |  FROM c) r
      |WHERE rk <= 3 ORDER BY w1, rk""".stripMargin

  /** Distinctive vocabulary per source: the top-3 terms by the
    * division-cleared χ² association score (O·N − R·C)² / (R·C) — the
    * "what makes this domain's text different" readout behind corpus
    * cards and mixture debugging. The numerator is exact integer math
    * (the chi2_independence discipline) so only ONE fixed-order IEEE
    * division happens per cell; ranking ties break by term. (int64
    * bounds: o·n and its square stay far under 2^63 at fixture scale;
    * a trillion-token corpus would promote the numerator to
    * DECIMAL(38,0) — same expression tree, wider lanes.) Shapes:
    * (source, term) counts, term totals joined ON THE TERM, the
    * |sources|-row and 1-row totals broadcast, ranking window bounded by
    * per-source vocabulary. */
  def sourceTermSignatures(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("source"), explode(org.apache.spark.sql.functions.filter(
        split(col("text"), " "), w => w =!= "")).as("term"))
    val cell = terms.groupBy("source", "term").agg(count(lit(1)).as("o"))
    val rowT = cell.groupBy("term").agg(sum(col("o")).as("r"))
    val colT = cell.groupBy("source").agg(sum(col("o")).as("c"))
    val n = cell.agg(sum(col("o")).as("n"))
    val num = (col("o") * col("n") - col("r") * col("c"))
    val score = (num * num).cast("double") / (col("r") * col("c")).cast("double")
    cell.join(rowT, "term")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("term"), col("o"), score.as("chi2_score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("chi2_score").desc, col("term").asc))
        .cast("bigint"))
      .filter(col("rk") <= 3)
  }

  val sourceTermSignaturesSql: String =
    """WITH cell AS (SELECT source, term, COUNT(*) AS o
      |              FROM (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      |                    FROM documents) t
      |              GROUP BY source, term),
      |r AS (SELECT term, CAST(SUM(o) AS BIGINT) AS r FROM cell GROUP BY term),
      |c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cell GROUP BY source),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
      |s AS (SELECT cell.source, cell.term, cell.o,
      |        CAST((cell.o * n.n - r.r * c.c) * (cell.o * n.n - r.r * c.c) AS DOUBLE)
      |          / CAST(r.r * c.c AS DOUBLE) AS chi2_score
      |      FROM cell JOIN r USING (term) JOIN c USING (source) CROSS JOIN n)
      |SELECT source, term, o, chi2_score, rk FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY source
      |              ORDER BY chi2_score DESC, term ASC) AS BIGINT) AS rk
      |  FROM s) t
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin

  /** SFT example rendering: each document splits at a fixed 10-token
    * boundary into a (prompt, completion) pair and serializes to the
    * training-wire JSONL line — the export step between curation and
    * the trainer. The line is built by explicit concatenation (NOT an
    * engine JSON serializer, whose escaping/whitespace conventions
    * differ across engines — the corpus is serializer-safe plain text,
    * and the explicit build keeps the bytes hash-checkable). Scan-local
    * array slicing and concat: ZERO data shuffles. */
  def sftRender(spark: SparkSession, dir: String): DataFrame = {
    val ws = graft.operators.TextOps.words(col("text"))
    val prompt = array_join(slice(ws, lit(1), lit(10)), " ")
    val completion = array_join(
      slice(ws, lit(11), greatest(size(ws) - 10, lit(0))), " ")
    Tables.documents(spark, dir)
      .filter(size(ws) > 10)
      .select(col("doc_id"),
        concat(lit("{\"prompt\": \""), prompt,
          lit("\", \"completion\": \""), completion, lit("\"}")).as("line"))
  }

  val sftRenderSql: String =
    """SELECT doc_id,
      |  '{"prompt": "' || array_to_string(ws[1:10], ' ')
      |    || '", "completion": "' || array_to_string(ws[11:], ' ') || '"}' AS line
      |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      |      FROM documents) t
      |WHERE len(ws) > 10 ORDER BY doc_id""".stripMargin

  /** Zipf rank-frequency profile at power-of-two ranks: term frequency at
    * ranks 1, 2, 4, … 1024 plus the decay ratio to the previous probe —
    * the log-free readout of the rank-frequency law (a true Zipf fit
    * needs ln(), whose last-ulp behavior differs across engines; the
    * power-of-two probe ladder reads the same slope from exact integer
    * frequencies and ONE IEEE division per row). Term counts are a
    * map-side-combined aggregate; the top-1024 cut is a TakeOrdered heap
    * (never a full vocab sort), totally ordered by (freq DESC, term ASC)
    * so ties are deterministic; the rank/lag windows run on ≤1024 rows
    * in a single partition. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    val probes = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)
    val byFreq = Window.orderBy(col("freq").desc, col("term").asc)
    Tables.documents(spark, dir)
      .select(explode(graft.operators.TextOps.words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc).limit(1024)
      .withColumn("rank", row_number().over(byFreq))
      .filter(col("rank").isin(probes: _*))
      .withColumn("decay",
        col("freq").cast("double") /
          lag("freq", 1).over(Window.orderBy("rank")).cast("double"))
      .select("rank", "term", "freq", "decay")
  }

  val zipfProfileSql: String =
    """WITH tf AS (
      |  SELECT term, COUNT(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      |    FROM documents) t
      |  GROUP BY term),
      |r AS (SELECT term, freq,
      |        row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
      |      FROM tf),
      |p AS (SELECT * FROM r WHERE rank IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024))
      |SELECT rank, term, freq,
      |  CAST(freq AS DOUBLE) / CAST(lag(freq) OVER (ORDER BY rank) AS DOUBLE) AS decay
      |FROM p ORDER BY rank""".stripMargin

  /** SQL-only user story, end-to-end: a pure `spark.sql` query over the
    * registered temp views composing the engine's NATIVE codegen
    * functions (poly_hash, simhash32 over a HOF-built word-hash set,
    * zorder_code) — proving the GraftExtensions FunctionRegistry
    * surface gives a SQL-only client the same primitives the Scala API
    * uses, checked against the same DuckDB register/bit replications as
    * their host queries. Scan-local expressions: no exchange. */
  def sqlNativeFunctions(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT doc_id,
        |  poly_hash(text) AS h,
        |  simhash32(transform(array_distinct(filter(split(text, ' '), x -> x != '')),
        |                      w -> poly_hash(w))) AS sh,
        |  zorder_code(doc_id, n_chars) AS z
        |FROM documents""".stripMargin)
  }

  val sqlNativeFunctionsSql: String = {
    val M = PolyHash.Mod
    def ph(e: String) =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($e, ''), c -> ascii(c)::BIGINT)), (a,b) -> (a*31+b) % $M)"
    s"""WITH w AS (
       |  SELECT doc_id, n_chars, text,
       |    list_transform(list_distinct(list_filter(string_split(text, ' '), x -> x != '')),
       |                   w -> ${ph("w")}) AS hs
       |  FROM documents)
       |SELECT doc_id,
       |  ${ph("text")} AS h,
       |  CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN
       |    list_sum(list_transform(hs, h -> CASE WHEN ((h // (1::BIGINT << j)) % 2) = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sh,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), j ->
       |      (((doc_id >> CAST(j AS INT)) & 1) << CAST(2*j AS INT))
       |    + (((n_chars >> CAST(j AS INT)) & 1) << CAST(2*j + 1 AS INT)))),
       |    (a,b) -> a|b) AS z
       |FROM w ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_native_functions" -> (sqlNativeFunctions _),
    "hll_source_overlap" -> (hllSourceOverlap _),
    "zipf_profile" -> (zipfProfile _),
    "sft_render" -> (sftRender _),
    "source_term_signatures" -> (sourceTermSignatures _),
    "next_token_topk" -> (nextTokenTopk _),
    "batch_replay" -> (batchReplay _),
    "seqlen_sweep" -> (seqlenSweep _),
    "dpo_pairs" -> (dpoPairs _),
    "simpson_diversity" -> (simpsonDiversity _),
    "hapax_ratio" -> (hapaxRatio _),
    "feature_hashing" -> (featureHashing _),
    "sentence_stats" -> (sentenceStats _),
    "query_expansion" -> (queryExpansion _),
    "search_snippets" -> (searchSnippets _),
    "token_coverage" -> (tokenCoverage _),
    "quantile_transform" -> (quantileTransform _),
    "curriculum_schedule" -> (curriculumSchedule _),
    "bloom_fpr" -> (bloomFpr _),
    "calibration_bins" -> (calibrationBins _),
    "cohen_kappa" -> (cohenKappa _),
    "vocab_growth" -> (vocabGrowth _),
    "ttr_by_source" -> (ttrBySource _),
    "chi2_independence" -> (chi2Independence _),
    "bigram_lift" -> (bigramLift _),
    "prefix_share" -> (prefixShare _),
    "rouge_pairs" -> (rougePairs _),
    "lang_gram_overlap" -> (langGramOverlap _),
    "quality_auc" -> (qualityAuc _),
    "ks_drift" -> (ksDrift _),
    "dataset_split" -> (datasetSplit _),
    "hll_by_source" -> (hllBySource _),
    "shard_plan" -> (shardPlan _),
    "interleave_sources" -> (interleaveSources _),
    "sft_loss_mask" -> (sftLossMask _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "temperature_mix" -> (temperatureMix _),
    "bpe_train" -> (bpeTrain _),
    "bpe_apply" -> (bpeApply _),
    "unigram_train" -> (unigramTrain _),
    "unigram_apply" -> (unigramApply _),
    "tokenizer_compare" -> (tokenizerCompare _),
    "unigram_coverage" -> (unigramCoverage _),
    "bm25_search" -> (bm25Search _),
    "phrase_search" -> (phraseSearch _),
    "epoch_shuffle" -> (epochShuffle _),
    "mix_apply" -> (mixApply _),
    "pii_inventory" -> (piiInventory _),
    "corpus_card" -> (corpusCard _),
    "padding_waste" -> (paddingWaste _),
    "lm_score" -> (lmScore _),
    "ngram_novelty" -> (ngramNovelty _),
    "reservoir_per_group" -> (reservoirPerGroup _),
    "token_gini" -> (tokenGini _),
    "weighted_sample" -> (weightedSample _),
    "posting_lists" -> (postingLists _),
    "cms_heavy_hitters" -> (cmsHeavyHitters _),
    "vocab_build" -> (vocabBuild _),
    "encode_tokens" -> (encodeTokens _),
    "array_stats" -> (arrayStats _),
    "ngram_top" -> (ngramTop _),
    "token_budget_sample" -> (tokenBudgetSample _),
    "source_mix_weights" -> (sourceMixWeights _),
    "corpus_pipeline" -> (corpusPipeline _),
    "pack_sequences" -> (packSequences _),
    "repetition_ratio" -> (repetitionRatio _),
    "text_redact" -> (textRedact _),
    "stratified_sample" -> (stratifiedSample _),
    "doc_chunking" -> (docChunking _),
    "hash_sample" -> (hashSample _),
    "hll_distinct" -> (hllDistinct _),
    "token_count" -> (tokenCount _),
    "bpe_token_count" -> (bpeTokenCount _),
    "ntile_quality_bins" -> (ntileQualityBins _),
    "lang_id_heuristic" -> (langIdHeuristic _),
    "langid_confusion" -> (langidConfusion _),
    "quality_score" -> (qualityScore _),
    "source_quota_cap" -> (sourceQuotaCap _),
    "filter_funnel" -> (filterFunnel _),
    "gopher_quality" -> (gopherQuality _),
    "rep_ngram_profile" -> (repNgramProfile _),
    "doc_fingerprint" -> (docFingerprint _),
    "mlm_mask_plan" -> (mlmMaskPlan _),
    "pareto_frontier" -> (paretoFrontier _),
    "span_corruption_plan" -> (spanCorruptionPlan _),
    "tfidf_top_terms" -> (tfidfTopTerms _))

  val oracles: Map[String, String] = Map(
    "sql_native_functions" -> sqlNativeFunctionsSql,
    "hll_source_overlap" -> hllSourceOverlapSql,
    "zipf_profile" -> zipfProfileSql,
    "sft_render" -> sftRenderSql,
    "source_term_signatures" -> sourceTermSignaturesSql,
    "next_token_topk" -> nextTokenTopkSql,
    "batch_replay" -> batchReplaySql,
    "seqlen_sweep" -> seqlenSweepSql,
    "dpo_pairs" -> dpoPairsSql,
    "simpson_diversity" -> simpsonDiversitySql,
    "hapax_ratio" -> hapaxRatioSql,
    "feature_hashing" -> featureHashingSql,
    "sentence_stats" -> sentenceStatsSql,
    "query_expansion" -> queryExpansionSql,
    "search_snippets" -> searchSnippetsSql,
    "token_coverage" -> tokenCoverageSql,
    "quantile_transform" -> quantileTransformSql,
    "curriculum_schedule" -> curriculumScheduleSql,
    "bloom_fpr" -> bloomFprSql,
    "calibration_bins" -> calibrationBinsSql,
    "cohen_kappa" -> cohenKappaSql,
    "vocab_growth" -> vocabGrowthSql,
    "ttr_by_source" -> ttrBySourceSql,
    "chi2_independence" -> chi2IndependenceSql,
    "bigram_lift" -> bigramLiftSql,
    "prefix_share" -> prefixShareSql,
    "rouge_pairs" -> rougePairsSql,
    "lang_gram_overlap" -> langGramOverlapSql,
    "quality_auc" -> qualityAucSql,
    "ks_drift" -> ksDriftSql,
    "dataset_split" -> datasetSplitSql,
    "hll_by_source" -> hllBySourceSql,
    "shard_plan" -> shardPlanSql,
    "interleave_sources" -> interleaveSourcesSql,
    "sft_loss_mask" -> sftLossMaskSql,
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "temperature_mix" -> temperatureMixSql,
    "bpe_train" -> bpeTrainSql,
    "bpe_apply" -> bpeApplySql,
    "unigram_train" -> unigramTrainSql,
    "unigram_apply" -> unigramApplySql,
    "tokenizer_compare" -> tokenizerCompareSql,
    "unigram_coverage" -> unigramCoverageSql,
    "bm25_search" -> bm25SearchSql,
    "phrase_search" -> phraseSearchSql,
    "epoch_shuffle" -> epochShuffleSql,
    "mix_apply" -> mixApplySql,
    "pii_inventory" -> piiInventorySql,
    "corpus_card" -> corpusCardSql,
    "padding_waste" -> paddingWasteSql,
    "lm_score" -> lmScoreSql,
    "ngram_novelty" -> ngramNoveltySql,
    "reservoir_per_group" -> reservoirPerGroupSql,
    "token_gini" -> tokenGiniSql,
    "weighted_sample" -> weightedSampleSql,
    "posting_lists" -> postingListsSql,
    "cms_heavy_hitters" -> cmsHeavyHittersSql,
    "vocab_build" -> vocabBuildSql,
    "encode_tokens" -> encodeTokensSql,
    "array_stats" -> arrayStatsSql,
    "ngram_top" -> ngramTopSql,
    "token_budget_sample" -> tokenBudgetSampleSql,
    "source_mix_weights" -> sourceMixWeightsSql,
    "corpus_pipeline" -> corpusPipelineSql,
    "pack_sequences" -> packSequencesSql,
    "repetition_ratio" -> repetitionRatioSql,
    "text_redact" -> textRedactSql,
    "stratified_sample" -> stratifiedSampleSql,
    "doc_chunking" -> docChunkingSql,
    "hash_sample" -> hashSampleSql,
    "hll_distinct" -> hllDistinctSql,
    "token_count" -> tokenCountSql,
    "bpe_token_count" -> bpeTokenCountSql,
    "ntile_quality_bins" -> ntileQualityBinsSql,
    "lang_id_heuristic" -> langIdHeuristicSql,
    "langid_confusion" -> langidConfusionSql,
    "quality_score" -> qualityScoreSql,
    "source_quota_cap" -> sourceQuotaCapSql,
    "filter_funnel" -> filterFunnelSql,
    "gopher_quality" -> gopherQualitySql,
    "rep_ngram_profile" -> repNgramProfileSql,
    "doc_fingerprint" -> docFingerprintSql,
    "mlm_mask_plan" -> mlmMaskPlanSql,
    "pareto_frontier" -> paretoFrontierSql,
    "span_corruption_plan" -> spanCorruptionPlanSql,
    "tfidf_top_terms" -> tfidfTopTermsSql)
}
