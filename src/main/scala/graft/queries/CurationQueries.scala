package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Training-corpus CURATION planning — the decisions a data team makes
  * between "the documents are deduped/scored" and "the tokenizer sees
  * them": deterministic train/val/test splitting, per-domain token
  * budgeting, mixture (sampling-weight) design, and sequence packing.
  * Everything is exact integer / decimal arithmetic with at most one
  * IEEE operation per output column (the pareto_share discipline), so
  * every query is DuckDB-oracle hash-checkable.
  *
  * Scale shape: splits and budgets are hash/scan + grouped aggregates
  * (shuffle carries (group, counters) only); the budget trim rides the
  * grouped PrefixScan (partition-parallel cumulative sums, no
  * partition-less windows); packing is sequential ONLY within a
  * fixed-size shard (64 docs), so shard count grows with data and every
  * shard packs independently — the 100 TB layout is "pack within
  * bounded shards", never a global scan.
  */
object CurationQueries {

  private val HashMod = 1000000007L
  private val HashA = 1103515245L
  private val HashB = 12345L

  private def tokens(text: org.apache.spark.sql.Column) =
    size(split(trim(text), "\\s+")).cast("bigint")

  private val tokensSql = raw"len(regexp_split_to_array(trim(text), '\s+'))"

  /** Deterministic stratified train/val/test split: the split label is a
    * pure function of doc_id (reduced affine hash mod 100 — wrap-free:
    * the residue is taken BEFORE the multiply, so the product stays
    * under 2^63 for any id; same arithmetic verbatim in the oracle), so
    * re-running the pipeline or adding files never reassigns an existing
    * document. 80/10/10 buckets, audited per language stratum: at corpus
    * scale the audit is one hash + one grouped count, no shuffle beyond
    * the (lang, split) cells. */
  def stratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), tokens(col("text")).as("t"),
        (pmod(pmod(col("doc_id"), lit(HashMod)) * HashA + HashB, lit(HashMod)) % 100)
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
      .orderBy("lang", "split")

  val stratifiedSplitSql: String =
    s"""WITH d AS (
       |  SELECT lang, $tokensSql AS t,
       |    ((doc_id % $HashMod) * $HashA + $HashB) % $HashMod % 100 AS bucket
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS n_tokens
       |FROM d GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Per-source token-budget trim: rank each source's documents by an
    * integer quality proxy (alphabetic-run density, doc_id tie-break),
    * admit greedily while the source's cumulative token count stays
    * within the budget, and report what the trim kept. The cumulative
    * sum is the grouped PrefixScan — partition-parallel at any source
    * cardinality, never a single-task window — and the only IEEE op is
    * the final kept-share division of two exact BIGINTs. */
  def tokenBudgetTrim(spark: SparkSession, dir: String): DataFrame = {
    val budget = 600L
    val scored = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), tokens(col("text")).as("t"),
        regexp_count(col("text"), lit("[a-z]+")).cast("bigint").as("alpha"))
    val cum = graft.operators.PrefixScan.runningSum(
      scored, Seq("source"), "t", "cum",
      col("alpha").desc, col("doc_id"))
    cum.groupBy("source")
      .agg(
        sum(when(col("cum") <= budget, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cum") <= budget, col("t"))).as("tokens_kept"),
        count(lit(1)).as("n_docs"),
        sum("t").as("total_tokens"))
      .withColumn("kept_share",
        col("tokens_kept").cast("double") / col("total_tokens").cast("double"))
      .orderBy("source")
  }

  val tokenBudgetTrimSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, $tokensSql AS t,
       |    len(regexp_extract_all(text, '[a-z]+')) AS alpha
       |  FROM documents),
       |c AS (
       |  SELECT source, t,
       |    SUM(t) OVER (PARTITION BY source ORDER BY alpha DESC, doc_id
       |                 ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM d)
       |SELECT source,
       |  CAST(SUM(CASE WHEN cum <= 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN cum <= 600 THEN t END) AS BIGINT) AS tokens_kept,
       |  COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CASE WHEN cum <= 600 THEN t END) AS DOUBLE)
       |    / CAST(SUM(t) AS DOUBLE) AS kept_share
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Square-root-temperature mixture design (the multilingual-corpus
    * sampling rule): per source-domain, exact token totals, then
    *   weight_raw      = sqrt(tokens_d)            (α = 0.5 temperature)
    *   upsample_vs_max = sqrt(tokens_d / max_d tokens) — how much the
    *     sampler boosts this domain relative to the biggest one
    *   token_share     = tokens_d / Σ tokens       (natural sampling)
    * All inputs to the IEEE ops are exact BIGINTs and sqrt/÷ are
    * correctly-rounded single operations, so both engines produce
    * bit-identical doubles — no cross-row double accumulation anywhere.
    * The global max/total ride ONE broadcast 1-row relation. */
  def domainMixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), tokens(col("text")).as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
    val global = per.agg(max("n_tokens").as("max_tokens"),
      sum("n_tokens").as("all_tokens"))
    per.crossJoin(broadcast(global))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        sqrt(col("n_tokens").cast("double")).as("weight_raw"),
        sqrt(col("n_tokens").cast("double") / col("max_tokens").cast("double"))
          .as("upsample_vs_max"),
        (col("n_tokens").cast("double") / col("all_tokens").cast("double"))
          .as("token_share"))
      .orderBy("source")
  }

  val domainMixtureWeightsSql: String =
    s"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM($tokensSql) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |g AS (SELECT MAX(n_tokens) AS max_tokens, SUM(n_tokens) AS all_tokens FROM per)
       |SELECT source, n_docs, n_tokens,
       |  sqrt(CAST(n_tokens AS DOUBLE)) AS weight_raw,
       |  sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_tokens AS DOUBLE)) AS upsample_vs_max,
       |  CAST(n_tokens AS DOUBLE) / CAST(all_tokens AS DOUBLE) AS token_share
       |FROM per, g ORDER BY source""".stripMargin

  /** Next-fit sequence packing into 256-token context bins, per 64-doc
    * shard: documents in doc_id order fill the current bin until the
    * next one would overflow, which opens a new bin (an oversize doc
    * occupies a bin alone). Packing is inherently sequential, so the
    * parallel unit is the SHARD — `doc_id DIV 64` bounds every group at
    * 64 docs by construction, shard count grows linearly with data, and
    * the typed flatMapGroups scan is O(shard size) with no global state.
    * The oracle replays the same scan as a recursive CTE. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val cap = 256L
    val spark2 = spark; import spark2.implicits._
    Tables.documents(spark, dir)
      .select((col("doc_id") / 64).cast("int").as("shard"),
        col("doc_id"), tokens(col("text")).as("t"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, rows) =>
        val docs = rows.toArray.sortBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
        var bin = 0L; var cur = 0L; var n = 0L
        docs.foreach { case (_, _, t) =>
          if (bin == 0L || cur + t > cap) {
            if (bin > 0L) out += ((shard, bin, n, cur))
            bin += 1; cur = t; n = 1
          } else { cur += t; n += 1 }
        }
        if (bin > 0L) out += ((shard, bin, n, cur))
        out.iterator
      }
      .toDF("shard", "bin_id", "n_docs", "bin_tokens")
      .orderBy("shard", "bin_id")
  }

  val packSequencesSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT CAST(doc_id // 64 AS INT) AS shard, doc_id, $tokensSql AS t
       |  FROM documents),
       |s AS (
       |  SELECT shard, t,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |  FROM d),
       |p AS (
       |  SELECT shard, rn, t, CAST(1 AS BIGINT) AS bin, t AS cur
       |  FROM s WHERE rn = 1
       |  UNION ALL
       |  SELECT s.shard, s.rn, s.t,
       |    CASE WHEN p.cur + s.t > 256 THEN p.bin + 1 ELSE p.bin END,
       |    CASE WHEN p.cur + s.t > 256 THEN s.t ELSE p.cur + s.t END
       |  FROM p JOIN s ON s.shard = p.shard AND s.rn = p.rn + 1)
       |SELECT shard, bin AS bin_id, COUNT(*) AS n_docs,
       |  MAX(cur) AS bin_tokens
       |FROM p GROUP BY shard, bin ORDER BY shard, bin_id""".stripMargin

  /** Quality drift across the deterministic split — the leakage/sanity
    * audit that a stratified split must pass: per split, what share of
    * documents clears the (integer-exact subset of the) Gopher rules.
    * A healthy hash split shows near-identical pass shares; a skewed
    * one means the split key correlates with content. Mean-word-length
    * bounds ride as EXACT cross-multiplications (3·n ≤ Σlen ≤ 10·n), so
    * the only IEEE op is the final share division. */
  def qualityBySplit(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => w =!= "")
    val d = Tables.documents(spark, dir)
      .select(
        (pmod(pmod(col("doc_id"), lit(HashMod)) * HashA + HashB, lit(HashMod)) % 100)
          .as("bucket"),
        size(toks).cast("bigint").as("n_words"),
        aggregate(toks, lit(0L), (a, w) => a + length(w)).as("sum_len"),
        array_max(transform(toks, w => length(w))).cast("bigint").as("max_w"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .withColumn("pass",
        col("n_words") >= 30 && col("n_words") <= 5000 &&
          col("max_w") <= 15 &&
          col("sum_len") >= col("n_words") * 3 && col("sum_len") <= col("n_words") * 10)
    d.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_share",
        col("n_pass").cast("double") / col("n_docs").cast("double"))
      .orderBy("split")
  }

  val qualityBySplitSql: String =
    s"""WITH d AS (
       |  SELECT
       |    ((doc_id % $HashMod) * $HashA + $HashB) % $HashMod % 100 AS bucket,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_len,
       |    CAST(list_max(list_transform(ws, w -> len(w))) AS BIGINT) AS max_w
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
       |        FROM documents)),
       |f AS (
       |  SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
       |              ELSE 'test' END AS split,
       |    (n_words >= 30 AND n_words <= 5000 AND max_w <= 15
       |     AND sum_len >= n_words * 3 AND sum_len <= n_words * 10) AS pass
       |  FROM d)
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS pass_share
       |FROM f GROUP BY split ORDER BY split""".stripMargin

  /** Largest-remainder resampling quotas: turn the per-source token
    * totals into INTEGER document-sampling quotas that sum to the
    * budget EXACTLY — floor allocation `B·T_d DIV T`, then the
    * shortfall (< |sources|) goes to the largest remainders
    * (`B·T_d MOD T`, source tie-break). Every step is BIGINT
    * arithmetic, so both engines produce the identical plan — the
    * actionable edition of [[domainMixtureWeights]]. The rank window
    * partitions over the |sources|-row relation (bounded by source
    * cardinality; whitelisted like the other tiny-relation windows). */
  def mixtureResamplePlan(spark: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val per = Tables.documents(spark, dir)
      .select(col("source"), tokens(col("text")).as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("tt"))
    val base = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr(s"$budget * n_tokens DIV tt").as("quota0"),
        expr(s"$budget * n_tokens % tt").as("rem"),
        col("tt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    base
      .withColumn("rk", row_number().over(w))
      .withColumn("shortfall",
        lit(budget) - sum("quota0").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .withColumn("quota",
        col("quota0") + when(col("rk") <= col("shortfall"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("quota"),
        (col("quota").cast("double") / lit(budget.toDouble)).as("quota_share"))
      .orderBy("source")
  }

  val mixtureResamplePlanSql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(SUM($tokensSql) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |t AS (SELECT SUM(n_tokens) AS tt FROM per),
       |b AS (
       |  SELECT source, n_tokens,
       |    10000 * n_tokens // tt AS quota0,
       |    10000 * n_tokens % tt AS rem
       |  FROM per, t),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
       |    10000 - SUM(quota0) OVER () AS shortfall
       |  FROM b)
       |SELECT source, n_tokens,
       |  CAST(quota0 + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END AS BIGINT) AS quota,
       |  CAST(quota0 + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END AS DOUBLE)
       |    / 10000.0 AS quota_share
       |FROM r ORDER BY source""".stripMargin

  /** Packing-efficiency readout over [[packSequences]]'s bins: bins per
    * shard, exact token totals, and the utilization share (tokens over
    * bins·capacity) — the number that says whether 256 was the right
    * context size for this corpus. Exact integers + ONE division. */
  def packUtilization(spark: SparkSession, dir: String): DataFrame =
    packSequences(spark, dir)
      .agg(count(lit(1)).as("n_bins"),
        sum("n_docs").as("n_docs"),
        sum("bin_tokens").as("tokens"))
      .withColumn("capacity_tokens", col("n_bins") * 256L)
      .withColumn("utilization",
        col("tokens").cast("double") / col("capacity_tokens").cast("double"))

  val packUtilizationSql: String =
    s"""WITH bins AS ($packSequencesSql)
       |SELECT COUNT(*) AS n_bins,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(bin_tokens) AS BIGINT) AS tokens,
       |  COUNT(*) * 256 AS capacity_tokens,
       |  CAST(SUM(bin_tokens) AS DOUBLE) / CAST(COUNT(*) * 256 AS DOUBLE) AS utilization
       |FROM bins""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stratified_split" -> (stratifiedSplit _),
    "token_budget_trim" -> (tokenBudgetTrim _),
    "domain_mixture_weights" -> (domainMixtureWeights _),
    "pack_context_bins" -> (packSequences _),
    "pack_utilization" -> (packUtilization _),
    "quality_by_split" -> (qualityBySplit _),
    "mixture_resample_plan" -> (mixtureResamplePlan _))

  val oracles: Map[String, String] = Map(
    "stratified_split" -> stratifiedSplitSql,
    "token_budget_trim" -> tokenBudgetTrimSql,
    "domain_mixture_weights" -> domainMixtureWeightsSql,
    "pack_context_bins" -> packSequencesSql,
    "pack_utilization" -> packUtilizationSql,
    "quality_by_split" -> qualityBySplitSql,
    "mixture_resample_plan" -> mixtureResamplePlanSql)
}
