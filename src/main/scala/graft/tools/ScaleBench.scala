package graft.tools

import org.apache.spark.sql.SparkSession

/** Empirical scaling curve: run the most expensive
  * queries at TWO generated scale points (default sf0.1 and sf1 — 10x
  * data) and report per-query growth ratios, converting the "this plan
  * survives a 100x scale-up" design claims from argued (ScaleSmoke plan
  * asserts, shuffle budgets) into measured. A query whose time grows
  * ~linearly with data (ratio ≈ 10 on 10x, modulo fixed per-job overhead
  * that makes small-SF medians look worse) scales; super-linear growth
  * is the finding this artifact exists to surface.
  *
  * Protocol per (query, sf): one untimed warm run (JIT + codegen), then
  * median of 3 timed runs with cache release + GC between — graft.Bench's
  * measurement discipline verbatim. Output: one JSON line with
  * per-query [a_median, b_median, ratio] plus both full trios.
  *
  * Usage: `runMain graft.tools.ScaleBench <dirA> <dirB> <outFile>`
  * (dirA = smaller SF). Queries come from SPARK_GRAFT_ONLY or default to
  * the full-surface bench's 25 slowest plus the semantic-dedup, pagerank
  * and components additions below. `pagerank_suppliers` is in the
  * default list because the adaptive rank scale
  * (GraphQueries.adaptiveR0) steps the scale down instead of refusing
  * sf1's ~165k-node graph, and this artifact is where that claim gets
  * measured. */
object ScaleBench {

  val DefaultQueries: Seq[String] = Seq(
    "media_neardup_clusters", "media_neardup_pairs", "weighted_median_by_group",
    "corpus_pipeline", "basket_pairs", "ivf_probe_curve", "tokenizer_compare",
    "abc_classification", "graph_pagerank", "dedup_spans", "ppjoin_pairs",
    "dedup_rate_by_source", "ivfpq_recall", "robust_outliers",
    "dedup_method_agreement", "ngram_novelty", "rank_metrics",
    "graph_edge_support", "dedup_cluster_stats", "revenue_by_nation",
    "token_coverage", "bpe_apply", "try_cast_defaults", "contrastive_pairs",
    "bpe_train",
    // The semantic-dedup queries ride the scale run too: the
    // adaptive cell count (Similarity.autoCells) exists precisely so
    // these stay non-degenerate at sf1 — measure that, don't assume it.
    "semdedup", "semdedup_clusters", "semdedup_recall",
    // The adaptive-R0 pagerank must prove it runs at sf1.
    "pagerank_suppliers",
    // The sampled-truth recall audits, the star-round
    // components (tracked against the min-label fixpoint on the same
    // edge graph), and the CDC merge.
    "semdedup_recall_t9", "semdedup_recall_sampled",
    "dedup_components_converged", "dedup_components_star", "merge_upsert",
    // The two-level (coarse-quantized) assignment — the
    // sub-quadratic scale path whose growth vs `semdedup` /
    // `semdedup_recall_sampled` is the point of the design.
    "semdedup_2l", "semdedup_recall_2l")

  private def trio(spark: SparkSession, name: String, dir: String,
      errors: scala.collection.mutable.Map[String, String]): Option[IndexedSeq[Double]] = {
    def run(): Boolean =
      try {
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        errors.getOrElseUpdate(s"$name@$dir",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        false
      }
    val warmOk = run()
    val timed =
      if (!warmOk) None
      else Some((1 to 3).map { _ =>
        spark.catalog.clearCache()
        graft.GraftCaches.releaseAll()
        System.gc()
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.sorted.toIndexedSeq)
    spark.catalog.clearCache()
    graft.GraftCaches.releaseAll()
    System.gc()
    if (errors.contains(s"$name@$dir")) None else timed
  }

  def main(args: Array[String]): Unit = {
    val Array(dirA, dirB, outFile) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_SCALE_ALL=1 measures the ENTIRE query surface (every
    // SparkEntry query at both SFs) — the strongest form of the growth
    // artifact; a query whose guard legitimately fires at the larger SF
    // lands in "errors", which is the artifact RECORDING the guard
    // doing its job, not a failure. (No default-list query is expected
    // there: pagerank's adaptive scale removed the last by-design
    // refusal.)
    val names =
      if (sys.env.get("SPARK_GRAFT_SCALE_ALL").contains("1"))
        graft.SparkEntry.queries.keys.toSeq.sorted
      else sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(DefaultQueries)
        .filter(graft.SparkEntry.queries.contains)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rows = names.flatMap { name =>
      val a = trio(spark, name, dirA, errors)
      val b = trio(spark, name, dirB, errors)
      println(f"[scale] $name%-28s a=${a.fold("ERR")(t => f"${t(1)}%.2f")}" +
        f" b=${b.fold("ERR")(t => f"${t(1)}%.2f")}")
      (a, b) match {
        case (Some(ta), Some(tb)) => Some((name, ta, tb))
        case _ => None
      }
    }
    def jarr(t: IndexedSeq[Double]) = t.mkString("[", ",", "]")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qJson = rows.map { case (n, ta, tb) =>
      val ratio = if (ta(1) > 0) tb(1) / ta(1) else Double.NaN
      s"${jstr(n)}:{" +
        s""""a_median":${ta(1)},"b_median":${tb(1)},"ratio":$ratio,""" +
        s""""a_trio":${jarr(ta)},"b_trio":${jarr(tb)}}"""
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    // data_ratio is MEASURED, not asserted: lineitem
    // row counts at both dirs, parquet-metadata-only. A run against any
    // SF pair reports its own honest ratio.
    val dataRatio = {
      val a = spark.read.parquet(s"$dirA/lineitem.parquet").count()
      val b = spark.read.parquet(s"$dirB/lineitem.parquet").count()
      if (a > 0) b.toDouble / a else Double.NaN
    }
    // Per-table parquet file counts ride in the artifact header: a
    // layout fault — 8-file fixtures capping scans at 8-way parallelism
    // and inflating large-SF medians up to 9× — is invisible in the
    // timings alone. A mis-laid-out run is self-identifying from its own header;
    // FixtureLayoutSpec pins the generator side of the same contract.
    def fileCountsJson(dir: String): String =
      FixtureGen.TableNames.map { t =>
        s"${jstr(t)}:${FixtureGen.parquetFileCount(dir, t)}"
      }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"scale_growth","dir_a":${jstr(dirA)},"dir_b":${jstr(dirB)},""" +
        s""""data_ratio":$dataRatio,"files_a":${fileCountsJson(dirA)},""" +
        s""""files_b":${fileCountsJson(dirB)},"n_queries":${rows.size},"queries":$qJson,""" +
        s""""errors":$errJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
  }
}
