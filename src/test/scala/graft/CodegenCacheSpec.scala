package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** A recurring query mix compiles its generated code once: the session's
  * generated-class cache holds the whole working set of the benchmark's
  * 12-query mix (more classes than Spark's default bound of 100), so a
  * second pass over the mix is served from the cache with no Janino
  * compile. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The `queries` workload of `perfbench/run.py`. */
  private val mix = Seq(
    "pricing_summary", "semi_join", "cube_revenue", "monthly_growth",
    "lead_lag_delta", "filename_meta_parse", "props_json_extract",
    "token_count", "lang_id_heuristic",
    "graph_pagerank", "dedup_components_converged", "token_coverage")

  /** Runs every query of the mix once, fully materialized, dropping data
    * caches after each as the benchmark does; returns the compiles. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach { name =>
      try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      finally {
        spark.catalog.clearCache()
        GraftCaches.releaseAll()
      }
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session bounds the generated-class cache at CodegenCacheEntries") {
    spark
    assert(SQLConf.get.codegenCacheMaxEntries === GraftSession.CodegenCacheEntries)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second pass over the 12-query mix compiles no generated class") {
    pass()
    assert(pass() === 0L)
  }
}
