package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.RawPage
import graft.operators.Syllabus
import graft.queries.{DedupQueries, SimilarityQueries}

/** The operators persist working-set relations (LSH bands, shingle sets,
  * ANN index) through [[GraftCaches]]; a long-lived session running query
  * after query must be able to return to its pre-query storage footprint.
  * Round-2 VERDICT item: back-to-back dedup queries must show no
  * storage-memory growth once the caller releases. */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("operator caches are tracked and releaseAll returns storage to baseline") {
    GraftCaches.releaseAll()
    val before = GraftCaches.persistentRddIds(spark)
    val pins0 = GraftCaches.pinsCreated

    // Two query families back to back, each consumed by a real action.
    assert(DedupQueries.queries("dedup_minhash_pairs")(spark, dir).count() >= 0)
    assert(DedupQueries.queries("dedup_ngram_jaccard")(spark, dir).count() >= 0)
    assert(SimilarityQueries.queries("embed_neardup_pairs")(spark, dir).count() >= 0)
    // Round 15: the multi-consumer working sets (shingles, bands, ANN
    // index) moved from track (cache) to eager pin (localCheckpoint), so
    // registration shows up as pins; either registry counts as "the
    // operators materialized working sets this spec must see released".
    assert(GraftCaches.trackedCount > 0 || GraftCaches.pinsCreated > pins0,
      "operators should have tracked caches or pinned working sets")

    GraftCaches.releaseAll()
    assert(GraftCaches.trackedCount === 0)
    val after = GraftCaches.persistentRddIds(spark)
    assert(after.subsetOf(before),
      s"persistent RDDs grew: ${after -- before} remain after releaseAll")
  }

  test("PrefixScan pin checkpoint blocks are freed by releaseAll (round-8 VERDICT 2)") {
    // pin() localCheckpoints the range-partitioned input of every scan;
    // before round 9 those blocks persisted until the frame was GC'd, so
    // a long-lived session accumulated executor storage query after
    // query. releaseAll must now unpersist them explicitly.
    GraftCaches.releaseAll()
    val before = GraftCaches.persistentRddIds(spark)
    Seq("exact_quantiles", "weighted_median_by_group", "abc_classification").foreach { q =>
      assert(SparkEntry.queries(q)(spark, dir).count() > 0, q)
    }
    assert(GraftCaches.persistentRddIds(spark).size > before.size,
      "PrefixScan queries should have pinned checkpoint blocks while running")
    GraftCaches.releaseAll()
    val after = GraftCaches.persistentRddIds(spark)
    assert(after.subsetOf(before),
      s"pinned checkpoint RDDs leaked past releaseAll: ${after -- before}")
  }

  test("bm25_search and retrieve_rerank track no caches (round-6 VERDICT 6/7)") {
    // bm25's token relation is single-consumer since the dl agg moved to a
    // size()-at-scan projection, so neither the lexical stage nor the
    // two-stage rerank pipeline should persist anything: plan construction
    // must leave the registry exactly as it found it.
    GraftCaches.releaseAll()
    graft.queries.TextQueries.bm25Search(spark, dir)
    assert(GraftCaches.trackedCount === 0,
      "bm25_search tracked a cache; its token relation is single-use")
    SimilarityQueries.retrieveRerank(spark, dir)
    assert(GraftCaches.trackedCount === 0,
      "retrieve_rerank tracked a cache; candidates are already bounded")
  }

  test("the syllabus parse checkpoint is registered in no cache registry") {
    // Syllabus.parse keeps its result as a local checkpoint owned by the
    // returned Dataset; a registry holding it strongly would keep one
    // corpus-sized copy per parse in a session that never releases.
    import spark.implicits._
    val pages = Seq(
      RawPage("d1", "UG-202520_1AEL0244-8281.pdf", 0,
        "I. INFORMACIÓN GENERAL\nNombre del Curso: Cálculo I", null),
      RawPage("d2", "syllabus.pdf", 0, "I. INFORMACIÓN GENERAL", null)).toDF()
    val pins0 = GraftCaches.pinsCreated
    val tracked0 = GraftCaches.trackedCount
    val cacheEmpty0 = spark.sharedState.cacheManager.isEmpty

    assert(Syllabus.parseFromPages(pages).count() === 2)

    assert(GraftCaches.pinsCreated === pins0)
    assert(GraftCaches.trackedCount === tracked0)
    assert(spark.sharedState.cacheManager.isEmpty === cacheEmpty0)
  }
}
