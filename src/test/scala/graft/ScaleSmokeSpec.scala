package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Scale smoke (round-6 VERDICT item 7): run the dedup/ANN paths on a
  * SyntheticDocs corpus ≥ 10x the sf0.1 fixture (50k docs / 100k
  * vectors vs 5k / 10k) — converting the "survives 100 TB" design
  * arguments into measured completions. No oracle at this size: the
  * assertions are (a) the job finishes, (b) the plan contains no
  * CartesianProduct / BroadcastNestedLoopJoin (the PlanGuard ban), and
  * (c) candidate generation stays bounded. Wall time is printed in the
  * test report (`info(...)`) and the round's numbers are recorded in
  * SURVEY §7. Scale with SPARK_GRAFT_SMOKE_DOCS / _VECS for bigger
  * one-off runs.
  */
class ScaleSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Default REDUCED 50k → 20k docs in round 15 (r14 VERDICT #7: the
  // driver's `sbt test` must finish inside the harness budget — the 50k
  // worst-skew banding test alone ran 242 s of the 23:39 suite). 20k is
  // still 4× the sf0.1 fixture and exercises the identical plan shapes
  // and skew-collapse regime; the 50k completions are recorded in
  // SURVEY §7 and remain reproducible with
  // SPARK_GRAFT_SMOKE_DOCS=50000 SPARK_GRAFT_SMOKE_VECS=100000.
  private val nDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_DOCS", "20000").toLong
  private val nVecs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_VECS", "100000").toLong

  private def synthDocs(n: Long): DataFrame =
    spark.read.format("graft.sources.v2.SyntheticDocs")
      .option("rows", n).option("partitions", 32).load()

  /** Deterministic 64-dim synthetic embeddings (hash-derived floats in
    * [0, 1)): same generate-don't-store idea as SyntheticDocs. */
  private def synthVecs(n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => pmod(hash(col("id"), j), lit(1000)).cast("float") / lit(1000.0f))
        .as("embedding"))

  private def banned(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "CartesianProduct in plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in plan")
  }

  private def timed[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    info(f"$what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  test(s"minhash LSH candidate generation completes at $nDocs docs") {
    val d = synthDocs(nDocs)
    val pairs = Dedup.lshCandidatePairs(d, "doc_id", "text")
    banned(pairs)
    // The 14-word synthetic vocabulary makes almost every band bucket
    // degenerate — the bucket cap is what keeps this from going
    // quadratic, which is exactly the guard this smoke exercises.
    val n = timed(s"lshCandidatePairs over $nDocs docs")(pairs.count())
    assert(n >= 0L)
    GraftCaches.releaseAll()
  }

  test(s"span dedup completes at $nDocs docs and cleans duplicated spans") {
    val d = synthDocs(nDocs)
    val cleaned = Dedup.spanDedup(d, "doc_id", "text", w = 8)
    banned(cleaned)
    val agg = timed(s"spanDedup over $nDocs docs")(
      cleaned.agg(count(lit(1)), sum(col("n_dup_tokens"))).collect()(0))
    assert(agg.getLong(0) === nDocs)
    assert(agg.getLong(1) > 0L, "synthetic corpus should contain duplicated spans")
    GraftCaches.releaseAll()
  }

  test(s"delta dedup (new batch vs corpus) completes at $nDocs docs") {
    val d = synthDocs(nDocs)
    val scored = Dedup.deltaDedup(d, "doc_id", "text",
      isNew = col("doc_id") >= lit(nDocs * 9 / 10))
    banned(scored)
    val n = timed(s"deltaDedup ${nDocs / 10} new vs ${nDocs * 9 / 10} old")(
      scored.count())
    assert(n === nDocs - nDocs * 9 / 10)
    GraftCaches.releaseAll()
  }

  test(s"LSH ANN top-k completes at $nVecs vectors") {
    val v = synthVecs(nVecs)
    val topk = Similarity.lshTopK(v, "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10)
    banned(topk)
    val n = timed(s"lshTopK over $nVecs vectors")(topk.count())
    assert(n <= 50L)
    GraftCaches.releaseAll()
  }

  test(s"span-corruption plan completes at $nDocs docs") {
    // Token-level explode + per-doc windows + reassembly agg — the
    // heaviest pure-text shuffle shape added in round 7; window
    // partitions are bounded by document length, so no reducer hotspot.
    val d = synthDocs(nDocs)
    val plan = graft.operators.TextOps.spanCorruptionPlan(d, "doc_id", "text")
    banned(plan)
    val agg = timed(s"spanCorruptionPlan over $nDocs docs")(
      plan.agg(count(lit(1)), sum(col("n_spans"))).collect()(0))
    assert(agg.getLong(0) === nDocs)
    assert(agg.getLong(1) > 0L, "hash-selected starts must produce spans")
    GraftCaches.releaseAll()
  }

  test(s"contrastive pair mining completes at $nVecs vectors") {
    // Same capped banded-LSH candidate graph as knn_label_noise; the
    // per-anchor ranking windows partition by (anchor, same-label), so
    // reducers stay bucket-bounded. Labels are hash-derived (id % 7).
    val v = synthVecs(nVecs).withColumn("label", pmod(col("vec_id"), lit(7)).cast("int"))
    val pairs = Similarity.contrastivePairs(v, "vec_id", "embedding", "label")
    banned(pairs)
    val n = timed(s"contrastivePairs over $nVecs vectors")(pairs.count())
    assert(n >= 0L)
    GraftCaches.releaseAll()
  }

  test(s"forward as-of join stays linear at $nVecs left rows") {
    // The first asOfForward used a [current, unbounded following] frame —
    // re-aggregated per row by WindowExec, O(rows²) per key partition
    // (32 s at sf0.1's 400 rows/key; minutes here). The reversed running
    // frame must complete these 2k-row key partitions in seconds.
    val n = nVecs
    val left = spark.range(n).select(col("id").as("event_id"),
      pmod(col("id"), lit(50)).as("k"), pmod(hash(col("id")), lit(1000000)).as("t"))
    val right = spark.range(n / 2).select(col("id").as("r_id"),
      pmod(col("id") * 7 + 3, lit(50)).as("rk"),
      pmod(hash(col("id"), lit(1)), lit(1000000)).as("rt"),
      (col("id") % 997).as("payload"))
    val joined = graft.operators.AsOfJoin.asOfForward(left, right,
      leftKey = col("k"), rightKey = col("rk"),
      leftTime = col("t"), rightTime = col("rt"),
      rightTie = "r_id", rightPayload = Seq("payload"))
    banned(joined)
    val c = timed(s"asOfForward over $n left / ${n / 2} right rows")(joined.count())
    assert(c === n, "forward as-of is left-outer: every left row survives")
  }

  test(s"nearest as-of join stays linear at $nVecs left rows") {
    // Both direction scans must use running [unbounded preceding, current]
    // frames (the forward one over the reversed sort) — a shrinking frame
    // in either direction re-aggregates per row, O(rows²) per key
    // partition (the asOfForward regression this file pinned).
    val n = nVecs
    val left = spark.range(n).select(col("id").as("event_id"),
      pmod(col("id"), lit(50)).as("k"), pmod(hash(col("id")), lit(1000000)).as("t"))
    val right = spark.range(n / 2).select(col("id").as("r_id"),
      pmod(col("id") * 7 + 3, lit(50)).as("rk"),
      pmod(hash(col("id"), lit(1)), lit(1000000)).as("rt"),
      (col("id") % 997).as("payload"))
    val joined = graft.operators.AsOfJoin.asOfNearest(left, right,
      leftKey = col("k"), rightKey = col("rk"),
      leftTime = col("t"), rightTime = col("rt"),
      rightTie = "r_id", rightPayload = Seq("payload"))
    banned(joined)
    val c = timed(s"asOfNearest over $n left / ${n / 2} right rows")(joined.count())
    assert(c === n, "nearest as-of is left-outer: every left row survives")
  }

  test(s"IVF-PQ top-k completes at $nVecs vectors") {
    // The composed index must stay candidate-bounded: the cell filter
    // prunes to ~nProbe/nCentroids of the corpus, and ADC touches only
    // the m-int code relation for the survivors. The centroid probe is
    // the deliberate tiny-broadcast nested loop (whitelisted in
    // PlanGuardSpec), so banned() is relaxed to Cartesian only.
    val v = synthVecs(nVecs)
    val topk = Similarity.ivfPqTopK(v, "vec_id", "embedding",
      queryPred = col("vec_id") < 3, topK = 10)
    assert(!topk.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val n = timed(s"ivfPqTopK over $nVecs vectors")(topk.count())
    assert(n === 30L, "10 ranked rows per query vector")
  }

  test(s"SemDeDup within-cell dedup completes at $nVecs vectors") {
    // More cells at scale (k grows with the corpus so cell sizes stay
    // bounded — the paper's regime); the maxCell cap is the guard this
    // smoke exercises: hash-derived vectors concentrate into few cells,
    // and without the cap one degenerate cell would go quadratic.
    val v = synthVecs(nVecs)
    val kept = Similarity.semDedup(v, "vec_id", "embedding",
      threshold = 0.9, k = 256, maxCell = 2000)
    // banned() is not applied verbatim here: the centroid assignment is a
    // DELIBERATE broadcast nested loop over the k-row constant centroid
    // side (the ivf_* shape, whitelisted in PlanGuardSpec). Cartesian
    // stays banned, and the quadratic-risk pair stage must be an
    // equi-join on centroid_id — assert exactly that.
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "CartesianProduct in plan")
    val agg = timed(s"semDedup over $nVecs vectors")(
      kept.agg(count(lit(1)), sum(when(col("is_kept"), 0L).otherwise(1L))).collect()(0))
    info(s"semDedup dropped ${agg.getLong(1)} of ${agg.getLong(0)} " +
      "(uniform synthetic vectors overfill cells at big N: the maxCell cap " +
      "excludes them from pairing rather than going quadratic — the guard " +
      "this smoke exercises; wall time is the flat N x k centroid assign, " +
      "linear and embarrassingly parallel)")
    assert(agg.getLong(0) === nVecs, "every vector must receive a verdict")
    assert(agg.getLong(1) >= 0L)
    GraftCaches.releaseAll()
  }

  test(s"SemDeDup probe-2 clusters stay non-degenerate at ${nVecs / 5} vectors (round-11)") {
    // The round-11 autoCells discipline measured, not assumed: with the
    // corpus-scaled cell count (n/62) the probe-2 membership relation
    // must keep most cells UNDER the cap — a fixed k=16 at this size put
    // ~1250 members in every cell and the cap silently emptied candidate
    // generation. Centered vectors (like the fixture embeddings, unlike
    // the [0,1) uniform ones above) spread across cells.
    val n = nVecs / 5
    val v = synthVecs(n).select(col("vec_id"),
      transform(col("embedding"), x => x - lit(0.5f)).as("embedding"))
    val k = Similarity.autoCells(n)
    val e = v.select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
    val members = Similarity.semDedupMembers(e, "vec_id", k, probes = 2, maxCell = 200)
    val mc = timed(s"semDedupMembers(k=$k, probe-2) over $n vectors")(members.count())
    assert(mc > n,
      s"probe-2 memberships ($mc) must exceed n=$n — most cells under the cap, " +
        "candidate generation non-degenerate")
    GraftCaches.releaseAll()
    val clusters = Similarity.semDedupClusters(v, "vec_id", "embedding",
      threshold = 0.9, k = k)
    val plan = clusters.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "CartesianProduct in plan")
    val c = timed(s"semDedupClusters over $n vectors")(clusters.count())
    assert(c >= 0L)
    GraftCaches.releaseAll()
  }

  /** Synthetic events parquet (1M rows, 5k users, 30-day span) written
    * once per test: the event-stream operators read the REAL fixture
    * path (`Tables.events`), so the smoke drives the exact shipped query
    * functions, not re-implementations. */
  private def synthEventsDir(n: Long): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale-ev").toString
    val baseUs = 1704067200000000L // 2024-01-01 UTC
    spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(baseUs) +
          pmod(col("id") * 37000000L, lit(30L * 86400 * 1000000L))).as("ts"),
        pmod(col("id"), lit(5000)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase"),
          lit("signup"), lit("error")),
          (pmod(hash(col("id")), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(hash(col("id"), lit(1)), lit(10000)).cast("double") / 100.0).as("value"),
        lit("{\"k\": 1}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("sweep-line session load and window funnel complete at 1M events") {
    val dir = synthEventsDir(1000000L)
    val asd = graft.queries.Relational.activeSessionsDaily(spark, dir)
    banned(asd)
    val days = timed("activeSessionsDaily over 1M events")(asd.count())
    assert(days > 0L)
    val wf = graft.queries.Relational.windowFunnel(spark, dir)
    banned(wf)
    val stages = timed("windowFunnel over 1M events")(wf.collect())
    assert(stages.length === 3)
    val rowsByStage = stages.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rowsByStage("1_view") > 0L, "stage 1 must see views")
    GraftCaches.releaseAll()
  }

  test("streaming funnel / CDC apply / SCD2 state folds complete at 1M events") {
    val dir = synthEventsDir(1000000L)
    // Strict funnel: per-user pending-frontier state (horizon-pruned) —
    // 5000 users x 200 events in ONE user-keyed exchange.
    val sf = graft.queries.MediaStreamQueries.streamFunnel(spark, dir)
    banned(sf)
    val stages = timed("streamFunnel over 1M events")(sf.collect())
    assert(stages.length === 3)
    GraftCaches.releaseAll()
    // SCD2: O(1) open-interval state per user over the full event volume
    // (no user_id cap here, unlike the oracle-bounded query).
    val sc = graft.streaming.Scd2Stream.history(
      graft.sources.Tables.events(spark, dir))
    val n = timed("Scd2Stream over 1M events")(sc.toDF().count())
    assert(n > 0L)
    GraftCaches.releaseAll()
  }

  test("streaming gap-anomaly detector completes at 1M events") {
    val dir = synthEventsDir(1000000L)
    val flags = graft.queries.MediaStreamQueries.streamAnomalyFlags(spark, dir)
    banned(flags)
    // 5000 users x 200 events: the user-keyed state fold must finish in
    // one exchange; flag count is data-dependent (the synthetic gap
    // pattern is near-regular), completion + plan shape are the smoke.
    val n = timed("gapAnomalies over 1M events")(flags.count())
    assert(n >= 0L)
    GraftCaches.releaseAll()
  }

  test(s"HLL source-overlap sketch algebra completes at $nDocs docs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale-hll").toString
    synthDocs(nDocs)
      .withColumn("source", concat(lit("src_"), pmod(col("doc_id"), lit(20))))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val ov = graft.queries.TextQueries.hllSourceOverlap(spark, tmp)
    // The s1 < s2 pair inventory over the 20-row estimate relation is a
    // deliberate tiny BNLJ (PlanGuard whitelist); only CartesianProduct
    // stays banned here.
    assert(!ov.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val rows = timed(s"hllSourceOverlap over $nDocs docs")(ov.collect())
    assert(rows.length === 190, "20 sources must yield C(20,2) = 190 pairs")
    assert(rows.forall(r => r.getDouble(4) > 0.0), "union estimates must be positive")
    GraftCaches.releaseAll()
  }

  test(s"grouped PrefixScan + ntile complete at ${nDocs * 40} rows with no single-task window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val n = nDocs * 40 // 2M rows at the default smoke size
    // 5 groups — the per-group single-task trap shape (n/5 rows per task
    // under a plain Window.partitionBy) — ranked per group, then a global
    // quartile ntile on top.
    val df = spark.range(n).select(
      pmod(col("id"), lit(5)).as("g"), col("id"),
      pmod(hash(col("id")), lit(100000)).cast("long").as("v"))
    val ranked = graft.operators.PrefixScan.runningSum(
      df.withColumn("one", lit(1L)), Seq("g"), "one", "rn", col("v"), col("id"))
    def bare(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => bare(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w) ++ w.children.flatMap(bare)
      case other => other.children.flatMap(bare)
    }
    assert(bare(ranked.queryExecution.executedPlan).isEmpty,
      "grouped scan must not plan a partition-less window")
    val maxRn = timed(s"grouped PrefixScan.runningSum over $n rows x 5 groups")(
      ranked.agg(max("rn")).collect()(0).getLong(0))
    assert(maxRn === n / 5, "each group's top rank must equal the group size")
    GraftCaches.releaseAll()
    val tiled = graft.operators.PrefixScan.ntile(
      df, 4, "q", col("v"), col("id"))
    assert(bare(tiled.queryExecution.executedPlan).isEmpty,
      "distributed ntile must not plan a partition-less window")
    val counts = timed(s"PrefixScan.ntile(4) over $n rows")(
      tiled.groupBy("q").count().orderBy("q").collect())
    assert(counts.map(_.getLong(1)).toSeq === Seq.fill(4)(n / 4),
      "quartiles of a 4-divisible population must be equal-sized")
    GraftCaches.releaseAll()
  }

  test(s"perceptual near-dup banding completes at $nDocs docs (round-8 VERDICT 4)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale-phash").toString
    synthDocs(nDocs).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // The synthetic corpus's tiny vocabulary makes fingerprints collide
    // MASSIVELY — exactly the re-uploaded-asset skew the rep collapse
    // exists for: identical fps fold to one row before the band join, so
    // the smoke proves the worst-skew regime completes, not just runs.
    val pairs = graft.queries.MediaStreamQueries.queries("media_neardup_pairs")(spark, tmp)
    banned(pairs)
    val n = timed(s"media_neardup_pairs over $nDocs docs")(pairs.count())
    assert(n >= 0L)
    GraftCaches.releaseAll()
    val clusters = graft.queries.MediaStreamQueries
      .queries("media_neardup_clusters")(spark, tmp)
    banned(clusters)
    val c = timed(s"media_neardup_clusters over $nDocs docs")(clusters.count())
    assert(c >= 0L)
    GraftCaches.releaseAll()
  }

  test(s"curation family (split/trim/mix/pack) completes at $nDocs docs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale-cur").toString
    // SyntheticDocs carries no `source`; derive the fixture's 20-source
    // domain so the per-source queries see realistic group cardinality.
    synthDocs(nDocs)
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val qs = graft.queries.CurationQueries.queries
    // pack_sequences: groups are CONSTRUCTED bounded (doc_id DIV 64), so
    // shard count grows with the corpus and no group ever exceeds 64
    // docs — assert that invariant at this size, not just completion.
    val pack = qs("pack_context_bins")(spark, tmp)
    val overfull = timed(s"pack_context_bins over $nDocs docs")(
      pack.filter(col("n_docs") > 64).count())
    assert(overfull === 0L, "a pack bin exceeded its shard's 64-doc bound")
    GraftCaches.releaseAll()
    // token_budget_trim rides the grouped PrefixScan — completion +
    // no-partition-less-window is pinned by the grouped-scan smoke above;
    // here assert the trim's budget invariant holds at size.
    val trim = qs("token_budget_trim")(spark, tmp)
    val viol = timed(s"token_budget_trim over $nDocs docs")(
      trim.filter(col("tokens_kept") > 600L).count())
    assert(viol === 0L, "a source exceeded its token budget")
    GraftCaches.releaseAll()
    val split = qs("stratified_split")(spark, tmp)
    val total = timed(s"stratified_split over $nDocs docs")(
      split.agg(sum("n_docs")).head().getLong(0))
    assert(total === nDocs)
    GraftCaches.releaseAll()
  }

  test(s"media shard packing completes at $nDocs docs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale-docs").toString
    synthDocs(nDocs).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val plan = graft.queries.MediaStreamQueries.mediaShardPlan(spark, tmp)
    banned(plan)
    val rows = timed(s"mediaShardPlan over $nDocs docs")(
      plan.agg(count(lit(1)), sum(col("n_items"))).collect()(0))
    assert(rows.getLong(1) === nDocs, "every item must land in exactly one shard")
    GraftCaches.releaseAll()
  }
}
