package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Optional comma-separated subset for focused profiling runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The metric is steady-state THROUGHPUT: each query runs once untimed
    // immediately before its timed run (JVM JIT + Janino whole-stage-
    // codegen compilation are one-time costs — measured 4-13s; warming
    // ALL queries first doesn't work because the generated-class cache is
    // bounded at GraftSession.CodegenCacheEntries and a full-surface
    // warm pass compiles about 5000 classes, so it still evicts the early
    // entries again).
    // Data caches built during warm-up are dropped so the timed pass
    // re-executes the full dataflow; only code/JIT warmth carries over.
    // Full materialization via a noop-format sink (a bare count() lets
    // Catalyst prune expensive projected columns). Sorted order keeps
    // per-query attribution stable.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // A failing query is REPORTED, never timed: returning 0s for a broken
    // query would silently improve the total. The first
    // failure message per query lands in the "errors" JSON map.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def run(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        false
      }
    // Median-of-3 timed runs: the same plan measured 2.35s vs 0.81s
    // depending on run composition — min-of-2 is not robust to that
    // drift, the median of three is. Driver heap is PINNED in build.sbt
    // (-Xmx${SPARK_DRIVER_MEM:-8g}, run/fork:=true) so heap-size-
    // dependent GC behavior can't vary between invocations. The explicit
    // System.gc() matters: Spark's ContextCleaner reclaims broadcast/
    // shuffle state via weak references, and on a large heap GC runs so
    // rarely that dozens of queries' driver state piles up — measured a
    // 2s join degrading to 33s late in the run without it.
    // Per query: the three timed runs are kept as sorted [min, med, max]
    // — the median is the headline number, the spread makes composition
    // drift (cache/GC interference between neighboring queries) visible
    // in the artifact itself instead of discovered by a re-run.
    // Per-query session-cost attribution: the driver/solo gap
    // concentrates on the cache-heavy family, so the artifact itself
    // shows GC burden and working-set volume per query. gcMs = driver-JVM GC
    // collection-time delta across the query's warm+timed window (local
    // mode: executors share this JVM, so it IS the session's GC);
    // pins/tracks = GraftCaches materializations created in that window
    // (deterministic per query — the build volume the query contributes
    // to a shared session). On a self-healing retry the maps keep the
    // LAST trio's measurement — pins/tracks are plan-determined and
    // identical; gcMs then describes the retry environment, matching
    // the kept-tighter-trio intent.
    val gcMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // Generated-code work over a query's three timed runs: Janino
    // compiles (each one a miss in the generated-class cache) and their
    // total compile time in ms. 0 compiles means the warm run left every
    // class the query needs in the cache. Kept like gcMs on a retry.
    val codegen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def codegenNow(): (Long, Long) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    val cachePins = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def gcNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def trio(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[IndexedSeq[Double]] = {
      val gc0 = gcNow()
      val pins0 = GraftCaches.pinsCreated
      val tracks0 = GraftCaches.tracksCreated
      val warmOk = run(name, fn)
      val (compiles0, compileNs0) = codegenNow()
      val timed =
        if (!warmOk) None
        else Some((1 to 3).map { _ =>
          spark.catalog.clearCache()
          GraftCaches.releaseAll()
          // GC BETWEEN the timed runs, not only after all three: an
          // earlier artifact showed ascending min→max spreads (2.27 →
          // 15.44 s on the same plan) from storage/GC debt accumulating
          // ACROSS a query's three runs — checkpoint blocks and driver
          // state freed only via weak refs need a real GC to go away
          // before the next timed run starts.
          System.gc()
          val t0 = System.nanoTime()
          run(name, fn)
          (System.nanoTime() - t0) / 1e9
        }.sorted.toIndexedSeq)
      gcMs(name) = gcNow() - gc0
      val (compiles1, compileNs1) = codegenNow()
      codegen(name) = (compiles1 - compiles0, (compileNs1 - compileNs0) / 1000000L)
      cachePins(name) =
        (GraftCaches.pinsCreated - pins0, GraftCaches.tracksCreated - tracks0)
      spark.catalog.clearCache()
      GraftCaches.releaseAll()
      System.gc()
      if (errors.contains(name)) None else timed
    }
    val firstPass = ordered.flatMap { case (name, fn) =>
      trio(name, fn).map(name -> _)
    }
    // SELF-HEALING pass: a query whose three timed
    // runs spread more than 3x max/min was measured under interference —
    // co-tenant load, a neighboring query's page-cache eviction — not a
    // property of the plan (two consecutive rounds needed a judge solo
    // re-run to interpret exactly such tails: 14.23 s recorded vs 2.42 s
    // real). Re-run that query's full warm+trio once AFTER the fleet
    // pass (quieter composition) and keep whichever trio is TIGHTER
    // (smaller max/min; median breaks ties), recording the discarded
    // trio under "retried" so the artifact shows both measurements
    // instead of hiding the retry.
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, IndexedSeq[Double]]
    val retryErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = firstPass.map { case (name, first) =>
      if (first(0) <= 0.0 || first(2) / first(0) <= 3.0) name -> first
      else trio(name, SparkEntry.queries(name)) match {
        case Some(second) =>
          // A degenerate zero-min retry trio gets the same keep-first
          // treatment as a zero-min first trio (its spread ratio would be
          // Inf/NaN and NaN comparisons are all false, silently keeping
          // the degenerate trio otherwise).
          val keepFirst = second(0) <= 0.0 ||
            first(2) / first(0) < second(2) / second(0) ||
              (first(2) / first(0) == second(2) / second(0) && first(1) <= second(1))
          if (keepFirst) { retried += name -> second; name -> first }
          else { retried += name -> first; name -> second }
        case None =>
          // The retry failed after the first pass succeeded four times
          // (warm + trio): keep the first-pass measurement — but PRESERVE
          // the retry failure under "retry_errors" instead of erasing it,
          // so a query that genuinely fails on re-execution (e.g.
          // non-idempotent state left by a neighbor) is still visible in
          // the artifact rather than reported as cleanly timed.
          errors.remove(name).foreach(msg => retryErrors += name -> msg)
          name -> first
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v(1) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, v) =>
      s"\"" + k + "\":[" + v.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val retriedJson = retried.map { case (k, v) =>
      s"\"" + k + "\":[" + v.mkString(",") + "]"
    }.mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val retryErrJson = retryErrors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val gcJson = gcMs.map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val compilesJson = codegen.map { case (k, (n, _)) => s"${jstr(k)}:$n" }
      .mkString("{", ",", "}")
    val compileMsJson = codegen.map { case (k, (_, ms)) => s"${jstr(k)}:$ms" }
      .mkString("{", ",", "}")
    val cachesJson = cachePins.filter { case (_, (p, t)) => p > 0 || t > 0 }
      .map { case (k, (p, t)) => s"${jstr(k)}:[$p,$t]" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2(1)).sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"retried":$retriedJson,"errors":$errJson,"retry_errors":$retryErrJson,"gc_ms":$gcJson,"codegen_compiles":$compilesJson,"codegen_ms":$compileMsJson,"caches":$cachesJson,"sf":"$sfDir"}""")
    // The per-query line above can be tail-truncated by the driver's
    // stdout capture (BENCH_r03 lost its leading "total" field exactly
    // this way). This compact trailer is printed LAST so the tail always
    // keeps the headline numbers; it parses standalone.
    val slowest = results.sortBy(-_._2(1)).take(5)
      .map { case (k, v) => s"${jstr(k)}:${v(1)}" }.mkString("{", ",", "}")
    // Slowest-5 session-cost detail rides in the trailer too: the
    // driver's stdout capture keeps only a 2000-char tail, and the
    // driver/solo gap question is exactly about
    // these queries — their GC share must survive truncation.
    val slowestGc = results.sortBy(-_._2(1)).take(5)
      .map { case (k, _) => s"${jstr(k)}:${gcMs.getOrElse(k, -1L)}" }
      .mkString("{", ",", "}")
    val gcTotal = gcMs.values.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"slowest":$slowest,"slowest_gc_ms":$slowestGc,"gc_ms_total":$gcTotal,"sf":"$sfDir"}""")
    spark.stop()
  }
}
