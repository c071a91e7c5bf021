package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place for every config the
  * engine depends on, so a user embedding graft in their own app gets
  * the same behavior as the Verify/Bench mains.
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` — legacy-vintage support:
  *    an `events` file written with `ts` as TIMESTAMP(NANOS) is otherwise
  *    rejected by the vectorized reader; with the flag it loads as a raw
  *    int64 that [[graft.sources.Tables.events]] converts. Current files
  *    carry TIMESTAMP(MICROS) and do not need it. Set once here instead
  *    of mutating a live session mid-read.
  *  - `spark.sql.shuffle.partitions` sized to the core count — 200-way
  *    shuffles of local data are pure overhead; on a real cluster pass
  *    `shufflePartitions` ≈ 2-3× total executor cores.
  *  - UTC session time zone — every date/timestamp oracle assumes it.
  *  - `spark.sql.codegen.cache.maxEntries` at [[CodegenCacheEntries]], so
  *    a recurring query mix compiles its generated classes once.
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` — a
  *    persisted relation ([[GraftCaches]] pins and tracks) is planned with
  *    adaptive execution, so its partition count follows its size instead
  *    of freezing at `spark.sql.shuffle.partitions`, and every consumer of
  *    it inherits the coalesced count.
  *  - RocksDB state store provider — required by `transformWithState`
  *    (TypeStats) even in batch mode, and the right default at scale
  *    anyway: state lives off-heap/on-disk with incremental checkpoints
  *    instead of the HDFS-backed provider's full in-memory maps.
  *  - [[graft.plans.GraftExtensions]] registered, so the abs-range join
  *    rewrite (and future Catalyst extensions) are active.
  *
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst` stays at its
  * default (true): with `false`, a stage whose shuffle is only moderate
  * coalesces into one task and its CPU runs on one core. At cluster
  * scale the advisory partition size governs either way.
  */
object GraftSession {

  /** Bound of Spark's JVM-wide LRU cache of Janino-compiled generated
    * classes (Spark's default is 100). Sized from measurement:
    *  - working set: the benchmark's 12-query `queries` mix (sf0.01)
    *    generates about 150–160 distinct classes per pass, so at 100
    *    entries each class is evicted before its next use and every pass
    *    recompiles about 140–155 of them (2.0–2.3 s of a 9–10 s pass);
    *  - cost: a retained entry holds about 25–55 KB of heap (+3.2 MB for
    *    about 60 more entries on that mix; +22 MB for 900 more over all
    *    354 queries at sf0.001);
    *  - worst case: 1000 entries, about 6× that mix, hold at most about
    *    55 MB of heap when full.
    * One pass over all 354 queries compiles about 5000 classes, so it
    * still cycles through the cache; Bench warms each query right before
    * timing it for that reason.
    * Spark reads the bound once per JVM, when the first code generation
    * builds the cache, so it holds when this builder makes the JVM's
    * first session. */
  private[graft] val CodegenCacheEntries: Int = 1000

  /** Builder preconfigured for a local run; call `.getOrCreate()`, or
    * chain further `.config(...)` overrides first. */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
      shufflePartitions: Option[Int] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .withExtensions(new graft.plans.GraftExtensions())
}
