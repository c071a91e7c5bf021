package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Session-lifetime registry of the working-set relations the operators
  * persist internally (LSH band relations, shingle sets, ANN index
  * relations — see Dedup/Similarity). Those caches exist to stop Catalyst's
  * projection collapse from re-evaluating an expensive signature expression
  * tree on both sides of a self-join (measured 25x); they are deliberate.
  * The registry adds the release side: without it a
  * library user running dedup then similarity in one long-lived session
  * accumulated executor storage with no handle to free it.
  *
  * `track` is called by the operators at persist time; [[releaseAll]]
  * unpersists everything tracked and empties the registry. Verify/Bench
  * call it between queries; an embedding application calls it between
  * query families (or relies on `spark.catalog.clearCache()`, which also
  * drops these — this registry is narrower: it frees ONLY operator
  * working sets, not caches the application itself created).
  *
  * At cluster scale the same relations would be written to tables instead
  * of cached (documented in the operators); this registry is the
  * session-local analog of dropping those temp tables.
  */
object GraftCaches {
  private val tracked = new ConcurrentLinkedQueue[DataFrame]()
  private val pinnedRdds = new ConcurrentLinkedQueue[RDD[_]]()

  // Lifetime creation counters (never reset): Bench diffs them around
  // each query to attribute working-set volume per query (the
  // driver/solo gap concentrates on the cache-heavy family, so the
  // artifact must show WHICH queries build how much).
  // There is no hit/miss notion to count: the registry is deliberately
  // build-and-release (Verify/Bench release between queries), so every
  // pin/track is a fresh materialization — creation volume IS the
  // cache pressure a query contributes to a shared session.
  private val pinsTotal = new java.util.concurrent.atomic.AtomicLong
  private val tracksTotal = new java.util.concurrent.atomic.AtomicLong

  /** Cumulative [[pin]] calls this JVM — monotone; diff around a query. */
  def pinsCreated: Long = pinsTotal.get()

  /** Cumulative [[track]] calls this JVM — monotone; diff around a query. */
  def tracksCreated: Long = tracksTotal.get()

  /** Persist `df` (MEMORY_AND_DISK: a working set larger than executor
    * storage spills instead of evicting mid-job) and register it for
    * [[releaseAll]]. Returns the persisted frame. */
  def track(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.add(df)
    tracksTotal.incrementAndGet()
    df
  }

  /** Materialize `df` NOW with `localCheckpoint(eager = true)` and
    * truncate its lineage. For state that is re-referenced across jobs or
    * iteration rounds (PrefixScan's `_pid` offsets, per-round CC/PageRank
    * labels), [[track]]'s persist is the WRONG primitive: a cached block
    * is a hint — evictable under heap pressure, silently recomputing its
    * entire (per-round doubling) lineage, and for nondeterministic
    * columns like `spark_partition_id()` recomputing a DIFFERENT answer.
    * A checkpointed block is the data: MEMORY_AND_DISK spills instead of
    * dropping, a genuinely lost block fails LOUDLY (lineage is gone).
    * At cluster scale the same role is played by writing the round's
    * state to a table.
    *
    * Release: ContextCleaner frees checkpoint blocks
    * only after the frame is GC'd — on a large driver heap that can be
    * MANY queries later, accumulating executor storage exactly like
    * untracked operator caches. So the checkpointed RDD is recorded
    * here and [[releaseAll]] unpersists it explicitly: a pinned frame is
    * never legitimately re-used after its query's action completes. */
  def pin(df: DataFrame): DataFrame = pin(df, eager = true)

  /** [[pin]] with the materialization action under caller control.
    * `eager = false` defers the checkpoint to the FIRST action that
    * touches the frame — for iterated operators whose next step is an
    * aggregate over the freshly pinned state (a convergence probe, a
    * fixpoint signature) or whose rounds are only ever consumed by the
    * final action, this folds what used to be a dedicated ~450 ms
    * checkpoint job per round into a job the operator was running
    * anyway. Lineage truncation and loud-failure-on-lost-block
    * semantics are unchanged — the blocks are simply stored by whichever
    * job computes the partitions first.
    *
    * `eager = false` is SAFE even for frozen-`_pid` callers like
    * PrefixScan: the RDD (and with it every partition index that
    * `spark_partition_id()` reports) is fixed at the `localCheckpoint`
    * CALL, and a single lazily-checkpointed RDD never re-executes its
    * plan — what the contract forbids is two separate executions of the
    * UN-pinned plan, where AQE may re-coalesce (see [[graft.operators.PrefixScan]]).
    * Prefer `eager = true` when several SIBLING stages of one action (or
    * concurrent jobs) consume the pin: lazy materialization makes their
    * tasks race on the block-store locks, serializing on whichever task
    * computes each partition first (measured on pagerank_suppliers). */
  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager = eager)
    pinnedRdd(cp).foreach(pinnedRdds.add)
    pinsTotal.incrementAndGet()
    cp
  }

  /** The checkpointed RDD behind a [[pin]]-ned frame: a job over it reads
    * (or, for a lazy pin not yet materialized, computes and stores) the
    * pinned blocks without planning a query. */
  private[graft] def pinnedRdd(pinned: DataFrame): Option[RDD[InternalRow]] =
    pinned.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Unpersist every tracked relation (non-blocking) and clear the
    * registry. For [[track]]-ed (persisted) frames this is safe at any
    * time: a later action on the same frame recomputes instead of
    * failing. For [[pin]]-ned (localCheckpoint-ed) frames the checkpoint
    * RDD is unpersisted with its lineage already truncated, so a
    * post-release action fails LOUDLY with a SparkException — the
    * intended contract (a pinned frame is never legitimately re-used
    * after its query's action completes), pinned by PrefixScanSpec. */
  def releaseAll(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = tracked.poll()
    }
    var rdd = pinnedRdds.poll()
    while (rdd != null) {
      rdd.unpersist(blocking = false)
      rdd = pinnedRdds.poll()
    }
  }

  /** Number of currently tracked (not yet released) relations — spec aid. */
  def trackedCount: Int = tracked.size()

  /** Spec aid: ids of RDDs the session currently holds persistent. */
  def persistentRddIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
}
