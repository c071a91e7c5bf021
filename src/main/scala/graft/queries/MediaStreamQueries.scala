package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Multimodal
import graft.sources.Tables
import graft.streaming.StreamingCalendar

/** Windowed-aggregation and multimodal-plumbing queries. The window rollup
  * and the mapGroupsWithState running aggregate run the *same* code as the
  * Structured Streaming path (StreamingCalendar) in batch mode, so the
  * streaming operators themselves are oracle-checked here; the stub decode
  * is pure byte arithmetic, so even the mapPartitions path is rebuilt in
  * DuckDB SQL and hash-checked.
  */
object MediaStreamQueries {

  /** Tumbling 7-day event-time windows (epoch-aligned, like Spark's
    * `window()`), counts + exact decimal value sums. */
  def windowedEventAgg(spark: SparkSession, dir: String): DataFrame =
    StreamingCalendar.weeklyTypeCounts(Tables.events(spark, dir))

  val windowedEventAggSql: String =
    """SELECT make_timestamp((epoch_us(ts) // 604800000000) * 604800000000) AS window_start,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sliding 14-day/7-day windows — the overlapping-window streaming
    * surface next to the tumbling one; oracle explodes each event into
    * its two covering window starts. */
  def slidingEventAgg(spark: SparkSession, dir: String): DataFrame =
    StreamingCalendar.slidingTypeCounts(Tables.events(spark, dir))

  val slidingEventAggSql: String =
    """WITH e AS (SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS s0,
      |                  event_type, value
      |           FROM events),
      |x AS (SELECT unnest([s0, s0 - 604800000000]) AS ws, event_type, value FROM e)
      |SELECT make_timestamp(ws) AS window_start,
      |       make_timestamp(ws + 1209600000000) AS window_end,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM x GROUP BY ws, event_type ORDER BY 1, 3""".stripMargin

  /** Spark's built-in `session_window` (dynamic-gap-capable session
    * windows as a grouping expression — the declarative alternative to
    * the flatMapGroupsWithState sessionizers, state merged by Spark's
    * session-window aggregation). 7-day gap like `sessionize`; session
    * end = last event + gap by definition, which the gaps-and-islands
    * oracle reproduces. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "7 days").as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"), col("total_value"))

  val sessionWindowAggSql: String =
    """WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS t, value FROM events),
      |m AS (SELECT *, CASE WHEN t - lag(t) OVER w > 604800000000
      |                     OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS grp
      |      FROM m)
      |SELECT user_id,
      |       make_timestamp(MIN(t)) AS session_start,
      |       make_timestamp(MAX(t) + 604800000000) AS session_end,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM g GROUP BY user_id, grp ORDER BY user_id, session_start""".stripMargin

  /** Sweepline peak-concurrency profile — how many user sessions are
    * open at once, per day: the interval-scheduling readout capacity
    * planning runs on session tables (peak simultaneous connections /
    * rooms / licenses). Each session contributes a +1 event at its
    * start and a −1 at its (exclusive) end; the running sum of deltas
    * over the (time, delta) total order IS the live concurrency, and it
    * rides [[graft.operators.PrefixScan]] — the at-scale sweepline (a
    * global ORDER BY window would move every event into one task;
    * ends sort before starts at equal timestamps, so an exclusive end
    * never overlaps the session starting that instant). Per-day peak =
    * one max over event days; days with no events report no row
    * (standard event-time sweep semantics). Sessions are the same
    * 7-day-gap islands as `session_window_agg`. */
  def concurrencyProfile(spark: SparkSession, dir: String): DataFrame = {
    val sessions = Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "7 days").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("s"), unix_micros(col("w.end")).as("e"))
    val sweep = sessions.select(col("s").as("t"), lit(1L).as("d"))
      .unionByName(sessions.select(col("e").as("t"), lit(-1L).as("d")))
    graft.operators.PrefixScan.runningSum(sweep, Nil, "d", "rs", col("t"), col("d"))
      .groupBy(to_date(timestamp_micros(col("t"))).cast("timestamp").as("day"))
      .agg(max("rs").as("peak_concurrent"))
  }

  val concurrencyProfileSql: String =
    """WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS t FROM events),
      |m AS (SELECT *, CASE WHEN t - lag(t) OVER w > 604800000000
      |                     OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS grp
      |      FROM m),
      |sess AS (SELECT MIN(t) AS s, MAX(t) + 604800000000 AS e
      |         FROM g GROUP BY user_id, grp),
      |ev AS (SELECT s AS t, 1 AS d FROM sess
      |       UNION ALL SELECT e, -1 FROM sess),
      |r AS (SELECT t, SUM(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS rs
      |      FROM ev)
      |SELECT CAST(CAST(make_timestamp(t) AS DATE) AS TIMESTAMP) AS day,
      |       CAST(MAX(rs) AS BIGINT) AS peak_concurrent
      |FROM r GROUP BY 1 ORDER BY day""".stripMargin

  /** Multimodal binary-column plumbing, oracle-checkable slice: modality
    * tagging + byte-level metadata on the opaque payload. */
  def binaryMetaExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        length(col("text").cast("binary")).cast("bigint").as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"))

  val binaryMetaExtractSql: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  ascii(substr(text, 1, 1)) AS first_byte
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Full stub-decode feature extraction via repartition + mapPartitions
    * (the mapInPandas-shaped batch path). The stub decode is a rolling
    * polynomial byte hash mod 1e9+7 plus modular arithmetic — deterministic
    * and SQL-expressible, so the whole typed path is hash-checked. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"),
      partitions = 8)
      .toDF()

  /** DuckDB rebuild of Multimodal.decodeStub over the UTF-8 bytes of
    * `text` (fixture text is ASCII, so ascii(char) == byte value — the
    * same contract the poly_hash oracles rely on). */
  val multimodalFeaturesSql: String =
    """WITH f AS (
      |  SELECT doc_id AS id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |    octet_length(CAST(text AS BLOB)) AS n_bytes,
      |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text,''), c -> ascii(c)::BIGINT)),
      |                (a,b) -> (a*31+b) % 1000000007) AS checksum
      |  FROM documents)
      |SELECT id, modality, CAST(n_bytes AS INT) AS n_bytes,
      |  CAST(64 + checksum % 960 AS INT) AS width,
      |  CAST(64 + (checksum // 7) % 540 AS INT) AS height,
      |  CAST(CASE WHEN modality = 'video' THEN 1 + n_bytes % 120 ELSE 1 END AS INT) AS n_frames,
      |  checksum
      |FROM f ORDER BY id""".stripMargin

  /** Resize plan ([[Multimodal.resizePlan]]): aspect-preserving fit of
    * every visual item into a 224-box — decode → resize as one composed
    * typed path, with the output dimensions pure integer math so the
    * whole chain is hash-checked. Completes the multimodal quartet
    * (decode, feature-extract, resize, frame-sample). */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
      Multimodal.extractFeatures(
        Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"),
        partitions = 8),
      box = 224)

  val mediaResizeSql: String =
    """WITH f AS (
      |  SELECT doc_id AS id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text,''), c -> ascii(c)::BIGINT)),
      |                (a,b) -> (a*31+b) % 1000000007) AS checksum
      |  FROM documents),
      |d AS (SELECT id, modality,
      |        CAST(64 + checksum % 960 AS INT) AS width,
      |        CAST(64 + (checksum // 7) % 540 AS INT) AS height
      |      FROM f WHERE modality != 'audio')
      |SELECT id, modality, width, height,
      |  CAST((width * 224) // GREATEST(width, height) AS INT) AS out_w,
      |  CAST((height * 224) // GREATEST(width, height) AS INT) AS out_h
      |FROM d""".stripMargin

  /** Content-hash dedup over the media corpus, per modality: group by the
    * stub-decode checksum (the content fingerprint a real decoder would
    * emit), keep the lowest-id copy, and account the bytes a
    * keep-one-per-group pass saves — the storage-side dedup report every
    * multimodal ingest runs before feature extraction. Two map-side-
    * combined aggregates ((modality, checksum) → modality); the shuffle
    * carries (modality, checksum, bytes) — never payloads. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"),
        partitions = 8)
      .toDF()
      .groupBy("modality", "checksum")
      .agg(count(lit(1)).as("n_copies"),
        sum(col("n_bytes").cast("bigint")).as("g_bytes"),
        min(col("n_bytes").cast("bigint")).as("k_bytes"))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_unique"),
        sum("n_copies").as("n_items"),
        sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L))
          .as("n_dup_copies"),
        sum(col("g_bytes") - col("k_bytes")).as("bytes_saved"))

  val mediaDedupSql: String =
    """WITH f AS (
      |  SELECT doc_id AS id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text,''), c -> ascii(c)::BIGINT)),
      |                (a,b) -> (a*31+b) % 1000000007) AS checksum
      |  FROM documents),
      |g AS (SELECT modality, checksum, COUNT(*) AS n_copies,
      |        CAST(SUM(n_bytes) AS BIGINT) AS g_bytes,
      |        CAST(MIN(n_bytes) AS BIGINT) AS k_bytes
      |      FROM f GROUP BY modality, checksum)
      |SELECT modality, COUNT(*) AS n_unique,
      |  CAST(SUM(n_copies) AS BIGINT) AS n_items,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS n_dup_copies,
      |  CAST(SUM(g_bytes - k_bytes) AS BIGINT) AS bytes_saved
      |FROM g GROUP BY modality ORDER BY modality""".stripMargin

  /** Pixel-level perceptual near-dup pairs — the fingerprint family
    * member `media_dedup`'s content checksum cannot cover: a re-encoded
    * or resized duplicate changes every byte (new checksum) but barely
    * moves the pooled signal, so its 56-bit dHash
    * ([[graft.functions.PerceptualHash]], native codegen) lands within a
    * few bits. Candidate generation is SimHash-style MULTI-PROBE
    * banding: 7 bands of 8 bits, and the probe side expands each band
    * value to its Hamming-1 ball (the value itself + 8 single-bit
    * flips). By pigeonhole any pair with Hamming ≤ 13 has some band
    * differing in ≤ ⌊13/7⌋ = 1 bit, so the (modality, band, value)
    * equi-join is LOSSLESS over the whole verify range d ≤ 12 —
    * `media_neardup_recall` pins recall = 1.0 as a hash-checked output
    * (an exact-band join without probes is lossless only to 6 and
    * measured 0.75 at d≤12). The corpus is never self-joined,
    * the shuffle carries (band key, doc_id, fp) only — the probe
    * expansion is a fixed ×9 on one join side, the price of exactness —
    * and the verify is one `bit_count(xor)` per candidate. The oracle
    * rebuilds the identical fingerprint AND the some-band-within-1-bit
    * condition from byte arithmetic, so the hash check proves the native
    * expression, the band algebra, and the verify threshold together.
    * 100 TB shape: band buckets are bounded by fingerprint collisions
    * (56-bit space), and a skewed bucket (constant-signal payloads) caps
    * the same way the LSH maxBucket family does.
    *
    * BANDING CHOICE, measured: the alternative
    * lossless-to-d<=13 scheme — 14 exact 4-bit bands, NO probe
    * expansion — was benchmarked head-to-head at 50k synthetic docs
    * (identical 472,447-row pair output): 7x8 multi-probe 44.0/44.8 s
    * vs 14x4 exact 63.6/63.0 s. The x9 probe rows are cheaper than the
    * 16x-bigger buckets: expected bucket-pair volume is
    * 7·9·N²/256 ≈ 0.25·N² for 7x8+probe vs 14·N²/16 ≈ 0.88·N² for
    * 14x4, and the join output dominates. The x9 shape stays.
    *
    * TEXT-AS-BYTES CONTRACT: the fixture's `text` column stands in for
    * decoded media bytes, and the native expression pools UTF-8 BYTES
    * (`cast("binary")`) while DuckDB's string functions see code points
    * — so the family is defined over single-byte texts only
    * (`octet_length = char_length`), filtered identically on both sides.
    * Real deployments fingerprint genuine binary payloads and need no
    * such filter. */
  def mediaNeardupPairs(spark: SparkSession, dir: String): DataFrame =
    neardupPairEdges(spark, dir)
      .select("modality", "doc_a", "doc_b", "hamming", "n_a", "n_b")

  /** The banded perceptual-pair relation behind [[mediaNeardupPairs]]
    * and [[mediaNeardupClusters]] (full columns).
    *
    * SKEW DISCIPLINE: identical fingerprints collapse to ONE
    * representative row (min doc_id, group size carried) BEFORE the band
    * join — the dominant media skew at corpus scale is the same asset
    * re-uploaded millions of times, and a raw self-join would square
    * that mass inside one band bucket; after the collapse a bucket's
    * size is bounded by DISTINCT fingerprints per 8-bit band value.
    * Same-fp duplicates are exact dups, already media_dedup's job; this
    * relation's pairs are strictly 1 ≤ hamming ≤ 12 between distinct
    * fingerprints. */
  private def neardupPairEdges(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .filter(octet_length(col("text")) === length(col("text")))
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        graft.functions.PerceptualHash.of(col("text").cast("binary")).as("fp"))
    // Pinned (eager) — the rep relation feeds the probe
    // side AND the exact side of the band join (sibling stages); see
    // Dedup.candidatePairsFromBands for the cache-lock/plan rationale.
    val rep = graft.GraftCaches.pin(
      fp.groupBy("modality", "fp")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n")), eager = true)
    val bands = rep.select(col("modality"), col("fp"), col("rep_id"), col("n"),
        explode(sequence(lit(0), lit(6))).as("band"))
      .withColumn("key", expr("(fp >> (band * 8)) & 255"))
    // Multi-probe side: each band value plus its 8 single-bit flips
    // (probe -1 = the value itself). A pair at Hamming ≤ 13 has some
    // band within 1 bit, whose probe ball contains the exact key on the
    // other side — the equi-join is lossless over the d ≤ 12 verify.
    val probes = bands
      .withColumn("pb", explode(sequence(lit(-1), lit(7))))
      .withColumn("key",
        when(col("pb") < 0, col("key"))
          .otherwise(expr("key ^ (CAST(1 AS BIGINT) << pb)")))
    probes.select(col("modality"), col("band"), col("key"),
        col("rep_id").as("doc_a"), col("fp").as("fp_a"), col("n").as("n_a"))
      .join(bands.select(col("modality"), col("band"), col("key"),
        col("rep_id").as("doc_b"), col("fp").as("fp_b"), col("n").as("n_b")),
        Seq("modality", "band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("modality", "doc_a", "doc_b", "fp_a", "fp_b", "n_a", "n_b").distinct()
      .withColumn("hamming", expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)"))
      .filter(col("hamming") <= 12)
  }

  /** Perceptual duplicate FAMILIES: the near-dup pair graph resolved to
    * true connected components via the iterate-until-stable min-label
    * fold ([[graft.operators.Dedup.duplicateComponentsConverged]] — the
    * same distributed fixpoint the text dedup family rides), so a chain
    * of re-encodes (A≈B≈C with A,C beyond the bit threshold) still lands
    * in ONE family with the min doc_id as canonical. The oracle computes
    * the components with deliberately different math (recursive
    * reachability closure), cross-checking the Spark fixpoint against an
    * exact transitive closure. Scale: pair generation is the banded
    * equi-join above; each fixpoint round is a (src ↔ label) hash join +
    * grouped min — shuffles carry (id, label) pairs only. */
  def mediaNeardupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.duplicateComponentsConverged(
        neardupPairEdges(spark, dir))

  /** DuckDB rebuild of the 56-bit dHash from byte arithmetic — shared by
    * the pair and cluster oracles. The `strlen(text) = length(text)`
    * filter is the oracle half of the single-byte-text contract: the
    * engine pools UTF-8 bytes while `ascii(c)` sees code points, so both
    * sides restrict the family to texts where the two units coincide
    * (DuckDB `strlen` counts bytes, `length` counts characters). */
  private val perceptualFpCte: String =
    """b AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |    list_transform(string_split(text,''), c -> ascii(c)::BIGINT) AS bs
      |  FROM documents WHERE strlen(text) = length(text)),
      |c AS (
      |  SELECT doc_id, modality,
      |    list_transform(range(0, 64), k ->
      |      CASE WHEN (k+1)*n//64 - k*n//64 = 0 THEN 0
      |           ELSE CAST(list_sum(bs[(k*n//64 + 1):((k+1)*n//64)]) AS BIGINT)
      |                  // ((k+1)*n//64 - k*n//64) END) AS cells
      |  FROM (SELECT doc_id, modality, bs, len(bs) AS n FROM b)),
      |f AS (
      |  SELECT doc_id, modality,
      |    CAST(list_sum(list_transform(range(0, 56), i ->
      |      CASE WHEN cells[CAST((i//7)*8 + (i%7) + 1 AS INT)]
      |             > cells[CAST((i//7)*8 + (i%7) + 2 AS INT)]
      |           THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS fp
      |  FROM c)""".stripMargin

  /** The engine's candidate semantics verbatim: distinct-fingerprint
    * representatives, Hamming ≤ 12, AND some 8-bit band within 1 bit
    * (the multi-probe equi-join's reach — always true at d ≤ 12 by
    * pigeonhole, kept explicit so the oracle mirrors the join, not the
    * theorem). */
  private val pairCondSql: String =
    """bit_count(xor(a.fp, b.fp)) <= 12
      |    AND len(list_filter(range(0, 7),
      |          k -> bit_count(xor((a.fp >> (k*8)) & 255, (b.fp >> (k*8)) & 255)) <= 1)) >= 1""".stripMargin

  private val repCteSql: String =
    """rep AS (
      |  SELECT modality, fp, MIN(doc_id) AS rep_id, COUNT(*) AS n
      |  FROM f GROUP BY modality, fp)""".stripMargin

  val mediaNeardupPairsSql: String =
    s"""WITH $perceptualFpCte,
       |$repCteSql
       |SELECT a.modality AS modality, a.rep_id AS doc_a, b.rep_id AS doc_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
       |  a.n AS n_a, b.n AS n_b
       |FROM rep a JOIN rep b ON a.modality = b.modality AND a.rep_id < b.rep_id
       |WHERE $pairCondSql
       |ORDER BY doc_a, doc_b""".stripMargin

  val mediaNeardupClustersSql: String =
    s"""WITH RECURSIVE $perceptualFpCte,
       |$repCteSql,
       |cand AS MATERIALIZED (
       |  SELECT a.rep_id AS doc_a, b.rep_id AS doc_b
       |  FROM rep a JOIN rep b ON a.modality = b.modality AND a.rep_id < b.rep_id
       |  WHERE $pairCondSql),
       |e2 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
       |       UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(doc_id, lab) AS (
       |  SELECT DISTINCT src, src FROM e2
       |  UNION
       |  SELECT e2.dst, r.lab FROM reach r JOIN e2 ON e2.src = r.doc_id)
       |SELECT doc_id, MIN(lab) AS comp_id, doc_id = MIN(lab) AS is_keeper
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Honest-recall audit for the perceptual banding: of all rep pairs
    * within Hamming ≤ 12 (exact baseline — a deliberate per-modality
    * self-join over the DISTINCT-fingerprint relation, which is tiny by
    * construction; at corpus scale this audit runs on a sample), what
    * fraction has some band within 1 bit and is therefore reachable by
    * the multi-probe equi-join? With 7 bands and probes at Hamming ≤ 1
    * the pigeonhole guarantees every d ≤ 13 pair qualifies, so the
    * hash-checked output pins recall = 1.0 (an exact-band join without
    * probes measured 0.75). */
  def mediaNeardupRecall(spark: SparkSession, dir: String): DataFrame = {
    val pairs = neardupAllPairs(spark, dir)
    pairs.agg(
        count(lit(1)).as("n_true"),
        sum(when(col("shared_band"), 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall",
        col("n_caught").cast("double") / col("n_true").cast("double"))
  }

  /** All exact rep pairs at Hamming ≤ 12, flagged with the band
    * condition (the audit baseline behind [[mediaNeardupRecall]]). */
  private def neardupAllPairs(spark: SparkSession, dir: String): DataFrame = {
    // Pinned (eager) — both self-join sides are sibling
    // consumers; see Dedup.candidatePairsFromBands.
    val rep = graft.GraftCaches.pin(
      Tables.documents(spark, dir)
        .filter(octet_length(col("text")) === length(col("text")))
        .select(
          col("doc_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
          graft.functions.PerceptualHash.of(col("text").cast("binary")).as("fp"))
        .groupBy("modality", "fp")
        .agg(min("doc_id").as("rep_id")), eager = true)
    rep.select(col("modality"), col("rep_id").as("doc_a"), col("fp").as("fp_a"))
      .join(rep.select(col("modality"), col("rep_id").as("doc_b"), col("fp").as("fp_b")),
        Seq("modality"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)"))
      .filter(col("hamming") <= 12)
      .withColumn("shared_band", expr(
        "exists(sequence(0, 6), k -> " +
          "bit_count(((fp_a >> (k * 8)) & 255) ^ ((fp_b >> (k * 8)) & 255)) <= 1)"))
  }

  val mediaNeardupRecallSql: String =
    s"""WITH $perceptualFpCte,
       |$repCteSql,
       |p AS (
       |  SELECT CASE WHEN len(list_filter(range(0, 7),
       |           k -> bit_count(xor((a.fp >> (k*8)) & 255, (b.fp >> (k*8)) & 255)) <= 1)) >= 1
       |         THEN 1 ELSE 0 END AS caught
       |  FROM rep a JOIN rep b ON a.modality = b.modality AND a.rep_id < b.rep_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 12)
       |SELECT COUNT(*) AS n_true, CAST(SUM(caught) AS BIGINT) AS n_caught,
       |  CAST(SUM(caught) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM p""".stripMargin

  /** Streaming next-fit packer ([[graft.streaming.PackStream]]) run
    * one-shot: the batch/streaming parity twin of `pack_context_bins` —
    * same shards, same capacity, same recursive-CTE oracle, so the
    * O(1)-state online fold is hash-proven against the batch scan. */
  def streamPack(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.PackStream.pack(
        Tables.documents(spark, dir).select(
          (col("doc_id") / 64).cast("int").as("shard"),
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens")),
        capacity = 256L)
      .toDF()

  /** mapGroupsWithState stateful aggregation, exercised in batch mode.
    * "Last" is arg_max by event_id (deterministic), so the typed state
    * fold is hash-checked against DuckDB's arg_max. */
  def streamUserRunning(spark: SparkSession, dir: String): DataFrame =
    StreamingCalendar.userRunningCounts(Tables.events(spark, dir))
      .toDF()

  val streamUserRunningSql: String =
    """SELECT user_id, COUNT(*) AS n_events, arg_max(value, event_id) AS last_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stateful bounded top-3 per user in one-shot batch mode: must equal
    * the relational row_number window — the leaderboard differential. */
  def streamTopK(spark: SparkSession, dir: String): DataFrame =
    StreamingCalendar.topKPerUser(Tables.events(spark, dir), k = 3)
      .toDF()

  val streamTopKSql: String =
    """SELECT user_id, rank, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY value DESC, event_id ASC) AS rank
      |  FROM events) t
      |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin

  /** flatMapGroupsWithState sessionizer in one-shot batch mode: must
    * reproduce the window-based `sessionize` exactly — hash-checked
    * against the SAME DuckDB oracle (typed-stateful vs relational
    * differential). Gap = 7 days, as in Relational.sessionize. */
  def sessionizeStateful(spark: SparkSession, dir: String): DataFrame =
    StreamingCalendar.sessionizeStateful(
        Tables.events(spark, dir), gapMicros = 7L * 24 * 3600 * 1000000L)
      .toDF()

  /** EventTimeTimeout sessionizer in one-shot batch mode: timeouts never
    * fire, so the output is the gap sessionization WITHOUT each user's
    * still-open tail session — checked against the sessionize oracle plus
    * a QUALIFY dropping the max session_no per user. Gap = 1 day (not the
    * 7 of `sessionize`): at the fixtures' event density a 7-day gap makes
    * every user a single open session and the check degenerates to 0
    * rows; 1 day yields real closed sessions to hash. */
  def sessionizeClosed(spark: SparkSession, dir: String): DataFrame =
    StreamingCalendar.sessionizeClosed(
        Tables.events(spark, dir), gapMicros = 24L * 3600 * 1000000L)
      .toDF()

  val sessionizeClosedSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM x),
      |g AS (
      |  SELECT user_id, session_no, COUNT(*) AS n_events,
      |         MIN(ts) AS session_start, MAX(ts) AS session_end, MIN(event_id) AS first_event
      |  FROM s GROUP BY user_id, session_no)
      |SELECT user_id, session_no, n_events, session_start, session_end, first_event
      |FROM g
      |QUALIFY session_no < MAX(session_no) OVER (PARTITION BY user_id)
      |ORDER BY user_id, session_no""".stripMargin

  /** Stream-stream interval join in batch mode (watermarks no-op): same
    * plan as the streaming query StreamingSpec pins. 1-hour follow
    * window per user. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_id", "ts")
    graft.streaming.StreamJoins.followWithin(e, e, followSeconds = 3600L)
  }

  val streamIntervalJoinSql: String =
    """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
      |       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
      | AND a.event_id != b.event_id
      |ORDER BY a.user_id, event_a, event_b""".stripMargin

  /** Batch differential for the LEFT OUTER stream-stream interval join
    * ([[graft.streaming.StreamJoins.followWithinOuter]]): every event
    * emits, with NULLs when no follower lands in the hour — the
    * "did-not-convert within the window" funnel query as ONE join instead
    * of inner-join + anti-join re-scan. Same plan batch and streaming;
    * StreamingSpec pins the streaming-only semantics (outer rows emit
    * only after the watermark closes their window). */
  def streamOuterIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_id", "ts")
    graft.streaming.StreamJoins.followWithinOuter(e, e, followSeconds = 3600L)
  }

  val streamOuterIntervalJoinSql: String =
    """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
      |       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
      |FROM events a LEFT JOIN events b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
      | AND a.event_id != b.event_id
      |ORDER BY a.user_id, event_a, event_b""".stripMargin

  /** Frame-sampling plan (Multimodal.sampleFrames): every 3rd frame index
    * per decoded video — a relational explode over decoded metadata, no
    * payload movement. Rebuilds the stub decode in SQL, so the whole
    * asMedia → extractFeatures → sampleFrames chain is hash-checked. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.extractFeatures(
          Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"),
          partitions = 8),
        step = 3)

  val frameSampleSql: String =
    """WITH f AS (
      |  SELECT doc_id AS id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |    octet_length(CAST(text AS BLOB)) AS n_bytes
      |  FROM documents)
      |SELECT id, CAST(1 + n_bytes % 120 AS INT) AS n_frames,
      |       CAST(unnest(range(0, 1 + n_bytes % 120, 3)) AS INT) AS frame_no
      |FROM f WHERE modality = 'video'
      |ORDER BY id, frame_no""".stripMargin

  /** transformWithState (Spark 4 named-state API) per-user type profile
    * in one-shot batch mode: ValueState total + MapState per-type counts,
    * hash-checked against the relational GROUP BY — the named-state
    * differential next to the mapGroupsWithState one above. */
  def streamTypeStats(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.TypeStats.userTypeStats(Tables.events(spark, dir))
      .toDF()

  val streamTypeStatsSql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY user_id, event_type)
      |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_types,
      |       STRING_AGG(event_type || ':' || n, ',' ORDER BY event_type) AS type_counts
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming ingest dedup ([[graft.streaming.DedupStream]]): keep-first
    * per (user_id, event_type) via transformWithState, hash-checked
    * against the relational row_number()=1 window — the at-least-once
    * replay guard every streaming sink needs. State per key is ONE long;
    * the shuffle carries (user, type, id, ts) — never payloads. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.DedupStream.firstSeen(Tables.events(spark, dir))
      .toDF()
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"))

  val streamDedupSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, event_id, ts,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT user_id, event_type, event_id, ts
      |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Streaming last-touch attribution
    * ([[graft.streaming.AttributionStream]]): purchases attach the
    * latest preceding click via per-user ValueState join-with-state,
    * hash-checked against the SAME oracle as the batch as-of query
    * (`attribution_last_touch`) — the online/offline parity a
    * feature-serving stack must demonstrate. ONE keyed exchange; the
    * state carries one (ts, id) pair per user. */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.AttributionStream.lastTouch(Tables.events(spark, dir))
      .toDF()

  val streamAttributionSql: String = Relational.attributionLastTouchSql

  /** transformWithState LIST-state differential: the per-user last-5
    * recency buffer ([[graft.streaming.RecentEvents]]) against the
    * relational top-5 window — ListState next to TypeStats' ValueState+
    * MapState, so all three named-state kinds are oracle-checked. */
  def streamRecentEvents(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.RecentEvents.recentPerUser(Tables.events(spark, dir))
      .toDF()

  val streamRecentEventsSql: String =
    """WITH r AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_recent,
      |       STRING_AGG(event_id, ',' ORDER BY t, event_id) AS recent_ids
      |FROM r WHERE rn <= 5 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Trailing-7-day distinct users per event day — the sliding DISTINCT
    * aggregation (DAU/WAU board) that tumbling windows can't express and
    * sliding SUM can't either (distinct doesn't merge). The scale shape:
    * each event explodes into the ≤7 days it covers (bounded expansion =
    * window/slide), one shuffle on (day, user) — never a full-history
    * re-scan per day. Output restricted to days that have events, so the
    * oracle can use the DIRECT inequality form (correlated range count)
    * — the bucketing rewrite's equivalence is itself hash-checked, the
    * same discipline as interval_overlap. */
  def rollingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.GraftCaches.track(
      Tables.events(spark, dir).select(to_date(col("ts")).as("d"), col("user_id")))
    val days = ev.select(col("d").as("day")).distinct()
    val cover = ev.select(
      explode(sequence(col("d"), date_add(col("d"), 6))).as("day"), col("user_id"))
    val u7 = cover.join(days, "day")
      .groupBy("day").agg(countDistinct("user_id").as("u7"))
    val u1 = ev.groupBy(col("d").as("day")).agg(countDistinct("user_id").as("u1"))
    u7.join(u1, "day")
      .select(col("day").cast("timestamp").as("day"), col("u1"), col("u7"))
  }

  val rollingDistinctUsersSql: String =
    """WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
      |days AS (SELECT DISTINCT d AS day FROM ev)
      |SELECT day,
      |       (SELECT COUNT(DISTINCT user_id) FROM ev WHERE ev.d = days.day) AS u1,
      |       (SELECT COUNT(DISTINCT user_id) FROM ev
      |        WHERE ev.d BETWEEN days.day - 6 AND days.day) AS u7
      |FROM days ORDER BY day""".stripMargin

  /** Daily event-rate anomaly screen: each day's count against the mean
    * and variance of the PRIOR 7 days (a trailing RANGE frame that
    * excludes the current row — the leak every naive anomaly job ships),
    * flagged when the squared deviation clears 4·variance (z² form: no
    * sqrt, so the flag math stays in exact integer/decimal arithmetic
    * until one final double compare). One day-level aggregate, one
    * window over ~days rows — scan-dominated at any event volume. */
  def eventRateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day").cast("timestamp").cast("long"))
      .rangeBetween(-7L * 86400, -86400)
    val mean = (sum("n").over(w).cast("double") / count("n").over(w).cast("double"))
    val m2 = (sum(col("n") * col("n")).over(w).cast("double") /
      count("n").over(w).cast("double"))
    daily
      .select(col("day").cast("timestamp").as("day"), col("n"),
        count("n").over(w).as("n_prior"), mean.as("mean_prior"),
        (m2 - mean * mean).as("var_prior"))
      .withColumn("anomaly",
        col("n_prior") >= 3 &&
          (col("n").cast("double") - col("mean_prior")) *
            (col("n").cast("double") - col("mean_prior")) > lit(4.0) * col("var_prior"))
  }

  val eventRateAnomalySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |win AS (
      |  SELECT day, n,
      |    COUNT(n) OVER w AS n_prior,
      |    CAST(SUM(n) OVER w AS DOUBLE) / CAST(COUNT(n) OVER w AS DOUBLE) AS mean_prior,
      |    CAST(SUM(n*n) OVER w AS DOUBLE) / CAST(COUNT(n) OVER w AS DOUBLE)
      |      - (CAST(SUM(n) OVER w AS DOUBLE) / CAST(COUNT(n) OVER w AS DOUBLE))
      |      * (CAST(SUM(n) OVER w AS DOUBLE) / CAST(COUNT(n) OVER w AS DOUBLE)) AS var_prior
      |  FROM daily
      |  WINDOW w AS (ORDER BY epoch(CAST(day AS TIMESTAMP))
      |               RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING))
      |SELECT CAST(day AS TIMESTAMP) AS day, n, n_prior, mean_prior, var_prior,
      |       n_prior >= 3 AND
      |         (CAST(n AS DOUBLE) - mean_prior) * (CAST(n AS DOUBLE) - mean_prior)
      |           > 4.0 * var_prior AS anomaly
      |FROM win ORDER BY day""".stripMargin

  /** Streaming delta compression
    * ([[graft.streaming.DeltaCompressStream]]): the keep-on-change
    * telemetry screen run as per-user ValueState, hash-checked against
    * the SAME oracle as the batch `delta_compress` window query —
    * online/offline parity demonstrated, not asserted. The kept stream
    * folds into the per-type compression report; totals come from one
    * extra scan-side aggregate (the raw count never rides the keyed
    * exchange twice). */
  def streamDeltaCompress(spark: SparkSession, dir: String): DataFrame = {
    val kept = graft.streaming.DeltaCompressStream.kept(Tables.events(spark, dir))
      .toDF()
      .groupBy("event_type").agg(count(lit(1)).as("n_kept"))
    val totals = Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n_total"))
    totals.join(kept, "event_type")
      .select(col("event_type"), col("n_total"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_total").cast("double")).as("keep_ratio"))
  }

  val streamDeltaCompressSql: String = graft.queries.Relational.deltaCompressSql

  /** WebDataset-style shard packing plan: within each modality, items in
    * id order pack into ~4 KB shards by the start-offset rule (an item
    * belongs to the shard its FIRST byte lands in — `shard_plan`'s rule,
    * here per modality). The running byte offset is PrefixScan's
    * two-phase distributed sum over ONE global (modality, id) ordering;
    * per-modality restarts come from subtracting each modality's start
    * offset (a 3-row broadcast), so there is no per-modality re-sort and
    * no single-partition window at any corpus size. Emits per-shard
    * packing stats — the manifest a multimodal loader consumes. */
  def mediaShardPlan(spark: SparkSession, dir: String): DataFrame = {
    val target = 4096L
    val feats = Multimodal.extractFeatures(
        Multimodal.asMedia(Tables.documents(spark, dir), "doc_id", "text"),
        partitions = 8)
      .toDF()
      .select(col("modality"), col("id"), col("n_bytes").cast("bigint").as("n_bytes"))
    val cum = graft.operators.PrefixScan
      .runningSum(feats, Nil, "n_bytes", "cum", col("modality").asc, col("id").asc)
    val offsets = cum.groupBy("modality")
      .agg(min(col("cum") - col("n_bytes")).as("mod_off"))
    cum.join(broadcast(offsets), "modality")
      .withColumn("shard_no", expr(s"(cum - n_bytes - mod_off) div $target"))
      .groupBy("modality", "shard_no")
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("id")).as("first_id"), max(col("id")).as("last_id"))
  }

  val mediaShardPlanSql: String =
    """WITH f AS (
      |  SELECT doc_id AS id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |c AS (SELECT modality, id, n_bytes,
      |        CAST(SUM(n_bytes) OVER (PARTITION BY modality ORDER BY id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_in
      |      FROM f)
      |SELECT modality, (cum_in - n_bytes) // 4096 AS shard_no,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
      |       MIN(id) AS first_id, MAX(id) AS last_id
      |FROM c GROUP BY modality, shard_no ORDER BY modality, shard_no""".stripMargin

  /** Streaming HLL distinct-user counter ([[graft.streaming.HllStream]]):
    * 64 bytes of register state per event type, max-merged as events
    * arrive — hash-checked against the DuckDB register-replay oracle
    * (the hll_by_source formula over (event_type, user_id)), so the
    * streaming sketch and the relational sketch are provably the same
    * math. */
  def streamHllUsers(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.HllStream.distinctUsers(Tables.events(spark, dir))
      .toDF()

  val streamHllUsersSql: String =
    s"""WITH h AS (SELECT event_type,
       |             list_reduce(list_prepend(0::BIGINT,
       |               list_transform(string_split(CAST(user_id AS VARCHAR), ''), c -> ascii(c)::BIGINT)),
       |               (a,b) -> (a*31+b) % ${graft.functions.PolyHash.Mod}) AS hv
       |           FROM events),
       |r AS (SELECT event_type, hv % 64 AS bucket,
       |        CASE WHEN hv // 64 = 0 THEN 25
       |             ELSE bit_count(((hv // 64) & -(hv // 64)) - 1) + 1 END AS rho
       |      FROM h),
       |regs AS (SELECT event_type, bucket, MAX(rho) AS max_rho FROM r GROUP BY event_type, bucket)
       |SELECT event_type, COUNT(*) AS n_used,
       |  0.709::DOUBLE * 64 * 64 / (SUM(pow(2, -max_rho)) + (64 - COUNT(*))) AS estimate
       |FROM regs GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Streaming count-min sketch over the document token stream
    * ([[graft.streaming.CmsStream]]): the live (row_j, bucket, cnt) cell
    * relation, hash-checked against the DuckDB sketch-replay oracle —
    * the same cells `cms_heavy_hitters` builds in batch, proven equal
    * when maintained online. */
  def streamCmsTerms(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(explode(graft.operators.TextOps.words(col("text"))).as("term"))
    graft.streaming.CmsStream.sketch(tokens, "term")
      .toDF()
  }

  val streamCmsTermsSql: String = {
    val m = graft.functions.PolyHash.Mod
    val seeds = (0 until graft.operators.Sketches.CmsDepth)
      .map(j => { val (a, b) = graft.operators.TextOps.MinhashSeeds(j); s"($j, ${a}, ${b})" })
      .mkString(", ")
    val w = graft.operators.Sketches.CmsWidth
    s"""WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents),
       |t AS (SELECT term,
       |        list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term, ''), c -> ascii(c)::BIGINT)),
       |                    (a,b) -> (a*31+b) % $m) AS h
       |      FROM tok),
       |seeds AS (SELECT * FROM (VALUES $seeds) AS s(row_j, a, b)),
       |cells AS (SELECT s.row_j, (t.h*s.a + s.b) % $m % $w AS bucket
       |          FROM t CROSS JOIN seeds s)
       |SELECT CAST(row_j AS INT) AS row_j, CAST(bucket AS INT) AS bucket, COUNT(*) AS cnt
       |FROM cells GROUP BY row_j, bucket ORDER BY row_j, bucket""".stripMargin
  }

  /** Streaming Bloom filter over document fingerprints
    * ([[graft.streaming.BloomStream]]): the live (reg, bits) register
    * relation of the poly-hash fingerprint stream, OR-merged in state and
    * hash-checked against the DuckDB register-replay oracle — the same
    * registers `bloom_fpr` builds in batch, proven equal online. */
  def streamBloomFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val elems = Tables.documents(spark, dir)
      .select(graft.functions.PolyHash.hash(col("text")).as("h"))
    graft.streaming.BloomStream.sketch(elems, "h")
      .toDF()
  }

  val streamBloomFingerprintsSql: String = {
    val m = graft.functions.PolyHash.Mod
    val bits = (0 until graft.operators.Sketches.BloomK).map { j =>
      val (a, b) = graft.operators.TextOps.MinhashSeeds(j)
      s"(h * ${a} + ${b}) % $m % ${graft.operators.Sketches.BloomBits}"
    }.mkString(",\n       |         ")
    s"""WITH h AS (SELECT list_reduce(list_prepend(0::BIGINT,
       |             list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
       |             (a,b) -> (a*31+b) % $m) AS h
       |           FROM documents),
       |b AS (SELECT unnest([
       |         $bits]) AS bit
       |      FROM h)
       |SELECT bit // 32 AS reg,
       |       bit_or(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS bits
       |FROM b GROUP BY reg ORDER BY reg""".stripMargin
  }

  /** Per-user 3σ inter-arrival anomaly flags
    * ([[graft.streaming.AnomalyStream]]) in one-shot batch mode: the
    * cross-multiplied integer test (n·gap − S)² > 9·(n·SS − S²) over ≥ 5
    * prior gaps makes the flag set exact integer arithmetic, so the
    * stateful online detector hash-matches the DuckDB HUGEINT
    * window-frame oracle bit-for-bit. ONE user-keyed exchange. */
  def streamAnomalyFlags(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.AnomalyStream.gapAnomalies(Tables.events(spark, dir))
      .toDF()

  val streamAnomalyFlagsSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000 AS gap_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |f AS (
      |  SELECT user_id, event_id, gap_s,
      |    COUNT(gap_s) OVER pw AS n_prior,
      |    SUM(gap_s) OVER pw AS s,
      |    SUM(CAST(gap_s AS HUGEINT) * gap_s) OVER pw AS ss
      |  FROM g WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, gap_s, n_prior
      |FROM f
      |WHERE gap_s IS NOT NULL AND n_prior >= 5
      |  AND (CAST(n_prior AS HUGEINT) * gap_s - s) * (CAST(n_prior AS HUGEINT) * gap_s - s)
      |      > 9 * (CAST(n_prior AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
      |ORDER BY user_id, event_id""".stripMargin

  /** Per-(customer, month) growth-accounting status
    * ([[graft.streaming.GrowthStream]]) in one-shot batch mode: the
    * stateful NEW/RETAINED/RESURRECTED classifier over the distinct
    * activity relation, hash-checked against the same lag-window oracle
    * family as the batch `growth_accounting` ledger — the
    * online/offline-parity proof for the record-level half of that
    * rollup. ONE customer-keyed exchange after the distinct. */
  def streamUserStatus(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        unix_micros(date_trunc("month", col("o_orderdate")).cast("timestamp")).as("m_us"))
      .distinct()
    graft.streaming.GrowthStream.monthStatuses(act)
      .toDF()
      .select(col("cust"), timestamp_micros(col("m_us")).as("m"), col("status"))
  }

  val streamUserStatusSql: String =
    """WITH act AS (
      |  SELECT DISTINCT o_custkey AS cust,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS md
      |  FROM orders),
      |s AS (SELECT cust, md, lag(md) OVER (PARTITION BY cust ORDER BY md) AS prev
      |      FROM act)
      |SELECT cust, CAST(md AS TIMESTAMP) AS m,
      |  CASE WHEN prev IS NULL THEN 'new'
      |       WHEN prev + INTERVAL 1 MONTH = md THEN 'retained'
      |       ELSE 'resurrected' END AS status
      |FROM s ORDER BY cust, m""".stripMargin

  /** Exact streaming distinct-user counts per event type
    * ([[graft.streaming.BitmapStream]]) in one-shot batch mode: the
    * growable-word-bitmap state makes replays idempotent (OR), so the
    * online counter equals DuckDB's COUNT(DISTINCT) exactly — the
    * ground-truth companion the `stream_hll_users` estimate is judged
    * against. ONE type-keyed exchange. */
  def streamBitmapUsers(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.BitmapStream.distinctUsers(Tables.events(spark, dir))
      .toDF()

  val streamBitmapUsersSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Cohort × funnel matrix — the product-analytics composition: users
    * bucketed by first-activity month, the strict 24 h funnel computed
    * per user by the SAME pending-frontier operator as `stream_funnel`
    * ([[graft.streaming.FunnelStream]], here consumed relationally —
    * one stateful fold replaces the two as-of joins), then one
    * cohort-level rollup. Every cohort reports all three stages
    * (zeros included), so the matrix shape is fixed at
    * |cohorts| × 3 regardless of data. Plan: ONE user-keyed
    * transformWithState exchange + cohort min-fold + matrix fold. */
  def funnelByCohort(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohort = ev.groupBy("user_id")
      .agg(date_trunc("month", min(col("ts"))).as("cohort"))
    val per = graft.streaming.FunnelStream.funnel(ev, tolUs = 86400000000L).toDF()
    // LEFT join from the FULL cohort relation (the oracle's allc CROSS JOIN
    // scaffold): a cohort whose users have only non-funnel event types still
    // emits its three zero rows, keeping the matrix shape |cohorts| × 3.
    cohort.join(per, Seq("user_id"), "left")
      .na.fill(0L, Seq("n_views", "n_s1", "n_s2"))
      .groupBy("cohort")
      .agg(sum("n_views").as("v_rows"),
        sum(when(col("n_views") > 0, 1L).otherwise(0L)).as("v_users"),
        sum("n_s1").as("c_rows"),
        sum(when(col("n_s1") > 0, 1L).otherwise(0L)).as("c_users"),
        sum("n_s2").as("p_rows"),
        sum(when(col("n_s2") > 0, 1L).otherwise(0L)).as("p_users"))
      .selectExpr("cohort",
        """stack(3, '1_view', v_rows, v_users,
          |         '2_click', c_rows, c_users,
          |         '3_purchase', p_rows, p_users) AS (stage, n_rows, n_users)""".stripMargin)
  }

  val funnelByCohortSql: String =
    """WITH v AS (SELECT user_id, event_id, ts AS vts FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS cts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts FROM events WHERE event_type = 'purchase'),
      |s1 AS (SELECT user_id, event_id, vts, cts FROM (
      |        SELECT v.user_id, v.event_id, v.vts, c.cts,
      |               row_number() OVER (PARTITION BY v.user_id, v.event_id
      |                                  ORDER BY c.cts, c.click_id) AS rn
      |        FROM v JOIN c ON c.user_id = v.user_id AND c.cts >= v.vts) x WHERE rn = 1),
      |s1ok AS (SELECT * FROM s1 WHERE epoch_us(cts) - epoch_us(vts) <= 86400000000),
      |s2 AS (SELECT user_id, event_id, cts, pts FROM (
      |        SELECT s.user_id, s.event_id, s.cts, p.pts,
      |               row_number() OVER (PARTITION BY s.user_id, s.event_id
      |                                  ORDER BY p.pts, p.purchase_id) AS rn
      |        FROM s1ok s JOIN p ON p.user_id = s.user_id AND p.pts >= s.cts) y WHERE rn = 1),
      |s2ok AS (SELECT * FROM s2 WHERE epoch_us(pts) - epoch_us(cts) <= 86400000000),
      |coh AS (SELECT user_id, CAST(date_trunc('month', MIN(ts)) AS TIMESTAMP) AS cohort
      |        FROM events GROUP BY user_id),
      |vv AS (SELECT cohort, COUNT(*) AS n_rows, COUNT(DISTINCT v.user_id) AS n_users
      |       FROM v JOIN coh ON coh.user_id = v.user_id GROUP BY cohort),
      |c1 AS (SELECT cohort, COUNT(*) AS n_rows, COUNT(DISTINCT s1ok.user_id) AS n_users
      |       FROM s1ok JOIN coh ON coh.user_id = s1ok.user_id GROUP BY cohort),
      |c2 AS (SELECT cohort, COUNT(*) AS n_rows, COUNT(DISTINCT s2ok.user_id) AS n_users
      |       FROM s2ok JOIN coh ON coh.user_id = s2ok.user_id GROUP BY cohort),
      |allc AS (SELECT DISTINCT cohort FROM coh),
      |stg AS (SELECT unnest(['1_view', '2_click', '3_purchase']) AS stage)
      |SELECT a.cohort AS cohort, s.stage AS stage,
      |  COALESCE(CASE s.stage WHEN '1_view' THEN vv.n_rows
      |                        WHEN '2_click' THEN c1.n_rows
      |                        ELSE c2.n_rows END, 0) AS n_rows,
      |  COALESCE(CASE s.stage WHEN '1_view' THEN vv.n_users
      |                        WHEN '2_click' THEN c1.n_users
      |                        ELSE c2.n_users END, 0) AS n_users
      |FROM allc a CROSS JOIN stg s
      |LEFT JOIN vv ON vv.cohort = a.cohort
      |LEFT JOIN c1 ON c1.cohort = a.cohort
      |LEFT JOIN c2 ON c2.cohort = a.cohort
      |ORDER BY a.cohort, s.stage""".stripMargin

  /** Streaming FIFO matcher ([[graft.streaming.FifoStream]]) in
    * one-shot batch mode: supply/demand lots drain each other
    * head-first out of the per-user imbalance backlog — the minimal
    * state any FIFO matcher carries — and the emitted lot matches
    * hash-check against the SAME cumulative-range-overlap oracle as the
    * batch `fifo_match`, the fourth online/offline-parity pair. ONE
    * user-keyed transformWithState exchange. */
  def streamFifo(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.FifoStream.matches(Tables.events(spark, dir))
      .toDF()

  val streamFifoSql: String = Relational.fifoMatchSql

  /** Streaming SCD2 history build ([[graft.streaming.Scd2Stream]]) in
    * one-shot batch mode: O(1) per-key state (the single open validity
    * interval) replaces the batch lag/lead window pair, closed intervals
    * emit exactly once, and the result hash-matches the SAME relational
    * oracle as `scd2_history` — completing the CDC family's third leg
    * (LWW snapshot, strict funnel, versioned history). ONE user-keyed
    * transformWithState exchange. */
  def streamScd2(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Scd2Stream
      .history(Tables.events(spark, dir).filter(col("user_id") < 20))
      .toDF()
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("from_us")).as("valid_from"),
        timestamp_micros(col("to_us")).as("valid_to"),
        col("to_us").isNull.as("is_current"))

  val streamScd2Sql: String = Relational.scd2HistorySql

  /** Streaming CDC apply ([[graft.streaming.CdcStream]]) in one-shot
    * batch mode: a deterministic change log derived from the orders
    * fixture (seq 0 insert-all, seq 1 re-price every 10th key, seq 2
    * delete every 7th) materializes through keyed last-writer-wins
    * state with tombstones, and the surviving rows hash-match the
    * relational merge the batch `upsert_snapshot` family computes — the
    * online/offline-parity pair for the lake-compaction job. ONE
    * key-keyed transformWithState exchange; money as exact integer
    * cents, the emitted price one IEEE division. */
  def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val inserts = base
      .select(col("key"), lit(0L).as("seq"), lit("I").as("op"), col("status"), col("cents"))
    val updates = base.filter(col("key") % 10 === 0)
      .select(col("key"), lit(1L).as("seq"), lit("U").as("op"),
        lit("R").as("status"), (col("cents") * 2).as("cents"))
    val deletes = base.filter(col("key") % 7 === 0)
      .select(col("key"), lit(2L).as("seq"), lit("D").as("op"),
        lit("").as("status"), lit(0L).as("cents"))
    graft.streaming.CdcStream
      .materialize(inserts.unionByName(updates).unionByName(deletes))
      .toDF()
      .filter(!col("deleted"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("cents").cast("double") / 100.0).as("price"))
  }

  val streamCdcApplySql: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus,
      |                     CAST(o_totalprice AS DECIMAL(14,2)) AS price
      |              FROM orders)
      |SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 10 = 0 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
      |       CAST(CASE WHEN o_orderkey % 10 = 0 THEN CAST(price * 2 AS DECIMAL(14,2))
      |                 ELSE price END AS DOUBLE) AS price
      |FROM base WHERE o_orderkey % 7 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Streaming strict ordered funnel ([[graft.streaming.FunnelStream]])
    * in one-shot batch mode: per-user pending-frontier state (open views
    * awaiting their first click, open stage-1s awaiting their first
    * purchase, both horizon-pruned) folded online, then the per-user
    * counts aggregated into the same 3-row stage table as the batch
    * `window_funnel` — and hash-checked against the SAME row_number
    * oracle, the online/offline-parity discipline. ONE user-keyed
    * transformWithState exchange + a 1-row fold; integer state only. */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.streaming.FunnelStream
      .funnel(Tables.events(spark, dir), tolUs = 86400000000L).toDF()
    per
      .agg(sum("n_views").as("v_rows"),
        sum(when(col("n_views") > 0, 1L).otherwise(0L)).as("v_users"),
        sum("n_s1").as("c_rows"),
        sum(when(col("n_s1") > 0, 1L).otherwise(0L)).as("c_users"),
        sum("n_s2").as("p_rows"),
        sum(when(col("n_s2") > 0, 1L).otherwise(0L)).as("p_users"))
      .select(expr(
        """stack(3, '1_view', v_rows, v_users,
          |         '2_click', c_rows, c_users,
          |         '3_purchase', p_rows, p_users) AS (stage, n_rows, n_users)""".stripMargin))
  }

  val streamFunnelSql: String = Relational.windowFunnelSql

  /** Per-user running TWAP ([[graft.streaming.TwapStream]]) in one-shot
    * batch mode: integer cents×seconds state makes the online
    * accumulation exact, so the stateful result hash-matches the
    * relational lead-window oracle — the online/offline-parity pair for
    * `twap_by_user`. ONE user-keyed exchange. */
  def streamTwap(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.TwapStream.twap(Tables.events(spark, dir))
      .toDF()

  val streamTwapSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
      |         (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS d
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |m AS (
      |  SELECT user_id, COUNT(*) AS n_intervals,
      |         CAST(SUM(cents * d) AS BIGINT) AS svd, CAST(SUM(d) AS BIGINT) AS sd
      |  FROM s WHERE d IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals,
      |  CAST(svd AS DOUBLE) / (100.0 * CAST(sd AS DOUBLE)) AS twap
      |FROM m WHERE sd > 0 ORDER BY user_id""".stripMargin


  /** Streaming KMV distinct estimate ([[graft.streaming.KmvStream]]) in
    * one-shot batch mode: k=64 minimum distinct affine-permuted user
    * hashes per event type — k longs of idempotent, mergeable state —
    * read out as the uniform-order-statistic estimate (k−1)·M/τ (exact
    * count while the sketch is under-full). Hash-matches the
    * rank-arithmetic DuckDB oracle; the sketch whose pairwise
    * intersection stays readable, completing the
    * bitmap-exact / HLL-registers / KMV triangle. */
  def streamKmvUsers(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.KmvStream.distinctUsers(Tables.events(spark, dir))
      .toDF()

  val streamKmvUsersSql: String = {
    val (a, b) = graft.operators.TextOps.MinhashSeeds(0)
    val m = graft.functions.PolyHash.Mod
    s"""WITH h AS (
       |  SELECT DISTINCT event_type,
       |    (((user_id % ${m} + ${m}) % ${m}) * ${a} + ${b}) % ${m} AS h FROM events),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |      FROM h),
       |s AS (SELECT event_type, COUNT(*) AS k_eff, MAX(h) AS tau
       |      FROM r WHERE rn <= 64 GROUP BY event_type)
       |SELECT event_type, CAST(k_eff AS BIGINT) AS k_eff,
       |  CASE WHEN k_eff < 64 THEN CAST(k_eff AS DOUBLE)
       |       ELSE 63.0 * ${m}.0 / CAST(tau AS DOUBLE) END AS est_distinct
       |FROM s ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_twap" -> (streamTwap _),
    "stream_funnel" -> (streamFunnel _),
    "stream_cdc_apply" -> (streamCdcApply _),
    "stream_scd2" -> (streamScd2 _),
    "stream_fifo" -> (streamFifo _),
    "funnel_by_cohort" -> (funnelByCohort _),
    "stream_bitmap_users" -> (streamBitmapUsers _),
    "stream_kmv_users" -> (streamKmvUsers _),
    "stream_user_status" -> (streamUserStatus _),
    "stream_anomaly_flags" -> (streamAnomalyFlags _),
    "stream_bloom_fingerprints" -> (streamBloomFingerprints _),
    "stream_cms_terms" -> (streamCmsTerms _),
    "stream_hll_users" -> (streamHllUsers _),
    "media_shard_plan" -> (mediaShardPlan _),
    "stream_delta_compress" -> (streamDeltaCompress _),
    "event_rate_anomaly" -> (eventRateAnomaly _),
    "rolling_distinct_users" -> (rollingDistinctUsers _),
    "stream_type_stats" -> (streamTypeStats _),
    "stream_dedup" -> (streamDedup _),
    "stream_attribution" -> (streamAttribution _),
    "stream_recent_events" -> (streamRecentEvents _),
    "stream_outer_interval_join" -> (streamOuterIntervalJoin _),
    "frame_sample" -> (frameSample _),
    "windowed_event_agg" -> (windowedEventAgg _),
    "sliding_event_agg" -> (slidingEventAgg _),
    "session_window_agg" -> (sessionWindowAgg _),
    "concurrency_profile" -> (concurrencyProfile _),
    "binary_meta_extract" -> (binaryMetaExtract _),
    "multimodal_features" -> (multimodalFeatures _),
    "media_resize" -> (mediaResize _),
    "stream_user_running" -> (streamUserRunning _),
    "stream_topk" -> (streamTopK _),
    "sessionize_stateful" -> (sessionizeStateful _),
    "sessionize_closed" -> (sessionizeClosed _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "media_dedup" -> (mediaDedup _),
    "media_neardup_pairs" -> (mediaNeardupPairs _),
    "media_neardup_clusters" -> (mediaNeardupClusters _),
    "media_neardup_recall" -> (mediaNeardupRecall _),
    "stream_pack" -> (streamPack _))

  val oracles: Map[String, String] = Map(
    "stream_twap" -> streamTwapSql,
    "stream_funnel" -> streamFunnelSql,
    "stream_cdc_apply" -> streamCdcApplySql,
    "stream_scd2" -> streamScd2Sql,
    "stream_fifo" -> streamFifoSql,
    "funnel_by_cohort" -> funnelByCohortSql,
    "stream_bitmap_users" -> streamBitmapUsersSql,
    "stream_kmv_users" -> streamKmvUsersSql,
    "stream_user_status" -> streamUserStatusSql,
    "stream_anomaly_flags" -> streamAnomalyFlagsSql,
    "stream_bloom_fingerprints" -> streamBloomFingerprintsSql,
    "stream_cms_terms" -> streamCmsTermsSql,
    "stream_hll_users" -> streamHllUsersSql,
    "media_shard_plan" -> mediaShardPlanSql,
    "stream_delta_compress" -> streamDeltaCompressSql,
    "event_rate_anomaly" -> eventRateAnomalySql,
    "rolling_distinct_users" -> rollingDistinctUsersSql,
    "stream_type_stats" -> streamTypeStatsSql,
    "stream_dedup" -> streamDedupSql,
    "stream_attribution" -> streamAttributionSql,
    "stream_recent_events" -> streamRecentEventsSql,
    "stream_outer_interval_join" -> streamOuterIntervalJoinSql,
    "frame_sample" -> frameSampleSql,
    "windowed_event_agg" -> windowedEventAggSql,
    "sliding_event_agg" -> slidingEventAggSql,
    "session_window_agg" -> sessionWindowAggSql,
    "concurrency_profile" -> concurrencyProfileSql,
    "binary_meta_extract" -> binaryMetaExtractSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "media_resize" -> mediaResizeSql,
    "stream_user_running" -> streamUserRunningSql,
    "stream_topk" -> streamTopKSql,
    "sessionize_stateful" -> Relational.sessionizeSql,
    "sessionize_closed" -> sessionizeClosedSql,
    "stream_interval_join" -> streamIntervalJoinSql,
    "media_dedup" -> mediaDedupSql,
    "media_neardup_pairs" -> mediaNeardupPairsSql,
    "media_neardup_clusters" -> mediaNeardupClustersSql,
    "media_neardup_recall" -> mediaNeardupRecallSql,
    "stream_pack" -> CurationQueries.packSequencesSql)
}
