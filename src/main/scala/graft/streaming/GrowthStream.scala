package graft.streaming

import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming growth-accounting classifier: as (customer, active-month)
  * facts arrive, label each one NEW (first month ever), RETAINED (also
  * active the previous calendar month), or RESURRECTED (active before,
  * but not last month) — the online twin of the batch
  * `growth_accounting` ledger, so the live dashboard and the nightly
  * rollup agree by construction.
  *
  * State per customer is ONE long (the last active month's start
  * micros); the previous-calendar-month test runs in java.time (UTC —
  * the session zone is pinned) so month lengths are exact, not 30-day
  * approximations. Within a batch the processor sorts its buffer by
  * month; across micro-batches the carried last-month makes the same
  * code the true arrival-order classifier. Input must be the DISTINCT
  * (customer, month) relation — the caller dedups, mirroring how the
  * batch query aggregates first.
  */
object GrowthStream {

  final case class MonthStatus(cust: Long, m_us: Long, status: String)

  private def monthStart(us: Long): java.time.LocalDate =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
      .atZone(ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)

  private def toUs(d: java.time.LocalDate): Long =
    d.atStartOfDay(ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L

  /** K = cust, I = (cust, month_us). */
  final class StatusProcessor extends StatefulProcessor[Long, (Long, Long), MonthStatus] {
    @transient private var last: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Long]("lastMonth", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[MonthStatus] = {
      val months = rows.map(_._2).toArray.sorted
      val out = Vector.newBuilder[MonthStatus]
      var prev = if (last.exists()) last.get() else -1L
      months.foreach { mUs =>
        // Replay idempotence: a month at or before the carried last one
        // (a cross-batch duplicate — per-batch .distinct() can't see it)
        // is already classified; re-emitting it would label it
        // "resurrected" spuriously. Skip, like the OR/MAX-merge siblings.
        if (prev < 0L || mUs > prev) {
          val status =
            if (prev < 0L) "new"
            else if (monthStart(prev).plusMonths(1) == monthStart(mUs)) "retained"
            else "resurrected"
          out += MonthStatus(key, mUs, status)
          prev = mUs
        }
      }
      if (prev >= 0L) last.update(prev)
      out.result().iterator
    }
  }

  /** Batch or streaming: classify each distinct (customer, month). The
    * input frame must carry `cust` (long) and `m_us` (month-start epoch
    * micros), already deduplicated. */
  def monthStatuses(activity: DataFrame): Dataset[MonthStatus] = {
    StateCoordinator.register(activity.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[MonthStatus] = Encoders.product[MonthStatus]
    activity
      .select(col("cust").cast("long"), col("m_us").cast("long"))
      .as(Encoders.product[(Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new StatusProcessor, TimeMode.None(), OutputMode.Update())
  }
}
