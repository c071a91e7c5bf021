package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Per-user "last 5 events" via `transformWithState` LIST state — the
  * third named-state variable kind next to TypeStats' ValueState+MapState,
  * completing the API surface. The recency buffer is the canonical
  * ListState use (fraud features, session context, dedup-by-recent-ids):
  * state per key is BOUNDED at 5 (ts, event_id) pairs no matter how long
  * the stream runs — each batch merges arrivals into the buffer, truncates
  * to the 5 largest (ts, event_id) pairs, and re-puts.
  *
  * Deterministic under any arrival order: the kept set is the top-5 of a
  * strict total order (ts, then event_id), independent of encounter
  * order; the emitted id list is sorted ascending.
  */
object RecentEvents {

  final case class RecentOut(user_id: Long, n_recent: Long, recent_ids: String)

  /** K = user_id, I = (user_id, ts_micros, event_id). */
  final class RecentProcessor extends StatefulProcessor[Long, (Long, Long, Long), RecentOut] {
    @transient private var recent: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long)]("recent",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Long)],
        timers: TimerValues): Iterator[RecentOut] = {
      val merged = (recent.get().toSeq ++ rows.map(r => (r._2, r._3)))
        .sorted.takeRight(5)
      recent.clear()
      recent.put(merged.toArray)
      Iterator.single(RecentOut(user, merged.length.toLong,
        merged.map(_._2).mkString(",")))
    }
  }

  /** Batch or streaming: group by user and run the processor. */
  def recentPerUser(events: DataFrame): Dataset[RecentOut] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[RecentOut] =
      Encoders.product[RecentOut]
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")), col("event_id").cast("long"))
      .as(Encoders.product[(Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new RecentProcessor, TimeMode.None(), OutputMode.Update())
  }
}
