package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-user event-type profile via `transformWithState` — Spark 4's
  * successor to (flat)mapGroupsWithState, exercised here because it is the
  * state API a new pipeline should target: named state variables
  * (ValueState/MapState/ListState) instead of one opaque case-class blob,
  * per-variable TTL, and RocksDB-backed stores in streaming mode.
  *
  * The processor keeps a ValueState total and a MapState of per-type
  * counts; each micro-batch emits the key's refreshed profile (update
  * semantics — later batches supersede). Output is deterministic
  * regardless of row arrival order: counts are order-free and the
  * type_counts string sorts by type name. State per user is O(|event
  * types|) — bounded by the domain, not the stream length.
  */
object TypeStats {

  final case class UserTypeStats(user_id: Long, n_events: Long, n_types: Long, type_counts: String)

  /** K = user_id, I = (user_id, event_type), O = UserTypeStats. */
  final class TypeStatsProcessor extends StatefulProcessor[Long, (Long, String), UserTypeStats] {
    @transient private var total: ValueState[Long] = _
    @transient private var perType: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
      perType = getHandle.getMapState[String, Long]("perType",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timers: TimerValues): Iterator[UserTypeStats] = {
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { case (_, t) =>
        n += 1
        val c = if (perType.containsKey(t)) perType.getValue(t) else 0L
        perType.updateValue(t, c + 1)
      }
      total.update(n)
      val entries = perType.iterator().toSeq.sortBy(_._1)
      Iterator.single(UserTypeStats(user, n, entries.size.toLong,
        entries.map { case (k, v) => s"$k:$v" }.mkString(",")))
    }
  }

  /** Batch or streaming: group by user and run the processor. */
  def userTypeStats(events: DataFrame): Dataset[UserTypeStats] = {
    StateCoordinator.register(events.sparkSession)
    implicit val outEnc: org.apache.spark.sql.Encoder[UserTypeStats] =
      Encoders.product[UserTypeStats]
    events
      .select(col("user_id").cast("long"), col("event_type"))
      .as(Encoders.product[(Long, String)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new TypeStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
