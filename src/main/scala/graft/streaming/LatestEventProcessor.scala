package graft.streaming

import org.apache.spark.sql.Encoders

/** KTable materialization on Spark 4's `transformWithState` API — the
  * successor to `flatMapGroupsWithState` with named state variables and
  * a per-state TTL. Keeps the latest event per user in a `ValueState`
  * (compared on (ts, event_id), the same total order as the batch
  * `latestByKey`) and emits the new latest on every update — exactly a
  * Kafka Streams changelog topic.
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` →
  * `...state.RocksDBStateStoreProvider`), which is also what you'd run
  * on a real cluster for 100 TB-scale keyed state. */
case class LatestEvent(user_id: Long, event_id: Long, ts_us: Long,
    event_type: String, value: Double)

class LatestEventProcessor
    extends ValueFold[Long, EventRow, LatestEvent, LatestEvent] {

  protected def stateName = "latest"
  protected def stateEncoder = Encoders.product[LatestEvent]
  protected def zero(key: Long): LatestEvent = null

  protected def fold(key: Long, prev: LatestEvent,
      rows: Iterator[EventRow]): (LatestEvent, Iterator[LatestEvent]) = {
    var cur = prev
    rows.foreach { r =>
      val tsUs = AvroSerde.micros(r.ts)
      if (cur == null || tsUs > cur.ts_us ||
          (tsUs == cur.ts_us && r.event_id > cur.event_id))
        cur = LatestEvent(key, r.event_id, tsUs, r.event_type, r.value)
    }
    (cur, Option(cur).iterator)
  }
}
