package graft.streaming

import org.apache.spark.sql.Encoders

/** KStream ⋈ KTable against a CONTINUOUSLY-UPDATING table — the half of
  * Kafka Streams' `stream.join(table)` that a snapshot join (s14) can't
  * express: a stream record is enriched with the table value that is
  * current AT ITS PROCESSING TIME, so records arriving after a table
  * update see the new value while earlier records keep the old one.
  *
  * Both inputs merge into ONE changelog stream keyed by the table key:
  *   - side "T": a table upsert — overwrite the per-key `ValueState`,
  *     emit NOTHING (table updates do not re-emit past stream records;
  *     that fan-out is the FK-join semantic, [[FkJoinProcessor]] — the
  *     deliberate asymmetry between the two processors IS the Kafka
  *     Streams contract);
  *   - side "S": a stream record — emit it joined with the current
  *     state, or drop it when no table value exists yet (inner join;
  *     Kafka Streams drops stream records with no table match).
  *
  * Scale: state is ONE value per live table key (the compacted-topic
  * footprint), RocksDB-backed, partitioned by key — the same
  * co-partitioned task model as a Kafka Streams stream-table join; the
  * stream side is never buffered. */
case class StEvent(
    nk: Long,               // grouping key: stream's derived key == table pk
    side: String,           // "T" (table upsert) or "S" (stream record)
    event_id: Long,         // stream fields (side=S; -1 on table rows)
    user_id: Long,
    event_type: String,
    dim_name: String)       // table payload (side=T; null on stream rows)

case class StJoined(event_id: Long, user_id: Long, event_type: String,
    dim_name: String)

class StreamTableJoinProcessor
    extends ValueFold[Long, StEvent, String, StJoined] {

  protected def stateName = "dim"
  protected def stateEncoder = Encoders.STRING
  protected def zero(key: Long): String = null

  protected def fold(key: Long, dim0: String,
      rows: Iterator[StEvent]): (String, Iterator[StJoined]) = {
    var dim = dim0
    val out = scala.collection.mutable.ArrayBuffer[StJoined]()
    rows.foreach { e =>
      if (e.side == "T") dim = e.dim_name
      else if (dim != null)
        out += StJoined(e.event_id, e.user_id, e.event_type, dim)
    }
    (dim, out.iterator)
  }
}
