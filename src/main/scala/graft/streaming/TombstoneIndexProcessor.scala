package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** s50's state machine: [[TopNProcessor]]'s bounded per-cell serving
  * buffer plus DELETION — the production seam s48's insert-only index
  * leaves open (deleted docs, GDPR erasure, recrawl supersedence).
  * Composes e32's tombstone semantics with the TopN buffer:
  *
  *   - `D` (tombstone): the vec_id joins the per-cell tombstone
  *     MapState and is REMOVED from the serving buffer if present —
  *     an erased document must stop being served immediately, before
  *     any compaction runs.
  *   - `I` (ingest / compaction replay): folded into the buffer via
  *     [[TopNProcessor.fold]] unless the id is tombstoned (a late
  *     arrival for an erased doc must not resurrect it) or already
  *     buffered (compaction re-delivers live candidates — the fold
  *     must be idempotent per id, where the plain TopN fold would
  *     duplicate).
  *
  * Removal alone cannot RE-FILL the buffer (the DivCap+1-th candidate
  * was never in bounded state — that information is gone by design),
  * which is exactly why real serving indexes do lazy delete +
  * compaction: after a delete, the affected cells' live postings are
  * REPLAYED from the durable corpus store (a Lucene segment merge /
  * LSM compaction), and the buffer rebuilds to the reduced corpus's
  * true top-N. The s50 query drives that sequence: full ingest →
  * tombstones → compaction replay of the touched cells.
  *
  * State per cell stays CONFIG-bounded through deletes: ≤ n buffer
  * entries (the `topn` ValueState — same name and shape as s48's, so
  * the serving read is identical) + one map entry per tombstoned id
  * (bounded by deletes, the durable erasure list). StateBoundSpec pins
  * both. Within a batch, events apply in arrival (log) order. */
case class TombEvent(cell: String, side: String, vec_id: Long,
    value: Double)

class TombstoneIndexProcessor(n: Int)
    extends StatefulProcessor[String, TombEvent, TopNRow] {

  @transient private var buf: ValueState[TopNBuf] = _
  @transient private var tomb: MapState[Long, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getValueState[TopNBuf]("topn",
      Encoders.product[TopNBuf], TTLConfig.NONE)
    tomb = getHandle.getMapState[Long, Boolean]("tomb",
      Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[TombEvent],
      timers: TimerValues): Iterator[TopNRow] = {
    val prev = if (buf.exists()) buf.get() else TopNBuf(Nil, Nil, 0L)
    var top = prev.ids.zip(prev.vals)
    rows.foreach { e =>
      if (e.side == "D") {
        tomb.updateValue(e.vec_id, true)
        top = top.filterNot(_._1 == e.vec_id)
      } else if (!tomb.containsKey(e.vec_id) &&
        !top.exists(_._1 == e.vec_id)) {
        top = TopNProcessor.fold(top, Seq((e.vec_id, e.value)), n)
      }
    }
    val ver = prev.ver + 1
    buf.update(TopNBuf(top.map(_._1), top.map(_._2), ver))
    top.iterator.zipWithIndex.map { case ((id, v), i) =>
      TopNRow(key, ver, i + 1L, id, v)
    }
  }
}
