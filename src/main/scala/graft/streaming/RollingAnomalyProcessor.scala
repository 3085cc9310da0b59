package graft.streaming

import org.apache.spark.sql.Encoders

/** Streaming rolling z-score anomaly detection — the ingest face of the
  * e39 batch query: every event is scored against the
  * [[RollingAnomalyProcessor.W]] events that PRECEDE it for the same
  * user, with the trailing window carried incrementally in state instead
  * of recomputed by a window sort. This is the per-key moving-stats
  * `aggregate` a Kafka Streams metrics monitor runs: the corpus of past
  * observations is never rescanned; each event costs one bounded state
  * read + write.
  *
  * Keyed by user. State is ONE row per user — the last ≤ W cents values
  * in event order — so state size is W longs per live key regardless of
  * stream length or history depth. The emitted (dev, den) pair carries
  * the exact integer z² numerator/denominator (z² = dev²/den with
  * dev = W·x − Σx, den = W·Σx² − (Σx)²); the declared query derives the
  * 4-dp score downstream with [[graft.functions.Det.r4]], so processor
  * output and the e39 batch oracle agree bit-for-bit.
  *
  * Ordering contract: rows within a micro-batch are sorted here by
  * (ts_us, event_id) — the per-key per-batch buffer is the standard
  * bounded cost of event-time ordering inside a trigger — and batches
  * arrive time-partitioned (every row of batch k+1 is later than every
  * row of batch k, the ordered-changelog discipline shared with
  * s24/s26/s29), so the trailing window crossing a batch boundary reads
  * its history from state, which is the property under test. */
case class AnomalyEvent(
    user_id: Long,    // grouping key
    ts_us: Long,      // event-time micros
    event_id: Long,
    cents: Long,      // integer cents of `value` (exact arithmetic)
    value: Double)    // original value, passed through for the report

case class AnomalyScore(event_id: Long, user_id: Long, ts_us: Long,
    value: Double, dev: Long, den: Long)

/** The last ≤ W observed cents for one user, oldest first. */
case class AnomalyRing(vals: Seq[Long])

object RollingAnomalyProcessor {
  /** Trailing-window length — MUST match e39's ROWS BETWEEN 20
    * PRECEDING AND 1 PRECEDING frame. */
  val W = 20
}

class RollingAnomalyProcessor
    extends ValueFold[Long, AnomalyEvent, AnomalyRing, AnomalyScore] {
  import RollingAnomalyProcessor.W

  protected def stateName = "ring"
  protected def stateEncoder = Encoders.product[AnomalyRing]
  protected def zero(key: Long) = AnomalyRing(Seq.empty)

  protected def fold(key: Long, ring: AnomalyRing,
      rows: Iterator[AnomalyEvent]): (AnomalyRing, Iterator[AnomalyScore]) = {
    val out = scala.collection.mutable.ArrayBuffer[AnomalyScore]()
    val vals = scala.collection.mutable.ArrayDeque.from(ring.vals)
    // running Σx / Σx² maintained with the entering/leaving element —
    // O(1) per event instead of an O(W) rescan on the hot path
    var sx = 0L; var sxx = 0L
    vals.foreach { v => sx += v; sxx += v * v }
    rows.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      if (vals.length == W)
        out += AnomalyScore(e.event_id, key, e.ts_us, e.value,
          W.toLong * e.cents - sx, W.toLong * sxx - sx * sx)
      vals.append(e.cents); sx += e.cents; sxx += e.cents * e.cents
      if (vals.length > W) {
        val old = vals.removeHead()
        sx -= old; sxx -= old * old
      }
    }
    (AnomalyRing(vals.toSeq), out.iterator)
  }
}
