package graft.streaming

import org.apache.spark.sql.Encoders

/** Streaming CUSUM mean-shift monitor — the PROSPECTIVE face of the e41
  * batch changepoint scan: a baseline period fixes each key's reference
  * level, then every monitored event folds into the classic
  * C_t = max(0, C_{t-1} + (x_t − µ₀)) recursion carried in state. This
  * is the alerting shape (did the level shift since the baseline?),
  * where e41 is the forensic one (where did it shift, knowing the whole
  * month) — the reference a key is scored against here deliberately
  * excludes the future.
  *
  * Keyed by user. Baseline rows ("B") fold into (n₀, Σx₀) and emit
  * nothing; monitor rows ("M") advance the recursion in n₀-scaled
  * integer cents (y = n₀·x − Σx₀ = n₀·(x − µ₀) with no division) and
  * emit the running statistic, which the declared query reduces to the
  * per-key max + first-attaining event. State is three longs per key;
  * per event the cost is one state read/write — nothing rescans the
  * baseline. Keys with no baseline emit nothing (no reference to score
  * against — the inner-join contract of the oracle).
  *
  * Ordering contract: baseline batches precede monitor batches (the
  * same time-partitioned changelog discipline as s30); rows within a
  * batch are sorted here by (ts_us, event_id). */
case class CusumEvent(
    user_id: Long,    // grouping key
    side: String,     // "B" = baseline, "M" = monitored
    ts_us: Long,      // event-time micros
    event_id: Long,
    cents: Long)

case class CusumPoint(user_id: Long, ts_us: Long, event_id: Long,
    c: Long, n_base: Long)

/** Per-key recursion state: baseline count/sum and the running C. */
case class CusumState(n0: Long, s0: Long, c: Long)

class CusumProcessor
    extends ValueFold[Long, CusumEvent, CusumState, CusumPoint] {

  protected def stateName = "cusum"
  protected def stateEncoder = Encoders.product[CusumState]
  protected def zero(key: Long) = CusumState(0L, 0L, 0L)

  protected def fold(key: Long, s0: CusumState,
      rows: Iterator[CusumEvent]): (CusumState, Iterator[CusumPoint]) = {
    val out = scala.collection.mutable.ArrayBuffer[CusumPoint]()
    var s = s0
    rows.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      if (e.side == "B") {
        s = s.copy(n0 = s.n0 + 1, s0 = s.s0 + e.cents)
      } else if (s.n0 > 0) {
        val c = math.max(0L, s.c + (s.n0 * e.cents - s.s0))
        s = s.copy(c = c)
        out += CusumPoint(key, e.ts_us, e.event_id, c, s.n0)
      }
    }
    (s, out.iterator)
  }
}
