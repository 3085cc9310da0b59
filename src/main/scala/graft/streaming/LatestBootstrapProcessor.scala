package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{StatefulProcessorWithInitialState, TimerValues}

/** Per-user running (count, exact-cents sum) — a KTable aggregate with
  * the WARM-START path: the Kafka Streams changelog-restore /
  * reprocessing-avoidance pattern. A new deployment does not replay the
  * topic from offset 0; it loads an offline snapshot (the compacted
  * changelog: per-user totals over the already-processed prefix) into
  * state via `handleInitialState`, then folds only the increments.
  *
  * The aggregate is deliberately ADDITIVE (unlike latest-by-key, where
  * later events win regardless of restored state): every key's final
  * value depends on BOTH the snapshot and the increments, so a dropped
  * snapshot row, a double-initialized key, or an increment applied to
  * empty state all corrupt the count/sum — the restore is load-bearing
  * for the hash on every key, not just quiet ones.
  *
  * Cents arrive pre-converted by the Spark expression
  * `CAST(round(value*100, 0) AS BIGINT)` (the s31 discipline: the
  * double→cents rounding happens in each ENGINE's round, never in JVM
  * arithmetic, so Spark and DuckDB agree bit-for-bit). */
case class UserDelta(user_id: Long, cents: Long)
case class UserCounts(user_id: Long, n_events: Long, cents: Long)

/** Per-user running (count, cents) totals under the `totals` state
  * variable — the fold s43's bootstrap run and s44's version 1 share. */
trait UserTotalsFold extends ValueFold[Long, UserDelta, UserCounts, UserCounts] {
  protected def stateName = "totals"
  protected def stateEncoder = Encoders.product[UserCounts]
  protected def zero(key: Long) = UserCounts(key, 0L, 0L)

  protected def fold(key: Long, prev: UserCounts,
      rows: Iterator[UserDelta]): (UserCounts, Iterator[UserCounts]) = {
    val cur = rows.foldLeft(prev)((c, r) =>
      UserCounts(key, c.n_events + 1L, c.cents + r.cents))
    (cur, Iterator.single(cur))
  }
}

class CountBootstrapProcessor
    extends StatefulProcessorWithInitialState[
      Long, UserDelta, UserCounts, UserCounts] with UserTotalsFold {

  /** Batch-0 snapshot load: one state write per snapshot key, no
    * emission — the changelog restore is not itself an update. */
  override def handleInitialState(key: Long, initialState: UserCounts,
      timers: TimerValues): Unit =
    valueState.update(initialState)
}

/** s44's VERSION 1 — the processor a deployment ran before the upgrade:
  * plain per-user (count, cents) totals, cold start. */
class CountV1Processor extends UserTotalsFold

/** s44's VERSION 2 state: the upgrade adds `cents_new` — revenue since
  * the upgrade — as an Option so pre-upgrade rows read back as None
  * (Avro schema evolution: the added field must be nullable/defaulted).
  */
case class UserCountsV2(user_id: Long, n_events: Long, cents: Long,
    cents_new: Option[Long])

/** s44's VERSION 2 — the SAME state store, one more field: a rolling
  * upgrade restarts from the v1 checkpoint, v1 rows surface with
  * cents_new = None, and the fold starts the new metric from zero
  * while counts/cents continue uninterrupted. */
class CountV2Processor
    extends ValueFold[Long, UserDelta, UserCountsV2, UserCountsV2] {

  protected def stateName = "totals"
  protected def stateEncoder = Encoders.product[UserCountsV2]
  protected def zero(key: Long) = UserCountsV2(key, 0L, 0L, None)

  protected def fold(key: Long, prev: UserCountsV2,
      rows: Iterator[UserDelta]): (UserCountsV2, Iterator[UserCountsV2]) = {
    val cur = rows.foldLeft(prev)((c, r) =>
      UserCountsV2(key, c.n_events + 1L, c.cents + r.cents,
        Some(c.cents_new.getOrElse(0L) + r.cents)))
    (cur, Iterator.single(cur))
  }
}
