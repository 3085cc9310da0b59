package graft.streaming

import org.apache.spark.sql.Encoders

/** Streaming last-touch attribution — the ingest face of the e47 batch
  * query (the e44/s36 pairing): events arrive in time-partitioned
  * micro-batches, each user's LATEST CLICK (µs + channel) is carried in
  * RocksDB state across batch boundaries, and every purchase emits its
  * attribution exactly once, in the batch that delivers it. The
  * declared result — the per-channel purchases/revenue/lag report —
  * must equal the e47 batch oracle computed over the whole month.
  *
  * This is the Kafka-Streams KStream⋈KTable join re-expressed: the
  * click stream materializes as a latest-value-per-key table, the
  * purchase stream does a point lookup against it at its own
  * event-time. The e47 LOCF window is the batch expression of the same
  * state machine; folding the rows of each batch in (ts_us, event_id)
  * order makes the two identical by construction, including the
  * strictly-preceding tie rule at equal timestamps.
  *
  * Scale design: one (Long, String) of state per user with a click
  * history of ANY length — the state is the as-of answer itself, not
  * the history; each purchase costs one point lookup, no rescan. */
case class AttribEvent(
    user_id: Long,    // grouping key
    ts_us: Long,      // event-time micros
    event_id: Long,
    event_type: String,
    channel: String,  // click channel; "" for non-clicks
    value: Double)    // purchase value; 0.0 for non-purchases

/** lag_s = −1 encodes "unattributed" (no click within the window); the
  * declared reduction maps it back to NULL before aggregating. */
case class AttribHit(
    user_id: Long, purchase_id: Long, channel: String,
    lag_s: Long, value: Double)

/** Latest click seen for the key, across all folded batches. */
case class LastClick(cus: Long, ch: String)

/** The attribution fold itself, separated from the state-store plumbing
  * so the ScalaCheck fuzz (AttribProps) exercises the PRODUCTION fold —
  * a hand-copied transcription in the test could silently drift from
  * the processor (the FunnelMachine discipline). The window is
  * [[graft.operators.Events.AttribWinUs]], the e47 contract's single
  * source of truth.
  *
  * Delivery contract: batches must be TIME-PARTITIONED by ts (the s30
  * discipline) — equal-ts rows never split across batches, so the
  * in-batch (ts_us, event_id) sort alone reproduces the e47 window's
  * strictly-preceding tie rule. */
object AttribMachine {
  /** Fold one batch slice into the latest-click state (`null` = none
    * yet), emitting one hit per purchase; lag_s = −1 encodes
    * unattributed. */
  def fold(s0: LastClick, rows: Seq[AttribEvent]): (LastClick, Seq[AttribHit]) = {
    val winUs = graft.operators.Events.AttribWinUs
    var last = s0
    val out = Seq.newBuilder[AttribHit]
    rows.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      e.event_type match {
        case "click" =>
          // sorted ascending → unconditional overwrite IS the running max
          last = LastClick(e.ts_us, e.channel)
        case "purchase" =>
          if (last != null && e.ts_us - last.cus <= winUs)
            // both non-negative → Long '/' is the floor div of the contract
            out += AttribHit(e.user_id, e.event_id, last.ch,
              (e.ts_us - last.cus) / 1000000L, e.value)
          else
            out += AttribHit(e.user_id, e.event_id, "unattributed", -1L,
              e.value)
        case _ => ()
      }
    }
    (last, out.result())
  }
}

class AttributionProcessor
    extends ValueFold[Long, AttribEvent, LastClick, AttribHit] {

  protected def stateName = "last_click"
  protected def stateEncoder = Encoders.product[LastClick]
  protected def zero(key: Long): LastClick = null

  protected def fold(key: Long, s0: LastClick,
      rows: Iterator[AttribEvent]): (LastClick, Iterator[AttribHit]) = {
    val (last, hits) = AttribMachine.fold(s0, rows.toArray.toIndexedSeq)
    (last, hits.iterator)
  }
}
