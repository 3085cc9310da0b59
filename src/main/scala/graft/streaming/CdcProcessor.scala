package graft.streaming

import org.apache.spark.sql.Encoders

/** Streaming change-data-capture against a keyed snapshot — the ingest
  * face of the d49 batch diff: the OLD snapshot loads each key's
  * content hash into RocksDB state (batch 1, no emissions); NEW
  * snapshot rows then classify against it (batch 2) — `added` when the
  * key has no state, `unchanged` when the hash matches, `changed`
  * otherwise — and each arriving document emits exactly once.
  *
  * Contract note: arrival-side CDC can see only what ARRIVES, so
  * `removed` (a key in state that never re-appears) is undetectable
  * without a full state sweep — the declared result is d49's report
  * MINUS the removed row (the oracle says exactly that), and a
  * retention job owns removals in production.
  *
  * Scale design: one (hash, chars) of state per snapshot key, one
  * point lookup per arriving document — the s24/s26 append-only-ingest
  * shape; no snapshot rescan ever. */
case class SnapEvent(
    k: Long,          // snapshot key (grouping key)
    side: String,     // "O" old snapshot load, "N" new snapshot arrival
    h: String,        // content hash
    chars: Long)

case class CdcEmit(k: Long, status: String, new_chars: Long,
    old_chars: Long)

/** The old snapshot's content for the key. */
case class SnapState(h: String, chars: Long)

class CdcProcessor
    extends ValueFold[Long, SnapEvent, SnapState, CdcEmit] {

  protected def stateName = "snap"
  protected def stateEncoder = Encoders.product[SnapState]
  protected def zero(key: Long): SnapState = null

  protected def fold(key: Long, s0: SnapState,
      rows: Iterator[SnapEvent]): (SnapState, Iterator[CdcEmit]) = {
    var s = s0
    val out = Seq.newBuilder[CdcEmit]
    // "O" before "N" within a batch mirrors the side-partitioned
    // delivery (the two sides arrive in separate batches anyway) —
    // note 'O' > 'N' in ASCII, hence the reversed ordering
    rows.toArray.sortBy(_.side)(Ordering[String].reverse).foreach { e =>
      e.side match {
        case "O" => s = SnapState(e.h, e.chars)
        case _ =>
          if (s == null) out += CdcEmit(key, "added", e.chars, 0L)
          else if (s.h == e.h)
            out += CdcEmit(key, "unchanged", e.chars, s.chars)
          else out += CdcEmit(key, "changed", e.chars, s.chars)
      }
    }
    (s, out.result().iterator)
  }
}
