package graft.streaming

import org.apache.spark.sql.Encoders

/** Streaming ordered-funnel state machine — the ingest face of the e44
  * batch funnel (the same pairing as e39/s30 and e41/s31): events
  * arrive in time-partitioned micro-batches, each user's funnel
  * progress (latest view, latest view-qualified click, purchased flag)
  * is carried in RocksDB state across batch boundaries, and the
  * declared result — the per-depth user histogram with reach counts —
  * must equal the e44 batch oracle computed over the whole month at
  * once (incremental assembly ≡ batch truth).
  *
  * Each batch's rows for a key fold through the same state machine the
  * batch query expresses as chained running-max windows; after folding,
  * the key emits its CURRENT depth. Depth is monotone non-decreasing,
  * so the declared query's `max(stage)` per user over all emissions is
  * the final depth — update-mode emissions never need retraction.
  *
  * Scale design: state is two timestamps + one flag per live key, one
  * state roundtrip per key per batch, no history rescan — per-entity
  * funnel tracking at unbounded-stream cost. Ordering contract:
  * batches are time-partitioned (the s30 changelog discipline); rows
  * within a batch are sorted here by (ts_us, event_id). */
case class FunnelEvent(
    user_id: Long,    // grouping key
    ts_us: Long,      // event-time micros
    event_id: Long,
    event_type: String)

case class FunnelDepth(user_id: Long, stage: Long)

/** Per-key machine: latest view µs, latest qualified click µs
  * (Long.MinValue = none yet), and the purchased bit. */
case class FunnelState(lv: Long, lc: Long, purchased: Boolean)

/** The funnel recursion itself, separated from the state-store plumbing
  * so the ScalaCheck fuzz (FunnelProps) exercises the PRODUCTION fold —
  * a hand-copied transcription in the test could silently drift from
  * the processor (session-14 review finding). The conversion window is
  * [[graft.operators.Events.FunnelWinUs]], the e44 contract's single
  * source of truth. */
object FunnelMachine {
  val none: Long = Long.MinValue
  val zero: FunnelState = FunnelState(none, none, purchased = false)

  /** Fold one time-ordered slice (sorted here by (ts_us, event_id))
    * into the state — the per-batch step of s36. */
  def fold(s0: FunnelState, rows: Seq[FunnelEvent]): FunnelState = {
    val winUs = graft.operators.Events.FunnelWinUs
    rows.sortBy(e => (e.ts_us, e.event_id)).foldLeft(s0) { (s, e) =>
      e.event_type match {
        case "view" => s.copy(lv = math.max(s.lv, e.ts_us))
        case "click" if s.lv != none && e.ts_us <= s.lv + winUs =>
          s.copy(lc = math.max(s.lc, e.ts_us))
        case "purchase" if s.lc != none && e.ts_us <= s.lc + winUs =>
          s.copy(purchased = true)
        case _ => s
      }
    }
  }

  /** Funnel depth reached: monotone non-decreasing across folds. */
  def stage(s: FunnelState): Long =
    (if (s.lv != none) 1L else 0L) + (if (s.lc != none) 1L else 0L) +
      (if (s.purchased) 1L else 0L)
}

class FunnelProcessor
    extends ValueFold[Long, FunnelEvent, FunnelState, FunnelDepth] {

  protected def stateName = "funnel"
  protected def stateEncoder = Encoders.product[FunnelState]
  protected def zero(key: Long) = FunnelMachine.zero

  protected def fold(key: Long, s0: FunnelState,
      rows: Iterator[FunnelEvent]): (FunnelState, Iterator[FunnelDepth]) = {
    val s = FunnelMachine.fold(s0, rows.toArray.toIndexedSeq)
    (s, Iterator.single(FunnelDepth(key, FunnelMachine.stage(s))))
  }
}
