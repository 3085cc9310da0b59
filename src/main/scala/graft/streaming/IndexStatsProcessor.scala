package graft.streaming

import org.apache.spark.sql.Encoders

/** Incremental inverted-index statistics — the streaming face of the
  * d37 batch build: per-term document frequency and total term
  * frequency live in state, and each arriving document batch folds its
  * (term, doc, tf) rows in and re-emits the updated stats for every
  * term it touched. This is how a production retrieval pipeline keeps
  * its index fresh against an append-only ingest: per batch, only the
  * TOUCHED terms pay any work — the index is never rebuilt, and the
  * stored state is two Longs per distinct term.
  *
  * Keyed by term. Input rows are one per (term, doc) — each therefore
  * adds exactly 1 to df — carrying that document's term frequency.
  * Emits one row per (touched term, batch) with the post-batch totals,
  * so the LATEST emission per term (df is monotone — max struct) is
  * the current index row, which is what the declared query snapshots. */
case class TermDocTf(term: String, doc_id: Long, tf: Long)

case class TermStats(term: String, df: Long, tf_total: Long)

class IndexStatsProcessor
    extends ValueFold[String, TermDocTf, TermStats, TermStats] {

  protected def stateName = "stats"
  protected def stateEncoder = Encoders.product[TermStats]
  protected def zero(key: String) = TermStats(key, 0L, 0L)

  protected def fold(key: String, prev: TermStats,
      rows: Iterator[TermDocTf]): (TermStats, Iterator[TermStats]) = {
    var df = 0L
    var tf = 0L
    rows.foreach { r => df += 1L; tf += r.tf }
    val next = TermStats(key, prev.df + df, prev.tf_total + tf)
    (next, Iterator.single(next))
  }
}
