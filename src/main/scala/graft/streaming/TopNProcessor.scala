package graft.streaming

import org.apache.spark.sql.Encoders
import graft.functions.TopKBuffer

/** Streaming grouped top-N — the continuously-maintained leaderboard a
  * Kafka Streams app keeps in a per-key store: for each key the N best
  * rows seen so far, re-emitted whenever a batch may have changed them.
  *
  * State per key is BOUNDED at N (id, value) pairs plus a version
  * counter — it never grows with the stream, which is the whole point:
  * an unbounded "keep everything, rank at read time" table is the
  * batch shape; at 100 TB/day of events only the bounded buffer
  * survives. Each `handleInputRows` call (one per key per micro-batch)
  * folds the batch's rows into the buffer in O(rows·N) and emits the
  * current top list tagged with the incremented version; the declared
  * query compacts the emitted changelog to each key's latest version —
  * exactly a compacted output topic.
  *
  * The fold order inside a batch does not affect the result: the top-N
  * under a total order is a commutative monoid fold (same reason the
  * batch-side [[graft.functions.TopKAggregator]] can merge partials in
  * any order). */
case class TopNEvent(event_type: String, event_id: Long, value: Double)
case class TopNBuf(ids: Seq[Long], vals: Seq[Double], ver: Long)
case class TopNRow(event_type: String, ver: Long, rank: Long,
    event_id: Long, value: Double)

object TopNProcessor {
  /** Total order: higher value first, ties to the lower event_id. */
  def better(a: (Long, Double), b: (Long, Double)): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  /** Fold a batch of (id, value) pairs into a ≤n top buffer. Pure and
    * order-insensitive (the top-n under a total order is a commutative
    * monoid fold) — TopKProps pins that property against arbitrary
    * batch splits and orderings. */
  def fold(top: Seq[(Long, Double)], rows: IterableOnce[(Long, Double)],
      n: Int): Seq[(Long, Double)] =
    rows.iterator.foldLeft(top)(TopKBuffer.insert(_, _, n)(better))
}

class TopNProcessor(n: Int)
    extends ValueFold[String, TopNEvent, TopNBuf, TopNRow] {

  protected def stateName = "topn"
  protected def stateEncoder = Encoders.product[TopNBuf]
  protected def zero(key: String) = TopNBuf(Nil, Nil, 0L)

  protected def fold(key: String, prev: TopNBuf,
      rows: Iterator[TopNEvent]): (TopNBuf, Iterator[TopNRow]) = {
    val top = TopNProcessor.fold(prev.ids.zip(prev.vals),
      rows.map(e => (e.event_id, e.value)), n)
    val ver = prev.ver + 1
    (TopNBuf(top.map(_._1), top.map(_._2), ver),
      top.iterator.zipWithIndex.map { case ((id, v), i) =>
        TopNRow(key, ver, i + 1L, id, v)
      })
  }
}
