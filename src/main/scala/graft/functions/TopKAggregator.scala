package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k neighbor buffer — the distributed top-k-per-group
  * shape: `reduce` keeps at most k candidates per partial buffer, so
  * map-side combine does per-partition top-k BEFORE the shuffle and a
  * group's state never exceeds k rows regardless of how many
  * candidates scored against it. This replaces a
  * rank-over-all-scored-pairs window (which shuffles every scored row
  * to its group's reducer) with a shuffle of at most k rows per
  * (group, partition) — the same per-partition-heap + merge plan
  * `TakeOrderedAndProject` uses for global top-k, generalized per
  * group.
  *
  * Ordering: cos DESC, then vec_id ASC, then label ASC — cos must
  * already be rounded to a stable grain (round(…, 6) upstream). In
  * v11 (vec_id unique per group) the label leg is unreachable; it
  * completes the total order so the buffer is deterministic for ANY
  * input, which TopKProps checks against arbitrary duplicates.
  *
  * Usage (untyped, via [[org.apache.spark.sql.functions.udaf]]):
  * `df.groupBy($"q_id").agg(topkUdaf($"cos", $"vec_id", $"label"))`.
  */
class TopKAggregator(k: Int)
    extends Aggregator[ScoredNeighbor, Seq[ScoredNeighbor], Seq[ScoredNeighbor]] {

  private def better(a: ScoredNeighbor, b: ScoredNeighbor): Boolean =
    a.cos > b.cos ||
      (a.cos == b.cos &&
        (a.vec_id < b.vec_id ||
          (a.vec_id == b.vec_id && a.label < b.label)))

  override def zero: Seq[ScoredNeighbor] = Nil

  override def reduce(buf: Seq[ScoredNeighbor], v: ScoredNeighbor): Seq[ScoredNeighbor] =
    TopKBuffer.insert(buf, v, k)(better)

  override def merge(a: Seq[ScoredNeighbor], b: Seq[ScoredNeighbor]): Seq[ScoredNeighbor] =
    TopKBuffer.merge(a, b, k)(better)

  override def finish(b: Seq[ScoredNeighbor]): Seq[ScoredNeighbor] = b

  override def bufferEncoder: Encoder[Seq[ScoredNeighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredNeighbor]]()
  override def outputEncoder: Encoder[Seq[ScoredNeighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredNeighbor]]()
}

case class ScoredNeighbor(cos: Double, vec_id: Long, label: Int)

/** The sorted, at-most-k buffer behind [[TopKAggregator]],
  * [[TopValAggregator]] and s18's [[graft.streaming.TopNProcessor]]:
  * best entry first under `better`, a strict total order, so the
  * buffer is deterministic for any input and any merge order. */
object TopKBuffer {
  /** `buf` with `x` inserted in order, truncated at k. Buffers stay tiny
    * (k ≤ ~100), so an O(k) list insert beats heap bookkeeping after
    * serde round trips. */
  def insert[T](buf: Seq[T], x: T, k: Int)(better: (T, T) => Boolean): Seq[T] = {
    val (pre, post) = buf.span(better(_, x))
    val merged = pre ++ (x +: post)
    if (merged.lengthCompare(k) > 0) merged.take(k) else merged
  }

  /** The k best of two buffers: one merge pass over both heads. */
  def merge[T](a: Seq[T], b: Seq[T], k: Int)(better: (T, T) => Boolean): Seq[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var (x, y) = (a, b)
    while (out.length < k && (x.nonEmpty || y.nonEmpty)) {
      if (y.isEmpty || (x.nonEmpty && better(x.head, y.head))) {
        out += x.head; x = x.tail
      } else { out += y.head; y = y.tail }
    }
    out.toSeq
  }
}
