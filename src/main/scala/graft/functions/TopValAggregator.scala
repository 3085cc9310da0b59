package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** [[TopKAggregator]]'s shape for (count, string-value) pairs — the
  * bounded most-common-values buffer q28's profiler needs: map-side
  * partial top-k heaps merge associatively, so the per-column MCV list
  * costs a shuffle of ≤ k rows per (column, partition) instead of a
  * rank window whose per-column partition is the column's whole NDV
  * (the single-task sort that capped q28's 100× probe at 40× before
  * this replaced it). Ordering: cnt DESC, then value ASC in UTF-8
  * BINARY collation (unsigned byte order — what the rank window it
  * replaced and the DuckDB oracle both sort by; Scala String `<` is
  * UTF-16 code-unit order, which diverges above the BMP), nulls first
  * — a total order, so the buffer is deterministic for any input. */
class TopValAggregator(k: Int)
    extends Aggregator[ValCount, Seq[ValCount], Seq[ValCount]] {

  /** value ASC in UTF-8 byte order; null sorts before any non-null
    * (Spark's `asc` = NULLS FIRST, matching the replaced window's
    * default ordering). */
  private def utf8Lt(a: String, b: String): Boolean = {
    if (a == null || b == null) a == null && b != null
    else {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
    }
  }

  private def better(a: ValCount, b: ValCount): Boolean =
    a.cnt > b.cnt || (a.cnt == b.cnt && utf8Lt(a.v, b.v))

  override def zero: Seq[ValCount] = Nil

  override def reduce(buf: Seq[ValCount], x: ValCount): Seq[ValCount] =
    TopKBuffer.insert(buf, x, k)(better)

  override def merge(a: Seq[ValCount], b: Seq[ValCount]): Seq[ValCount] =
    TopKBuffer.merge(a, b, k)(better)

  override def finish(b: Seq[ValCount]): Seq[ValCount] = b

  override def bufferEncoder: Encoder[Seq[ValCount]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ValCount]]()
  override def outputEncoder: Encoder[Seq[ValCount]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ValCount]]()
}

case class ValCount(cnt: Long, v: String)
