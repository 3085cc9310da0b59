package graft.streaming

import org.apache.spark.sql.Encoders

/** s51's state: the per-shard manifest counters (docs, tokens, bytes)
  * of the training-output sharding step — d57's manifest cells as
  * MERGEABLE MONOID STATE. Keyed BY SHARD, so the fold is
  * shard-parallel (the writer's natural layout: each shard's counters
  * live with the task that owns the shard) and state is exactly
  * |occupied shards| cells regardless of corpus volume — the
  * hardest-capped state bound in the ingest family. Sums are
  * commutative + associative, so batch boundaries can't change the
  * result. The store is the product (the s42/s46 Interactive-Queries
  * discipline): the serving layer reads it out-of-band and applies
  * d57's balance read-off over CELLS, never documents — so the
  * processor emits nothing. */
case class ShardDelta(shard: Long, toks: Long, bytes: Long)

case class ShardCell(n_docs: Long, n_tokens: Long, n_bytes: Long)

class ShardStatsProcessor
    extends ValueFold[Long, ShardDelta, ShardCell, ShardDelta] {

  protected def stateName = "cell"
  protected def stateEncoder = Encoders.product[ShardCell]
  protected def zero(key: Long) = ShardCell(0L, 0L, 0L)

  protected def fold(key: Long, acc: ShardCell,
      rows: Iterator[ShardDelta]): (ShardCell, Iterator[ShardDelta]) =
    (rows.foldLeft(acc) { (c, r) =>
      ShardCell(c.n_docs + 1L, c.n_tokens + r.toks, c.n_bytes + r.bytes)
    }, Iterator.empty)
}
