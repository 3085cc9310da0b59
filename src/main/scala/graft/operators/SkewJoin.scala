package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys: salt the skewed (big) side into
  * `saltFactor` sub-keys and replicate the other side across all salts,
  * so one hot key's rows spread over `saltFactor` tasks instead of one
  * straggler.
  *
  * The salt must be deterministic for reproducible results: it's derived
  * from a hash of a row-identifying column, not `rand()`. At 100 TB you
  * would enable this selectively for keys flagged by AQE's skew stats
  * (`spark.sql.adaptive.skewJoin.*` handles sort-merge cases
  * automatically; explicit salting covers aggregations and the join
  * types AQE won't split). */
object SkewJoin {

  /** How many times the ideal per-task share the hottest key may hold
    * before [[shouldSalt]] salts the join. */
  val StragglerFactor = 2.0

  /** Equi-join `big ⋈ small` on `bigKey === smallKey`, salting the big
    * side by `hash(idCol) % saltFactor` and exploding the small side
    * across every salt value. Result equals the unsalted join. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: Column,
      smallKey: Column, idCol: Column, saltFactor: Int): DataFrame = {
    val salted = big.withColumn("__salt", pmod(hash(idCol), lit(saltFactor)))
    val replicated = small.withColumn("__salt",
      explode(expr(s"sequence(0, ${saltFactor - 1})")))
    salted.join(replicated,
        bigKey === smallKey && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** The two statistics the salting decision consumes, measured the
    * q26 way: ONE map-side-combined shuffle collapses the big side to
    * per-key counts, then (max count, total rows) aggregate over |keys|
    * rows. At 100 TB this is the statistics-collection job a cost-based
    * planner amortizes across queries (ANALYZE TABLE / AQE runtime
    * stats); here it runs inline so the decision is self-contained. */
  def keyStats(big: DataFrame, bigKey: Column): (Long, Long) = {
    val r = big.groupBy(bigKey.as("__k"))
      .agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt")), sum(col("cnt")))
      .head()
    // an empty big side yields one all-NULL global-agg row; report
    // (0, 0) so shouldSalt's totalRows guard selects the plain join
    if (r.isNullAt(0) || r.isNullAt(1)) (0L, 0L)
    else (r.getLong(0), r.getLong(1))
  }

  /** The straggler test: salt iff the hottest key exceeds
    * [[StragglerFactor]] × the ideal per-task share at
    * `targetParallelism` reducers. This subsumes both skew shapes q26
    * surfaces — a single dominant key (max/mean ratio ≫ 1) and a
    * balanced-but-tiny key domain (|keys| < reducers, each key a
    * straggler). A well-distributed key (max·P ≪ total) keeps the
    * plain one-exchange join: salting it would only pay the ×salt
    * replication of the small side for nothing. */
  def shouldSalt(maxCnt: Long, totalRows: Long,
      targetParallelism: Int): Boolean =
    totalRows > 0 &&
      maxCnt.toDouble * targetParallelism > StragglerFactor * totalRows

  /** Statistics-driven join: measure the big side's key distribution
    * (the q26 profiler's count table) and pick the salted or the plain
    * equi-join plan — the optimizer-statistics suite feeding an actual
    * execution decision rather than only reporting. Both branches
    * produce identical results and schemas; only the physical shape
    * differs, so callers declare ONE query and the data decides the
    * plan (StatsDrivenJoinSpec pins that the decision flips).
    *
    * NOTE: the measurement is EAGER — a Spark job runs at plan-
    * construction time (ANALYZE-then-plan). Callers constructing the
    * same join repeatedly over an unchanged table should cache the
    * [[keyStats]] pair and branch themselves (e22 does, per sfDir)
    * rather than re-measure per construction. */
  def statsDrivenJoin(big: DataFrame, small: DataFrame, bigKey: Column,
      smallKey: Column, idCol: Column, saltFactor: Int,
      targetParallelism: Int): DataFrame = {
    val (maxCnt, total) = keyStats(big, bigKey)
    if (shouldSalt(maxCnt, total, targetParallelism))
      saltedJoin(big, small, bigKey, smallKey, idCol, saltFactor)
    else
      big.join(small, bigKey === smallKey)
  }
}
