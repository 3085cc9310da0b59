package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the explicit-batchId contract of the state-source reads
  * (round-9 verdict item 7): s42/s43/s44 resolve the last committed
  * batchId from the checkpoint's commit log and pass it to
  * `spark.read.format("statestore")` instead of relying on the implicit
  * "latest" — replay-stable, and the SAME option is the serving layer's
  * TIME TRAVEL. This spec runs a two-batch stateful query, then reads
  * the store at batch 0 and at the last batch: the older read must show
  * the store as it stood after batch 0 ONLY. */
class StateSourceBatchIdSpec extends AnyFunSuite {
  import graft.streaming._
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("statestore read pinned to an older batchId sees the older store version") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_tt_in")
    val cut = to_timestamp(lit("2024-01-16 09:30:00"))
    val ev = Tables.events(spark, sf).select($"user_id", $"ts",
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    def half(c: org.apache.spark.sql.Column) =
      ev.filter(c).select($"user_id", $"cents")
    StreamOps.writeChangelogFile(half($"ts" < cut), in, 0)
    StreamOps.writeChangelogFile(half($"ts" >= cut), in, 1)
    // one file per trigger → two committed batches (0 and 1)
    val ck = StreamOps.foldIntoStore(
      StreamOps.changelogStream(spark, in.toString,
          "user_id BIGINT, cents BIGINT")
        .as[UserDelta]
        .groupByKey(_.user_id)
        .transformWithState(new CountV1Processor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[UserCounts])
        .toDF(), "graft_tt")
    val last = StreamOps.lastCommittedBatchId(ck)
    assert(last >= 1L, s"expected ≥2 committed batches, commit log ends at $last")
    def readAt(b: Long): Map[Long, (Long, Long)] =
      StreamOps.readState(spark, ck, "totals", Some(b))
        .select($"value.user_id", $"value.n_events", $"value.cents")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def expect(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"cents").as("c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val atFirst = readAt(0L)
    val atLast = readAt(last)
    assert(atFirst == expect(half($"ts" < cut)),
      "batch-0 store ≠ first-half totals (time travel broken)")
    assert(atLast == expect(ev.select($"user_id", $"cents")),
      "last-batch store ≠ full totals")
    assert(atFirst != atLast,
      "the two store versions are identical — the test proves nothing")
  }
}
