package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Negative-path serving-layer evidence: a TAMPERED state checkpoint
  * must fail the statestore read loudly — never return a partial or
  * wrong store. The oracle gate can only prove the happy path; this
  * pins the integrity property an Interactive-Queries serving layer
  * leans on (RocksDB file checksums + the state source's manifest
  * validation), by truncating the largest state file in a COPY of a
  * known-good checkpoint and asserting the same read that succeeds on
  * the original throws on the copy. */
class StateCorruptionSpec extends AnyFunSuite {
  import graft.streaming._
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def copyTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }

  test("a truncated state file fails the statestore read, never serves a wrong store") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_cor_in")
    val ck = java.nio.file.Files.createTempDirectory("graft_cor_ck")
    val ev = Tables.events(spark, sf).select($"user_id",
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    StreamOps.writeChangelogFile(ev, in, 0)
    StreamOps.withConf(spark, StreamOps.RocksDb: _*) {
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, cents BIGINT"))
        .option("pathGlobFilter", "changelog_*.parquet")
        .parquet(in.toString)
        .as[UserDelta]
        .groupByKey(_.user_id)
        .transformWithState(new CountV1Processor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[UserCounts])
        .toDF()
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def readStore(path: java.nio.file.Path): Long =
      StreamOps.withConf(spark, StreamOps.RocksDb: _*) {
        spark.read.format("statestore")
          .option("path", path.toString)
          .option("stateVarName", "totals")
          .load().count()
      }
    // control: the untampered checkpoint serves the full store
    val nKeys = readStore(ck)
    assert(nKeys > 0, "control read returned an empty store")
    // tamper: truncate the LARGEST file under state/ in a copy
    val bad = java.nio.file.Files.createTempDirectory("graft_cor_bad")
    copyTree(ck, bad)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(bad.resolve("state"))
    val victim = try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .maxBy(java.nio.file.Files.size(_)) finally walk.close()
    val sz = java.nio.file.Files.size(victim)
    assert(sz > 2, s"state file too small to truncate meaningfully: $victim")
    val ch = java.nio.file.Files.newByteChannel(victim,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(sz / 2) finally ch.close()
    val e = intercept[Throwable] { readStore(bad) }
    // loud failure of ANY kind is the contract; a silent wrong answer
    // would have returned normally above
    assert(e != null)
  }
}
