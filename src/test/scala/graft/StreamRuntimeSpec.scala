package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming-run seam: [[graft.streaming.StreamRuntime]] is the
  * one place that starts a stream, replays a changelog dir, reads a
  * state store or caches a scratch dir, it picks each run's state store
  * from the plan, and its [[withConf]] leaves the session conf exactly
  * as it found it. Inside those runs, [[graft.streaming.ValueFold]] is
  * the one place a single-ValueState processor's state plumbing lives.
  * A stream face that twins a batch e-query runs that query's `Events`
  * transform and declares its oracle, and `closeFlushed` is the one
  * place a flushed stream is closed. */
class StreamRuntimeSpec extends AnyFunSuite {
  import graft.streaming.StreamOps
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("StreamRuntime.scala holds every streaming-run primitive under src/main") {
    val seam = "graft/streaming/StreamRuntime.scala"
    Seq(".writeStream", "\"changelog_*.parquet\"", "format(\"statestore\")",
      "Trigger.AvailableNow", "TrieMap.empty[String, (Long, String)]")
      .foreach { needle =>
        val hits = MainSources.containing(needle).filterNot(_ == seam)
        assert(hits.isEmpty, s"$needle outside $seam: $hits")
      }
    Seq("def withShufflePartitions", "def withRocksDb", "def withAvroState",
      "graft.stream.partitions").foreach { gone =>
      assert(MainSources.containing(gone).isEmpty, s"$gone is back")
    }
  }

  test("the plan picks the state store: transformWithState gets RocksDB and 8 stores, others 2") {
    import scala.jdk.CollectionConverters._
    val cores = spark.sparkContext.defaultParallelism
    def store(name: String): (Long, Seq[Int], Boolean) = {
      val p = StreamOps.lastProgressByName(name)
      (p.batchId, p.stateOperators.map(_.numShufflePartitions.toInt).toSeq,
        p.stateOperators.exists(_.customMetrics.keySet.asScala
          .exists(_.startsWith("rocksdb"))))
    }
    StreamOps.streamTopN(spark, sf).collect()         // s18, transformWithState
    assert(store("graft_s18") == ((2L, Seq(math.min(8, cores)), true)))
    StreamOps.streamTumbling(spark, sf).collect()     // s01, Complete aggregation
    assert(store("graft_s01") == ((0L, Seq(math.min(2, cores)), false)))
  }

  test("no caller repeats the state store choice the plan makes") {
    val seam = "graft/streaming/StreamRuntime.scala"
    val noData = MainSources.containing("noDataMicroBatches").filterNot(_ == seam)
    assert(noData.isEmpty, s"noDataMicroBatches outside $seam: $noData")
    Seq("conf = RocksDb", "StreamOps.RocksDb", "Some(8),").foreach { gone =>
      assert(MainSources.containing(gone).isEmpty, s"$gone is back")
    }
  }

  test("graft_* expressions are called through typed constructors; Tables alone reads events with nanosAsLong") {
    // a DataFrame that calls an expression by name depends on some
    // earlier code having written that name into the session
    val seam = "org/apache/spark/sql/graft/VectorExpressions.scala"
    assert(MainSources.containing("call_function(\"graft_").isEmpty)
    assert(MainSources.containing("VectorExpressions.register").isEmpty)
    Seq("functionRegistry", "injectFunction").foreach { needle =>
      val hits = MainSources.containing(needle).filterNot(_ == seam)
      assert(hits.isEmpty, s"$needle outside $seam: $hits")
    }
    assert(MainSources.containing("nanosAsLong") == Seq("graft/Tables.scala"))
  }

  test("ValueFold holds the one-ValueState plumbing; only the processors it cannot express call getValueState") {
    // NearDup: primitive Long state; AsOfJoin, FkJoin, TombstoneIndex:
    // two state variables; SessionCount, TimerSession: timers;
    // TtlCount: a TTL
    assert(MainSources.containing("getValueState[") == Seq(
      "graft/streaming/AsOfJoinProcessor.scala",
      "graft/streaming/FkJoinProcessor.scala",
      "graft/streaming/NearDupProcessor.scala",
      "graft/streaming/TimerProcessors.scala",
      "graft/streaming/TimerSessionProcessor.scala",
      "graft/streaming/TombstoneIndexProcessor.scala",
      "graft/streaming/ValueFold.scala"))
  }

  test("withConf restores set keys and leaves unset keys unset, also on a throw") {
    val set = "spark.sql.files.maxPartitionBytes"    // GraftSession sets 8m
    val registered = "spark.sql.streaming.stateStore.encodingFormat"
    val unregistered = "graft.test.withConf.unset"
    spark.conf.unset(registered)
    def explicit = spark.conf.getAll
    def assertRestored(): Unit = {
      assert(spark.conf.get(set) == "8m")
      assert(!explicit.contains(registered), s"$registered left set")
      assert(!explicit.contains(unregistered), s"$unregistered left set")
    }
    val pairs = Seq(set -> "16m", registered -> "avro", unregistered -> "x")
    val seen = StreamOps.withConf(spark, pairs: _*) {
      pairs.map { case (k, _) => k -> spark.conf.get(k) }
    }
    assert(seen == pairs)
    assertRestored()
    val e = intercept[IllegalStateException] {
      StreamOps.withConf(spark, pairs: _*) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assertRestored()
  }

  test("each batch/stream twin declares one oracle: the stream face's entry is the e-query's own text") {
    val e = graft.operators.Events.oracles
    val s = StreamOps.oracles
    Seq(
      "s01_stream_tumbling" -> e("e02_tumbling_daily"),
      "s33_sink_roundtrip" -> e("e02_tumbling_daily"),
      "s40_restart_recovery" -> e("e02_tumbling_daily"),
      "s04_stream_hopping" -> e("e03_hopping_hourly"),
      "s09_stream_sessions" -> e("e04_session_windows"),
      "s32_timer_sessions" -> e("e04_session_windows"),
      "s02_stream_latest" -> e("e05_latest_by_key"),
      "s05_stream_join" -> e("e06_view_to_purchase"),
      "s12_stream_cogroup" -> e("e19_cogroup"),
      "s28_stream_dyn_sessions" -> e("e33_dynamic_sessions"),
      "s41_foreach_exactly_once" -> s("s35_foreach_counts")
    ).foreach { case (q, oracle) =>
      assert(s(q) eq oracle, s"$q carries a copy of its twin's oracle")
    }
  }

  test("one transform per twin, and one place closes a flushed stream") {
    Seq("def tumblingAgg", "tumblingOracle").foreach { gone =>
      assert(MainSources.containing(gone).isEmpty, s"$gone is back")
    }
    assert(MainSources.containing("< flushBound") ==
      Seq("graft/streaming/StreamRuntime.scala"))
    // the e-queries' window, session, join-window and cogroup spellings
    Seq("session_window(", ".cogroup(", "\"30 minutes\"", "\"60 minutes\"",
      "window(col(\"ts\"), \"1 day\").as(\"w\"), col(\"event_type\")")
      .foreach { needle =>
        val hits = MainSources.containing(needle)
          .filter(_.startsWith("graft/streaming/"))
        assert(hits.isEmpty, s"$needle rebuilt in $hits")
      }
  }

  test("runAvailableNow enforces s38's terminal-batchId pin") {
    StreamOps.streamLateData(spark, sf).collect()
    assert(StreamOps.lastProgressByName("graft_s38").batchId == 2L)
    val dir = StreamOps.cachedDir("s38", sf)
      .getOrElse(fail("no s38 changelog dir recorded"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.runToMemory(
        StreamOps.changelogStream(spark, dir, "ts TIMESTAMP, event_type STRING"),
        "graft_pin_probe", "append", assertLastBatchId = Some(1L))
    }
    assert(e.getMessage.contains("terminal batchId 2 != expected 1"))
  }
}
