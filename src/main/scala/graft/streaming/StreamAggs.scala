package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.cosine
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Det.dsum
import graft.operators.Events
import java.sql.Timestamp

/** The AGGREGATION seam of [[StreamOps]]: windowed aggregations
  * (tumbling/hopping/session/dynamic-gap/timer), KTable
  * materialization, dedup, chained-stateful distincts and salted
  * aggregation, merge/cogroup/pipeline topologies, grouped top-N,
  * sinks (file roundtrip, foreachBatch), late-data semantics, and the
  * stateless model-serving assignment. */
trait StreamAggOps extends StreamRuntime {

  /** Exactly-once-per-key dedup with bounded state. */
  def dedupWithinWatermark(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary stateful processing (Processor-API analogue):
    * sessionization via flatMapGroupsWithState with event-time timeout.
    * Sessions close when the watermark passes last_ts + gap. */
  def sessionize(events: Dataset[EventRow], gapMs: Long,
      watermark: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L

    // session bounds must stay µs-exact to match batch session_window
    def fromMicros(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    def fn(userId: Long, rows: Iterator[EventRow],
        state: GroupState[List[(Long, Long, Long)]]): Iterator[SessionOut] = {
      // state: open sessions as (startUs, lastUs, count)
      val sorted = rows.map(r => AvroSerde.micros(r.ts)).toSeq.sorted
      var sessions = state.getOption.getOrElse(Nil)
      for (t <- sorted) {
        sessions = sessions match {
          case (s, e, n) :: rest if t - e < gapUs => (s, math.max(e, t), n + 1) :: rest
          case _ => (t, t, 1L) :: sessions
        }
      }
      if (state.hasTimedOut || sorted.nonEmpty) {
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (closed, open) = sessions.partition { case (_, e, _) => e + gapUs <= wmUs }
        state.update(open)
        if (open.isEmpty && state.exists) state.remove()
        else if (open.nonEmpty)
          // arm on the EARLIEST open session's close boundary: with the
          // max, one far-future session (e.g. a key that also received a
          // flush sentinel) would postpone the timer past every earlier
          // session's close and they would never emit; with the min, the
          // timeout fires at each next close, emits, and re-arms here
          // for the remaining open sessions. Always > current watermark:
          // open sessions satisfy e + gap > wm by the partition above.
          state.setTimeoutTimestamp(open.map(_._2).min / 1000L + gapMs + 1)
        closed.sortBy(_._1).iterator.map { case (s, e, n) =>
          SessionOut(userId, fromMicros(s), fromMicros(e + gapUs), n)
        }
      } else Iterator.empty
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---- oracle-checked streaming roundtrips -------------------------------

  /** Streaming tumbling daily aggregation (KGroupedStream.windowedBy
    * + count/aggregate), Complete mode (all windows emitted at
    * end-of-stream): e02's transform over the watermarked event stream,
    * checked against e02's oracle. */
  def streamTumbling(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      Events.tumblingDailyOf(
        eventsStream(spark, sfDir).withWatermark("ts", WatermarkDelay)),
      "graft_s01", "complete")
      .orderBy(col("w_start"), col("event_type"))

  /** s33: the SINK half of the `to(topic)` contract under the oracle
    * gate — the s01 tumbling aggregation written through a REAL
    * `writeStream.format("parquet")` file sink in append mode (final
    * windows emit at watermark close via the flush sentinel, the only
    * mode file sinks support), then read back from the sink's own
    * output files. Round-tripping through the sink proves the emitted
    * files — schema, values, window closure — not just the in-memory
    * result: a dropped final window, a re-emitted update, or a schema
    * drift in the sink path all change the hash.
    *
    * On a cluster the sink directory is the object-store landing zone
    * and AvailableNow is the backfill trigger; exactly-once comes from
    * the sink's transaction log (_spark_metadata), which this read-back
    * honors. Cached per (sfDir, fixture mtime) like every derived
    * scratch dir. */
  def streamSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dirStr = cachedScratchDir("s33", sfDir) {
        val out = newTempDir("graft_s33_sink")
        val agg = Events.tumblingDailyOf(
          closeFlushed(eventsStreamWithFlush(spark, sfDir)))
        runAvailableNow(agg, "graft_s33",
            (ShufflePartitions -> "8") +: RocksDb)(
          _.format("parquet").option("path", out.toString)
            .outputMode("append"))
        out.toString
    }
    spark.read.parquet(dirStr)
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Streaming KTable materialization, Complete mode. */
  def streamLatest(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(latestByKey(eventsStream(spark, sfDir)),
      "graft_s02", "complete")
      .orderBy(col("user_id"))

  /** Streaming hopping-window aggregation (1 h size / 30 min slide),
    * Complete mode — e03's transform over the watermarked stream. */
  def streamHopping(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      Events.hoppingHourlyOf(
        eventsStream(spark, sfDir).withWatermark("ts", WatermarkDelay)),
      "graft_s04", "complete")
      .orderBy(col("w_start"), col("event_type"))

  /** Streaming dedup by event_id (all fixture ids are unique → output
    * equals input projection, proving pass-through + state plumbing). */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      dedupWithinWatermark(eventsStream(spark, sfDir), WatermarkDelay)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type")),
      // dedup emits first-seen rows immediately; the no-data batch only
      // evicts expired suppression state → skippable
      "graft_s03", "append", noDataBatch = false)
      .orderBy(col("event_id"))

  /** Streaming session-window aggregation in APPEND mode (the
    * SessionWindows.ofInactivityGap + suppress-until-close pairing):
    * sessions emit only when the watermark proves the gap can no longer
    * be extended. The flush sentinel advances the watermark past every
    * real session's close; sentinel rows are dropped AFTER the watermark
    * operator (ts-bound predicate) so they never pollute a session, and
    * the sentinels' own far-future sessions never close, so they never
    * emit. e04's transform, checked against e04's oracle. */
  def streamSessionWindows(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      Events.sessionWindowsOf(closeFlushed(eventsStreamWithFlush(spark, sfDir))),
      "graft_s09", "append")
      .orderBy(col("user_id"), col("s_start"))

  /** s28: streaming DYNAMIC-GAP sessions — e33's per-event idle horizon
    * (error 5 min / purchase 30 min / else 2 h) under append-mode
    * Structured Streaming, same flush-sentinel watermark close as s09.
    * Verifies that gap-expression session merging behaves identically
    * when sessions are assembled incrementally in the state store. */
  def streamDynamicSessions(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      Events.dynamicSessionsOf(closeFlushed(eventsStreamWithFlush(spark, sfDir))),
      "graft_s28", "append")
      .orderBy(col("user_id"), col("s_start"))

  /** s32: sessionization by EVENT-TIME TIMERS — the third face of the
    * e04 session contract (s09 = engine `session_window`, s22 =
    * hand-rolled FMGWS, s32 = Processor-API timers à la Kafka Streams
    * `punctuate(STREAM_TIME)`): open sessions live in
    * [[TimerSessionProcessor]] state, and a registered event-time timer
    * closes each one exactly when the watermark passes its extension
    * horizon. All three must equal the e04 batch oracle — this declares
    * the timer mechanism itself (previously spec-only in TimerTtlSpec)
    * under the hash-compared correctness gate.
    *
    * The flush sentinel advances the watermark past every real
    * session's close (s09's discipline); sentinel rows are filtered
    * after the watermark operator and never enter state. */
  def streamTimerSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 2L * 3600L * 1000000L
    val ev = closeFlushed(eventsStreamWithFlush(spark, sfDir))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          * 10000).cast("long").as("v4"))
      .as[SessIn]
    val stream = processed(ev.groupByKey(_.user_id),
      new TimerSessionProcessor(gapUs),
      org.apache.spark.sql.streaming.TimeMode.EventTime())
    runToMemory(stream, "graft_s32", "update")
      .select($"user_id",
        timestamp_micros($"start_us").as("s_start"),
        timestamp_micros($"end_us" + gapUs).as("s_end"),
        $"n_events",
        round($"sum4" / 10000.0, 2).as("sum_value"))
      .orderBy($"user_id", $"s_start")
  }

  /** Streaming grouped top-N (the per-key leaderboard, see
    * [[TopNProcessor]]): events arrive in three mtime-ordered
    * micro-batches (split by event_id mod 3 — every batch touches every
    * key, so the cross-batch state merge is what's exercised), each
    * batch folds into the bounded per-key buffer, and the emitted
    * changelog is compacted to each key's final version. The oracle's
    * batch ranking must equal that final buffer exactly — a processor
    * that dropped state between batches, or merged order-sensitively,
    * produces different rows. */
  def streamTopN(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s18", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("event_type"), col("event_id"), col("value"))
      (0 until 3).map(i => ev.filter(col("event_id") % 3 === i))
    }
    val events = changelogStream(spark, dirStr,
      "event_type STRING, event_id BIGINT, value DOUBLE").as[TopNEvent]
    val stream = processed(events.groupByKey(_.event_type), new TopNProcessor(5))
    val all = runToMemory(stream, "graft_s18", "update")
    // compact the emitted changelog to each key's latest version (the
    // result table is ≤ keys × N × batches rows — trivially small)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    all.withColumn("maxver", max(col("ver")).over(w))
      .filter(col("ver") === col("maxver"))
      .select(col("event_type"), col("rank"), col("event_id"),
        round(col("value"), 2).as("value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Streaming EXACT distinct-user counts per tumbling day via CHAINED
    * STATEFUL AGGREGATIONS (Spark 3.4+ multiple-stateful-operator
    * support): stage 1 collapses (window, user) — the map-side combine
    * of a distinct — stage 2 counts the survivors per window. Both
    * stages are state stores in ONE streaming query; windows emit in
    * append mode when the watermark (advanced by the flush sentinel)
    * closes them. Kafka Streams needs a custom per-window set store for
    * this; here it is two declarative groupBys. At 100 TB the stage-1
    * state is bounded by live (window, user) pairs and the stage-2
    * shuffle carries only one row per pair — the same two-phase shape
    * an exact COUNT(DISTINCT) batch plan uses. */
  def streamDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = closeFlushed(eventsStreamWithFlush(spark, sfDir))
    val perUser = ev
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val perWindow = perUser
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .select(col("w.start").as("w_start"), col("n_users"), col("n_events"))
    runToMemory(perWindow, "graft_s11", "append")
      .orderBy(col("w_start"))
  }

  /** s45: streaming trailing-7-day sliding distinct users (e51's
    * streaming face) — s11's chained-stateful exact distinct over
    * SLIDING windows: `window(ts, '7 days', '1 day')` fans each event
    * into its ≤ 7 window instances map-side, stage 1 collapses
    * (window, user), stage 2 counts survivors per window; windows emit
    * in append mode as the watermark (advanced by the flush sentinel)
    * closes them. The day label is the window's last covered day
    * (end − 1 day). Kafka Streams' hopping-window distinct needs a
    * per-window set store; here it is the same two declarative
    * groupBys as s11 with a slide.
    *
    * The window stream necessarily emits every instance CONTAINING an
    * event (a window whose own label day is quiet still counts
    * trailing actives); e51's contract reports only days WITH
    * activity, so the declared result applies that restriction after
    * the stream terminates — a ≤|calendar|-row batch semi join, the
    * s18 post-compaction precedent.
    *
    * At 100 TB: stage-1 state is live (window, user) pairs — the ×7
    * slide multiplies state, which is exactly the sliding-distinct
    * cost a per-window set store pays in any engine; the watermark
    * retires 1/7th of it per day. Stage 2 sees one row per pair. */
  def streamSlidingMau(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = closeFlushed(eventsStreamWithFlush(spark, sfDir))
    val perUser = ev
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val perWindow = perUser
      .groupBy(col("w"))
      .agg(count(lit(1)).as("mau7"))
      .select(date_sub(col("w.end").cast("date"), 1).as("day"),
        col("mau7"))
    val activeDays = graft.Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    runToMemory(perWindow, "graft_s45", "append")
      .join(broadcast(activeDays), Seq("day"), "left_semi")
      .orderBy(col("day"))
  }

  /** Hot-key streaming aggregation via SALTING (the streaming face of
    * e22's SkewJoin): `event_type` has only 5 values, so a single-stage
    * streaming groupBy puts 20% of the stream through one state-store
    * instance — the classic streaming straggler. Stage 1 aggregates by
    * (event_type, salt) with a deterministic 8-way salt (hash of
    * event_id), spreading each hot key over 8 stores; stage 2
    * re-combines the 5×8 partials per key. Chained stateful
    * aggregations keep both stages in ONE streaming query; stage-2
    * state is bounded by live (window, key, salt) triples. Both stages
    * run on the s11 skeleton — watermarked day windows, flush-sentinel
    * close, append mode (chained stateful aggregations require the
    * window+watermark form; an unwindowed chain trips Spark's
    * global-watermark correctness check). Decimal partial sums re-sum
    * exactly, so the result equals the unsalted daily aggregation —
    * which is what the oracle checks. */
  def streamSaltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = closeFlushed(eventsStreamWithFlush(spark, sfDir))
    val stage1 = ev
      .withColumn("salt", pmod(hash(col("event_id")), lit(8)))
      .groupBy(window(col("ts"), "1 day").as("w"),
        col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,4)")).as("psum"))
    val stage2 = stage1
      .groupBy(col("w"), col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("psum")).cast("double"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    runToMemory(stage2, "graft_s17", "append")
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Streaming POISON-PILL quarantine (the serde-robustness half of the
    * Kafka source, run as a stream): the deliberately dirty JSON copy
    * of events (see [[graft.sources.FileSources]] e26 — every 97th
    * event_id is a malformed line) is consumed as a TEXT stream and
    * parsed with `from_json`, which yields a null struct for corrupt
    * lines instead of killing the query — a single bad producer must
    * never stall the consumer group. Complete-mode counts per bucket
    * must equal e26's batch arithmetic over the clean table. At scale
    * the `_corrupt` bucket is the dead-letter topic's input. */
  def streamCorruptQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val dirStr = graft.sources.FileSources.dirtyJsonDir(spark, sfDir)
    val parsed = spark.readStream
      .text(dirStr)
      .select(col("value"), from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING"),
        java.util.Map.of("timestampFormat",
          graft.sources.FileSources.TsFmt)).as("e"))
      .select(
        coalesce(col("e.event_type"), lit("_corrupt")).as("bucket"),
        when(col("e.event_id").isNull, 1L).otherwise(0L).as("corrupt"),
        coalesce(col("e.value"), lit(0.0)).as("value"))
    runToMemory(
      parsed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("corrupt")).as("n_corrupt"),
          dsum(col("value")).as("sum_value")),
      "graft_s19", "complete")
      .orderBy(col("bucket"))
  }

  /** Streaming MERGE of two independent sources (KStream#merge with
    * real heterogeneity): the parquet file stream and the dirty
    * JSON-lines text stream run as two sources inside ONE streaming
    * query, unioned record-wise before a shared aggregation — the
    * fan-in topology of consuming two topics with different serdes.
    * The JSON side contributes only its parseable rows (s19's
    * quarantine drops the rest), so the per-type counts are exactly
    * batch + batch-minus-corrupt, which is what the oracle checks. */
  def streamMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val a = eventsStream(spark, sfDir)
      .select(col("event_type"), col("value"))
    val b = spark.readStream
      .text(graft.sources.FileSources.dirtyJsonDir(spark, sfDir))
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING"),
        java.util.Map.of("timestampFormat",
          graft.sources.FileSources.TsFmt)).as("e"))
      .filter(col("e.event_id").isNotNull)
      .select(col("e.event_type").as("event_type"), col("e.value").as("value"))
    runToMemory(
      a.unionByName(b).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value")),
      "graft_s20", "complete")
      .orderBy(col("event_type"))
  }

  /** Streaming `cogroup` THROUGH THE DSL (the same CogroupedG that
    * runs e19 in batch): three event-type branches of the stream fold
    * into one aggregation — a null-padding union feeding a single
    * stateful groupBy, so all branches share ONE state store and one
    * shuffle, exactly the shared-store update loop a Kafka Streams
    * cogroup maintains. Complete mode emits the final per-user row:
    * e19's transform, checked against e19's oracle. */
  def streamCogroup(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(Events.cogroupActivityOf(eventsStream(spark, sfDir)),
      "graft_s12", "complete")
      .orderBy(col("user_id"))

  /** s21: the composed end-to-end ingest topology in ONE streaming
    * query — type filter → windowed dedup → broadcast dim-enrich →
    * tumbling daily aggregation per dimension value. This is the full
    * Kafka Streams consumer-chain shape (filter → transform →
    * join(GlobalKTable) → windowedBy → aggregate) running as TWO
    * chained stateful operators (the dedup store feeding the window
    * store — Spark 3.4+ multi-stateful append mode) with a stateless
    * broadcast join between them.
    *
    * Scale: the dedup state is keyed by event_id and bounded by the
    * watermark; the dim is broadcast so the stream shuffles ONCE (for
    * dedup) and the window agg reuses nothing wider than the
    * dedup-partitioned stream; at 1000 executors each operator scales
    * by its own key space exactly like the standalone s03/s08/s01. */
  def streamPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    val ev = closeFlushed(eventsStreamWithFlush(spark, sfDir))
      .filter(col("event_type").isin("view", "click", "purchase"))
      .dropDuplicatesWithinWatermark("event_id")
      .withColumn("nk", col("user_id") % 25)
      .join(broadcast(dim), "nk")
    runToMemory(
      ev.groupBy(window(col("ts"), "1 day").as("w"), col("n_name"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("n_name"),
          col("n_events"), col("sum_value")),
      "graft_s21", "append")
      .orderBy(col("w_start"), col("n_name"))
  }

  /** s22: the CUSTOM-STATE sessionizer ([[sessionize]],
    * `flatMapGroupsWithState` + event-time timeout — the Processor API
    * + punctuate shape) declared as an oracle query: 2 h inactivity
    * gap over the event stream, emitted on watermark close. The flush
    * sentinels advance the watermark past every real event so all real
    * sessions close; the sentinels' own 2100-era session stays open
    * (its end + gap is beyond the final watermark) and is therefore
    * never emitted — no post-filter needed. s09 is the declarative
    * `session_window` twin; this one proves the hand-rolled state
    * machine against the same gaps-and-islands SQL. */
  def streamFmgwsSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStreamWithFlush(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")).as[EventRow]
    runToMemory(
      sessionize(ev, 2L * 3600 * 1000, WatermarkDelay).toDF(),
      "graft_s22", "append")
      .orderBy(col("user_id"), col("s_start"))
  }

  /** s23: trigger-invariance under bounded micro-batches — the
    * backpressure contract. The month of events is split into three
    * time-ordered files (+ a flush sentinel) and consumed with
    * `maxFilesPerTrigger=1`, so the daily aggregation runs across FOUR
    * real triggers with the watermark advancing between them: early
    * windows close and emit after trigger 1 while later data is still
    * unread. The append-mode result must equal the all-at-once batch
    * aggregate — slicing the stream into bounded batches (what a rate
    * limit / backpressure control does to a Kafka consumer) may never
    * change the answer, only the emission schedule. */
  def streamBoundedTrigger(spark: SparkSession, sfDir: String): DataFrame = {
    val dirStr = orderedBatchDir("s23", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
      val day = dayofmonth(col("ts"))
      val flush = ev.limit(1)
        .withColumn("event_id", lit(-1L))
        .withColumn("ts", to_timestamp(lit("2100-01-01 00:00:00")))
        .select(ev.columns.map(col): _*)
      Seq(ev.filter(day <= 10), ev.filter(day > 10 && day <= 20),
        ev.filter(day > 20), flush)
    }
    val stream = changelogStream(spark, dirStr,
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
    runToMemory(
      closeFlushed(stream)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("n"), col("sum_value")),
      "graft_s23", "append")
      .orderBy(col("w_start"))
  }

  /** s38: GRACE / LATE-DATA semantics under the oracle gate — the last
    * §2 row that had been spec-only "by nature": it isn't, once the
    * replay is deterministic. Events replay INTERLEAVED (batch =
    * event_id % 3, so every batch spans the whole month and batches
    * 2–3 are massively late), a 2-day watermark closes daily windows
    * as the running max event time advances, and late rows for closed
    * windows are DROPPED. The declared result is the surviving daily
    * (window, type) counts in append mode.
    *
    * The drop rule is pinned empirically (WatermarkSemanticsSpec): a
    * row is dropped iff its WINDOW END ≤ the late-events watermark — a
    * row whose raw ts is behind the watermark but whose window is
    * still open IS counted — and, crucially, Spark's stateful
    * operators filter late events with the PREVIOUS batch's watermark
    * (`watermarkForLateEvents`) while emitting/evicting with the
    * current one (`watermarkForEviction`; the two-watermark design of
    * SPARK-24634). The oracle replays exactly that: the keep threshold
    * for batch b is the running max event time of batches ≤ b−2 minus
    * the 2-day delay (one batch of extra lag), and a window appears in
    * the append output only once the FINAL eviction watermark (global
    * max − 2 days) passes its end. Batch boundaries are part of the
    * declared contract (as s30/s36's time-partitioned cuts are).
    *
    * Scale design: one windowed streaming aggregation with watermarked
    * state (bounded: open windows only); the changelog build is one
    * pass over events. */
  def streamLateData(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s38", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select($"ts", $"event_type", $"event_id")
      (0 until 3).map(i => ev.filter($"event_id" % 3 === i)
        .select($"ts", $"event_type"))
    }
    val stream = changelogStream(spark, dirStr,
      "ts TIMESTAMP, event_type STRING")
      .withWatermark("ts", "2 days")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
    // The oracle's one-batch watermark lag (ROWS ... 2 PRECEDING) holds
    // only if the three file triggers run as exactly batches 0/1/2 with
    // NO interleaved no-data batch. Pin that schedule: measured, the
    // terminal batchId is 2 — the three %3-interleaved batches all span
    // the whole month, so the final file batch advances the watermark
    // by seconds only, closes no additional daily window, and
    // AvailableNow terminates without a trailing no-data batch. A Spark
    // upgrade that interleaves a no-data batch (shifting the lag) or
    // appends one (harmless but schedule-changing) fails this loudly.
    runToMemory(stream, "graft_s38", "append",
        assertLastBatchId = Some(2L))
      .orderBy($"w_start", $"event_type")
  }

  /** s34: streaming IVF cell assignment — the ingest seam between the
    * vector suite and the streaming suite: incoming embeddings are
    * scored against the v07 coarse-quantizer centroids and routed to
    * their nearest cell, the model-serving step that keeps a streaming
    * corpus partitioned the way the batch IVF index (v07) expects.
    *
    * The model is broadcast state: k×64 doubles collected once
    * ([[graft.operators.VectorOps.labelCentroidsRounded]] — 6-dp
    * rounded per the v09 Lloyd contract so both engines score against
    * bit-identical values), inlined as literals so each incoming row
    * costs k codegen'd cosines and an argmax via struct ordering
    * (cos DESC, then smaller label — same tiebreak as v07's
    * row_number). Stateless: no watermark, no state store, append
    * mode with the no-data batch skipped — the cheapest streaming
    * shape, and exactly how a 1000-executor ingest job would run it
    * (the model rides the closure; the stream never shuffles).
    *
    * Oracle: shares v07's cent/cv/e CTE text (ivfCentCte) and the
    * cosine fragment, adds the same round(c, 6) the v09 oracle uses,
    * and reproduces the argmax with a row_number — so the hash
    * verifies the served model matches the batch index definition. */
  def streamIvfAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cents = graft.operators.VectorOps.labelCentroidsRounded(spark, sfDir)
    val schema = graft.Tables.embeddings(spark, sfDir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .withColumn("v", col("embedding").cast("array<double>"))
    val scored = cents.map { case (cl, c) =>
      struct(cosine($"v", typedlit(c)).as("c"), lit(-cl).as("nl"))
    }
    val assigned = stream
      .withColumn("m", array_max(array(scored: _*)))
      .select($"vec_id", (-$"m.nl").as("cell"), round($"m.c", 6).as("ccos"))
    runToMemory(assigned, "graft_s34", "append")
      .orderBy($"vec_id")
  }

  /** s35: `peek`/`foreach` under the oracle gate — the side-effecting
    * terminal consumer of the Kafka Streams DSL, expressed the way
    * Structured Streaming prescribes it: a foreachBatch sink folding
    * each micro-batch's bounded per-type aggregate into an external
    * store (a driver-side map here, standing in for the KV store /
    * metrics sink a cluster job updates). The DECLARED result is
    * rebuilt from the side-effect store ONLY — a skipped batch, a
    * double-applied one, or a dropped type changes the hash, which is
    * exactly the at-least-once-plus-idempotent-merge contract
    * foreachBatch asks its user to uphold.
    *
    * Scale design: per batch only the ≤5-row per-type aggregate is
    * collected (the bounded-aggregate export pattern — map-side
    * combine does the heavy lifting), never event rows; counts and
    * exact decimal sums are merged across batches, so trigger layout
    * cannot change the answer. */
  def streamForeachCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val sums =
      new java.util.concurrent.ConcurrentHashMap[String, java.math.BigDecimal]()
    runAvailableNow(eventsStream(spark, sfDir).select($"event_type", $"value"),
        "graft_s35", Seq(ShufflePartitions -> "2")) {
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(18,4)")).as("s"))
          .collect().foreach { r =>
            val t = r.getString(0)
            counts.merge(t, r.getLong(1), (a, b) => a + b)
            sums.merge(t, r.getDecimal(2), (a, b) => a.add(b))
          }
        ()
      }
    }
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.map { case (t, n) =>
      // the Det.dsum contract, replicated driver-side: exact decimal
      // sum → double → HALF_UP 2-dp (what Spark's round(double, 2)
      // does), matching the oracle's round(CAST(sum AS DOUBLE), 2)
      val d = java.math.BigDecimal.valueOf(sums.get(t).doubleValue)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue
      (t, n, d)
    }.toDF("event_type", "n", "sum_value").orderBy($"event_type")
  }
}
