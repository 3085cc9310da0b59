package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Events

/** The JOIN seam of [[StreamOps]]: stream-stream windowed joins
  * (inner/left/full/semi), stream-static enrichment (dim/range),
  * KStream⋈KTable snapshot and updating-table joins, the KTable FK
  * changelog join, and the streaming as-of join. */
trait StreamJoinOps extends StreamRuntime {

  /** Views and purchases each watermarked AFTER its event-type filter —
    * the inner and semi joins' sides, joined by e06's
    * [[Events.viewPurchase]]. */
  private def viewPurchaseFiltered(events: DataFrame,
      joinType: String): DataFrame = {
    def side(eventType: String) =
      events.filter(col("event_type") === eventType)
        .withWatermark("ts", Events.ViewPurchaseWindow)
    Events.viewPurchase(side("view"), side("purchase"), joinType)
  }

  /** Views and purchases filtered AFTER one shared flush-closed
    * watermark ([[closeFlushed]]), so a flush row advances it before
    * the filters drop it — the left and outer joins' sides. The
    * event_type filter CAN be pushed to the scan — harmless, since
    * sentinels exist per type. */
  private def viewPurchaseFlushed(events: DataFrame,
      joinType: String): DataFrame = {
    val closed = closeFlushed(events)
    def side(eventType: String) = closed.filter(col("event_type") === eventType)
    Events.viewPurchase(side("view"), side("purchase"), joinType)
  }

  /** Windowed stream-stream inner join (KStream⋈KStream with
    * JoinWindows): purchase within [view_ts, view_ts + Δ]. */
  def viewPurchaseJoin(events: DataFrame): DataFrame =
    viewPurchaseFiltered(events, "inner")
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        round(col("purchase_value"), 2).as("purchase_value"))

  /** Windowed stream-stream LEFT SEMI join — the streaming EXISTS:
    * each view emits ONCE if any purchase lands in its window, never
    * duplicated per match and never null-padded. Kafka Streams spells
    * this as join + distinct-by-left-key; Spark's native semi join
    * keeps only a match BIT per buffered left row, so state and output
    * are strictly smaller than the inner join's (s05). Matched rows
    * emit as soon as the match arrives — no watermark-close dependence
    * — while the watermark still bounds both sides' buffers. */
  def viewPurchaseSemiJoin(events: DataFrame): DataFrame =
    viewPurchaseFiltered(events, "left_semi")

  /** s27: the semi join driven as a true stream against the EXISTS
    * oracle. Semi-join rows emit when the match arrives, never at
    * watermark close, so the trailing no-data batch is pure state
    * cleanup — skip it. */
  def streamViewPurchaseSemi(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      viewPurchaseSemiJoin(eventsStream(spark, sfDir)),
      "graft_s27", "append", noDataBatch = false)
      .orderBy(col("view_id"))

  /** Windowed stream-stream LEFT OUTER join (KStream.leftJoin with
    * JoinWindows): every view row is emitted — matched with each
    * purchase in [view_ts, view_ts + Δ], or null-padded once the
    * watermark passes the window close and the state store proves no
    * purchase can still arrive. The watermark is applied BEFORE the
    * event-type filters so a flush/heartbeat row can advance it (see
    * [[eventsStreamWithFlush]]). */
  def viewPurchaseLeftJoin(events: DataFrame): DataFrame =
    viewPurchaseFlushed(events, "left_outer")
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        round(col("purchase_value"), 2).as("purchase_value"))

  /** Windowed stream-stream FULL OUTER join (KStream.outerJoin with
    * JoinWindows): every view AND every purchase row is emitted —
    * matched pairs as they arrive, unmatched rows null-padded once the
    * watermark proves no partner can still arrive. Same flush-sentinel
    * machinery as the left join; state on BOTH sides is evicted by the
    * watermark, so state size is bounded by rows within the join window
    * regardless of stream length. */
  def viewPurchaseOuterJoin(events: DataFrame): DataFrame =
    viewPurchaseFlushed(events, "full_outer")
      .select(col("view_id"), col("purchase_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        round(col("purchase_value"), 2).as("purchase_value"))

  /** KTable ⋈ KTable FK join with changelog semantics (see
    * [[FkJoinProcessor]]): both changelog streams merge into one stream
    * keyed by the foreign key — left rows by their fk column, right rows
    * by their primary key — and the per-fk state fans updated right
    * values out to every referencing left row. Works for batch or
    * streaming inputs of either side. */
  def tableTableFkJoin(left: DataFrame, leftKey: String, leftFk: String,
      leftVal: String, right: DataFrame, rightKey: String,
      rightVal: String): DataFrame = {
    import left.sparkSession.implicits._
    // transformWithState needs the StateStoreCoordinator even on batch
    // inputs, and only the StreamingQueryManager registers it: touch it
    // so a session whose first state-store user is a batch join works
    left.sparkSession.streams
    // null keys can't join (Kafka Streams drops null-FK records — no
    // subscription is possible) and would fail FkEvent's primitive-Long
    // encoder: filter them out on both sides
    val l = left.filter(col(leftFk).isNotNull)
      .select(col(leftFk).cast("long").as("fk"),
      lit("L").as("side"), col(leftKey).cast("long").as("left_key"),
      col(leftVal).cast("string").as("left_val"),
      lit(null).cast("string").as("right_val")).as[FkEvent]
    val r = right.filter(col(rightKey).isNotNull)
      .select(col(rightKey).cast("long").as("fk"),
      lit("R").as("side"), lit(-1L).as("left_key"),
      lit(null).cast("string").as("left_val"),
      col(rightVal).cast("string").as("right_val")).as[FkEvent]
    processed(l.unionByName(r).groupByKey(_.fk), new FkJoinProcessor)
  }

  /** Streaming windowed stream-stream join (append mode; inner joins
    * emit matches as they arrive) — equals the batch interval join e06. */
  def streamViewPurchase(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      viewPurchaseJoin(eventsStream(spark, sfDir)),
      // inner joins emit matches as they arrive; no watermark-close
      // output → the trailing no-data batch is skippable overhead
      "graft_s05", "append", noDataBatch = false)
      .orderBy(col("view_id"), col("purchase_id"))

  /** The FK-join processor driven in BATCH mode (transformWithState
    * executes on batch Datasets too — one group invocation per key):
    * customer ⋈ nation through the changelog state machine must equal
    * the plain SQL join, proving the processor's join algebra against
    * the DuckDB oracle while the streaming spec proves its update
    * fan-out. */
  def fkJoinBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    tableTableFkJoin(
      graft.Tables.customer(spark, sfDir), "c_custkey", "c_nationkey", "c_name",
      graft.Tables.nation(spark, sfDir).withColumn("n_nationkey",
        col("n_nationkey").cast("long")), "n_nationkey", "n_name")
      .orderBy(col("left_key"))
  }

  /** Streaming windowed LEFT OUTER join (append mode; null-padded rows
    * emitted on watermark close) — equals the batch LEFT JOIN interval
    * query. Ordered with nulls first to match the oracle's NULLS FIRST. */
  def streamViewPurchaseLeft(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      viewPurchaseLeftJoin(eventsStreamWithFlush(spark, sfDir)),
      "graft_s06", "append")
      .orderBy(col("view_id").asc, col("purchase_id").asc_nulls_first)

  /** Streaming windowed FULL OUTER join (append mode; unmatched rows on
    * EITHER side null-padded on watermark close) — equals the batch
    * FULL JOIN interval query. */
  def streamViewPurchaseOuter(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(
      viewPurchaseOuterJoin(eventsStreamWithFlush(spark, sfDir)),
      "graft_s13", "append")
      .orderBy(col("view_id").asc_nulls_first, col("purchase_id").asc_nulls_first)

  /** Streaming stream-static broadcast join (KStream ⋈ GlobalKTable —
    * the dimension-enrichment staple): the events stream looks up a
    * fully-replicated nation-like dim by a key mapper (user_id mod 25),
    * exactly Kafka Streams' `join(GlobalKTable, keyMapper, joiner)`.
    * The dim is broadcast — each micro-batch is a BroadcastHashJoin
    * with NO shuffle and no state store; at 1000 executors the dim
    * ships once per executor, the stream never moves. Inner
    * stream-static joins need no watermark. */
  def streamDimEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    runToMemory(
      eventsStream(spark, sfDir)
        .withColumn("nk", col("user_id") % 25)
        .join(broadcast(dim), "nk")
        .select(col("event_id"), col("user_id"), col("n_name"),
          round(col("value"), 2).as("value")),
      "graft_s08", "append")
      .orderBy(col("event_id"))
  }

  /** Streaming RANGE enrich (stream-side of e21's binned interval
    * join): each event picks up the deterministic promo interval(s)
    * containing its timestamp. The join is an EQUI-join on the day
    * bucket with the exact range check as a residual filter — the same
    * bucketing that makes the batch big-big range join shuffle-safe;
    * under streaming it additionally means NO state store and no
    * watermark (plain inner stream-static join), because the bucket
    * key is derived from the event row itself. The 10-row interval
    * side is broadcast; a large interval table would hash-partition by
    * bucket and co-locate with the stream's shuffle. */
  def streamRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val promoDays = graft.operators.Events.promoIntervals(spark)
      .select(col("promo_id"), col("p_start"), col("p_end"),
        explode(expr(
          "sequence(date_trunc('DAY', p_start), date_trunc('DAY', p_end), interval 1 day)"))
          .as("bucket"))
    runToMemory(
      eventsStream(spark, sfDir)
        .withColumn("bucket", date_trunc("DAY", col("ts")))
        .join(broadcast(promoDays), "bucket")
        .filter(col("ts") >= col("p_start") && col("ts") < col("p_end"))
        .select(col("event_id"), col("promo_id"), col("user_id"),
          round(col("value"), 2).as("value")),
      "graft_s16", "append")
      .orderBy(col("event_id"), col("promo_id"))
  }

  /** The FK changelog join driven as a TRUE STREAM in three ordered
    * micro-batches (file source, maxFilesPerTrigger=1, files ordered by
    * mtime):
    *   batch 0 — right v1: every nation keyed by its pk, name "OLD_"+n;
    *   batch 1 — left: every customer keyed by its fk (c_nationkey);
    *   batch 2 — right v2: every nation again with the final name.
    * Batch 1 exercises the lookup path (left upsert joins stored right
    * value); batch 2 exercises the CHANGELOG FAN-OUT (a right update
    * re-emits every referencing left row). The declared result is the
    * full ordered changelog — two rows per customer, one per right
    * version — which a plain SQL join × {v1,v2} reproduces, so the
    * fan-out itself is what the oracle verifies: miss it and the v2
    * rows are absent. */
  def streamFkChangelog(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s10", sfDir) {
      val nation = graft.Tables.nation(spark, sfDir)
      val customer = graft.Tables.customer(spark, sfDir)
      def rightVer(nameExpr: org.apache.spark.sql.Column) = nation.select(
        col("n_nationkey").cast("long").as("fk"), lit("R").as("side"),
        lit(-1L).as("left_key"), lit(null).cast("string").as("left_val"),
        nameExpr.as("right_val"))
      val lefts = customer.select(
        col("c_nationkey").cast("long").as("fk"), lit("L").as("side"),
        col("c_custkey").cast("long").as("left_key"),
        col("c_name").cast("string").as("left_val"),
        lit(null).cast("string").as("right_val"))
      Seq(rightVer(concat(lit("OLD_"), col("n_name"))), lefts,
          rightVer(col("n_name")))
    }
    val events = changelogStream(spark, dirStr,
      "fk BIGINT, side STRING, left_key BIGINT, left_val STRING, right_val STRING")
      .as[FkEvent]
    val stream = processed(events.groupByKey(_.fk), new FkJoinProcessor)
    runToMemory(stream, "graft_s10", "update")
      .orderBy(col("left_key"), col("right_val"))
  }

  /** Stream ⋈ UPDATING KTable driven as a true stream in four
    * mtime-ordered micro-batches (see [[StreamTableJoinProcessor]]):
    *   batch 0 — table v1: the 25-row dim keyed 0..24, name "OLD_"+n;
    *   batch 1 — stream: every even-event_id event (key user_id mod 25);
    *   batch 2 — table v2: the dim again with the final name;
    *   batch 3 — stream: every odd-event_id event.
    * Batch-1 records join v1, batch-3 records join v2 — the oracle's
    * CASE on event_id parity reproduces exactly that, so what the hash
    * verifies is the UPDATE VISIBILITY itself: a processor that served
    * stale (or fanned-out) values would put the wrong dim_name on half
    * the rows. Complements s14, which pins the snapshot-join algebra. */
  def streamTableUpdateJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s15", sfDir) {
      val nation = graft.Tables.nation(spark, sfDir)
      val ev = graft.Tables.events(spark, sfDir).select(
        (col("user_id") % 25).as("nk"), lit("S").as("side"),
        col("event_id"), col("user_id"), col("event_type"),
        lit(null).cast("string").as("dim_name"))
      def tableVer(nameExpr: org.apache.spark.sql.Column) = nation.select(
        col("n_nationkey").cast("long").as("nk"), lit("T").as("side"),
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit(null).cast("string").as("event_type"), nameExpr.as("dim_name"))
      Seq(tableVer(concat(lit("OLD_"), col("n_name"))),
          ev.filter(col("event_id") % 2 === 0),
          tableVer(col("n_name")),
          ev.filter(col("event_id") % 2 =!= 0))
    }
    val events = changelogStream(spark, dirStr,
      "nk BIGINT, side STRING, event_id BIGINT, user_id BIGINT, " +
        "event_type STRING, dim_name STRING")
      .as[StEvent]
    val stream = processed(events.groupByKey(_.nk), new StreamTableJoinProcessor)
    runToMemory(stream, "graft_s15", "update")
      .orderBy(col("event_id"))
  }

  /** Streaming KStream ⋈ KTable (stream joins the compacted changelog):
    * every event is enriched with its user's LATEST state — the
    * row_number-compacted materialization of the same events topic,
    * exactly Kafka Streams' `stream.join(table)` against the table's
    * current snapshot. The table side is NOT broadcast: KStream⋈KTable
    * is a co-partitioned shuffle join in Kafka Streams (table state can
    * be as large as the keyspace), and the Spark plan mirrors that — at
    * 1000 executors both sides hash-partition by user_id and the
    * per-micro-batch join is local. The continuously-UPDATING table
    * variant is exercised in StreamTableJoinSpec; this declared query
    * pins the snapshot-join algebra to the oracle. */
  def streamTableJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // Spark re-evaluates the STATIC side of a stream-static join on every
    // micro-batch; without a materialization point the row_number
    // compaction (full shuffle + window over the events table) re-runs
    // per trigger. localCheckpoint pins the compacted snapshot once —
    // which is also the semantic contract here: the table is a SNAPSHOT,
    // not a live view (the updating variant is s15 / StreamTableJoinSpec).
    val table = latestByKey(graft.Tables.events(spark, sfDir))
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"))
      .localCheckpoint()
    runToMemory(
      eventsStream(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .join(table, "user_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("last_type"), col("last_value")),
      "graft_s14", "append")
      .orderBy(col("event_id"))
  }

  /** s25: streaming AS-OF join (see [[AsOfJoinProcessor]]) in two
    * mtime-ordered micro-batches:
    *   batch 0 — reference side: every 'view' event as a (ts, value)
    *     quote, stored in per-user time-bucketed MapState;
    *   batch 1 — probe side: every 'purchase' event, each resolving
    *     the latest quote with ts ≤ its own (null if none — the
    *     left-outer as-of contract).
    * The oracle reproduces the same semantics as a windowed left range
    * join, so the hash verifies the temporal lookup itself: an
    * off-by-one on the ≤ bound, a wrong tiebreak, or a dropped
    * unmatched probe all change the result. */
  def streamAsOfJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s25", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
      def shape(tpe: String, tag: String) = ev
        .filter(col("event_type") === tpe)
        .select(col("user_id"), lit(tag).as("side"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("value"))
      Seq(shape("view", "Q"), shape("purchase", "T"))
    }
    val events = changelogStream(spark, dirStr,
      "user_id BIGINT, side STRING, ts_us BIGINT, event_id BIGINT, " +
        "value DOUBLE")
      .as[AsOfEvent]
    val stream = processed(events.groupByKey(_.user_id), new AsOfJoinProcessor)
    runToMemory(stream, "graft_s25", "update")
      .select($"trade_id", $"user_id",
        timestamp_micros($"trade_ts_us").as("trade_ts"),
        timestamp_micros($"quote_ts_us").as("quote_ts"),
        $"quote_value")
      .orderBy($"trade_id")
  }
}
