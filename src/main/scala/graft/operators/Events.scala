package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{FixtureCache, Tables}
import graft.functions.Det
import graft.functions.Det.{dec4, dsum, davg}

/** Stream-shaped operators over the `events` table, expressed in batch
  * form so the DuckDB oracle can check them. Where a batch query and a
  * streaming query in [[graft.streaming.StreamOps]] declare the same
  * contract, the transform lives here once, as a seam over an
  * events-shaped frame (`tumblingDailyOf`, `hoppingHourlyOf`,
  * `sessionWindowsOf`, `dynamicSessionsOf`, `viewPurchase`,
  * `cogroupActivityOf`, `cusumChangepointOf`), and so does the oracle:
  * the batch face applies the seam to [[Tables.events]] and orders;
  * the stream face applies it to its watermarked stream, orders after
  * the run, and registers this object's oracle text. One declarative
  * query, run as a batch or incrementally — the Spark-first answer to a
  * Kafka-Streams-style KStream/KTable pipeline.
  *
  * Scale design: all event aggregations key on (window, type) or
  * user_id, which are high-cardinality enough to parallelize and are
  * map-side combined; the interval self-join is an equi-join on user_id
  * with a range predicate — at 100 TB that's a shuffled hash join on
  * user_id where each key group stays small (per-user event counts), so
  * no skew blowup.
  */
object Events {

  /** JSON extraction (get_json_object + from_json→MapType/map_keys) +
    * aggregation per event_type. */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("n_keys",
        size(map_keys(from_json($"props",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)))).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"n_keys").as("total_keys"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"),
        round(sum($"k") / count(lit(1)).cast("double"), 4).as("avg_k"))
      .orderBy($"event_type")
  }

  /** Tumbling 1-day event-time windows (epoch/UTC-aligned). */
  def tumblingDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    tumblingDailyOf(Tables.events(spark, sfDir))
      .orderBy($"w_start", $"event_type")
  }

  /** e02's daily (window, type) count + [[Det.dsum]] over an
    * events-shaped frame (ts, event_type, value), unordered — the one
    * transform of the tumbling contract. Its stream faces (s01, the
    * s33 sink round trip, the s40 restart plan) apply it to their
    * watermarked streams and declare e02's oracle. */
  private[graft] def tumblingDailyOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  /** Hopping windows: 1-hour size, 30-min slide — each event lands in
    * exactly 2 windows. */
  def hoppingHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    hoppingHourlyOf(Tables.events(spark, sfDir))
      .orderBy($"w_start", $"event_type")
  }

  /** e03's hopping count over an events-shaped frame, unordered; s04
    * applies it to its watermarked stream. */
  private[graft] def hoppingHourlyOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
  }

  /** Session windows with a 2-hour inactivity gap, per user. */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sessionWindowsOf(Tables.events(spark, sfDir))
      .orderBy($"user_id", $"s_start")
  }

  /** e04's session aggregation over an events-shaped frame, unordered;
    * s09 applies it to its flush-closed stream. */
  private[graft] def sessionWindowsOf(ev: DataFrame): DataFrame =
    sessionsOf(ev, lit("2 hours"))

  /** e33: DYNAMIC-GAP sessionization — the gap depends on the event
    * itself (`session_window(ts, gapExpr)`): an error closes its
    * session after 5 minutes, a purchase holds it 30, anything else 2
    * hours — the "different activity types have different idle
    * horizons" semantic fixed-gap e04 can't express. Each event spans
    * [ts, ts+gap); overlapping spans merge; the session end is the max
    * covered instant (NOT last-ts + constant).
    *
    * Scale design: identical to e04 — one exchange on user_id feeding
    * the session merge; the dynamic gap is a codegen'd CASE inside the
    * window assignment, costing nothing extra. The oracle reproduces
    * the merge with a running `max(ts + gap)` over the per-user
    * ordering (a fixed gap degenerates to e04's lag() form). */
  def dynamicSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    dynamicSessionsOf(Tables.events(spark, sfDir))
      .orderBy($"user_id", $"s_start")
  }

  /** e33's sessions, gap CASE included, over an events-shaped frame,
    * unordered; s28 applies it to its flush-closed stream. */
  private[graft] def dynamicSessionsOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    sessionsOf(ev, when($"event_type" === "error", "5 minutes")
      .when($"event_type" === "purchase", "30 minutes")
      .otherwise("2 hours"))
  }

  /** Per-user session windows of inactivity `gap` (a constant or a
    * per-event expression) with count + [[Det.dsum]] — e04's and e33's
    * shared shape. */
  private def sessionsOf(ev: DataFrame, gap: Column): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy(session_window($"ts", gap).as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select($"user_id", $"w.start".as("s_start"), $"w.end".as("s_end"),
        $"n_events", $"sum_value")
  }

  /** e34: gap-fill / LOCF (last observation carried forward) — the
    * IGNORE NULLS window family: every event carries the most recent
    * PURCHASE value of its user (null until the user's first
    * purchase). The sensor/price forward-fill every time-series store
    * implements, expressed as `last(col, ignoreNulls = true)` over an
    * unbounded-preceding frame — one exchange + one sort, no joins,
    * no per-row subqueries.
    *
    * `value` is projected to purchases only (CASE → null elsewhere),
    * so the same column exercises the null-skipping semantics both
    * engines must agree on. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("pv",
        when($"event_type" === "purchase", round($"value", 2)))
      .select($"event_id", $"user_id", $"event_type",
        last($"pv", ignoreNulls = true).over(w).as("last_purchase_value"))
      .orderBy($"event_id")
  }

  /** e35: time-weighted average (TWAP) — each event's value holds until
    * the user's next event; the per-user average weights each value by
    * its holding duration. The financial/sensor aggregation a plain
    * `avg` gets wrong whenever sampling is irregular.
    *
    * Cross-engine determinism by integer arithmetic: durations are
    * exact µs (lead(unix_micros)), values are exact integer cents, the
    * weighted sum is Σ cents·µs in int64 (≤ ~1e16 per term at fixture
    * scale, bounded by value·month in general — far under 2⁶³), and
    * the final division rounds with the exact-rational [[Det]] grain.
    * The last event of a user has no successor → no duration → it is
    * excluded from the integral (the open interval has no width yet).
    *
    * Scale: one exchange on user_id feeds both the lead() and the
    * aggregation (the groupBy reuses the window's partitioning). */
  def timeWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("dur_us",
        lead(unix_micros($"ts"), 1).over(w) - unix_micros($"ts"))
      .filter($"dur_us".isNotNull)
      .withColumn("cents", round($"value" * 100, 0).cast("long"))
      .groupBy($"user_id")
      .agg(sum($"cents" * $"dur_us").as("wsum"),
        sum($"dur_us").as("tot_us"),
        count(lit(1)).as("n_intervals"))
      .select($"user_id", $"n_intervals", $"tot_us",
        // round(wsum/(100·tot), 4) as an exact integer rational via
        // floor-div ([[Det.fdiv]]); the oracle mirrors the floor
        // EXPLICITLY (Det.sql.fdiv — DuckDB's bare `//` truncates and
        // would diverge on a NEGATIVE wsum); the
        // ×200 needs |wsum| < 2⁶³/200 ≈ 4.6e16 (fixture max ~2.6e15;
        // a 100 TB run lifts the sums to DECIMAL(38,0) — DuckDB's
        // HUGEINT sum does so natively)
        (graft.functions.Det.fdiv($"wsum" * 200L + $"tot_us",
          $"tot_us" * 2L) / 10000.0).as("twap"))
      .orderBy($"user_id")
  }

  /** KTable materialization: latest event per user (changelog compaction). */
  def latestByKey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy(desc("ts"), desc("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"ts", $"event_type",
        round($"value", 2).as("value"))
      .orderBy($"user_id")
  }

  /** Stream-stream-style interval join: purchase within 60 min after a
    * view by the same user. */
  def viewToPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    viewPurchase(e.filter($"event_type" === "view"),
        e.filter($"event_type" === "purchase"), "inner")
      .select($"view_id", $"purchase_id", $"user_id",
        round($"purchase_value", 2).as("purchase_value"))
      .orderBy($"view_id", $"purchase_id")
  }

  /** The view→purchase join window: a purchase matches a view of the
    * same user when it lands in [view_ts, view_ts + this]. */
  private[graft] val ViewPurchaseWindow = "60 minutes"

  /** e06's interval join over `views` and `purchases` (events-shaped
    * frames, already filtered to their type), projected to their join
    * columns and joined as `joinType` on the same user within
    * [[ViewPurchaseWindow]]. The stream faces (s05's inner, s06's left,
    * s13's full outer, s27's semi join) pass sides that they watermark
    * themselves — where each variant applies its watermark is part of
    * its semantics. */
  private[graft] def viewPurchase(views: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame = {
    import views.sparkSession.implicits._
    views.select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
      .join(purchases.select($"event_id".as("purchase_id"),
          $"user_id".as("p_user"), $"ts".as("purchase_ts"),
          $"value".as("purchase_value")),
        $"user_id" === $"p_user" &&
          $"purchase_ts" >= $"view_ts" &&
          $"purchase_ts" <= $"view_ts" + expr(s"INTERVAL $ViewPurchaseWindow"),
        joinType)
  }

  // e38 query pattern: a fixed V-shape (down-ramp then up-ramp),
  // z-normalized to zero mean/unit variance ON THE SAME 6-dp rounding
  // both engines apply to windows; interpolated into the oracle SQL
  // from these Scala values so the two sides agree by construction.
  private[graft] val SubqM = 8
  private[graft] val SubqPattern: IndexedSeq[Double] = {
    val raw = IndexedSeq(3.0, 2.0, 1.0, 0.0, 0.0, 1.0, 2.0, 3.0)
    val mu = raw.sum / raw.size
    val sd = math.sqrt(raw.map(x => (x - mu) * (x - mu)).sum / raw.size)
    raw.map(x => math.floor((x - mu) / sd * 1e6 + 0.5) / 1e6)
  }

  /** e38: time-series subsequence similarity search (the UCR-suite /
    * Matrix-Profile family): over each user's event-value series in
    * time order, slide a length-[[SubqM]] window, z-normalize it, and
    * rank windows by squared euclidean distance to a fixed z-normalized
    * query pattern — the "find this shape anywhere in 100 TB of
    * telemetry" primitive. Top-10 matches by (distance, user, position).
    *
    * Determinism: window mean/variance and the distance are computed
    * from 6-dp-rounded intermediates in BOTH engines, the distance is
    * ranked as a 10⁻⁴ integer unit, and flat windows (σ = 0, z-norm
    * undefined) are excluded identically. The 8-term fold runs inside
    * a bounded `aggregate` lambda per window — constant work per row.
    *
    * Scale design: ONE window exchange keyed on user_id builds every
    * candidate subsequence (collect_list over a ROWS frame — bounded
    * at m elements per row, never a per-user full-series array), the
    * scoring is shuffle-free map work, and the global top-10 is a
    * TakeOrdered — no all-windows sort, no driver collection. */
  def subsequenceMatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = SubqM
    val q = SubqPattern
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pos = row_number().over(w)
    // the 8-term window math unrolls into explicit per-slot
    // expressions so the whole scoring pass stays inside whole-stage
    // codegen; the aggregate/zip_with lambda formulation is
    // CodegenFallback (interpreted per row) — at a fixed m the unroll
    // is the house rule (same reason minhashSigs inlines its 16
    // permutations).
    //
    // r15 replan (measured, OPTIMIZATION_r15.md): the candidate window
    // used to be a sliding collect_list frame — an ImperativeAggregate
    // with no inverse, so WindowExec re-aggregated all m rows into a
    // fresh unsafe array PER ROW, and the scoring then re-evaluated
    // round((element_at(win,i) − mu)/sd, 6) twice per term. m lead()
    // offsets are OffsetWindowFunctionFrames (one cursor each, no
    // array, no per-row re-aggregation) over the SAME sort, and each
    // z-score is computed ONCE in its own projection. Same one
    // exchange, same arithmetic in the same left-assoc order, same
    // TakeOrdered — 3.7 s → ~0.9 s at sf0.1. `t$m` is null exactly
    // where the old size(win) < m filter dropped the row (v is
    // round(value, 2) over the fixture's non-null value column; a null
    // would have shifted the old collect_list window silently, so the
    // two formulations agree everywhere the contract is defined).
    //
    // The explicit same-key repartition PINS the window exchange at
    // defaultParallelism (the d46 idiom): the scoring stage costs
    // ~12 round() calls per row (each a BigDecimal.valueOf round trip,
    // ~2 µs — the 6-dp rounding IS the cross-engine contract, so it
    // cannot be dropped), and AQE's size-based coalescing would run it
    // on ONE task at fixture scale. Window partitioning is identical
    // (user_id), so this is the same single exchange, just not
    // serialized; at cluster scale AQE never coalesces it anyway.
    val slots = (1 to m).map(i => s"t$i")
    val withSlots = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", round($"value", 2).as("v"))
      .repartition(spark.sparkContext.defaultParallelism, $"user_id")
      .withColumn("pos", pos.cast("long"))
      .select(Seq($"user_id", $"pos", $"v".as("t1")) ++
        (2 to m).map(i => lead($"v", i - 1).over(w).as(s"t$i")): _*)
      .filter(col(s"t$m").isNotNull)
    val muExpr = s"round((${slots.mkString(" + ")}) / $m, 6)"
    val sdExpr = s"round(sqrt((${slots.map(t => s"($t - mu) * ($t - mu)")
      .mkString(" + ")}) / $m), 6)"
    val zExprs = slots.map(t => s"round(($t - mu) / sd, 6)")
    val distExpr = s"round(${zExprs.zipWithIndex.map { case (_, i) =>
      s"(z${i + 1} - ${q(i)}) * (z${i + 1} - ${q(i)})"
    }.mkString(" + ")}, 4)"
    withSlots
      .withColumn("mu", expr(muExpr))
      .withColumn("sd", expr(sdExpr))
      .filter($"sd" > 0)
      .select(Seq($"user_id", $"pos") ++
        zExprs.zipWithIndex.map { case (z, i) => expr(z).as(s"z${i + 1}") }: _*)
      .withColumn("dist", expr(distExpr))
      .select($"user_id", $"pos", $"dist",
        round($"dist" * 10000).cast("long").as("dist_micro"))
      .orderBy($"dist_micro", $"user_id", $"pos").limit(10)
      .select($"user_id", $"pos", $"dist")
  }

  /** e36: AS-OF NEAREST join (pandas merge_asof direction='nearest',
    * QuestDB/kdb asof variant): each purchase pairs with the view
    * closest in time — either direction — within a ±60 min tolerance,
    * null-padded when none qualifies. Complements e13 (backward as-of,
    * latest ≤) and e06 (ALL pairs in the interval): here exactly one
    * best match survives per probe. Tiebreak on equal |Δt| prefers the
    * later view then the larger view_id (the as-of convention of taking
    * the freshest record).
    *
    * Scale: one user_id equi-join with the tolerance as a residual
    * range predicate (never a cartesian), then a per-purchase
    * row_number argmin — the window and the left join back are both
    * keyed on purchase_id, so the second exchange is reused. */
  def asofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val v = e.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("purchase_ts"))
    val w = Window.partitionBy($"purchase_id")
      .orderBy($"delta_us", desc("view_ts"), desc("view_id"))
    val best = p.join(v, $"user_id" === $"p_user" &&
        $"view_ts" >= $"purchase_ts" - expr("INTERVAL 60 MINUTES") &&
        $"view_ts" <= $"purchase_ts" + expr("INTERVAL 60 MINUTES"))
      .withColumn("delta_us",
        abs(unix_micros($"view_ts") - unix_micros($"purchase_ts")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"purchase_id", $"view_id", $"view_ts", $"delta_us")
    p.join(best, Seq("purchase_id"), "left")
      .select($"purchase_id", $"p_user".as("user_id"), $"purchase_ts",
        $"view_id", $"view_ts", $"delta_us")
      .orderBy($"purchase_id")
  }

  /** Running per-user cumulative total (exact decimal accumulation). */
  def runningTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts",
        round(sum(dec4($"value")).over(w).cast("double"), 2)
          .as("running_total"))
      .orderBy($"event_id")
  }

  /** ntile / percent_rank / cume_dist — the distribution-rank window
    * family (quartile bucketing for score normalization at corpus
    * scale). Total order (value, event_id) makes tie handling
    * deterministic cross-engine.
    *
    * Scale design (the e50/e52 flip discipline applied to the
    * PER-GROUP rank family, with a DIFFERENT calibration because the
    * measurement said so): `partitionBy(event_type)` has only
    * \|event types\| = 5 partitions, so each window task sorts a fifth
    * of the corpus — a FEASIBILITY ceiling (at 10⁹+ events a 1/5th-
    * corpus single-task sort cannot fit an executor), not a measured
    * slowdown at probe-able scales: the 100× probe measured the plain
    * branch FASTER (22.0 s vs 33.5 s distributed), because e18's
    * output is row-sized — the DistRank machinery (persist + offsets +
    * join + the final re-sort) costs more than the 5-way sort saves at
    * 10M rows. So unlike e50/e52 (whose outputs collapse per-user and
    * measured faster distributed at 100×), e18's threshold is a
    * FEASIBILITY fence derived from the session's memory geometry
    * ([[rankSortFenceBytes]] — heap × memory.fraction / 4, ≈1.2 GiB on
    * this host, reproducing the r12-measured 1 GiB calibration): the
    * flip engages only where the plain branch would stop finishing.
    * Above it the ranks come from ONE range exchange over
    * the combined (event_type, value, event_id) order: group slices
    * are contiguous, so within-group rank = global rank − group offset
    * (a 5-row broadcast), and the readouts are pure arithmetic from
    * (rank, group size) — [[DistRank.ntileOf]], (r−1)/(n−1), r/n (no
    * ties by construction). Both branches are value-identical (pinned
    * in GraftSpec via the threshold seam). */
  def rankVariants(spark: SparkSession, sfDir: String): DataFrame =
    rankVariantsThresholded(spark, sfDir, rankSortFenceBytes(spark))

  /** e18's feasibility fence, DERIVED from the session's memory
    * geometry instead of a host-calibrated literal (r12 verdict item
    * 6): a per-event-type window sort is feasible while the worst-case
    * single-task slice (conservatively the WHOLE input — group sizes
    * are unknowable at plan time) fits one task's execution memory:
    *
    *   fence = executorHeap × spark.memory.fraction / 4
    *
    * where ÷2 covers the in-memory sort's overhead versus the Catalyst
    * on-heap size estimate (row pointers + object headers ≈ 2× the
    * estimate) and another ÷2 keeps the flip BEFORE spill-dominated
    * degradation, not at hard OOM. On this host (8g heap × 0.6 / 4 =
    * 1.2 GiB) the formula reproduces the r12-measured 1 GiB
    * calibration point within 20%; on a real cluster the fence scales
    * with the executor's actual geometry. Executor heap comes from
    * `spark.executor.memory` where set (cluster mode); in local mode
    * the driver JVM IS the executor, so `Runtime.maxMemory` is the
    * truth. */
  private[graft] def rankSortFenceBytes(spark: SparkSession): Long = {
    // executors are separate JVMs under cluster masters AND under
    // local-cluster[...] (the test-only multi-JVM master), so
    // spark.executor.memory is the executor-heap truth for all of
    // them; only plain local[...] runs executors inside the driver JVM
    val master = spark.sparkContext.master
    val clusterMode = Seq("spark", "yarn", "k8s", "local-cluster")
      .exists(master.startsWith)
    val heap = spark.conf.getOption("spark.executor.memory")
      .filter(_ => clusterMode)
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(Runtime.getRuntime.maxMemory)
    // a malformed spark.memory.fraction must degrade to the Spark
    // default, not throw at PLAN time (the fence is advisory geometry,
    // not a validation gate — Spark itself would reject the bad conf
    // at executor startup long before this read)
    val fraction =
      spark.conf.getOption("spark.memory.fraction")
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
        .getOrElse(0.6)
    (heap * fraction / 4.0).toLong
  }

  private[graft] def rankVariantsThresholded(spark: SparkSession,
      sfDir: String, thresholdBytes: Long): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
    val estBytes = ev.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes <= BigInt(thresholdBytes)) {
      val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
      ev.select($"event_id", $"event_type",
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy($"event_id")
    } else {
      val ranked = DistRank.globalRowNumber(ev,
        Seq($"event_type", $"value", $"event_id"), "__gr", "__N")
      val groups = ranked.groupBy($"event_type")
        .agg(min($"__gr").as("__g0"), count(lit(1)).as("__gn"))
      ranked.join(broadcast(groups), "event_type")
        .withColumn("__r", $"__gr" - $"__g0" + 1L)
        .select($"event_id", $"event_type",
          DistRank.ntileOf($"__r", $"__gn", 4).as("quartile"),
          round(when($"__gn" === 1L, 0.0).otherwise(
            ($"__r" - 1L).cast("double") / ($"__gn" - 1L)), 6).as("pr"),
          round($"__r".cast("double") / $"__gn", 6).as("cd"))
        .orderBy($"event_id")
    }
  }

  /** lag/lead: microsecond-exact gap to the previous event per user. */
  def eventGaps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type",
        lag($"event_id", 1).over(w).as("prev_event_id"),
        (unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
          .as("gap_us"),
        lead($"event_id", 1).over(w).as("next_event_id"))
      .orderBy($"event_id")
  }

  /** Exact per-key distinct cardinality (the oracle-checkable side of a
    * Kafka-Streams-style per-key HLL; approx variant in x-queries). */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  /** Pivot event_type → per-user activity profile columns. */
  def userPivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "signup", "error")
    val p = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .count()
    types.foldLeft(p) { (df, t) =>
      df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t)
    }.orderBy($"user_id")
  }

  /** Kafka Streams `cogroup` (three event-type streams folded into one
    * per-user activity row) driven through the DSL. One shuffle with
    * map-side combine for all three branches — the join-of-3-aggregates
    * a naive port would write pays three shuffles plus a 3-way join. */
  def cogroupActivity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    cogroupActivityOf(Tables.events(spark, sfDir)).orderBy($"user_id")
  }

  /** e19's DSL cogroup over an events-shaped frame, unordered; s12
    * applies it to the event stream. */
  private[graft] def cogroupActivityOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    import graft.api.GraftStreams
    def branch(tpe: String, cols: (String, org.apache.spark.sql.Column)*) =
      GraftStreams.stream(
        ev.filter($"event_type" === tpe)
          .select($"user_id" +: cols.map { case (n, c) => c.as(n) }: _*),
        "user_id", cols.head._1).groupByKey
    branch("view", "v_ts" -> $"ts")
      .cogroup(branch("click", "c_ts" -> $"ts"))
      .cogroup(branch("purchase", "p_ts" -> $"ts", "p_value" -> $"value"))
      .aggregate(
        count($"v_ts").as("n_views"),
        count($"c_ts").as("n_clicks"),
        count($"p_ts").as("n_purchases"),
        dsum($"p_value").as("purchase_value"))
  }

  /** Ten deterministic 36-hour "promo" intervals (start 06:00, every
    * 3 days across the fixture's January span) — the interval side of
    * the range join. Derived from constants, not data, so the oracle
    * rebuilds it exactly. */
  private[graft] def promoIntervals(spark: SparkSession): DataFrame =
    spark.range(10).selectExpr(
      "id AS promo_id",
      "timestampadd(DAY, cast(id*3 AS int), timestamp'2024-01-01 06:00:00') AS p_start",
      "timestampadd(HOUR, 36, timestampadd(DAY, cast(id*3 AS int), " +
        "timestamp'2024-01-01 06:00:00')) AS p_end")

  /** RANGE JOIN via bucketing: every event joined to the promo
    * interval(s) containing its timestamp, as an EQUI-join.
    *
    * A naive `e.ts BETWEEN p_start AND p_end` join has no equi key, so
    * Spark plans a nested-loop scan — quadratic, and only salvageable
    * by broadcasting one side. The scale-safe shape for BIG-BIG
    * interval joins bins the time axis: each interval explodes into
    * the day buckets it covers (bounded: ceil(len/1day)+1 rows), each
    * event keys by its own day bucket, and the join becomes a shuffled
    * equi-join on the bucket with the exact range check as a residual
    * filter. Neither side needs to fit in memory, the shuffle is
    * uniform in the time dimension, and bucket width tunes the
    * replication-vs-selectivity trade-off (match it to the median
    * interval length). Here the interval side is 10 rows, so Catalyst
    * broadcasts it anyway — the PLAN SHAPE is what generalizes. */
  def promoRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val promoDays = promoIntervals(spark)
      .select($"promo_id", $"p_start", $"p_end",
        explode(expr(
          "sequence(date_trunc('DAY', p_start), date_trunc('DAY', p_end), interval 1 day)"))
          .as("bucket"))
    Tables.events(spark, sfDir)
      .withColumn("bucket", date_trunc("DAY", $"ts"))
      .join(promoDays,
        Seq("bucket")) // equi on bucket; exact range as residual below
      .filter($"ts" >= $"p_start" && $"ts" < $"p_end")
      .groupBy($"promo_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"promo_id")
  }

  /** Salted join on a deliberately HOT key: `user_id % 5` collapses the
    * whole events table onto 5 join keys — the straggler shape where
    * one reducer gets 20% of the data. [[SkewJoin.saltedJoin]] spreads
    * each hot key over 8 salts (deterministic hash of event_id, not
    * rand()), the 5-row dim replicates ×8, and the post-join
    * aggregation re-combines. Result must equal the unsalted join —
    * that equality IS the oracle check. AQE's skew-join split handles
    * sort-merge plans automatically at scale; explicit salting is for
    * the cases it won't touch (aggregations over hot keys,
    * broadcast-ineligible plans) — declared here so the mechanism
    * stays oracle-verified.
    *
    * Since r9 the salt is STATISTICS-DRIVEN, not hard-coded: the q26
    * count-table measurement runs first and [[SkewJoin.shouldSalt]]
    * decides. On this key (5 balanced hot keys) the hottest key holds
    * ~20% of the table, so at the 32-reducer deployment target
    * max·32/total ≈ 6.4 > 2 → salted, deterministically at every SF —
    * the declared plan is unchanged from the hard-coded era.
    * targetParallelism is the DEPLOYMENT constant (the cluster's
    * reducer count the job is sized for), deliberately not the local
    * defaultParallelism: the decision must not flip between a laptop
    * test session and the cluster. StatsDrivenJoinSpec pins the flip
    * on a well-distributed key. */
  def skewSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hot = Tables.events(spark, sfDir)
      .withColumn("hot_key", $"user_id" % 5)
    val dim = Tables.nation(spark, sfDir)
      .filter($"n_nationkey" < 5)
      .select($"n_nationkey".cast("long").as("nk"), $"n_name")
    // the statistics job runs once per fixture and is shared by every
    // session — the ANALYZE-then-plan shape: a real planner amortizes
    // collected stats across queries, so repeated constructions (bench
    // reps, plan dumps) must not re-measure an unchanged table
    // bound: two longs, the hottest key's count and the row total
    val (maxCnt, total) = FixtureCache.shared(sfDir, "e22_skew_stats")(
      SkewJoin.keyStats(hot, $"hot_key"))
    val joined =
      if (SkewJoin.shouldSalt(maxCnt, total, targetParallelism = 32))
        SkewJoin.saltedJoin(hot, dim, $"hot_key", $"nk", $"event_id", 8)
      else hot.join(dim, $"hot_key" === $"nk")
    joined
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"n_name")
  }

  /** Window NAVIGATION functions (first_value / last_value / nth_value
    * over an explicit full frame): one summary row per (user, day) —
    * how the session opened, how it closed, and the second event id.
    * All four window columns share one partitioning+ordering, so the
    * plan pays a single exchange+sort regardless of how many navigation
    * columns ride on it. */
  def windowNavigation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val full = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ord = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("day", date_trunc("day", $"ts"))
      .withColumn("first_type", first($"event_type").over(full))
      .withColumn("last_type", last($"event_type").over(full))
      .withColumn("second_id", nth_value($"event_id", 2).over(full))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("rn", row_number().over(ord))
      .filter($"rn" === 1)
      .select($"user_id", $"day", $"first_type", $"last_type",
        $"second_id", $"n")
      .orderBy($"user_id", $"day")
  }

  /** e31: SCD type-2 dimension build from a changelog — the warehouse
    * pattern that turns a per-key stream of attribute values into
    * versioned dimension rows with validity intervals. Per user, the
    * event_type sequence (ordered by ts, event_id) is compacted to its
    * CHANGE points — a consecutive repeat is a no-op update and opens
    * no new version — and each change opens a version valid
    * [ts, next-change ts); the latest version is open-ended
    * (valid_to NULL, is_current true).
    *
    * Scale design: one exchange on user_id + one sort feed all three
    * window functions (the post-filter windows reuse the lag window's
    * sort order — a Filter preserves ordering, so no second exchange or
    * sort appears in the plan). No joins; per-key work is linear in the
    * key's history — the same cost model as any changelog compaction. */
  def scd2Versions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(ord))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .withColumn("version", row_number().over(ord).cast("long"))
      .withColumn("valid_to", lead($"ts", 1).over(ord))
      .select($"user_id", $"version", $"event_type".as("status"),
        $"ts".as("valid_from"), $"valid_to",
        $"valid_to".isNull.as("is_current"))
      .orderBy($"user_id", $"version")
  }

  /** e32: changelog compaction WITH TOMBSTONES — the Kafka compacted-
    * topic contract that plain latest-by-key (e05) doesn't express: a
    * delete marker as the latest record REMOVES the key from the
    * materialized table. Here 'error' events are the tombstones: each
    * user's table row is their latest event by (ts, event_id), and
    * users whose latest record is a tombstone are absent from the
    * result entirely.
    *
    * Scale design: same single window as e05 (one exchange on the key,
    * per-key sort) + a codegen'd filter — compaction never costs more
    * than latest-by-key. */
  def compactionTombstones(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"event_type" =!= "error")
      .select($"user_id", $"event_id", $"ts", $"event_type",
        round($"value", 2).as("value"))
      .orderBy($"user_id")
  }

  /** e39: rolling z-score anomaly detection — the streaming-metrics
    * outlier monitor (a Kafka Streams app's per-key moving-stats
    * `aggregate`), expressed declaratively: each event is scored against
    * the 20 events that PRECEDE it for the same user, and the 20 most
    * anomalous events corpus-wide are reported.
    *
    * Determinism: everything is integer arithmetic on cents —
    * z² = (n·x − Σx)² / (n·Σx² − (Σx)²) needs no sqrt and no double
    * sum, and the 4-dp score is the exact rational via [[Det.r4]].
    * Zero-variance windows (den = 0) are excluded: z is undefined there.
    *
    * Scale design: ONE exchange on user_id feeds one sort and all three
    * frame aggregates (count/sum/sum-of-squares share the frame); the
    * global top-20 is a TakeOrdered, never a full sort. Per-key cost is
    * linear in that key's history — the same cost model as any
    * per-entity rolling metric at 100 TB. */
  def rollingAnomalies(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val trail = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-20, -1)
    Tables.events(spark, sfDir)
      .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)"))
      .withColumn("n", count(lit(1)).over(trail))
      .withColumn("sx", sum($"cents").over(trail))
      .withColumn("sxx", sum($"cents" * $"cents").over(trail))
      .filter($"n" === 20)
      .withColumn("dev", lit(20L) * $"cents" - $"sx")
      .withColumn("den", lit(20L) * $"sxx" - $"sx" * $"sx")
      .filter($"den" > 0)
      .withColumn("z2", Det.r4($"dev" * $"dev", $"den"))
      .select($"event_id", $"user_id", $"ts",
        round($"value", 2).as("value"), $"z2")
      .orderBy($"z2".desc, $"event_id")
      .limit(20)
  }

  /** e40: resampling an irregular event series onto a regular daily
    * grid with LINEAR interpolation — the time-series alignment step
    * (joining sensor feeds, filling pricing curves) that e34's LOCF
    * doesn't express. Per user, one grid point per midnight strictly
    * inside the user's own [first, last] event span; each grid value
    * interpolates between the nearest events either side.
    *
    * Determinism: interpolation is exact integer arithmetic —
    * cents₁ + ⌊(cents₂ − cents₁)·(t − t₁)µs / (t₂ − t₁)µs⌋ with
    * [[Det.fdiv]]'s floor (the delta can be negative; DuckDB's `//`
    * truncates, so the oracle mirrors the floor via Det.sql.fdiv).
    *
    * Scale design: grid rows are generated per user (bounded by the
    * span in days, not the event count) and UNIONed with the events so
    * ONE exchange + sort on user_id serves both the backward and the
    * forward navigation window (same ordering, two frames — no second
    * shuffle). No join ever forms; this is the union-then-navigate
    * as-of pattern, linear per key at any scale. */
  def gridInterpolate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id",
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
        lit(0).as("is_grid"))
    val grid = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(min($"ts").as("t0"), max($"ts").as("t1"))
      .select($"user_id", explode(expr(
        "sequence(date_trunc('day', t0) + INTERVAL '1' DAY, t1, INTERVAL '1' DAY)"))
        .as("ts"))
      .select($"user_id", $"ts", lit(null).cast("long").as("event_id"),
        lit(null).cast("long").as("cents"), lit(1).as("is_grid"))
    // events sort BEFORE a grid point at the same ts: an event exactly
    // on a midnight is that midnight's "previous" neighbor (t = t₁)
    val ord = Window.partitionBy($"user_id")
      .orderBy($"ts", $"is_grid", $"event_id")
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.unionByName(grid)
      .withColumn("prev_us", last(when($"is_grid" === 0,
        unix_micros($"ts")), ignoreNulls = true).over(back))
      .withColumn("prev_cents", last(when($"is_grid" === 0, $"cents"),
        ignoreNulls = true).over(back))
      .withColumn("next_us", first(when($"is_grid" === 0,
        unix_micros($"ts")), ignoreNulls = true).over(fwd))
      .withColumn("next_cents", first(when($"is_grid" === 0, $"cents"),
        ignoreNulls = true).over(fwd))
      .filter($"is_grid" === 1 &&
        $"prev_us".isNotNull && $"next_us".isNotNull)
      .withColumn("interp_cents", $"prev_cents" +
        Det.fdiv(($"next_cents" - $"prev_cents") *
          (unix_micros($"ts") - $"prev_us"), $"next_us" - $"prev_us"))
      .select($"user_id", $"ts".as("grid_ts"),
        ($"interp_cents" / 100.0).as("interp_value"))
      .orderBy($"user_id", $"grid_ts")
  }

  /** e41: CUSUM changepoint detection — the classic mean-shift monitor
    * (Page's cumulative-sum chart) run retrospectively per user: did
    * this user's value level shift upward somewhere in the month, and
    * where? The recursive statistic C_t = max(0, C_{t-1} + (x_t − µ))
    * is not a window function — but it IS the prefix-sum identity
    * C_t = P_t − min(0, min_{j≤t} P_j) with P the running sum of
    * residuals, which two frames over ONE sort express declaratively.
    *
    * Determinism: residuals are kept in n-scaled integer cents
    * (y_t = n·x_t − Σx — exactly n·(x_t − mean) with no division), so
    * every P_t, the running min, and C_max are exact BIGINTs; the only
    * division is the final 4-dp report via [[Det.r4]]. Envelope:
    * |P_t| ≤ 2n²·max|cents|, and r4 additionally needs |C_max| <
    * 2⁶³/20000 ≈ 4.6e14 — a per-key [[Det.guarded]] check on the
    * a-priori bound (double arithmetic, so the check itself cannot
    * wrap) fails fast with instructions to rerun in DECIMAL(38)
    * instead of silently wrapping; at typical cent magnitudes (~10⁴)
    * that admits ~10⁵ events per key, far above any per-entity
    * history here.
    *
    * Scale design: ONE exchange on user_id serves the running sum, the
    * running min, and the per-user argmax row_number — three window
    * passes, one sort, no join; per-key cost is linear in that key's
    * history, the right cost model for per-entity monitoring at 100 TB. */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame =
    cusumChangepointOf(Tables.events(spark, sfDir))

  /** e57: e41's DECIMAL(38) branch — the EXECUTABLE remediation e41's
    * int64-envelope raise names (r12 verdict item 3: a raise pointing
    * at arithmetic that doesn't exist in code is a dead end at 100 TB).
    * Same plan, same one-exchange cost model; every intermediate
    * (cents, P_t, running min, C_max) is DECIMAL(38,0) instead of
    * BIGINT, moving the per-key envelope from 4·10¹⁴ to 5·10³³
    * ([[Det.r4DecBound]]) — ~10¹⁴ events per key at cent magnitude 10⁴,
    * beyond any per-entity history. Oracle = e41's text VERBATIM (the
    * x05/s49 cross-face discipline): DuckDB's windowed integer sums are
    * HUGEINT (128-bit) already, so ONE oracle is exact truth for both
    * faces; on the overlap region (any input inside the int64 envelope)
    * the two branches are value-identical by construction — pinned in
    * GraftSpec on the fixture AND on a synthetic set past the int64
    * edge where e41 RAISES and this branch returns the BigInt truth.
    * Decimal aggregation costs ~2-3× int64 per row (unscaled Decimal
    * ops, no whole-stage primitive longs), which is why the int64
    * branch stays the declared default and this is the fence-crossing
    * path. */
  def cusumChangepointDecimal(spark: SparkSession, sfDir: String): DataFrame =
    cusumChangepointOf(Tables.events(spark, sfDir), dec128 = true)

  /** The e41/e57 plan over an explicit events-shaped frame (user_id,
    * ts, event_id, value) — split out (the spendConcentrationOf seam
    * pattern) so GuardProbe can drive the [[Det.guarded]] envelope to
    * its measured per-key firing edge with synthetic histories the
    * fixtures cannot reach. `dec128` selects the DECIMAL(38,0)
    * arithmetic branch (e57); both branches share this one plan shape
    * so they cannot drift structurally. */
  private[graft] def cusumChangepointOf(ev: DataFrame,
      dec128: Boolean = false): DataFrame = {
    import ev.sparkSession.implicits._
    val byUser = Window.partitionBy($"user_id")
    val ord = byUser.orderBy($"ts", $"event_id")
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val centsTy = if (dec128) "DECIMAL(38,0)" else "BIGINT"
    val guardedC =
      if (dec128)
        Det.guarded($"c", lit(2.0) * $"n" * $"n" * $"maxc".cast("double"),
          Det.r4DecBound, "e57", label = "decimal128",
          hint = "partition the per-key history; no wider arithmetic exists")
      else
        Det.guarded($"c", lit(2.0) * $"n" * $"n" * $"maxc",
          Det.r4NumBound, "e41",
          hint = "rerun with DECIMAL(38) arithmetic " +
            "(declared branch e57_cusum_decimal / cusumChangepointDecimal)")
    ev
      .withColumn("cents", expr(s"CAST(round(value * 100, 0) AS $centsTy)"))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("sx", sum($"cents").over(byUser))
      .withColumn("maxc", max(abs($"cents")).over(byUser))
      .withColumn("p", sum(lit(1L) * $"n" * $"cents" - $"sx").over(run))
      .withColumn("c", $"p" - least(lit(0L).cast(centsTy), min($"p").over(run)))
      .withColumn("rn", row_number().over(
        byUser.orderBy($"c".desc, $"ts", $"event_id")))
      .filter($"rn" === 1)
      // the decimal face's quotient C/(n·100) is the per-key mean-shift
      // magnitude — UNBOUNDED in value, so it must stay in DECIMAL
      // through the floor division ([[Det.r4Dec]]); the int64 builtin
      // `div` would narrow it through Decimal.toLong and wrap silently
      // at ~9.2e14, inside the envelope this branch exists to serve
      .select($"user_id", $"n".as("n_events"),
        (if (dec128) Det.r4Dec(guardedC, $"n" * 100L)
         else Det.r4(guardedC, $"n" * 100L)).as("cusum_max"),
        $"ts".as("cp_ts"), $"event_id".as("cp_event_id"))
      .orderBy($"user_id")
  }

  /** e42: OHLC candle bars — the canonical time-series downsampling
    * (ticks → daily open/high/low/close + volume per entity) every
    * market-data and metrics pipeline materializes. Open/close are
    * picked by a deterministic (ts, event_id) total order via ONE
    * row_number pass (rn == 1 / rn == n), not per-field argmin/argmax
    * builtins whose tie rules differ across engines; volume is the
    * exact decimal sum.
    *
    * Scale design: one exchange on (user_id, day) serves the window
    * sort and the aggregation that follows it (same keys — no second
    * shuffle); per-bar cost is linear in that bar's ticks. The bar
    * table is |entities|·|days| rows — the standard pre-aggregation
    * that makes downstream chart/range queries cheap at 100 TB. */
  def ohlcBars(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    val part = Window.partitionBy($"user_id", $"day")
    Tables.events(spark, sfDir)
      .withColumn("day", date_trunc("DAY", $"ts").cast("date"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(part))
      .groupBy($"user_id", $"day")
      .agg(
        max(when($"rn" === 1, round($"value", 2))).as("open"),
        max(round($"value", 2)).as("high"),
        min(round($"value", 2)).as("low"),
        max(when($"rn" === $"cnt", round($"value", 2))).as("close"),
        count(lit(1)).as("n_ticks"),
        Det.dsum($"value").as("volume"))
      .orderBy($"user_id", $"day")
  }

  /** e43: seasonality profiling — the hour-of-day baseline every
    * metrics pipeline fits before it can ask "is this value unusual
    * FOR 3 AM?": per user, the 24-bucket mean profile, the peak hour,
    * and the seasonal strength (fraction of total variance the profile
    * explains, 1 − SS_res/SS_tot — the seasonal-naive forecast's R²).
    * Complements e39 (rolling z-score) and e41 (level shifts): those
    * detect change against recent history, this scores against the
    * key's own recurring daily pattern.
    *
    * Determinism: residuals are rounded to integer cents with the
    * half-toward-+∞ rational rounding (fdiv(2·num + den, 2·den) —
    * exact, negative-safe, mirrored by the oracle), so both sums of
    * squares are exact BIGINTs; the only double is the final 4-dp
    * strength and peak average. Envelope: the binding constraint is
    * NOT the Long sum (Σt² ≤ 4n·max|cents|², wraps only past ~2×10¹⁸)
    * but [[Det.r4]]'s |num| < 2⁶³/20000 ≈ 4.6e14 precondition on
    * ss_tot — reached near 10⁶ events/key at typical cent magnitudes
    * (~10⁴). A per-key [[Det.guarded]] check on the a-priori bound
    * fails fast with a DECIMAL(38) pointer instead of silently
    * diverging from the oracle (DuckDB widens to HUGEINT).
    *
    * Scale design: two exchanges — (user, hour) for the bucket frames,
    * then user for the totals — and the peak-hour argmax and final
    * aggregation reuse the second; no join forms (bucket stats ride
    * the rows as window aggregates). */
  def seasonality(spark: SparkSession, sfDir: String): DataFrame =
    seasonalityOf(Tables.events(spark, sfDir))

  /** The e43 plan over an explicit events-shaped frame — the GuardProbe
    * seam (see [[cusumChangepointOf]]). */
  private[graft] def seasonalityOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    def r0(num: Column, den: Column): Column =
      Det.fdiv(num * 2 + den, den * 2)
    val wb = Window.partitionBy($"user_id", $"hod")
    val wu = Window.partitionBy($"user_id")
    ev
      .withColumn("cents", expr("CAST(round(value * 100, 0) AS BIGINT)"))
      .withColumn("hod", hour($"ts").cast("long"))
      .withColumn("cnt_b", count(lit(1)).over(wb))
      .withColumn("s_b", sum($"cents").over(wb))
      .withColumn("n", count(lit(1)).over(wu))
      .withColumn("s", sum($"cents").over(wu))
      .withColumn("r", r0($"cnt_b" * $"cents" - $"s_b", $"cnt_b"))
      .withColumn("t", r0($"n" * $"cents" - $"s", $"n"))
      .withColumn("mean_micro", Det.fdiv($"s_b" * 1000000L, $"cnt_b"))
      .withColumn("rn", row_number().over(
        wu.orderBy($"mean_micro".desc, $"hod")))
      .groupBy($"user_id")
      .agg(
        max($"n").as("n_events"),
        max(when($"rn" === 1, $"hod")).as("peak_hod"),
        max(when($"rn" === 1, Det.r4($"s_b", $"cnt_b" * 100L)))
          .as("peak_avg"),
        sum($"r" * $"r").as("ss_res"),
        sum($"t" * $"t").as("ss_tot"),
        max(abs($"cents")).as("maxc"))
      .select($"user_id", $"n_events", $"peak_hod", $"peak_avg",
        Det.r4(Det.guarded($"ss_tot" - $"ss_res",
          lit(4.0) * $"n_events" * $"maxc" * $"maxc", Det.r4NumBound, "e43"),
          greatest($"ss_tot", lit(1L))).as("strength"))
      .orderBy($"user_id")
  }

  /** The e44/s36 conversion window, in ONE place: the batch window
    * chain, the oracle SQL, the streaming processor, and the property
    * fuzz all derive from these two values — drifting one of the four
    * copies was a live hazard flagged in the session-14 review. */
  private[graft] val FunnelWinHours = 6
  private[graft] val FunnelWinUs: Long = FunnelWinHours * 3600L * 1000000L

  /** e44: ordered funnel conversion (view → click within 6h → purchase
    * within 6h) — the canonical product-analytics question: of the
    * users who viewed, how many then clicked within the conversion
    * window AFTER a view, and then purchased within the window after
    * such a click? Order AND recency matter: a purchase before any
    * qualified click, or hours past the window, does not count — which
    * is exactly what a naive "has all three types" intersection gets
    * wrong.
    *
    * The step-ordering state machine is declarative: a running
    * `max(case …)` over the per-user (ts, event_id) total order carries
    * "latest view at or before this row", the next running max carries
    * "latest view-qualified click", and a purchase qualifies iff it
    * lands within the window of that click. Ties at the same timestamp
    * resolve by event_id in both engines, so qualification is exact.
    *
    * Scale design: ONE exchange on user_id serves both chained window
    * passes and the per-user aggregate that follows (same key — no
    * second shuffle); per-key cost is linear in that user's history.
    * The output is ≤4 rows (one per funnel depth), so the final
    * single-partition cumulative window is free. This is the funnel
    * plan you want at 100 TB: no self-joins (the min-ts-chain
    * formulation pays one join per step), no per-user collect_list. */
  def funnelStages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val win = expr(s"INTERVAL $FunnelWinHours HOURS")
    val perUser = Tables.events(spark, sfDir)
      .withColumn("lv",
        max(when($"event_type" === "view", $"ts")).over(run))
      .withColumn("lc",
        max(when($"event_type" === "click" && $"lv".isNotNull &&
          $"ts" <= $"lv" + win, $"ts")).over(run))
      .groupBy($"user_id")
      .agg(
        max(when($"event_type" === "view", 1).otherwise(0)).as("s1"),
        max(when($"lc".isNotNull, 1).otherwise(0)).as("s2"),
        max(when($"event_type" === "purchase" && $"lc".isNotNull &&
          $"ts" <= $"lc" + win, 1).otherwise(0)).as("s3"))
      // monotone by construction (s3 ⇒ s2 ⇒ s1), so depth = s1+s2+s3
      .select($"user_id", ($"s1" + $"s2" + $"s3").cast("long").as("stage"))
    funnelReduce(perUser)
  }

  /** (user_id, stage) → the declared funnel shape: per-depth user
    * counts, suffix-sum reach, r4 conversion rate. Shared verbatim with
    * the streaming face (s36) so batch and incremental assembly reduce
    * through identical code. The partition-less windows run over ≤4
    * rows (one per funnel depth). */
  private[graft] def funnelReduce(perUser: DataFrame): DataFrame = {
    val total = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    perUser.groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("n_reached",
        sum(col("n_users")).over(Window.orderBy(col("stage").desc)))
      .withColumn("conv_pct",
        Det.r4(col("n_reached"), sum(col("n_users")).over(total)))
      .orderBy(col("stage"))
  }

  /** e45: `selectKey` → `groupByKey` re-key aggregation, driven through
    * the Kafka-Streams-style DSL ([[graft.api.KStreamG.selectKey]]) —
    * the repartition-topic pattern: a stream keyed by user_id re-keyed
    * by a value-derived attribute (here the JSON `props.k` bucket), then
    * aggregated under the NEW key. In Kafka Streams this materializes a
    * repartition topic; in Spark it is one lazy exchange on the derived
    * key at the next stateful op — same data movement, but Catalyst
    * sees through it (the JSON extraction stays map-side, ONE shuffle
    * with partial aggregation, no intermediate topic write).
    *
    * Scale design: one exchange on a 10-value derived key; the
    * map-side combine collapses each partition to ≤10 rows before the
    * shuffle, so the exchange moves O(partitions·buckets), not O(rows).
    * countDistinct adds the standard expand-shuffle pass — bounded by
    * the same key-space. */
  def rekeyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.api.GraftStreams
    // try_cast + null filter on BOTH sides: a missing or non-numeric
    // props.k must drop the row identically in the two engines — a
    // strict CAST would error in DuckDB (and under ANSI in Spark)
    // while a silent NULL group would sort FIRST in Spark and LAST in
    // DuckDB (session-14 review finding)
    GraftStreams.stream(Tables.events(spark, sfDir), "user_id", "ts")
      .selectKey("k_mod",
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT) % 10"))
      .filter($"k_mod".isNotNull)
      .groupByKey
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        Det.dsum($"value").as("total_value"))
      .orderBy($"k_mod")
  }

  /** e46: daily cohort retention — the other canonical product
    * analytics table next to e44's funnel: users grouped by first-seen
    * day, and for each later day the fraction of the cohort active
    * again. Day granularity keeps the curve discriminating at this
    * fixture's activity rate (weekly buckets saturate at 1.0); both
    * engines truncate days identically and retention is the r4 exact
    * rational.
    *
    * Scale design: one distinct-collapse to (user, day) — the ONLY
    * pass over raw events — then everything downstream works on the
    * collapsed grid: first-day agg reuses the user_id partitioning,
    * cohort sizes are a tiny broadcast, and the final (cohort, offset)
    * aggregation is over |users|·|days| rows, not events. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .select($"user_id", date_trunc("day", $"ts").cast("date").as("d"))
      .distinct()
    val firstD = daily.groupBy($"user_id").agg(min($"d").as("cohort_day"))
    val cohortN = firstD.groupBy($"cohort_day")
      .agg(count(lit(1)).as("n_cohort"))
    daily.join(firstD, Seq("user_id"))
      .withColumn("day_offset", datediff($"d", $"cohort_day").cast("long"))
      .groupBy($"cohort_day", $"day_offset")
      .agg(countDistinct($"user_id").as("n_active"))
      .join(broadcast(cohortN), Seq("cohort_day"))
      .withColumn("retention", Det.r4($"n_active", $"n_cohort"))
      .orderBy($"cohort_day", $"day_offset")
  }

  /** The e47 attribution window in µs — single source of truth, shared
    * with the s37 streaming processor. */
  private[graft] val AttribWinUs: Long = 7L * 86400 * 1000000

  /** props.k bucket → channel name — ONE definition shared by the e47
    * batch query and the s37 changelog builder (zero drift). */
  private[graft] def channelOf(kb: Column): Column =
    when(kb === 0, "ads").when(kb === 1, "email")
      .when(kb === 2, "social").when(kb === 3, "organic")
      .otherwise("unknown")

  /** The e47 channel report over a per-purchase frame with columns
    * (channel, lag_s nullable, value) — shared verbatim by the s37
    * streaming reduction (the funnelReduce pairing). */
  private[graft] def attributionReduce(perPurchase: DataFrame): DataFrame = {
    import perPurchase.sparkSession.implicits._
    perPurchase
      .groupBy($"channel")
      .agg(
        count(lit(1)).as("n_purchases"),
        dsum($"value").as("revenue"),
        when(count($"lag_s") > 0,
          Det.r4(sum($"lag_s"), count($"lag_s"))).as("avg_lag_s"))
      .orderBy($"channel")
  }

  /** e47: last-touch attribution — the revenue-assignment shape every
    * event pipeline ends in: each purchase is attributed to the user's
    * latest click STRICTLY PRECEDING it in stream order (ts, then
    * event_id — the backward as-of, e13's direction) and no older than
    * 7 days; the click's `props.k` bucket names the channel, and the
    * report aggregates purchases/revenue/click-to-purchase lag per
    * channel, with an explicit `unattributed` row for purchases with no
    * qualifying click.
    *
    * Determinism: revenue is the exact decimal sum; lag is integer
    * seconds (µs floor-div 10⁶, non-negative by the ordering); the
    * per-channel mean lag is the r4 exact rational, NULL for the
    * unattributed row (guarded CASE in both engines). A missing or
    * non-numeric `props.k` still attributes — to the 'unknown' channel
    * (try_cast + CASE, the e45 null-discipline).
    *
    * Scale design: NO join — the as-of is ONE `last(_, ignoreNulls)`
    * window pass over the per-user event order (the e13 LOCF shape),
    * so cost is linear in events however dense the per-user history.
    * The first cut was the e36 join shape (clicks ⋈ purchases per user
    * + per-purchase argmax); the 10× probe showed its fan-out —
    * 10× clicks × 10× purchases per user = 100× join output, 7.9×
    * runtime — while this window form re-probed at ~1× (§6 table).
    * The 7-day recency check is a residual filter on the carried
    * click, and the final aggregation collapses to ≤6 channel rows
    * map-side. */
  def lastTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    attributionReduce(Tables.events(spark, sfDir)
      .withColumn("kb",
        when($"event_type" === "click",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT) % 4")))
      .withColumn("click_pack",
        when($"event_type" === "click", struct(
          unix_micros($"ts").as("cus"),
          channelOf($"kb").as("ch"))))
      .withColumn("last_click",
        last($"click_pack", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("lag_s",
        when(unix_micros($"ts") - $"last_click.cus" <= AttribWinUs,
          Det.fdiv(unix_micros($"ts") - $"last_click.cus", lit(1000000L))))
      .withColumn("channel",
        when($"lag_s".isNotNull, $"last_click.ch").otherwise("unattributed")))
  }

  /** e48: session path mining — the Sankey/user-journey table next to
    * e20's pairwise transitions: per 2-hour-gap session (e04's gap
    * contract in gaps-and-islands form), the ordered event-type
    * sequence joined as a path string (capped at the first 20 steps —
    * the declared bound that keeps a pathological never-idle key from
    * growing an unbounded string), then the global top-20 paths with
    * session counts, distinct users, and exact mean session length.
    *
    * Determinism: session ids are a running sum of gap>2h flags over
    * the total (ts, event_id) order; the path orders steps the same
    * way; both engines' list slicing clamps; avg_len is the r4 exact
    * rational; the head is (n_sessions DESC, path) — total order.
    *
    * Scale design: ONE user_id exchange serves the lag flag, the
    * running session-id sum, and (after re-keying by (user, sess) —
    * same prefix, no second full shuffle of raw events in practice:
    * the session agg's key extends the partitioning) the per-session
    * collect; the path histogram is a map-side-combined hash-agg and
    * the head a TakeOrdered(20). Per-session collect_list is bounded
    * by the 20-step cap's input contract (session length ≤ events in
    * a 2h-idle-bounded burst). */
  def sessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("prev_us", unix_micros(lag($"ts", 1).over(w)))
      .withColumn("ns",
        when($"prev_us".isNull ||
          unix_micros($"ts") - $"prev_us" > 7200L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess", sum($"ns").over(wCum))
      .groupBy($"user_id", $"sess")
      .agg(
        concat_ws(">", expr(
          """slice(transform(array_sort(collect_list(struct(
            unix_micros(ts) AS t, event_id AS i, event_type AS e))),
            x -> x.e), 1, 20)""")).as("path"),
        count(lit(1)).as("len"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct($"user_id").as("n_users"),
        Det.r4(sum($"len"), count(lit(1))).as("avg_len"))
      .orderBy(desc("n_sessions"), $"path")
      .limit(20)
  }

  /** e49: A/B experiment readout — the other end of the analytics
    * pipeline: users split into variants by the standard deterministic
    * id-hash rule (here user_id parity), per-variant users / converters
    * (≥1 purchase) / conversion rate / revenue, plus the pooled
    * two-proportion z² statistic the experimenter actually reads
    * (z² > 3.84 ≈ p < .05). NULL z² when a degenerate split (no
    * conversions, or all) makes the pooled variance zero.
    *
    * Determinism: counts are exact longs off one per-user collapse;
    * rates are r4 exact rationals; revenue is the exact decimal sum;
    * z² = (c_a·n_b − c_b·n_a)²·(n_a+n_b) / (n_a·n_b·c·(n−c)) is
    * computed as the SAME double expression tree in both engines
    * (products of exact int64 counts ≤ 10⁸ promoted to double in the
    * same order — bit-identical before the 4-dp round).
    *
    * Scale design: one map-side-combined per-user collapse (the only
    * event-volume shuffle), then two 1-row conditional aggregates and
    * a broadcast cross of the scalars. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val flags = ev.groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("va", $"user_id" % 2 === 0)
    val counts = flags.agg(
      sum(when($"va", 1L).otherwise(0L)).as("n_a"),
      sum(when($"va", $"conv").otherwise(0L)).as("c_a"),
      sum(when(!$"va", 1L).otherwise(0L)).as("n_b"),
      sum(when(!$"va", $"conv").otherwise(0L)).as("c_b"))
    val rev = ev.filter($"event_type" === "purchase").agg(
      dsum(when($"user_id" % 2 === 0, $"value").otherwise(lit(0.0)))
        .as("rev_a"),
      dsum(when($"user_id" % 2 =!= 0, $"value").otherwise(lit(0.0)))
        .as("rev_b"))
    counts.crossJoin(broadcast(rev))
      .withColumn("d", ($"c_a" * $"n_b" - $"c_b" * $"n_a").cast("double"))
      .withColumn("den",
        $"n_a".cast("double") * $"n_b" * ($"c_a" + $"c_b") *
          ($"n_a" + $"n_b" - $"c_a" - $"c_b"))
      .select(
        $"n_a", $"c_a", Det.r4($"c_a", $"n_a").as("rate_a"), $"rev_a",
        $"n_b", $"c_b", Det.r4($"c_b", $"n_b").as("rate_b"), $"rev_b",
        when($"den" > 0.0,
          round($"d" * $"d" * ($"n_a" + $"n_b") / $"den", 4)).as("z2"))
  }

  /** e50: RFM segmentation — the classic behavioral-cohort table: per
    * user Recency (whole days since their last event, vs the corpus max
    * timestamp), Frequency (event count), Monetary (purchase revenue),
    * each cut into quartiles, users grouped by the R-F-M quartile
    * triple with per-segment size and revenue. Quartile 1 is "best"
    * on every axis (most recent / most frequent / highest spend).
    *
    * Determinism: quartile assignment is ntile(4) over a TOTAL order
    * (metric, then user_id) — both engines define ntile identically
    * over a total order; monetary stays exact integer cents end to end
    * (sums, ordering, the r4 average), so no float reaches an ORDER BY
    * or the output.
    *
    * Scale design: ONE map-side-combined per-user collapse is the only
    * event-volume shuffle; the corpus max-ts is a 1-row broadcast; the
    * three ntile cuts go through [[DistRank.globalNtile]]: below the
    * stats threshold they are plain one-window ntiles (|users| rows,
    * single partition — cheapest at fixture scale); above it each cut
    * is the range-repartitioned EXACT distributed rank, so at 10⁹
    * users the sort is cluster-parallel and the answer unchanged (the
    * statsDrivenJoin flip discipline; DistRankSpec pins both branches
    * bucket-identical). The segment aggregation is a map-side-combined
    * hash-agg over ≤ 4³ groups. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy($"user_id").agg(
      max(unix_micros($"ts")).as("last_us"),
      count(lit(1)).as("freq"),
      sum(when($"event_type" === "purchase",
        expr("CAST(round(value * 100, 0) AS BIGINT)")).otherwise(0L))
        .as("cents"))
    val mx = ev.agg(max(unix_micros($"ts")).as("max_us"))
    val scored = per.crossJoin(broadcast(mx))
      .withColumn("rec_days",
        Det.fdiv($"max_us" - $"last_us", lit(86400L * 1000000L)))
    // each quartile cut flips between the one-window plan and
    // DistRank's range-partitioned plan on input statistics — exact and
    // bucket-identical either way (DistRankSpec pins both)
    val cut = (df: DataFrame, o: Seq[Column], out: String) =>
      DistRank.globalNtile(df, o, 4, out)
    val quartiled = cut(
      cut(
        cut(scored, Seq($"rec_days", $"user_id"), "r_q"),
        Seq(desc("freq"), $"user_id"), "f_q"),
      Seq(desc("cents"), $"user_id"), "m_q")
    quartiled
      .withColumn("segment", concat_ws("-", $"r_q", $"f_q", $"m_q"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_users"),
        sum($"freq").as("n_events"),
        round(sum($"cents") / 100.0, 2).as("revenue"),
        Det.r4(sum($"cents"), count(lit(1)) * 100L).as("avg_revenue"))
      .orderBy($"segment")
  }

  /** e51: trailing-7-day sliding distinct users per day ("7-day MAU")
    * plus the DAU/MAU stickiness ratio — the sliding COUNT DISTINCT
    * that window frames cannot express (SQL forbids DISTINCT
    * aggregates over a frame). Re-expressed scale-first: collapse to
    * distinct (user, day), fan each pair out map-side onto the ≤ 7
    * later days it contributes to, and count distinct users per day —
    * no range self-join, no per-day rescans of the event table.
    *
    * Determinism: exact integer counts over exact date arithmetic;
    * stickiness is the r4 exact rational.
    *
    * Scale design: the distinct collapse is the only event-volume
    * shuffle; the explode is a bounded ×7 map-side fan-out of
    * |users|·|active-days| rows; the count-distinct runs as Spark's
    * two-phase partial aggregation. Output days are restricted to days
    * with actual activity via a broadcast semi join against the ≤
    * |calendar| day list, so phantom trailing days never appear. */
  def slidingMau(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .select($"user_id", date_trunc("day", $"ts").cast("date").as("d"))
      .distinct()
    val days = daily.select($"d".as("day")).distinct()
    val dau = daily.groupBy($"d".as("day")).agg(count(lit(1)).as("dau"))
    daily
      .select($"user_id",
        explode(expr("sequence(d, date_add(d, 6))")).as("day"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("mau7"))
      .join(broadcast(dau), Seq("day"))
      .withColumn("stickiness", Det.r4($"dau", $"mau7"))
      .select($"day", $"dau", $"mau7", $"stickiness")
      .orderBy($"day")
  }

  /** e52: decile lift & cumulative gains — the model-evaluation
    * readout for any propensity ranking ("if we target the top-k% by
    * score, what share of converters do we reach?"): users ranked by
    * engagement (view count — the stand-in scoring model), cut into
    * deciles (1 = highest), and per decile the conversion rate
    * (a high-value purchase, value ≥ 150 — the rare outcome; an
    * any-purchase definition saturates on this fixture), lift vs the overall rate, and the
    * cumulative-gains share of all converters captured through that
    * decile. A useless score shows lift ≈ 1 everywhere and a diagonal
    * gains curve; a useful one front-loads both.
    *
    * Determinism: decile is ntile(10) over the (views DESC, user_id)
    * TOTAL order (the e50 precedent); every rate/lift/gain is the r4
    * exact rational of exact counts — lift cross-multiplies
    * (conv_d·users_total, users_d·conv_total) so no intermediate
    * rate division happens. Count envelope: the cross product stays
    * under r4's 4.6·10¹⁴ bound up to ~2·10⁷ users·converters — per
    * e43's pattern the envelope is documented, not guarded, because
    * the fixture sits orders below it (a deployment lifts rates to
    * per-million integers first).
    *
    * Scale design: ONE map-side-combined per-user collapse is the
    * only event-volume shuffle; the decile cut goes through
    * [[DistRank.globalNtile]] (the e50 note applies: at 10⁹ users the
    * flip picks the range-repartitioned exact distributed rank —
    * cluster-parallel, bucket-identical); totals are a 1-row
    * broadcast; the
    * rollup output is exactly 10 rows, and the cumulative sum runs on
    * those 10. */
  def decileLift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, sfDir).groupBy($"user_id").agg(
      sum(when($"event_type" === "view", 1L).otherwise(0L)).as("n_views"),
      max(when($"event_type" === "purchase" && $"value" >= 150.0, 1L)
        .otherwise(0L)).as("converted"))
    // the decile cut flips to DistRank's range-partitioned plan on big
    // inputs (exact, bucket-identical — the e50 discipline)
    val scored = DistRank.globalNtile(users,
      Seq(desc("n_views"), $"user_id"), 10, "decile")
    val tot = scored.agg(count(lit(1)).as("total_users"),
      sum($"converted").as("total_conv"))
    scored.groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_conv"))
      .crossJoin(broadcast(tot))
      .withColumn("cum_conv", sum($"n_conv").over(
        Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"decile", $"n_users", $"n_conv",
        Det.r4($"n_conv", $"n_users").as("conv_rate"),
        Det.r4($"n_conv" * $"total_users", $"n_users" * $"total_conv")
          .as("lift"),
        Det.r4($"cum_conv", $"total_conv").as("cum_gain"))
      .orderBy($"decile")
  }

  /** e53: robust outlier detection per event type — median / MAD
    * (median absolute deviation) instead of mean / stddev, the
    * dispersion measure the outliers themselves can't poison (a burst
    * of fat-finger values moves a stddev fence but not a MAD fence;
    * e39's rolling z-score is exactly the fragile fence this
    * complements). Flags event values with |x − median| > 3·MAD; the
    * long-tailed `value` column fires the fence at every fixture SF
    * (~11% flagged).
    *
    * Determinism: EVERYTHING is exact int64 — medians use e17's
    * rank-window selection keeping the two middle elements in ×2
    * units (m2 = lo + hi, no division), deviations are |2x − m2|,
    * the deviation median doubles again (mad4, ×4 units), and the
    * outlier rule 2·dev > 3·mad4 is a pure integer comparison.
    * Dollar-valued outputs round via [[Det.r4]] (median = m2/200,
    * MAD = mad4/400, exact 4-dp half-up).
    *
    * Scale design: both median passes are rank windows PARTITIONED BY
    * event_type — the distributed per-group sort (e17's note:
    * `percentile()` buffers whole groups in one aggregator) — riding
    * one partitioning; the outlier count is one more pass over the
    * same exchange. Measured honestly at 100× (SURVEY §6): the slope
    * is linear but parallelism is CAPPED at |groups| (5 here) — the
    * contract-inherent cost of EXACT per-group medians.
    *
    * CONTRACT (the v04 precedent, resolved round 10; GUARDED round 11):
    * e53 is the EXACT-VERIFICATION HARNESS — declared because it is
    * correct and oracle-checkable at every fixture SF, and kept as the
    * accuracy baseline e54 is pinned against (GraftSpec's one-bin-width
    * bound). The 100 TB answer is [[binnedMadOutliers e54]]: its bin
    * counts shard with full parallelism and merge as monoid state. A
    * deployment fencing genuinely massive groups runs e54; e53 is what
    * you run on a sampled slice to certify e54's error.
    *
    * The "sampled slice" contract is now ENFORCED, not hoped (the
    * DistRank guard-by-construction discipline, r10 verdict item 5),
    * at two layers:
    *   - PLAN TIME: if the input's Catalyst size estimate exceeds
    *     [[E53MaxInputBytes]] (the globalNtile 64 MiB calibration — the
    *     base fixtures sit far below, the 100× probe fixture above),
    *     construction raises immediately, before any sort runs.
    *   - RUNTIME, welded into the output expression so the optimizer
    *     cannot prune it: if any group's actual row count exceeds
    *     [[E53MaxGroupRows]] (stats can underestimate), the query
    *     raises instead of returning a result whose per-group
    *     single-task sorts are the named scale-killer. NOTE: this
    *     backstop evaluates in the FINAL aggregate, after median2's
    *     window sorts already ran — it is a correctness raise (never
    *     return an answer from an over-envelope plan), not a cost
    *     fence; when stats underestimate past the plan-time ceiling,
    *     the sort cost is paid before the raise. The cost fence is
    *     the plan-time check; the stats it reads come from the file
    *     footer sizes, which do not underestimate on real scans.
    * Both raises point at e54 as the at-scale substitute. EnvelopeGuardSpec
    * pins the runtime raise on a synthetic over-envelope group.
    *
    * Value ties leave rank order among equals arbitrary, but the VALUE
    * at a rank is the sorted multiset's — well-defined in both
    * engines. */
  def valueMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    valueMadOutliersGuarded(Tables.events(spark, sfDir)
      .select($"event_type",
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("c")))
  }

  /** The e53 PLAN-TIME guard + plan over an explicit `(event_type, c)`
    * frame — the GuardProbe seam for the stats-ceiling branch (the
    * runtime group-rows branch probes through [[valueMadOutliersOf]]
    * directly). */
  private[graft] def valueMadOutliersGuarded(j: DataFrame): DataFrame = {
    val est = j.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > E53MaxInputBytes)
      throw new IllegalStateException(
        s"e53: estimated input $est B exceeds the exact per-group-sort " +
          s"envelope ($E53MaxInputBytes B) — e53 is the sampled-slice " +
          "verification harness; run e54_binned_mad_outliers (binned, " +
          "fully parallel, mergeable state) at this scale")
    valueMadOutliersOf(j)
  }

  /** e53's exact-sort envelope: plan-time ceiling on the Catalyst input
    * size estimate (the [[DistRank.globalNtile]] 64 MiB calibration)
    * and runtime ceiling on actual per-group rows. */
  private[graft] val E53MaxInputBytes = 64L << 20
  private[graft] val E53MaxGroupRows = 1000000L

  /** The e53 plan over an explicit `(event_type, c)` cents frame —
    * split out so EnvelopeGuardSpec can drive the runtime group-size guard
    * with a synthetic over-envelope group. */
  private[graft] def valueMadOutliersOf(j: DataFrame): DataFrame = {
    import j.sparkSession.implicits._
    def median2(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(v))
      val wN = Window.partitionBy(col("event_type"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wN))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          (max(when(col("rn") === Det.fdiv(col("n") + 1L, lit(2L)), col(v)))
            + max(when(col("rn") === Det.fdiv(col("n"), lit(2L)) + 1L,
              col(v)))).as(out))
    }
    val med = median2(j, "c", "m2")
    val dev = j.join(med, "event_type")
      .select($"event_type", $"n".as("n_rows"), $"m2",
        abs($"c" * 2L - $"m2").as("dev"))
    val mad = median2(dev.select($"event_type", $"dev"), "dev", "mad4")
      .select($"event_type", $"mad4")
    dev.join(mad, "event_type")
      .groupBy($"event_type")
      .agg(max($"n_rows").as("n"), max($"m2").as("m2"),
        max($"mad4").as("mad4"),
        sum(when($"dev" * 2L > $"mad4" * 3L, 1L).otherwise(0L))
          .as("n_outliers"))
      // runtime backstop for stats underestimates, welded into the
      // median expression so it cannot be pruned (per-group cost only)
      .select($"event_type", $"n",
        Det.r4(when($"n" <= E53MaxGroupRows, $"m2")
            .otherwise(raise_error(concat(
              lit("e53: group "), $"event_type", lit(" has "),
              $"n".cast("string"),
              lit(s" rows > $E53MaxGroupRows — exact per-group-sort " +
                "envelope exceeded; run e54_binned_mad_outliers at " +
                "this scale"))).cast("long")),
          lit(200L)).as("median_value"),
        Det.r4($"mad4", lit(400L)).as("mad"),
        $"n_outliers")
      .orderBy($"event_type")
  }

  /** e54 bin width for the approximate median/MAD, in cents ($1). */
  private[graft] val MadBinCents = 100L

  /** e54: binned approximate median/MAD — the SCALE-PARALLEL
    * substitute for e53's exact fences, making the substitution e53's
    * scale note prescribes concrete as a declared query: values land
    * in fixed $1 bins, per-(group, bin) counts are ONE map-side-
    * combined hash-agg with full parallelism (no per-group sort —
    * e53's measured 100× slope is parallelism-capped at |groups|;
    * this shape isn't), the median is read off the bin cumsum with
    * intra-bin linear interpolation floored to the cent, and a second
    * identical pass bins |x − median| for the MAD. Accuracy contract:
    * within one bin width of the exact answer (GraftSpec pins
    * agreement with e53 under that bound on the fixture). Edge case:
    * when the target rank is the bin's LAST element the interpolation
    * offset equals the full bin width, so the readout lands on the
    * bin's exclusive upper edge and can exceed every value in the bin
    * — still inside the ±1-bin contract, and the oracle mirrors the
    * identical formula, so both engines agree exactly.
    *
    * Determinism: bins, cumsums, ranks, and the interpolation
    * (edge + (target − below)·width div binCount) are pure int64;
    * outputs round via [[Det.r4]]; the fence |x−med| > 3·MAD compares
    * integer cents.
    *
    * Scale design: two hash-agg passes + per-group bin tables (≤
    * value-range/width rows per group — broadcastable), cumsum
    * windows run over BIN rows not events. This is the streaming-
    * compatible shape too: bin counts are mergeable monoid state. */
  def binnedMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val j = Tables.events(spark, sfDir).select($"event_type",
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"))
    // approximate median (integer cents) per group from $1-bin counts:
    // target rank = (n+1) div 2; med = binEdge + (target - cumBelow)
    // * width div binCount, floored to the cent
    def approxMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val bins = df.groupBy($"event_type",
          Det.fdiv(col(v), lit(MadBinCents)).as("bin"))
        .agg(count(lit(1)).as("bc"))
      val w = Window.partitionBy($"event_type").orderBy($"bin")
      val wN = Window.partitionBy($"event_type")
      bins
        .withColumn("cum", sum($"bc").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum($"bc").over(wN))
        .withColumn("target", Det.fdiv($"n" + 1L, lit(2L)))
        .filter($"cum" >= $"target" && $"cum" - $"bc" < $"target")
        .select($"event_type", $"n",
          ($"bin" * MadBinCents +
            Det.fdiv(($"target" - ($"cum" - $"bc")) * MadBinCents, $"bc"))
            .as(out))
    }
    val med = approxMedian(j, "c", "mc")
    val dev = j.join(med, "event_type")
      .select($"event_type", $"n", $"mc", abs($"c" - $"mc").as("dev"))
    val mad = approxMedian(dev.select($"event_type", $"dev"), "dev", "madc")
      .select($"event_type", $"madc")
    dev.join(mad, "event_type")
      .groupBy($"event_type")
      .agg(max($"n").as("n"), max($"mc").as("mc"), max($"madc").as("madc"),
        sum(when($"dev" > $"madc" * 3L, 1L).otherwise(0L)).as("n_outliers"))
      .select($"event_type", $"n",
        Det.r4($"mc", lit(100L)).as("approx_median"),
        Det.r4($"madc", lit(100L)).as("approx_mad"),
        $"n_outliers")
      .orderBy($"event_type")
  }

  /** e55: EXACT global percentiles of the event value — the order
    * statistic the sketches only approximate (x02's contrast), made
    * 100 TB-feasible by [[DistRank.globalRowNumber]]: the global rank
    * is the range-partitioned distributed row_number (never a
    * single-task sort), and the percentile read-off crosses each
    * ranked row with six broadcast percentile literals and keeps only
    * rank == target — map-side, so only six rows survive.
    *
    * Rank convention: target(p) = max(1, ⌈N·p/100⌉) — the inverse
    * empirical CDF ("type-1"), so every output is an actual data value
    * (exact cents), never an interpolation between two.
    *
    * Determinism: the rank order is the TOTAL order (c, event_id);
    * ties on c leave order among equals arbitrary but the VALUE at a
    * rank is the sorted multiset's — identical in both engines. All
    * arithmetic is int64; dollars surface via [[Det.r4]].
    *
    * Scale design: one range exchange ranks the data P-way parallel;
    * the targets derive from the rank side's own total (no second
    * scan), against six broadcast literals. Nothing global runs
    * single-task — this is the query e53's contract note points exact
    * global order statistics at. */
  def exactPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val j = Tables.events(spark, sfDir).select(
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"), $"event_id")
    val ranked = DistRank.globalRowNumber(
      j, Seq($"c", $"event_id"), "rn", "n")
    val pcts = Seq(10L, 25L, 50L, 75L, 90L, 99L).toDF("pct")
    // targets derive from the rank side's own total `n` (d55's
    // pattern) — a separate count would rescan the events table
    ranked.crossJoin(broadcast(pcts))
      .filter($"rn" ===
        greatest(lit(1L), Det.fdiv($"n" * $"pct" + 99L, lit(100L))))
      .select($"pct", $"n", $"rn".as("rank"),
        Det.r4($"c", lit(100L)).as("value"))
      .orderBy($"pct")
  }

  /** e56: spend concentration — the Lorenz/Pareto readout ("what share
    * of revenue do the top-decile spenders hold?") plus the exact Gini
    * coefficient, the standard one-number inequality summary. Users
    * rank by purchase cents through [[DistRank.globalRowNumber]]
    * (ascending — the Gini convention); the DESCENDING decile (1 = top
    * spenders) reads off the same rank as N−rank+1 through
    * [[DistRank.ntileOf]], so ONE distributed sort serves both
    * readouts. Per decile: users, revenue, revenue share, cumulative
    * share; Gini = (2·Σ(i·xᵢ) − (N+1)·Σx) / (N·Σx) with i the
    * ascending-spend rank, constant across rows.
    *
    * Determinism: every share/Gini is a [[Det.r4]] exact rational of
    * int64 cross-products. Envelope (GUARDED via [[Det.guarded]], the
    * e41/e43 discipline — r10 made this the tightest envelope in the
    * suite and scaladoc-only, r11 wires the guard): the Gini numerator
    * rides r4, so Σ(arank·cents) must stay under 2⁶³/20000 ≈ 4.6·10¹⁴ —
    * and rank enters QUADRATICALLY (Σ(i·x) ≈ x̄·N²/2), so at $100
    * average lifetime spend the bound holds only to ~3·10⁵ users. The
    * a-priori bound 3·N²·max|cents| (computed in DOUBLE from N and
    * max ABSOLUTE cents — abs, so refund-valued users with negative
    * sums cannot under-bound it — so the check itself cannot wrap)
    * dominates every intermediate — each |arank·cents| ≤ N·max|x|, the
    * running sum ≤ N²·max|x|, |2·ic − (N+1)·tc| ≤ 3·N²·max|x|, 2·den =
    * 2·N·|tc| ≤ 2·N²·max|x| — so bound < [[Det.r4NumBound]] implies the whole
    * computation stays exact; beyond it the query RAISES with the
    * remediation (rescale cents→dollars for ×100 headroom, or compute
    * the Gini from the ≤10 decile aggregates — the trapezoid Lorenz
    * approximation) instead of silently wrapping. Requires Σx > 0
    * (the fixture has purchases at every SF). EnvelopeGuardSpec pins the
    * raise on a synthetic envelope breach.
    *
    * Scale design: ONE map-side-combined per-user collapse is the only
    * event-volume shuffle; the rank is range-partitioned; Σ(i·x), Σx,
    * N are one hash-agg over |users| riding the rank's partitioning;
    * the decile rollup is ≤10 groups and the cumulative sum runs on
    * those 10 rows. */
  def spendConcentration(spark: SparkSession, sfDir: String): DataFrame =
    spendConcentrationOf(perUserCents(spark, sfDir))

  /** The e56/e58 per-user purchase-cents frame — ONE build shared by
    * both arithmetic faces so they cannot drift upstream of the seam. */
  private[graft] def perUserCents(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir).groupBy($"user_id").agg(
      sum(when($"event_type" === "purchase",
        expr("CAST(round(value * 100, 0) AS BIGINT)")).otherwise(0L))
        .as("cents"))
  }

  /** The e56 plan over an explicit per-user `(user_id, cents)` frame —
    * split out so EnvelopeGuardSpec can drive the [[Det.guarded]] envelope
    * with a synthetic breach the fixtures cannot produce. */
  /** e58: e56's DECIMAL(38) branch — the executable remediation the
    * Gini int64 raise names (the e41→e57 discipline, applied after the
    * r13 full probe sweep showed e56's guard FIRING at the 100× probe
    * itself: rank enters the numerator quadratically, so 100× users
    * blow the 4·10¹⁴ envelope at 1.2·10¹⁶ — the raise IS the at-scale
    * behavior, and before this branch it was a dead end). Same plan
    * through the shared `spendConcentrationOf(dec128)` seam; envelope
    * 4·10¹⁴ → 5·10³³ ([[Det.r4DecBound]]) admits ~10¹² users at $100
    * lifetime spend. Oracle = e56's text verbatim (DuckDB's sums are
    * HUGEINT already). */
  def spendConcentrationDecimal(spark: SparkSession,
      sfDir: String): DataFrame =
    spendConcentrationOf(perUserCents(spark, sfDir), dec128 = true)

  private[graft] def spendConcentrationOf(per: DataFrame,
      dec128: Boolean = false): DataFrame = {
    import per.sparkSession.implicits._
    val p =
      if (dec128) per.withColumn("cents", $"cents".cast("decimal(38,0)"))
      else per
    val ranked = DistRank.globalRowNumber(
      p, Seq($"cents", $"user_id"), "arank", "n")
    val tots = ranked.agg(max($"n").as("nu"),
      sum($"cents").as("tc"), sum($"arank" * $"cents").as("ic"),
      // max |cents|, not max cents: a refund-valued user (negative cents
      // sum) would otherwise under-bound the |arank·cents| / |tc|
      // intermediates and the guard could pass while the int64 wraps
      max(abs($"cents")).cast("double").as("mxc"))
    val guardedGini =
      if (dec128)
        Det.guarded($"ic" * 2L - ($"nu" + 1L) * $"tc",
          lit(3.0) * $"nu".cast("double") * $"nu".cast("double") * $"mxc",
          Det.r4DecBound, "e58_gini", label = "decimal128",
          hint = "partition the user base; no wider arithmetic exists")
      else
        Det.guarded($"ic" * 2L - ($"nu" + 1L) * $"tc",
          lit(3.0) * $"nu".cast("double") * $"nu".cast("double") * $"mxc",
          Det.r4NumBound, "e56_gini",
          hint = "rerun with DECIMAL(38) arithmetic (declared branch " +
            "e58_gini_decimal / spendConcentrationDecimal)")
    val rat: (Column, Column) => Column =
      if (dec128) Det.r4Dec else Det.r4
    ranked
      .withColumn("decile",
        DistRank.ntileOf($"n" - $"arank" + 1L, $"n", 10))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"cents").as("dcents"))
      .crossJoin(broadcast(tots))
      .withColumn("cum", sum($"dcents").over(
        Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // the decimal face's quotients are a-priori bounded (shares ≤ 1,
      // |gini| ≤ ~3 → 10⁴-scaled quotients ≤ ~3·10⁴, far inside long),
      // so the builtin-div r4 would stay exact here — but every
      // decimal-typed rational routes through [[Det.r4Dec]] anyway, so
      // no decimal r4 call site is left to audit against the silent
      // Decimal.toLong quotient wrap (the r13 ADVICE finding on e57)
      .select($"decile", $"n_users",
        round($"dcents" / 100.0, 2).as("revenue"),
        rat($"dcents", $"tc").as("share"),
        rat($"cum", $"tc").as("cum_share"),
        rat(guardedGini, $"nu" * $"tc").as("gini"))
      .orderBy($"decile")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e55_exact_percentiles" -> exactPercentiles _,
    "e56_spend_concentration" -> spendConcentration _,
    "e58_gini_decimal" -> spendConcentrationDecimal _,
    "e54_binned_mad_outliers" -> binnedMadOutliers _,
    "e53_value_mad_outliers" -> valueMadOutliers _,
    "e52_decile_lift" -> decileLift _,
    "e50_rfm_segments" -> rfmSegments _,
    "e51_sliding_mau" -> slidingMau _,
    "e49_ab_test" -> abTest _,
    "e48_session_paths" -> sessionPaths _,
    "e47_attribution" -> lastTouchAttribution _,
    "e46_cohort_retention" -> cohortRetention _,
    "e44_funnel_stages" -> funnelStages _,
    "e45_rekey_counts" -> rekeyCounts _,
    "e39_rolling_anomaly" -> rollingAnomalies _,
    "e40_grid_interpolate" -> gridInterpolate _,
    "e41_cusum_changepoint" -> cusumChangepoint _,
    "e57_cusum_decimal" -> cusumChangepointDecimal _,
    "e42_ohlc_bars" -> ohlcBars _,
    "e43_seasonality" -> seasonality _,
    "e01_json_extract"   -> jsonExtract _,
    "e31_scd2_versions"  -> scd2Versions _,
    "e32_compaction_tombstones" -> compactionTombstones _,
    "e33_dynamic_sessions" -> dynamicSessions _,
    "e34_gap_fill" -> gapFill _,
    "e35_time_weighted_avg" -> timeWeightedAvg _,
    "e25_window_navigation" -> windowNavigation _,
    "e02_tumbling_daily" -> tumblingDaily _,
    "e03_hopping_hourly" -> hoppingHourly _,
    "e04_session_windows" -> sessionWindows _,
    "e05_latest_by_key"  -> latestByKey _,
    "e06_view_to_purchase" -> viewToPurchase _,
    "e07_running_totals" -> runningTotals _,
    "e08_event_gaps"     -> eventGaps _,
    "e09_distinct_users" -> distinctUsers _,
    "e10_user_pivot"     -> userPivot _,
    "e18_rank_variants"  -> rankVariants _,
    "e19_cogroup"        -> cogroupActivity _,
    "e21_promo_range_join" -> promoRangeJoin _,
    "e22_skew_salted_join" -> skewSaltedJoin _,
    "e36_asof_nearest"   -> asofNearest _,
    "e38_subsequence_match" -> subsequenceMatch _,
  )

  private val D = Det.sql

  /** e56's oracle text, shared VERBATIM with e58 (its DECIMAL(38)
    * branch) — registered as a FormulaAudit fragment so both faces
    * carry audit rows naming their independent-truth pins. */
  private[graft] val giniOracle: String =
    s"""WITH per AS (SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS cents
       |  FROM events GROUP BY user_id),
       |rk AS (SELECT user_id, cents,
       |    row_number() OVER (ORDER BY cents, user_id) AS arank,
       |    CAST(count(*) OVER () AS BIGINT) AS n FROM per),
       |dx AS (SELECT *, n - arank + 1 AS r,
       |    ${D.fdiv("n", "10")} AS q, n % 10 AS m FROM rk),
       |dd AS (SELECT *, CASE WHEN r <= m * (q + 1)
       |      THEN ${D.fdiv("r - 1", "q + 1")} + 1
       |      ELSE m + ${D.fdiv("r - m * (q + 1) - 1", "q")} + 1 END
       |    AS decile FROM dx),
       |t AS (SELECT max(n) AS nu, CAST(sum(cents) AS BIGINT) AS tc,
       |    CAST(sum(arank * cents) AS BIGINT) AS ic FROM rk),
       |g AS (SELECT decile, count(*) AS n_users,
       |    CAST(sum(cents) AS BIGINT) AS dcents FROM dd GROUP BY decile),
       |c AS (SELECT *, CAST(sum(dcents) OVER (ORDER BY decile
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM g)
       |SELECT decile, n_users, round(dcents / 100.0, 2) AS revenue,
       |  ${D.r4("dcents", "tc")} AS share,
       |  ${D.r4("cum", "tc")} AS cum_share,
       |  ${D.r4("ic * 2 - (nu + 1) * tc", "nu * tc")} AS gini
       |FROM c CROSS JOIN t ORDER BY decile""".stripMargin

  /** e41's oracle text, shared VERBATIM with e57 (its DECIMAL(38)
    * branch) — registered as a FormulaAudit fragment so both faces
    * carry audit rows naming their independent-truth pins. */
  private[graft] val cusumOracle: String =
    s"""WITH c AS (SELECT user_id, ts, event_id,
       |    CAST(round(value * 100, 0) AS BIGINT) AS cents,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    sum(CAST(round(value * 100, 0) AS BIGINT))
       |      OVER (PARTITION BY user_id) AS sx
       |  FROM events),
       |p AS (SELECT user_id, ts, event_id, n,
       |    sum(n * cents - sx) OVER win AS p
       |  FROM c
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING)),
       |cu AS (SELECT user_id, ts, event_id, n,
       |    p - least(0, min(p) OVER win) AS cusum
       |  FROM p
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING)),
       |r AS (SELECT user_id, ts, event_id, n, cusum,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY cusum DESC, ts, event_id) AS rn
       |  FROM cu)
       |SELECT user_id, n AS n_events,
       |  ${D.r4("cusum", "n * 100")} AS cusum_max,
       |  ts AS cp_ts, event_id AS cp_event_id
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // type-1 inverse-CDF read-off at rank max(1, ceil(N*p/100)); the
    // Spark side computes the identical rank distributively (DistRank)
    "e55_exact_percentiles" ->
      s"""WITH j AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         |    event_id FROM events),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM j),
         |p(pct) AS (VALUES (10), (25), (50), (75), (90), (99)),
         |t AS (SELECT CAST(pct AS BIGINT) AS pct,
         |    GREATEST(1, ${D.fdiv("n0 * pct + 99", "100")}) AS tgt
         |  FROM p CROSS JOIN cnt),
         |s AS (SELECT c, row_number() OVER (ORDER BY c, event_id) AS rn,
         |    CAST(count(*) OVER () AS BIGINT) AS n FROM j)
         |SELECT t.pct, s.n, CAST(s.rn AS BIGINT) AS rank,
         |  ${D.r4("s.c", "100")} AS value
         |FROM s JOIN t ON s.rn = t.tgt ORDER BY t.pct""".stripMargin,
    // ascending-rank Gini + descending-decile Lorenz off ONE ranking;
    // the ntile readout mirrors DistRank.ntileOf's integer formula
    "e56_spend_concentration" -> giniOracle,
    // e58 is e56's DECIMAL(38) arithmetic branch: ONE oracle text
    // serves both faces verbatim (the e41/e57 discipline) — DuckDB's
    // sums are HUGEINT already, exact truth for either width
    "e58_gini_decimal" -> giniOracle,
    // $1-bin counts -> bin cumsum -> intra-bin interpolation floored
    // to the cent, twice (values, then deviations); all operands
    // non-negative so DuckDB's // agrees with Det.fdiv
    "e54_binned_mad_outliers" ->
      s"""WITH j AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
        |b1 AS (SELECT event_type, c // $MadBinCents AS bin,
        |    CAST(count(*) AS BIGINT) AS bc FROM j GROUP BY 1, 2),
        |c1 AS (SELECT event_type, bin, bc,
        |    sum(bc) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(bc) OVER (PARTITION BY event_type) AS n FROM b1),
        |m AS (SELECT event_type, CAST(n AS BIGINT) AS n,
        |    bin * $MadBinCents + ((((n+1)//2) - (cum - bc))
        |      * $MadBinCents) // bc AS mc
        |  FROM c1 WHERE cum >= (n+1)//2 AND cum - bc < (n+1)//2),
        |d AS (SELECT j.event_type, m.n, m.mc, abs(j.c - m.mc) AS dev
        |  FROM j JOIN m USING (event_type)),
        |b2 AS (SELECT event_type, dev // $MadBinCents AS bin,
        |    CAST(count(*) AS BIGINT) AS bc FROM d GROUP BY 1, 2),
        |c2 AS (SELECT event_type, bin, bc,
        |    sum(bc) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(bc) OVER (PARTITION BY event_type) AS n FROM b2),
        |mm AS (SELECT event_type,
        |    bin * $MadBinCents + ((((n+1)//2) - (cum - bc))
        |      * $MadBinCents) // bc AS madc
        |  FROM c2 WHERE cum >= (n+1)//2 AND cum - bc < (n+1)//2)
        |SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
        |  ${D.r4("max(d.mc)", "100")} AS approx_median,
        |  ${D.r4("max(mm.madc)", "100")} AS approx_mad,
        |  CAST(sum(CASE WHEN d.dev > 3 * mm.madc THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mm USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // e17-style rank-window medians in x2/x4 integer units; the
    // outlier rule 2*dev > 3*mad4 is a pure integer comparison
    "e53_value_mad_outliers" ->
      s"""WITH j AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
        |r1 AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM j),
        |m AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN c END)
        |      + max(CASE WHEN rn = n // 2 + 1 THEN c END) AS m2
        |  FROM r1 GROUP BY event_type),
        |d AS (SELECT j.event_type, m.n, m.m2, abs(2*j.c - m.m2) AS dev
        |  FROM j JOIN m USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mm AS (SELECT event_type,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN dev END)
        |      + max(CASE WHEN rn = n // 2 + 1 THEN dev END) AS mad4
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
        |  ${D.r4("max(d.m2)", "200")} AS median_value,
        |  ${D.r4("max(mm.mad4)", "400")} AS mad,
        |  CAST(sum(CASE WHEN 2*d.dev > 3*mm.mad4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mm USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // per-user collapse -> ntile(10) over the same total order ->
    // 10-row rollup with cross-multiplied lift and running gains
    "e52_decile_lift" ->
      s"""WITH u AS (SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_views,
         |    CAST(max(CASE WHEN event_type = 'purchase' AND value >= 150
         |      THEN 1 ELSE 0 END) AS BIGINT) AS converted
         |  FROM events GROUP BY user_id),
         |s AS (SELECT user_id, converted, CAST(ntile(10) OVER (
         |    ORDER BY n_views DESC, user_id) AS BIGINT) AS decile FROM u),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS total_users,
         |    CAST(sum(converted) AS BIGINT) AS total_conv FROM s),
         |d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(converted) AS BIGINT) AS n_conv
         |  FROM s GROUP BY decile),
         |c AS (SELECT d.*, t.total_users, t.total_conv,
         |    CAST(sum(n_conv) OVER (ORDER BY decile
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_conv
         |  FROM d CROSS JOIN t)
         |SELECT decile, n_users, n_conv,
         |  ${D.r4("n_conv", "n_users")} AS conv_rate,
         |  ${D.r4("n_conv * total_users", "n_users * total_conv")} AS lift,
         |  ${D.r4("cum_conv", "total_conv")} AS cum_gain
         |FROM c ORDER BY decile""".stripMargin,
    // per-user RFM collapse, epoch-µs recency floor-div, ntile(4) over
    // (metric, user_id) total orders — the same rank both engines
    // compute; monetary is exact integer cents; CASTs keep DuckDB's
    // HUGEINT sums off the schema
    "e50_rfm_segments" ->
      s"""WITH per AS (SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS cents
         |  FROM events GROUP BY user_id),
         |mx AS (SELECT max(ts) AS max_ts FROM events),
         |s AS (SELECT user_id, freq, cents,
         |    ${D.fdiv("epoch_us(max_ts) - epoch_us(last_ts)",
                "86400000000")} AS rec_days
         |  FROM per CROSS JOIN mx),
         |q AS (SELECT user_id, freq, cents,
         |    ntile(4) OVER (ORDER BY rec_days, user_id) AS r_q,
         |    ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_q,
         |    ntile(4) OVER (ORDER BY cents DESC, user_id) AS m_q
         |  FROM s)
         |SELECT concat_ws('-', r_q, f_q, m_q) AS segment,
         |  count(*) AS n_users,
         |  CAST(sum(freq) AS BIGINT) AS n_events,
         |  round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS revenue,
         |  ${D.r4("CAST(sum(cents) AS BIGINT)", "count(*) * 100")}
         |    AS avg_revenue
         |FROM q GROUP BY segment ORDER BY segment""".stripMargin,
    // distinct (user, day) collapse; the trailing-7-day window is the
    // oracle's range join (DATE + integer = DATE in DuckDB), restricted
    // to days with actual activity
    "e51_sliding_mau" ->
      s"""WITH p AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
         |    user_id FROM events),
         |days AS (SELECT DISTINCT d AS day FROM p),
         |x AS (SELECT dd.day, p.user_id
         |  FROM p JOIN days dd ON dd.day BETWEEN p.d AND p.d + 6),
         |m AS (SELECT day, count(DISTINCT user_id) AS mau7 FROM x
         |  GROUP BY day),
         |a AS (SELECT d AS day, count(*) AS dau FROM p GROUP BY d)
         |SELECT m.day, CAST(a.dau AS BIGINT) AS dau,
         |  CAST(m.mau7 AS BIGINT) AS mau7,
         |  ${D.r4("CAST(a.dau AS BIGINT)", "CAST(m.mau7 AS BIGINT)")}
         |    AS stickiness
         |FROM m JOIN a ON m.day = a.day ORDER BY m.day""".stripMargin,
    // per-user conversion collapse, parity split, and the SAME double
    // expression tree for z² in both engines (int64 products promoted
    // to double in the same order); CASE guards the degenerate splits
    "e49_ab_test" ->
      s"""WITH f AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY user_id),
         |c AS (SELECT
         |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
         |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN conv ELSE 0 END) AS BIGINT) AS c_b
         |  FROM f),
         |v AS (SELECT
         |    ${D.dsum("CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END", "rev_a")},
         |    ${D.dsum("CASE WHEN user_id % 2 <> 0 THEN value ELSE 0.0 END", "rev_b")}
         |  FROM events WHERE event_type = 'purchase')
         |SELECT n_a, c_a, ${D.r4("c_a", "n_a")} AS rate_a, rev_a,
         |  n_b, c_b, ${D.r4("c_b", "n_b")} AS rate_b, rev_b,
         |  CASE WHEN CAST(n_a AS DOUBLE) * n_b * (c_a + c_b)
         |      * (n_a + n_b - c_a - c_b) > 0
         |    THEN round(CAST(c_a * n_b - c_b * n_a AS DOUBLE)
         |      * CAST(c_a * n_b - c_b * n_a AS DOUBLE) * (n_a + n_b)
         |      / (CAST(n_a AS DOUBLE) * n_b * (c_a + c_b)
         |        * (n_a + n_b - c_a - c_b)), 4)
         |  END AS z2
         |FROM c CROSS JOIN v""".stripMargin,
    // 2h-gap gaps-and-islands sessionization (e04's gap contract),
    // ordered event-type path capped at 20 steps, top-20 histogram;
    // CASTs keep HUGEINT off the schema
    "e48_session_paths" ->
      s"""WITH o AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
         |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |        ORDER BY epoch_us(ts), event_id) IS NULL
         |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |        ORDER BY epoch_us(ts), event_id) > ${7200L * 1000000L}
         |      THEN 1 ELSE 0 END AS ns
         |  FROM events),
         |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
         |    ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM o),
         |p AS (SELECT user_id, sess,
         |    array_to_string((list(event_type ORDER BY t, event_id))[1:20],
         |      '>') AS path,
         |    count(*) AS len
         |  FROM s GROUP BY 1, 2)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  ${D.r4("CAST(sum(len) AS BIGINT)", "count(*)")} AS avg_len
         |FROM p GROUP BY path ORDER BY n_sessions DESC, path
         |LIMIT 20""".stripMargin,
    // backward as-of: latest click strictly preceding the purchase in
    // (ts, event_id) stream order and within 7 days — "latest within
    // the window" ≡ "latest overall, if within the window", which is
    // what the Spark LOCF pass computes; channel from props.k % 4
    // (try_cast: the e45 null-discipline), lag in floor-µs→s; CASTs
    // keep HUGEINT off the schema
    "e47_attribution" ->
      s"""WITH c AS (SELECT event_id AS click_id, user_id AS c_user,
         |    ts AS click_ts,
         |    try_cast(json_extract_string(props, '$$.k') AS BIGINT) % 4 AS kb
         |  FROM events WHERE event_type = 'click'),
         |cc AS (SELECT click_id, c_user, click_ts,
         |    CASE kb WHEN 0 THEN 'ads' WHEN 1 THEN 'email'
         |      WHEN 2 THEN 'social' WHEN 3 THEN 'organic'
         |      ELSE 'unknown' END AS channel FROM c),
         |p AS (SELECT event_id AS purchase_id, user_id, ts, value
         |  FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT p.purchase_id, cc.channel,
         |    ${D.fdiv("epoch_us(p.ts) - epoch_us(cc.click_ts)", "1000000")}
         |      AS lag_s,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY cc.click_ts DESC, cc.click_id DESC) AS rn
         |  FROM p JOIN cc ON cc.c_user = p.user_id
         |    AND (cc.click_ts < p.ts OR
         |      (cc.click_ts = p.ts AND cc.click_id < p.purchase_id))
         |    AND cc.click_ts >= p.ts - INTERVAL 7 DAY),
         |b AS (SELECT purchase_id, channel, lag_s FROM j WHERE rn = 1),
         |a AS (SELECT p.purchase_id,
         |    COALESCE(b.channel, 'unattributed') AS channel, b.lag_s, p.value
         |  FROM p LEFT JOIN b USING (purchase_id))
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
         |  ${D.dsum("value", "revenue")},
         |  CASE WHEN count(lag_s) > 0
         |    THEN ${D.r4("CAST(sum(lag_s) AS BIGINT)",
                "CAST(count(lag_s) AS BIGINT)")}
         |  END AS avg_lag_s
         |FROM a GROUP BY channel ORDER BY channel""".stripMargin,
    // DATE − DATE is integer days in DuckDB, matching Spark's datediff
    "e46_cohort_retention" ->
      s"""WITH a AS (SELECT DISTINCT user_id,
         |    CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
         |f AS (SELECT user_id, min(d) AS cohort_day FROM a GROUP BY user_id),
         |n AS (SELECT cohort_day, count(*) AS n_cohort FROM f GROUP BY cohort_day),
         |r AS (SELECT f.cohort_day,
         |    CAST(a.d - f.cohort_day AS BIGINT) AS day_offset,
         |    count(DISTINCT a.user_id) AS n_active
         |  FROM a JOIN f USING (user_id) GROUP BY 1, 2)
         |SELECT r.cohort_day, r.day_offset, r.n_active, n.n_cohort,
         |  ${D.r4("n_active", "n_cohort")} AS retention
         |FROM r JOIN n USING (cohort_day)
         |ORDER BY cohort_day, day_offset""".stripMargin,
    // chained running-max state machine: window aliases can't be
    // referenced in the same SELECT, hence the stacked CTEs — same
    // single (user_id, ts, event_id) sort in both engines
    "e44_funnel_stages" ->
      s"""WITH a AS (SELECT user_id, ts, event_id, event_type,
         |  max(CASE WHEN event_type = 'view' THEN ts END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lv
         |  FROM events),
         |b AS (SELECT *,
         |  max(CASE WHEN event_type = 'click' AND lv IS NOT NULL
         |           AND ts <= lv + INTERVAL $FunnelWinHours HOURS THEN ts END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lc
         |  FROM a),
         |u AS (SELECT user_id,
         |  CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |    + max(CASE WHEN lc IS NOT NULL THEN 1 ELSE 0 END)
         |    + max(CASE WHEN event_type = 'purchase' AND lc IS NOT NULL
         |               AND ts <= lc + INTERVAL $FunnelWinHours HOURS
         |               THEN 1 ELSE 0 END) AS BIGINT) AS stage
         |  FROM b GROUP BY user_id),
         |s AS (SELECT stage, count(*) AS n_users FROM u GROUP BY stage)
         |SELECT stage, n_users,
         |  CAST(sum(n_users) OVER (ORDER BY stage DESC) AS BIGINT) AS n_reached,
         |  ${D.r4("CAST(sum(n_users) OVER (ORDER BY stage DESC) AS BIGINT)",
               "CAST(sum(n_users) OVER () AS BIGINT)")} AS conv_pct
         |FROM s ORDER BY stage""".stripMargin,
    "e45_rekey_counts" ->
      s"""SELECT TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_mod,
         |  count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  ${D.dsum("value", "total_value")}
         |FROM events
         |WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL
         |GROUP BY k_mod ORDER BY k_mod""".stripMargin,
    // integer z²: DuckDB widens sum(BIGINT) to HUGEINT mid-CTE, which is
    // fine — the only OUTPUT column it feeds is r4's final /10000.0
    // DOUBLE (the d29/d30 lesson: keep HUGEINT off the output schema)
    "e39_rolling_anomaly" ->
      s"""WITH c AS (SELECT event_id, user_id, ts, round(value, 2) AS value,
         |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
         |w AS (SELECT event_id, user_id, ts, value, cents,
         |  count(*) OVER win AS n,
         |  sum(cents) OVER win AS sx,
         |  sum(cents * cents) OVER win AS sxx
         |  FROM c
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         |f AS (SELECT event_id, user_id, ts, value,
         |  20 * cents - sx AS dev, 20 * sxx - sx * sx AS den
         |  FROM w WHERE n = 20 AND 20 * sxx - sx * sx > 0)
         |SELECT event_id, user_id, ts, value,
         |  ${D.r4("dev * dev", "den")} AS z2
         |FROM f ORDER BY z2 DESC, event_id LIMIT 20""".stripMargin,
    // grid bounds are per-user and strictly inside the event span, so
    // prev/next neighbors exist by construction; the NULL guards only
    // cover the measure-zero midnight-boundary edge
    "e40_grid_interpolate" ->
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cents, 0 AS is_grid
         |  FROM events),
         |g AS (SELECT user_id,
         |    unnest(generate_series(date_trunc('day', min(ts)) + INTERVAL 1 DAY,
         |      max(ts), INTERVAL 1 DAY)) AS ts
         |  FROM events GROUP BY user_id),
         |u AS (SELECT user_id, ts, event_id, cents, is_grid FROM ev
         |  UNION ALL SELECT user_id, ts, NULL, NULL, 1 FROM g),
         |w AS (SELECT user_id, ts, is_grid,
         |  last_value(CASE WHEN is_grid = 0 THEN epoch_us(ts) END IGNORE NULLS)
         |    OVER back AS prev_us,
         |  last_value(CASE WHEN is_grid = 0 THEN cents END IGNORE NULLS)
         |    OVER back AS prev_cents,
         |  first_value(CASE WHEN is_grid = 0 THEN epoch_us(ts) END IGNORE NULLS)
         |    OVER fwd AS next_us,
         |  first_value(CASE WHEN is_grid = 0 THEN cents END IGNORE NULLS)
         |    OVER fwd AS next_cents
         |  FROM u
         |  WINDOW back AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  fwd AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, ts AS grid_ts,
         |  (prev_cents + ${D.fdiv(
              "(next_cents - prev_cents) * (epoch_us(ts) - prev_us)",
              "next_us - prev_us")}) / 100.0 AS interp_value
         |FROM w WHERE is_grid = 1
         |  AND prev_us IS NOT NULL AND next_us IS NOT NULL
         |ORDER BY user_id, grid_ts""".stripMargin,
    // p/c go HUGEINT mid-CTE (DuckDB widens windowed sum), which is
    // fine — the only OUTPUT they feed is r4's final /10000.0 DOUBLE
    "e41_cusum_changepoint" -> cusumOracle,
    // e57 is e41's DECIMAL(38) arithmetic branch: ONE oracle text
    // serves both faces verbatim (the x05/s49 cross-face discipline) —
    // DuckDB's windowed integer sums are HUGEINT already, so the same
    // SQL is exact truth for either engine-side arithmetic width
    "e57_cusum_decimal" -> cusumOracle,
    // ss_res/ss_tot go HUGEINT mid-CTE (windowed/grouped sums) — only
    // r4's DOUBLE reaches the output schema; the rounding of residuals
    // to integer cents mirrors Det.fdiv(2·num+den, 2·den) exactly
    "e43_seasonality" ->
      s"""WITH c AS (SELECT user_id,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cents,
         |    CAST(hour(ts) AS BIGINT) AS hod FROM events),
         |w AS (SELECT user_id, cents, hod,
         |    count(*) OVER wb AS cnt_b, sum(cents) OVER wb AS s_b,
         |    count(*) OVER wu AS n, sum(cents) OVER wu AS s
         |  FROM c
         |  WINDOW wb AS (PARTITION BY user_id, hod),
         |    wu AS (PARTITION BY user_id)),
         |r AS (SELECT user_id, hod, cnt_b, s_b, n,
         |    ${D.fdiv("2 * (cnt_b * cents - s_b) + cnt_b", "2 * cnt_b")} AS r,
         |    ${D.fdiv("2 * (n * cents - s) + n", "2 * n")} AS t,
         |    ${D.fdiv("s_b * 1000000", "cnt_b")} AS mean_micro
         |  FROM w),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY mean_micro DESC, hod) AS rn FROM r)
         |SELECT user_id, max(n) AS n_events,
         |  max(CASE WHEN rn = 1 THEN hod END) AS peak_hod,
         |  max(CASE WHEN rn = 1 THEN ${D.r4("s_b", "cnt_b * 100")} END)
         |    AS peak_avg,
         |  ${D.r4("sum(t * t) - sum(r * r)", "greatest(sum(t * t), 1)")}
         |    AS strength
         |FROM rk GROUP BY user_id ORDER BY user_id""".stripMargin,
    // open/close via the same rn==1 / rn==cnt total order as the Spark
    // side — argmin/argmax builtins are deliberately avoided
    "e42_ohlc_bars" ->
      s"""WITH t AS (SELECT user_id,
         |    CAST(date_trunc('day', ts) AS DATE) AS day,
         |    round(value, 2) AS rv, ${D.dec4("value")} AS v4,
         |    row_number() OVER win AS rn,
         |    count(*) OVER (PARTITION BY user_id, date_trunc('day', ts))
         |      AS cnt
         |  FROM events
         |  WINDOW win AS (PARTITION BY user_id, date_trunc('day', ts)
         |    ORDER BY ts, event_id))
         |SELECT user_id, day,
         |  max(CASE WHEN rn = 1 THEN rv END) AS open,
         |  max(rv) AS high, min(rv) AS low,
         |  max(CASE WHEN rn = cnt THEN rv END) AS close,
         |  count(*) AS n_ticks,
         |  round(CAST(sum(v4) AS DOUBLE), 2) AS volume
         |FROM t GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,
    // the same 6-dp z-normalization + 10⁻⁴ distance ranking as the
    // Spark side; the z-normalized query pattern is interpolated from
    // the SAME Scala constants (SubqPattern)
    "e38_subsequence_match" -> {
      val qLit = SubqPattern.mkString("[", ", ", "]")
      s"""WITH s AS (SELECT user_id, ts, event_id, round(value, 2) AS v
         |  FROM events),
         |w AS (SELECT user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |    AS pos,
         |  list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN CURRENT ROW AND ${SubqM - 1} FOLLOWING) AS win
         |  FROM s),
         |f AS (SELECT user_id, pos, win,
         |  round(list_sum(win) / $SubqM, 6) AS mu
         |  FROM w WHERE len(win) = $SubqM),
         |g AS (SELECT user_id, pos, win, mu,
         |  round(sqrt(list_sum([(x - mu) * (x - mu) for x in win])
         |    / $SubqM), 6) AS sd FROM f),
         |h AS (SELECT user_id, CAST(pos AS BIGINT) AS pos,
         |  round(list_sum([
         |    (round((win[i] - mu) / sd, 6) - ($qLit)[i])
         |    * (round((win[i] - mu) / sd, 6) - ($qLit)[i])
         |    for i in range(1, ${SubqM + 1})]), 4) AS dist
         |  FROM g WHERE sd > 0)
         |SELECT user_id, pos, dist FROM h
         |ORDER BY dist, user_id, pos LIMIT 10""".stripMargin
    },
    "e36_asof_nearest" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |cand AS (SELECT purchase_id, view_id, view_ts,
        |  abs(epoch_us(view_ts) - epoch_us(purchase_ts)) AS delta_us,
        |  row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY abs(epoch_us(view_ts) - epoch_us(purchase_ts)),
        |      view_ts DESC, view_id DESC) AS rn
        |  FROM p JOIN v USING (user_id)
        |  WHERE view_ts >= purchase_ts - INTERVAL 60 MINUTE
        |    AND view_ts <= purchase_ts + INTERVAL 60 MINUTE)
        |SELECT p.purchase_id, p.user_id, p.purchase_ts,
        |  c.view_id, c.view_ts, CAST(c.delta_us AS BIGINT) AS delta_us
        |FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
        |  USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,
    "e34_gap_fill" ->
      """SELECT event_id, user_id, event_type,
        |last_value(CASE WHEN event_type = 'purchase'
        |    THEN round(value, 2) END IGNORE NULLS)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,
    // twap's floor-div is the EXPLICIT Det.sql.fdiv mirror: a negative
    // wsum under bare DuckDB // (truncating) would disagree with the
    // Spark side's Det.fdiv floor
    "e35_time_weighted_avg" ->
      s"""WITH d AS (SELECT user_id,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) - epoch_us(ts) AS dur_us
        |  FROM events),
        |a AS (SELECT user_id, sum(cents * dur_us) AS wsum,
        |  sum(dur_us) AS tot_us, count(*) AS n_intervals
        |  FROM d WHERE dur_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_intervals, CAST(tot_us AS BIGINT) AS tot_us,
        |  ${graft.functions.Det.sql.fdiv(
             "wsum * 200 + tot_us", "tot_us * 2")} / 10000.0 AS twap
        |FROM a ORDER BY user_id""".stripMargin,
    "e33_dynamic_sessions" ->
      s"""WITH g AS (SELECT user_id, ts, event_id, value,
         |  CASE event_type WHEN 'error' THEN INTERVAL 5 MINUTE
         |    WHEN 'purchase' THEN INTERVAL 30 MINUTE
         |    ELSE INTERVAL 2 HOUR END AS gap FROM events),
         |r AS (SELECT *, max(ts + gap) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM g),
         |f AS (SELECT *, CASE WHEN prev_end IS NULL OR ts >= prev_end
         |    THEN 1 ELSE 0 END AS new_s FROM r),
         |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f)
         |SELECT user_id, min(ts) AS s_start, max(ts + gap) AS s_end,
         |  count(*) AS n_events, ${D.dsum("value", "sum_value")}
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, s_start""".stripMargin,
    "e32_compaction_tombstones" ->
      """WITH r AS (SELECT user_id, event_id, ts, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id, ts, event_type,
        |  round(value, 2) AS value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "e31_scd2_versions" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_type FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS version,
        |  event_type AS status, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to
        |  FROM c)
        |SELECT user_id, version, status, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,
    "e25_window_navigation" ->
      """WITH t AS (SELECT user_id,
        |  make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS day,
        |  ts, event_id, event_type FROM events),
        |w AS (SELECT user_id, day,
        |  first_value(event_type) OVER win AS first_type,
        |  last_value(event_type) OVER win AS last_type,
        |  nth_value(event_id, 2) OVER win AS second_id,
        |  count(*) OVER win AS n,
        |  row_number() OVER (PARTITION BY user_id, day
        |    ORDER BY ts, event_id) AS rn
        |  FROM t
        |  WINDOW win AS (PARTITION BY user_id, day ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day, first_type, last_type, second_id, n FROM w
        |WHERE rn = 1 ORDER BY user_id, day""".stripMargin,
    "e22_skew_salted_join" ->
      s"""SELECT n_name, count(*) AS n_events,
         |count(DISTINCT user_id) AS n_users,
         |${D.dsum("value", "sum_value")}
         |FROM events e JOIN nation n ON e.user_id % 5 = n.n_nationkey
         |WHERE n.n_nationkey < 5
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "e21_promo_range_join" ->
      s"""WITH promos AS (SELECT p AS promo_id,
         |  TIMESTAMP '2024-01-01 06:00:00' + (p*3) * INTERVAL 1 DAY AS p_start,
         |  TIMESTAMP '2024-01-01 06:00:00' + (p*3) * INTERVAL 1 DAY
         |    + INTERVAL 36 HOUR AS p_end
         |  FROM (SELECT unnest(range(10)) AS p))
         |SELECT promo_id, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  ${D.dsum("value", "sum_value")}
         |FROM promos JOIN events e
         |  ON epoch_us(e.ts) >= epoch_us(p_start)
         |  AND epoch_us(e.ts) < epoch_us(p_end)
         |GROUP BY promo_id ORDER BY promo_id""".stripMargin,
    "e19_cogroup" ->
      """SELECT user_id,
        |count(*) FILTER (WHERE event_type = 'view') AS n_views,
        |count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
        |count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        |round(CAST(sum(CAST(value AS DECIMAL(18,4)))
        |  FILTER (WHERE event_type = 'purchase') AS DOUBLE), 2) AS purchase_value
        |FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "e18_rank_variants" ->
      """SELECT event_id, event_type,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |round(percent_rank() OVER w, 6) AS pr,
        |round(cume_dist() OVER w, 6) AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,
    "e01_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(len(json_keys(props))) AS BIGINT) AS total_keys,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |round(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) / CAST(count(*) AS DOUBLE), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e02_tumbling_daily" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS w_start,
         |event_type, count(*) AS n, ${D.dsum("value", "sum_value")}
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "e03_hopping_hourly" ->
      """WITH hopped AS (
        |  SELECT make_timestamp(((epoch_us(ts) // (1800*1000000)) - k) * 1800*1000000) AS w_start,
        |    event_type
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT w_start, event_type, count(*) AS n
        |FROM hopped GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "e04_session_windows" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_s
         |  FROM events),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged)
         |SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 2 HOUR AS s_end,
         |  count(*) AS n_events, ${D.dsum("value", "sum_value")}
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, s_start""".stripMargin,
    "e05_latest_by_key" ->
      """SELECT user_id, event_id, ts, event_type, round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "e06_view_to_purchase" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |round(p.value, 2) AS purchase_value
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,
    "e07_running_totals" ->
      """SELECT event_id, user_id, ts,
        |round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
        |  AS running_total
        |FROM events ORDER BY event_id""".stripMargin,
    "e08_event_gaps" ->
      """SELECT event_id, user_id, event_type,
        |lag(event_id, 1) OVER w AS prev_event_id,
        |epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us,
        |lead(event_id, 1) OVER w AS next_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "e09_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e10_user_pivot" ->
      """SELECT user_id,
        |count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
