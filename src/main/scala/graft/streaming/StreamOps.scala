package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp

/** The Structured Streaming runtime: the Kafka-Streams-shaped pipelines
  * (KStream aggregation, KTable materialization, windowing, dedup,
  * sessionization) expressed as `readStream` → transform → `writeStream`.
  *
  * Source contract: `eventsStream` reads the fixture parquet as a file
  * stream — the sandbox has no broker, so the source is swappable: in
  * production replace with
  * `spark.readStream.format("kafka").option("subscribe", topic)` +
  * `from_json(value)`; every transform below is source-agnostic.
  *
  * Scale notes: stateful operators keep per-key state in the state store
  * (RocksDB provider on a real cluster); watermarks bound state size, so
  * every stateful pipeline here requires one. Shuffle partitioning of
  * the state is by the grouping key — the same partition-by-key model as
  * Kafka Streams tasks, minus the fixed topic-partition coupling.
  */
case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

case class SessionOut(user_id: Long, s_start: Timestamp, s_end: Timestamp,
    n_events: Long)

object StreamOps
    extends StreamRuntime
    with StreamJoinOps
    with StreamAggOps
    with StreamIngestOps
    with StreamStateOps {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s40_restart_recovery" -> streamRestartRecovery _,
    "s41_foreach_exactly_once" -> streamForeachExactlyOnce _,
    "s42_queryable_state" -> streamQueryableState _,
    "s43_state_bootstrap" -> streamStateBootstrap _,
    "s44_state_evolution" -> streamStateEvolution _,
    "s45_stream_sliding_mau" -> streamSlidingMau _,
    "s46_stream_binned_median" -> streamBinnedMedian _,
    "s47_stream_embed_neardup" -> streamEmbedNearDup _,
    "s48_stream_serve_topk" -> streamServeTopK _,
    "s49_stream_count_min" -> streamCountMin _,
    "s50_stream_serve_tombstones" -> streamServeTombstones _,
    "s51_stream_shard_manifest" -> streamShardManifest _,
    "s35_foreach_counts" -> streamForeachCounts _,
    "s34_stream_ivf_assign" -> streamIvfAssign _,
    "s29_stream_index"    -> streamInvertedIndex _,
    "s01_stream_tumbling" -> streamTumbling _,
    "s02_stream_latest"   -> streamLatest _,
    "s03_stream_dedup"    -> streamDedup _,
    "s04_stream_hopping"  -> streamHopping _,
    "s05_stream_join"     -> streamViewPurchase _,
    "s06_stream_left_join" -> streamViewPurchaseLeft _,
    "s07_fk_join_batch"   -> fkJoinBatch _,
    "s08_stream_dim_enrich" -> streamDimEnrich _,
    "s09_stream_sessions" -> streamSessionWindows _,
    "s10_fk_changelog_stream" -> streamFkChangelog _,
    "s11_stream_distinct" -> streamDistinctUsers _,
    "s12_stream_cogroup"  -> streamCogroup _,
    "s13_stream_outer_join" -> streamViewPurchaseOuter _,
    "s14_stream_table_join" -> streamTableJoin _,
    "s15_stream_table_update" -> streamTableUpdateJoin _,
    "s16_stream_range_join" -> streamRangeJoin _,
    "s17_stream_salted_agg" -> streamSaltedAgg _,
    "s18_stream_topn"       -> streamTopN _,
    "s19_stream_quarantine" -> streamCorruptQuarantine _,
    "s20_stream_merge"      -> streamMerge _,
    "s21_stream_pipeline"   -> streamPipeline _,
    "s22_fmgws_sessions"    -> streamFmgwsSessions _,
    "s23_bounded_trigger"   -> streamBoundedTrigger _,
    "s24_stream_neardup"    -> streamNearDup _,
    "s25_stream_asof"       -> streamAsOfJoin _,
    "s26_stream_novelty"    -> streamNovelty _,
    "s27_stream_semi_join"  -> streamViewPurchaseSemi _,
    "s28_stream_dyn_sessions" -> streamDynamicSessions _,
    "s30_stream_anomaly"    -> streamRollingAnomaly _,
    "s31_stream_cusum"      -> streamCusum _,
    "s32_timer_sessions"    -> streamTimerSessions _,
    "s33_sink_roundtrip"    -> streamSinkRoundtrip _,
    "s36_stream_funnel"     -> streamFunnel _,
    "s37_stream_attribution" -> streamAttribution _,
    "s38_late_data"         -> streamLateData _,
    "s39_stream_cdc"        -> streamCdcDiff _,
  )

  private val E = graft.operators.Events
  private val D = graft.functions.Det.sql

  /** s35's per-type count + decimal sum, which s41 declares too. */
  private val foreachCountsOracle =
    s"""SELECT event_type, count(*) AS n,
       |${D.dsum("value", "sum_value")}
       |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    // the e44 batch oracle verbatim: incremental funnel assembly across
    // the three time-partitioned batches must equal the whole-month
    // window-chain result
    "s36_stream_funnel" ->
      E.oracles("e44_funnel_stages"),
    // the e47 batch oracle verbatim: incremental latest-click state
    // across the three time-partitioned batches must equal the
    // whole-month LOCF window
    "s37_stream_attribution" ->
      E.oracles("e47_attribution"),
    // the d49 oracle minus the removed row — arrival-side CDC cannot
    // see keys that never re-appear; split-rule literals interpolate
    // from the same Scala constants as the batch oracle
    "s39_stream_cdc" -> {
      val T = graft.operators.TextOps
      s"""WITH d AS (SELECT doc_id AS k, text,
         |    CAST(n_chars AS BIGINT) AS n_chars FROM documents),
         |o AS (SELECT k, md5(text) AS old_h, n_chars AS old_chars FROM d
         |  WHERE k % ${T.SnapOldMod} <> ${T.SnapOldMod - 1}),
         |n AS (SELECT k,
         |    md5(CASE WHEN k % ${T.SnapEditMod} = 0 THEN text || ' v2'
         |      ELSE text END) AS new_h,
         |    CASE WHEN k % ${T.SnapEditMod} = 0 THEN n_chars + 3
         |      ELSE n_chars END AS new_chars
         |  FROM d WHERE k % ${T.SnapNewMod} <> ${T.SnapNewMod - 1}),
         |j AS (SELECT n.k, old_h, new_h, old_chars, new_chars,
         |    CASE WHEN old_h IS NULL THEN 'added'
         |      WHEN old_h = new_h THEN 'unchanged'
         |      ELSE 'changed' END AS status
         |  FROM n LEFT JOIN o ON o.k = n.k)
         |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(COALESCE(new_chars, 0)) AS BIGINT) AS new_chars,
         |  CAST(sum(COALESCE(old_chars, 0)) AS BIGINT) AS old_chars,
         |  CAST(min(k) AS BIGINT) AS min_key
         |FROM j GROUP BY status ORDER BY status""".stripMargin
    },
    // the empirically-pinned drop rule replayed relationally: batch =
    // event_id % 3, watermark_b = running max event time of PRIOR
    // batches − 2 days, keep iff daily window END > watermark
    "s38_late_data" ->
      """WITH e AS (SELECT event_id % 3 AS b, epoch_us(ts) AS tus,
        |    event_type FROM events),
        |mx AS (SELECT b, max(tus) AS mts FROM e GROUP BY b),
        |wm AS (SELECT b, max(mts) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |    - 2 * 86400000000 AS wm_us FROM mx),
        |fin AS (SELECT max(tus) - 2 * 86400000000 AS fwm FROM e),
        |k AS (SELECT e.tus, e.event_type FROM e JOIN wm USING (b)
        |  WHERE wm.wm_us IS NULL
        |    OR ((e.tus // 86400000000) + 1) * 86400000000 > wm.wm_us)
        |SELECT make_timestamp((tus // 86400000000) * 86400000000) AS w_start,
        |  event_type, count(*) AS n
        |FROM k CROSS JOIN fin
        |WHERE ((tus // 86400000000) + 1) * 86400000000 <= fin.fwm
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    // the side-effect store must reconstruct the full per-type
    // aggregate: counts + the Det.dsum decimal-sum contract
    "s35_foreach_counts" -> foreachCountsOracle,
    // s35's contract under a FORCED duplicate batch delivery: the
    // batchId-idempotent store must absorb the replay, so the rebuilt
    // aggregate still equals the whole-table truth
    "s41_foreach_exactly_once" -> foreachCountsOracle,
    // shares v07's index-definition CTE text + cosine fragment; the
    // centroid round(c, 6) is the v09 Lloyd determinism contract
    "s34_stream_ivf_assign" -> {
      val V = graft.operators.VectorOps
      val c = V.cos("e.v", "cvr.cvv")
      s"""WITH ${V.ivfCentCte},
         |cvr AS (SELECT c_label, list(round(c, 6) ORDER BY i) AS cvv
         |  FROM cent GROUP BY 1),
         |ac AS (SELECT e.vec_id, cvr.c_label, $c AS ccos,
         |  row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY $c DESC, cvr.c_label) AS rn
         |  FROM e CROSS JOIN cvr)
         |SELECT vec_id, c_label AS cell, round(ccos, 6) AS ccos
         |FROM ac WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },
    // the e39 batch oracle verbatim: streaming incremental assembly of
    // the trailing-20 window must reproduce the batch window sort
    "s30_stream_anomaly" ->
      E.oracles("e39_rolling_anomaly"),
    // the e04 batch oracle verbatim: timer-closed sessions must equal
    // the retrospective gaps-and-islands result (s09/s22's contract)
    "s32_timer_sessions" ->
      E.oracles("e04_session_windows"),
    // fixed-baseline CUSUM via the same prefix-sum identity as e41's
    // oracle, restricted to the monitor window; c goes HUGEINT mid-CTE,
    // the output is r4's DOUBLE (the d29/d30 lesson)
    "s31_stream_cusum" ->
      s"""WITH base AS (SELECT user_id, count(*) AS n0,
         |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS s0
         |  FROM events WHERE ts < TIMESTAMP '$CusumCut'
         |  GROUP BY user_id),
         |mon AS (SELECT e.user_id, e.ts, e.event_id,
         |    CAST(round(e.value * 100, 0) AS BIGINT) AS cents, b.n0, b.s0
         |  FROM events e JOIN base b ON b.user_id = e.user_id
         |  WHERE e.ts >= TIMESTAMP '$CusumCut'),
         |p AS (SELECT user_id, ts, event_id, n0,
         |    sum(n0 * cents - s0) OVER win AS p
         |  FROM mon
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING)),
         |cu AS (SELECT user_id, ts, event_id, n0,
         |    p - least(0, min(p) OVER win) AS c
         |  FROM p
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING)),
         |r AS (SELECT user_id, ts, event_id, n0, c,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY c DESC, ts, event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n_mon
         |  FROM cu)
         |SELECT user_id, n0 AS n_base, n_mon,
         |  ${graft.functions.Det.sql.r4("c", "n0 * 100")} AS cusum_max,
         |  ts AS cp_ts, event_id AS cp_event_id
         |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the d37 top-CTE truth (no postings): the streamed index snapshot
    // must equal the whole-corpus batch computation
    "s29_stream_index" ->
      """WITH tf AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(str_split(text, ' ')) AS term
        |   FROM documents) GROUP BY term, doc_id)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
        |FROM tf GROUP BY term ORDER BY df DESC, term LIMIT 50""".stripMargin,
    // e33's oracle text verbatim: streaming assembly must equal batch
    "s28_stream_dyn_sessions" ->
      E.oracles("e33_dynamic_sessions"),
    // streaming EXISTS: views with at least one purchase in-window
    "s27_stream_semi_join" ->
      """SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts
        |FROM events v
        |WHERE v.event_type = 'view' AND EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = v.user_id AND p.ts >= v.ts
        |    AND p.ts <= v.ts + INTERVAL 60 MINUTE)
        |ORDER BY view_id""".stripMargin,
    // d30's shingle CTE text, odd docs probing the even-doc vocabulary
    "s26_stream_novelty" ->
      """WITH t0 AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents
        |  WHERE len(str_split(text, ' ')) >= 3),
        |tok AS (SELECT doc_id, unnest(list_distinct([toks[g] || ' ' || toks[g+1] || ' ' || toks[g+2]
        |  for g in range(1, len(toks) - 1)])) AS s FROM t0),
        |old AS (SELECT DISTINCT s FROM tok WHERE doc_id % 2 = 0)
        |SELECT t.doc_id, count(*) AS n_grams,
        |  count(*) - count(o.s) AS n_novel,
        |(((count(*) - count(o.s)) * 20000 + count(*)) // (count(*) * 2)) / 10000.0
        |  AS novelty
        |FROM tok t LEFT JOIN old o ON o.s = t.s
        |WHERE t.doc_id % 2 = 1 GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // left-outer as-of: latest view at-or-before each purchase, per user
    "s25_stream_asof" ->
      """WITH q AS (SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view'),
        |t AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT t.event_id AS trade_id, t.user_id, t.ts AS trade_ts,
        |  q.ts AS quote_ts, q.value AS quote_value,
        |  row_number() OVER (PARTITION BY t.event_id
        |    ORDER BY q.ts DESC, q.event_id DESC) AS rn
        |  FROM t LEFT JOIN q ON q.user_id = t.user_id AND q.ts <= t.ts)
        |SELECT trade_id, user_id, trade_ts, quote_ts, quote_value
        |FROM j WHERE rn = 1 ORDER BY trade_id""".stripMargin,
    // the d06 band CTE (shared text), odd docs probing even-doc buckets
    "s24_stream_neardup" ->
      s"""WITH ${graft.operators.TextOps.mhBandsCte},
         |old AS (SELECT band, bh, min(doc_id) AS min_old FROM bands
         |  WHERE doc_id % 2 = 0 GROUP BY band, bh),
         |nw AS (SELECT b.doc_id, o.min_old FROM bands b
         |  JOIN old o ON b.band = o.band AND b.bh = o.bh
         |  WHERE b.doc_id % 2 = 1)
         |SELECT doc_id AS new_doc, min(min_old) AS dup_of,
         |  count(*) AS matched_bands
         |FROM nw GROUP BY doc_id ORDER BY new_doc""".stripMargin,
    // v30's oracle VERBATIM: the streamed-ingest index must serve the
    // batch truth (see streamServeTopK's scaladoc)
    "s48_stream_serve_topk" ->
      graft.operators.VectorOps.retrievalPipelineSql,
    // v30's pipeline over corpus ∖ tombstones, the tombstone set
    // derived relationally as the full pipeline's top-TombK served ids
    // — the streamed index (ingest → delete → compaction replay) must
    // serve the batch truth of the REDUCED corpus
    "s50_stream_serve_tombstones" ->
      graft.operators.VectorOps.retrievalPipelineTombstonedSql,
    // x05's oracle VERBATIM: the streamed CMS must serve the batch
    // truth (see streamCountMin's scaladoc)
    "s49_stream_count_min" ->
      graft.operators.Extras.countMinSql,
    // d57's oracle VERBATIM: the shard cells folded through streaming
    // state must serve the batch manifest (see streamShardManifest's
    // scaladoc)
    "s51_stream_shard_manifest" ->
      graft.operators.TextOps.shardManifestSql,
    // v08's band CTE (shared text), odd vecs probing even-vec buckets;
    // candidates are the per-bucket min corpus vec (the s24 contract),
    // then exact-cosine verified at v08's threshold
    "s47_stream_embed_neardup" ->
      s"""WITH ${graft.operators.VectorOps.lshBandsCteSql},
         |old AS (SELECT b, code, min(vec_id) AS min_old FROM bands
         |  WHERE vec_id % 2 = 0 GROUP BY b, code),
         |cand AS (SELECT DISTINCT o.min_old AS d1, nb.vec_id AS d2
         |  FROM bands nb JOIN old o ON nb.b = o.b AND nb.code = o.code
         |  WHERE nb.vec_id % 2 = 1)
         |SELECT d1, d2,
         |  round(${graft.operators.VectorOps.cos("ea.v", "eb.v")}, 6) AS cos
         |FROM cand JOIN e ea ON ea.vec_id = d1 JOIN e eb ON eb.vec_id = d2
         |WHERE ${graft.operators.VectorOps.cos("ea.v", "eb.v")} >= 0.4
         |ORDER BY d1, d2""".stripMargin,
    // parquet side contributes every row, JSON side all non-corrupt rows
    "s20_stream_merge" ->
      """SELECT event_type,
        |count(*) + count(*) FILTER (WHERE event_id % 97 <> 0) AS n,
        |round(CAST(sum(CAST(value AS DECIMAL(18,4)))
        |  + sum(CASE WHEN event_id % 97 <> 0 THEN CAST(value AS DECIMAL(18,4))
        |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same arithmetic as e26's batch oracle — the stream must quarantine
    // exactly the rows the batch parser does
    "s19_stream_quarantine" ->
      """SELECT coalesce(CASE WHEN event_id % 97 = 0 THEN NULL
        |  ELSE event_type END, '_corrupt') AS bucket,
        |count(*) AS n,
        |count(*) FILTER (WHERE event_id % 97 = 0) AS n_corrupt,
        |round(CAST(sum(CASE WHEN event_id % 97 = 0
        |  THEN CAST(0 AS DECIMAL(18,4))
        |  ELSE CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "s18_stream_topn" ->
      """SELECT event_type, rank, event_id, round(value, 2) AS value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM events) t
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "s17_stream_salted_agg" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS w_start,
         |event_type, count(*) AS n_events, ${D.dsum("value", "sum_value")}
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "s16_stream_range_join" ->
      """WITH promos AS (SELECT p AS promo_id,
        |  TIMESTAMP '2024-01-01 06:00:00' + (p*3) * INTERVAL 1 DAY AS p_start,
        |  TIMESTAMP '2024-01-01 06:00:00' + (p*3) * INTERVAL 1 DAY
        |    + INTERVAL 36 HOUR AS p_end
        |  FROM (SELECT unnest(range(10)) AS p))
        |SELECT event_id, promo_id, user_id, round(value, 2) AS value
        |FROM events e JOIN promos
        |  ON epoch_us(e.ts) >= epoch_us(p_start)
        |  AND epoch_us(e.ts) < epoch_us(p_end)
        |ORDER BY event_id, promo_id""".stripMargin,
    "s11_stream_distinct" ->
      """SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS w_start,
        |count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    "s12_stream_cogroup" -> E.oracles("e19_cogroup"),
    "s23_bounded_trigger" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
         |  AS w_start, count(*) AS n,
         |${D.dsum("value", "sum_value")}
         |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    // e04's gaps-and-islands session SQL minus the value sum (the
    // custom state machine tracks (start, end, count) per session)
    "s22_fmgws_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 2 HOUR AS s_end,
        |  count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,
    // dedup is a no-op on the fixture (unique event_ids) but exercises
    // the chained state store; the oracle is the batch equivalent of
    // the whole filter→enrich→window chain
    "s21_stream_pipeline" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
         |  AS w_start, n_name, count(*) AS n_events,
         |${D.dsum("value", "sum_value")}
         |FROM events JOIN nation ON user_id % 25 = n_nationkey
         |WHERE event_type IN ('view', 'click', 'purchase')
         |GROUP BY 1, 2 ORDER BY w_start, n_name""".stripMargin,
    "s01_stream_tumbling" -> E.oracles("e02_tumbling_daily"),
    // the same tumbling contract, but the execution provably crosses a
    // checkpoint restart: run 1 consumes a time-ordered prefix and
    // terminates, run 2 restarts from the checkpoint and finishes; the
    // mid-day batch cuts make the recovered window state load-bearing
    "s40_restart_recovery" -> E.oracles("e02_tumbling_daily"),
    // the same tumbling contract, but the result ARRIVES through a real
    // file sink (writeStream.format("parquet")) and is read back from
    // the sink's output files — the to(topic)/sink row of §2 under the
    // hash gate, not just a spec
    "s33_sink_roundtrip" -> E.oracles("e02_tumbling_daily"),
    "s02_stream_latest" -> E.oracles("e05_latest_by_key"),
    // the same latest-by-key truth, but the rows come from an
    // OUT-OF-BAND read of the terminated query's RocksDB store via the
    // state data source (Interactive Queries): a stale or lossy store
    // diverges from the batch changelog reduction
    "s42_queryable_state" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the warm-start identity: snapshot(first half) folded with
    // increments(second half) must equal the full-replay per-user
    // totals — additive, so a lost/duplicated snapshot row flips the
    // hash on that key
    "s43_state_bootstrap" ->
      """SELECT user_id, count(*) AS n_events,
        |CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the rolling-upgrade identity: v1 state (first half) reinterpreted
    // by the widened v2 schema + v2 increments (second half) ≡ full
    // counts with the new metric counted from the upgrade instant only
    "s44_state_evolution" ->
      """SELECT user_id, count(*) AS n_events,
        |CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        |CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 09:30:00'
        |  THEN CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT) AS cents_new
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // e54's median half verbatim (bins → cumsum → type-1 read-off with
    // intra-bin interpolation): the streamed monoid bins must reproduce
    // the batch formula exactly
    "s46_stream_binned_median" ->
      s"""WITH j AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
        |b1 AS (SELECT event_type,
        |    c // ${graft.operators.Events.MadBinCents} AS bin,
        |    CAST(count(*) AS BIGINT) AS bc FROM j GROUP BY 1, 2),
        |c1 AS (SELECT event_type, bin, bc,
        |    sum(bc) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(bc) OVER (PARTITION BY event_type) AS n FROM b1),
        |m AS (SELECT event_type, CAST(n AS BIGINT) AS n,
        |    bin * ${graft.operators.Events.MadBinCents}
        |      + ((((n+1)//2) - (cum - bc))
        |      * ${graft.operators.Events.MadBinCents}) // bc AS mc
        |  FROM c1 WHERE cum >= (n+1)//2 AND cum - bc < (n+1)//2)
        |SELECT event_type, n,
        |  ${graft.functions.Det.sql.r4("mc", "100")} AS approx_median
        |FROM m ORDER BY event_type""".stripMargin,
    // e51's mau7 columns: trailing-7-day distinct users for each day
    // with activity (DATE + integer = DATE in DuckDB)
    "s45_stream_sliding_mau" ->
      """WITH p AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    user_id FROM events),
        |days AS (SELECT DISTINCT d AS day FROM p),
        |x AS (SELECT dd.day, p.user_id
        |  FROM p JOIN days dd ON dd.day BETWEEN p.d AND p.d + 6)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau7
        |FROM x GROUP BY day ORDER BY day""".stripMargin,
    "s03_stream_dedup" ->
      """SELECT event_id, user_id, ts, event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "s04_stream_hopping" -> E.oracles("e03_hopping_hourly"),
    "s05_stream_join" -> E.oracles("e06_view_to_purchase"),
    "s06_stream_left_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |round(p.value, 2) AS purchase_value
        |FROM events v LEFT JOIN events p ON v.user_id = p.user_id
        |AND p.event_type = 'purchase'
        |AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
        |WHERE v.event_type = 'view'
        |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin,
    "s13_stream_outer_join" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts,
        |  value FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, p.purchase_id,
        |coalesce(v.user_id, p.p_user) AS user_id,
        |round(p.value, 2) AS purchase_value
        |FROM v FULL JOIN p ON v.user_id = p.p_user
        |AND p.p_ts >= v.ts AND p.p_ts <= v.ts + INTERVAL 60 MINUTE
        |ORDER BY view_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,
    "s15_stream_table_update" ->
      """SELECT event_id, user_id, event_type,
        |CASE WHEN event_id % 2 = 0 THEN 'OLD_' || n_name ELSE n_name END
        |  AS dim_name
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |ORDER BY event_id""".stripMargin,
    "s14_stream_table_join" ->
      """WITH latest AS (SELECT user_id, event_type AS last_type,
        |  round(value, 2) AS last_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |  WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.event_type, l.last_type, l.last_value
        |FROM events e JOIN latest l USING (user_id)
        |ORDER BY event_id""".stripMargin,
    "s07_fk_join_batch" ->
      """SELECT c_custkey AS left_key, CAST(c_nationkey AS BIGINT) AS fk,
        |c_name AS left_val, n_name AS right_val
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY left_key""".stripMargin,
    "s08_stream_dim_enrich" ->
      """SELECT event_id, user_id, n_name, round(value, 2) AS value
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |ORDER BY event_id""".stripMargin,
    "s09_stream_sessions" -> E.oracles("e04_session_windows"),
    "s10_fk_changelog_stream" ->
      """SELECT c_custkey AS left_key, CAST(c_nationkey AS BIGINT) AS fk,
        |c_name AS left_val,
        |unnest(['OLD_' || n_name, n_name]) AS right_val
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY left_key, right_val""".stripMargin,
  )
}
