package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.cosine

/** The INGEST-FACE seam of [[StreamOps]]: the streaming twins of the
  * batch pillars — near-dup (text/embedding), novelty, inverted index,
  * anomaly/CUSUM monitoring, funnel, attribution, CDC, the serving
  * capstone, and the monoid-fold sketch ingests (binned median,
  * count-min). Every face folds arriving data into bounded state and
  * never rescans the ingested corpus. */
trait StreamIngestOps extends StreamRuntime {

  /** s24: INCREMENTAL near-dup ingest — the streaming face of the d06
    * MinHash/LSH pipeline, driven as two mtime-ordered micro-batches:
    *   batch 0 — the "existing corpus" (even doc_ids): every corpus
    *     doc's 4 LSH band buckets fold into per-bucket state;
    *   batch 1 — the "incoming crawl" (odd doc_ids): each new doc
    *     probes its own 4 buckets against that state.
    * The declared result is, per incoming doc that hit ≥ 1 occupied
    * bucket: the minimum corpus doc sharing any band (min over buckets
    * of the per-bucket minimum = min of the union) and how many of its
    * 4 bands matched. The oracle recomputes the same bands in SQL
    * ([[graft.operators.TextOps.mhBandsCte]] — shared text, zero
    * drift) and joins odd against even, so what the hash verifies is
    * the incremental contract itself: state must hold exactly the
    * corpus batch, and probes must not see other incoming docs.
    *
    * Scale design: this is THE shape for deduping new data against an
    * already-ingested 100 TB corpus — the corpus is never rescanned; it
    * exists only as ≤ 4-buckets-per-doc state (RocksDB, one Long per
    * occupied bucket), and each incoming doc costs 4 point lookups. */
  def streamNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s24", sfDir) {
      val bands = graft.operators.TextOps.lshBands(spark, sfDir)
        .select(concat_ws(":", col("band"), col("bh")).as("bucket"),
          col("doc_id"))
      def side(tag: String) = lit(tag).as("side")
      Seq(
        bands.filter(col("doc_id") % 2 === 0)
          .select(col("bucket"), side("O"), col("doc_id")),
        bands.filter(col("doc_id") % 2 === 1)
          .select(col("bucket"), side("N"), col("doc_id")))
    }
    val events = changelogStream(spark, dirStr,
      "bucket STRING, side STRING, doc_id BIGINT")
      .as[BandEvent]
    val stream = processed(events.groupByKey(_.bucket), new NearDupProcessor)
    runToMemory(stream, "graft_s24", "update")
      .groupBy(col("new_doc"))
      .agg(min(col("dup_of")).as("dup_of"),
        count(lit(1)).as("matched_bands"))
      .orderBy(col("new_doc"))
  }

  /** s47: INCREMENTAL EMBEDDING near-dup ingest — the streaming face of
    * v08's sign-LSH (r10 verdict item 3: the one streaming seam left
    * unpaired — text near-dup has s24, media m08, embeddings had no
    * ingest face). Two mtime-ordered micro-batches over the SAME
    * `graft_lsh_bands` index definition as v08 (8 bands × 8 md5-parity
    * hyperplanes, the codegen'd LshBandCodes pass):
    *   batch 0 — the "existing corpus" (even vec_ids): each corpus
    *     vector's 8 (band, code) buckets fold into per-bucket state;
    *   batch 1 — the "incoming embeddings" (odd vec_ids): each new
    *     vector probes its own 8 buckets with point lookups.
    * Candidates — (per-bucket min corpus vec, incoming vec), the s24
    * bounded-state contract — are then EXACT-COSINE verified (the LSH
    * collision is a hint; the declared match is cos ≥ 0.4, v08's
    * threshold) in one batch enrichment join over the emitted pairs.
    * The oracle shares v08's band CTE text verbatim
    * ([[graft.operators.VectorOps.lshBandsCteSql]]) and replays the
    * probe as odd-against-even SQL, so the hash verifies the
    * incremental contract itself: state must hold exactly the corpus
    * batch, probes must not see other incoming vectors, and the
    * verify must not drop or invent candidates.
    *
    * Scale design: the 100 TB corpus is never rescanned — it exists
    * only as ONE Long per occupied band bucket (≤ 8 rows per corpus
    * vector, RocksDB; StateBoundSpec pins the bound), each incoming
    * vector costs 8 point lookups, and the cosine verify touches only
    * emitted candidates (≤ 8 per incoming vector before distinct) —
    * probe-bounded end to end, the same reason v08 itself never
    * nested-loops. */
  def streamEmbedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s47", sfDir) {
      val bands = graft.operators.VectorOps.bandCodes(spark, sfDir)
        .select(concat_ws(":", col("band"), col("code")).as("bucket"),
          col("vec_id"))
      def side(tag: String) = lit(tag).as("side")
      Seq(
        bands.filter(col("vec_id") % 2 === 0)
          .select(col("bucket"), side("O"), col("vec_id").as("doc_id")),
        bands.filter(col("vec_id") % 2 === 1)
          .select(col("bucket"), side("N"), col("vec_id").as("doc_id")))
    }
    val events = changelogStream(spark, dirStr,
      "bucket STRING, side STRING, doc_id BIGINT")
      .as[BandEvent]
    val stream = processed(events.groupByKey(_.bucket), new NearDupProcessor)
    val cand = runToMemory(stream, "graft_s47", "update")
      .select(col("dup_of").as("d1"), col("new_doc").as("d2"))
      .distinct()
    // exact-cosine verify — batch enrichment over the streamed
    // candidates only (both joins are candidate-sized, never corpus²)
    val e = graft.operators.VectorOps.embDouble(spark, sfDir)
    cand
      .join(e.select(col("vec_id").as("d1"), col("v").as("v1")), "d1")
      .join(e.select(col("vec_id").as("d2"), col("v").as("v2")), "d2")
      .withColumn("cos", cosine($"v1", $"v2"))
      .filter($"cos" >= 0.4)
      .select($"d1", $"d2", round($"cos", 6).as("cos"))
      .orderBy($"d1", $"d2")
  }

  /** The s48/s50 ingest-side projection over a raw vector stream
    * (`vec_id`, `v`, plus any extra columns, which ride through): en
    * PRE-filter (stream-static broadcast join, v25's discipline),
    * broadcast rounded-centroid argmax cell assignment (s34's shape),
    * and query-cosine scoring — the bounded model artifacts (k×64
    * rounded centroids, the 64-double query vector) ride the closure,
    * the stream never shuffles here. ONE definition so the serving
    * capstone and its deletion face cannot drift. */
  private def serveIngestProjection(spark: SparkSession, sfDir: String,
      raw: DataFrame): DataFrame = {
    import spark.implicits._
    val e = graft.operators.VectorOps.embDouble(spark, sfDir)
    val cents = graft.operators.VectorOps.labelCentroidsRounded(spark, sfDir)
    val qv = e.filter($"vec_id" === 0)
      .select($"v").head().getSeq[Double](0).toArray
    val allowed = graft.Tables.documents(spark, sfDir)
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val scored = cents.map { case (cl, c) =>
      struct(cosine($"v", typedlit(c)).as("c"), lit(-cl).as("nl"))
    }
    raw.filter($"vec_id" =!= 0)
      .join(broadcast(allowed), "vec_id") // stream-static PRE-filter
      .withColumn("m", array_max(array(scored: _*)))
      .withColumn("cell", (-$"m.nl").cast("string"))
      .withColumn("value", round(cosine($"v", typedlit(qv)), 6))
  }

  /** The s48/s50 SERVE phase: per-cell buffers out of a `topn`-shaped
    * statestore checkpoint at an explicit committed batchId (the
    * s42/s43 interactive-query discipline), probe-cell selection, then
    * v30's suppression + top-5 over the ≤ DivProbe·DivCap
    * config-bounded tail. */
  private def serveTopKFromStore(spark: SparkSession, sfDir: String,
      ckStr: String): DataFrame = {
    import spark.implicits._
    val DivProbe = graft.operators.VectorOps.DivProbe
    val ServeTau = graft.operators.VectorOps.ServeTau
    val e = graft.operators.VectorOps.embDouble(spark, sfDir)
    val buffers = readState(spark, ckStr, "topn")
      .select($"key.value".cast("int").as("cell"),
        $"value.ids".as("ids"), $"value.vals".as("vals"))
      .select($"cell", posexplode(arrays_zip($"ids", $"vals")))
      .select($"cell", $"col.ids".as("vec_id"), $"col.vals".as("cos"))
    val probes = graft.operators.VectorOps.probeCells(spark, sfDir,
        DivProbe, graft.operators.VectorOps.queryVecDf(spark, sfDir))
      .select($"probe_cell")
    val ranked = buffers
      .join(broadcast(probes), $"cell" === $"probe_cell")
      .join(e.select($"vec_id", $"v"), "vec_id")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("cos"), $"vec_id")).cast("long"))
    val sup = ranked.as("a")
      .join(broadcast(ranked.as("b")), col("a.r") < col("b.r"))
      .filter(cosine(col("a.v"), col("b.v")) >= ServeTau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    ranked.join(sup, Seq("vec_id"), "left_anti")
      .orderBy($"r")
      .limit(5)
      .select($"vec_id", $"cell", $"cos")
  }

  /** s48: the STREAMING SERVING capstone — v30's ingest face (r10
    * verdict item 7). The production retrieval loop is ingest → index
    * update → serve; v30 serves a STATIC index. This query closes the
    * loop as two phases over the same corpus:
    *
    * PHASE 1 (ingest/index update): the embeddings arrive as two
    * mtime-ordered micro-batches. In-stream, each vector is (a)
    * en-PRE-filtered against the documents table (v25's
    * filter-before-rank discipline, a stream-static join), (b)
    * assigned its IVF cell by argmax against the broadcast
    * 6-dp-rounded centroid model — s34's streaming-assignment shape —
    * and (c) scored against the query vector (same `graft_cosine`,
    * same round-6 as v30's candidate stage). Per cell, a
    * [[TopNProcessor]] (s18's bounded leaderboard, n = DivCap) folds
    * the scored vectors into ValueState: the state IS the serving
    * index — per-cell top-DivCap, updated as batches land, never a
    * corpus log (StateBoundSpec pins rows == occupied cells).
    *
    * PHASE 2 (serve): the store is read OUT-OF-BAND at the last
    * committed batchId (the s42/s43 interactive-query discipline — no
    * streaming query running), the query's DivProbe nearest cells
    * select which per-cell buffers serve, and v30's stages 4–5 run on
    * the ≤ DivProbe·DivCap surviving rows: ServeTau near-dup
    * suppression (broadcast-fed NL over a config-bounded pair matrix)
    * and the final top-5.
    *
    * The oracle IS v30's oracle — [[graft.operators.VectorOps
    * .retrievalPipelineSql]], shared verbatim — so the hash asserts
    * the full loop: a lost batch, a mis-assigned cell, a buffer that
    * evicted the wrong candidate, a stale-batchId read, or a drifted
    * suppression all surface as the served top-5 diverging from the
    * batch truth.
    *
    * Scale design: per-batch work is one pass over ARRIVING vectors
    * (codegen'd argmax over k broadcast centroids + one bounded fold);
    * state is cells × DivCap rows — config-bounded, not corpus-bounded;
    * the serve path touches DivProbe buffers and a ≤ 12-row tail. The
    * corpus is never rescanned after ingest. */
  def streamServeTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val DivCap = graft.operators.VectorOps.DivCap
    val e = graft.operators.VectorOps.embDouble(spark, sfDir)
    val ckStr = cachedScratchDir("s48", sfDir) {
      val in = newTempDir("graft_s48_in")
      val src = e.select($"vec_id", $"v")
      def half(i: Int) = src.filter(pmod($"vec_id", lit(2L)) === i)
      (0 to 1).foreach(i => writeChangelogFile(half(i), in, i))
      foldIntoStore(processed(serveIngestProjection(spark, sfDir,
          changelogStream(spark, in.toString, "vec_id BIGINT, v ARRAY<DOUBLE>"))
        .select($"cell".as("event_type"), $"vec_id".as("event_id"), $"value")
        .as[TopNEvent]
        .groupByKey(_.event_type), new TopNProcessor(DivCap)), "graft_s48")
    }
    serveTopKFromStore(spark, sfDir, ckStr)
  }

  /** s50: INDEX DELETION / TOMBSTONE MAINTENANCE — the one production
    * seam s48's insert-only serving index leaves open (r11 verdict
    * item 2): deleted docs, GDPR erasure, recrawl supersedence. The
    * sequence a real serving index runs, as three mtime-ordered
    * micro-batches over [[TombstoneIndexProcessor]] state:
    *
    *   batch 0 — full-corpus ingest: s48's scored events (shared
    *     [[serveIngestProjection]]) fold into per-cell top-DivCap
    *     buffers;
    *   batch 1 — TOMBSTONES for the top-[[graft.operators.VectorOps
    *     .TombK]] SERVED results of the full pipeline (erasing exactly
    *     what the index would answer — the most adversarial choice):
    *     each joins the per-cell tombstone MapState and is removed
    *     from the serving buffer immediately (e32's delete-marker
    *     semantics — erasure must not wait for compaction);
    *   batch 2 — COMPACTION REPLAY of the touched cells: bounded
    *     state cannot re-fill a buffer from thin air (the DivCap+1-th
    *     candidate was never retained — by design), so the affected
    *     cells' live postings replay from the durable corpus store,
    *     exactly a Lucene segment merge / LSM compaction. The replay
    *     DELIBERATELY includes the tombstoned ids themselves: a
    *     re-delivered erased doc must not resurrect (the tombstone
    *     filter is load-bearing, not decorative).
    *
    * The serve phase is s48's verbatim ([[serveTopKFromStore]]), and
    * the oracle is v30's pipeline run over corpus ∖ tombstones
    * ([[graft.operators.VectorOps.retrievalPipelineTombstonedSql]],
    * which derives the same tombstone set relationally) — the s48
    * discipline: the streamed index must serve the batch truth of the
    * REDUCED corpus. A resurrection, a lost survivor, or a buffer that
    * failed to re-fill all flip the hash; the served top-5 provably
    * changes because the erased docs WERE the top answers.
    *
    * Scale design: per-batch work is one pass over arriving rows;
    * state stays CONFIG-bounded through deletes — cells × DivCap
    * buffer entries + one map entry per tombstoned id (the durable
    * erasure list; StateBoundSpec pins both). Compaction cost is the
    * touched cells' postings, never the corpus. */
  def streamServeTombstones(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val DivCap = graft.operators.VectorOps.DivCap
    val TombK = graft.operators.VectorOps.TombK
    val ckStr = cachedScratchDir("s50", sfDir) {
      val in = newTempDir("graft_s50_in")
      // the erasure list: the full pipeline's top-TombK served ids
      // (bounded collect — 5 rows), with their assigned cells
      val served = graft.operators.VectorOps.retrievalPipeline(spark, sfDir)
        .collect()
      // erase UP TO TombK of the served answers (the oracle's
      // LIMIT TombK mirrors the take): a heavily-duplicated corpus can
      // serve fewer than TombK rows after suppression — erase what was
      // served, never demand more than exists
      require(served.nonEmpty, "s50: full pipeline served nothing")
      val tombIds = served.take(TombK).map(_.getLong(0)).toSeq
      val src = graft.operators.VectorOps.embDouble(spark, sfDir)
        .select($"vec_id", $"v")
      // the touched cells and the replay set derive from the SAME
      // rounded-centroid argmax the streaming store keys cells by
      // (serveIngestProjection run on the batch frame) — selecting the
      // replay from the batch index's UNROUNDED assignment would
      // mis-target postings whenever the two argmaxes diverge on a
      // near-tie past the 6-dp rounding (the review's flake class)
      val scoredBatch = serveIngestProjection(spark, sfDir, src)
        .select($"vec_id", $"cell")
      val tombCells = scoredBatch.filter($"vec_id".isin(tombIds: _*))
        .select($"cell").distinct().as[String].collect().toSeq
      writeChangelogFile(src.withColumn("side", lit("I")), in, 0)
      writeChangelogFile(
        src.filter($"vec_id".isin(tombIds: _*))
          .withColumn("side", lit("D")), in, 1)
      // compaction replay: every corpus vector routed to a touched
      // cell — INCLUDING the erased ones (resurrection test)
      writeChangelogFile(
        src.join(scoredBatch.filter($"cell".isin(tombCells: _*))
          .select($"vec_id"), "vec_id")
          .withColumn("side", lit("I")), in, 2)
      foldIntoStore(processed(serveIngestProjection(spark, sfDir,
          changelogStream(spark, in.toString,
            "vec_id BIGINT, v ARRAY<DOUBLE>, side STRING"))
        .select($"cell", $"side", $"vec_id", $"value")
        .as[TombEvent]
        .groupByKey(_.cell), new TombstoneIndexProcessor(DivCap)), "graft_s50")
    }
    serveTopKFromStore(spark, sfDir, ckStr)
  }

  /** s49: STREAMING COUNT-MIN — x05's ingest face, completing the
    * sketch-family symmetry (x01 batch ↔ x03 merge ↔ this for
    * frequencies; e54 ↔ s46 for quantiles; v30 ↔ s48 for serving).
    * Three %3-interleaved micro-batches of raw user_ids compute their
    * d = 4 row-salted md5 buckets IN-STREAM (a stateless codegen'd
    * projection — the same [[graft.operators.Extras.cmsBucket]]
    * expressions as the batch build) and fold per-(row, bucket)
    * counts into [[BinCountProcessor]]'s MapState — CMS cells are the
    * same commutative monoid as s46's histogram bins, so the
    * processor is REUSED VERBATIM (key = sketch row, map key =
    * bucket) and batch boundaries cannot change the counters. The
    * store is the product (s42's discipline): the serving read pulls
    * the cells at the last committed batchId and x05's probe read-off
    * ([[graft.operators.Extras.cmsProbe]] — one shared definition)
    * computes the estimates. Oracle = x05's oracle VERBATIM
    * (`countMinSql`): the streamed sketch must serve the batch truth.
    *
    * Scale design: per-batch work is d codegen'd md5s per arriving
    * row folding into ≤ d·w state entries (1024 — CONFIG-bounded,
    * never key- or event-bounded; StateBoundSpec pins it); the serve
    * path reads ≤ d·w rows and joins d rows per probed key. */
  def streamCountMin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ckStr = cachedScratchDir("s49", sfDir) {
      val in = newTempDir("graft_s49_in")
      val ev = graft.Tables.events(spark, sfDir)
        .select($"user_id", $"event_id")
      def third(i: Int) = ev.filter(pmod($"event_id", lit(3L)) === i)
        .select($"user_id")
      (0 to 2).foreach(i => writeChangelogFile(third(i), in, i))
      runBinFold(spark, in, "graft_s49", "user_id BIGINT") { raw =>
        raw.select(posexplode(array((0 until graft.operators.Extras.CmsD)
            .map(graft.operators.Extras.cmsBucket): _*)).as(Seq("r", "b")))
          .select($"r".cast("string").as("event_type"), $"b".as("bin"))
      }
    }
    val cells = readBinCells(spark, ckStr, "r", "b", "c")
    graft.operators.Extras.cmsProbe(spark, sfDir, cells)
  }

  /** s30: streaming rolling z-score anomalies — the ingest face of e39
    * (the same pairing as d30/s26 and e36/s25): events arrive in two
    * time-partitioned micro-batches, each user's trailing-20 window is
    * carried in [[RollingAnomalyProcessor]] RocksDB state across the
    * batch boundary, and the declared result — the corpus-wide top-20
    * by exact integer z² — must equal the e39 batch oracle computed
    * over the whole month at once (incremental assembly ≡ batch truth).
    *
    * Scale design: per event, one bounded state read/write (≤ 20 longs
    * per live key); no window sort of the history, no rescan — the cost
    * model of per-entity monitoring over an unbounded stream. The final
    * top-20 is a TakeOrdered over only the emitted scores. */
  def streamRollingAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s30", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
          col("value"))
      // time-partitioned batches: the trailing window must cross the
      // boundary via state, never via reordering
      val cutUs = java.time.LocalDateTime.of(2024, 1, 15, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      Seq(ev.filter(col("ts_us") < cutUs), ev.filter(col("ts_us") >= cutUs))
    }
    val events = changelogStream(spark, dirStr,
      "user_id BIGINT, ts_us BIGINT, event_id BIGINT, cents BIGINT, " +
        "value DOUBLE")
      .as[AnomalyEvent]
    val stream = processed(events.groupByKey(_.user_id), new RollingAnomalyProcessor)
    runToMemory(stream, "graft_s30", "update")
      .filter($"den" > 0)
      .select($"event_id", $"user_id",
        timestamp_micros($"ts_us").as("ts"),
        round($"value", 2).as("value"),
        graft.functions.Det.r4($"dev" * $"dev", $"den").as("z2"))
      .orderBy($"z2".desc, $"event_id")
      .limit(20)
  }

  /** Baseline/monitor split instant for s31, shared verbatim with its
    * oracle SQL (the cut is part of the query's semantics, unlike s30's
    * batch boundary which only shapes delivery). */
  private[graft] val CusumCut = "2024-01-15 00:00:00"

  /** s31: streaming CUSUM mean-shift monitoring — the prospective
    * companion to the e41 batch scan: the first 14 days fix each user's
    * baseline level, the rest of the month is monitored against it with
    * [[CusumProcessor]]'s stateful max(0, C + y) recursion, and the
    * declared result is each monitored user's peak statistic with the
    * first event attaining it. Unlike e41, the reference level excludes
    * the future — this is the alerting semantics, and its oracle is a
    * different query (baseline join + prefix identity over the monitor
    * window only).
    *
    * Scale design: three longs of state per key, one state roundtrip
    * per event, no baseline rescan; the post-stream reduction touches
    * only emitted points. */
  def streamCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s31", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      val cut = to_timestamp(lit(CusumCut))
      def side(f: Column, tag: String) = ev.filter(f)
        .select(col("user_id"), lit(tag).as("side"), col("ts_us"),
          col("event_id"), col("cents"))
      Seq(side(col("ts") < cut, "B"), side(col("ts") >= cut, "M"))
    }
    val events = changelogStream(spark, dirStr,
      "user_id BIGINT, side STRING, ts_us BIGINT, event_id BIGINT, " +
        "cents BIGINT")
      .as[CusumEvent]
    val stream = processed(events.groupByKey(_.user_id), new CusumProcessor)
    val pts = runToMemory(stream, "graft_s31", "update")
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
    pts
      .withColumn("rn", row_number().over(
        byUser.orderBy($"c".desc, $"ts_us", $"event_id")))
      .withColumn("n_mon", count(lit(1)).over(byUser))
      .filter($"rn" === 1)
      .select($"user_id", $"n_base", $"n_mon",
        graft.functions.Det.r4($"c", $"n_base" * 100L).as("cusum_max"),
        timestamp_micros($"ts_us").as("cp_ts"),
        $"event_id".as("cp_event_id"))
      .orderBy($"user_id")
  }

  /** `ev` split by its `ts_us` column into three time-ordered batches
    * at 2024-01-11 and 2024-01-21 00:00 UTC — s36's and s37's
    * micro-batch schedule. */
  private def dayThirds(ev: DataFrame): Seq[DataFrame] = {
    def cutUs(day: Int): Long = java.time.LocalDateTime
      .of(2024, 1, day, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    Seq(ev.filter(col("ts_us") < cutUs(11)),
      ev.filter(col("ts_us") >= cutUs(11) && col("ts_us") < cutUs(21)),
      ev.filter(col("ts_us") >= cutUs(21)))
  }

  /** s36: streaming ordered-funnel tracking — the ingest face of e44:
    * events arrive in three time-partitioned micro-batches, each user's
    * funnel progress (latest view / latest qualified click / purchased)
    * is carried in [[FunnelProcessor]] RocksDB state across the
    * boundaries, and the declared result — the per-depth user histogram
    * with reach counts and conversion rates — must equal the e44 batch
    * oracle computed over the whole month at once. Depth emissions are
    * monotone, so `max(stage)` per user over all update-mode emissions
    * IS the final depth — no retraction logic.
    *
    * Scale design: two timestamps + a flag of state per live key, one
    * state roundtrip per key per batch; the post-stream reduction
    * (shared verbatim with e44 via funnelReduce) touches one row per
    * user per batch, not per event. */
  def streamFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s36", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
      // funnel ordering must cross the batch boundaries via state,
      // never via reordering
      dayThirds(ev)
    }
    val events = changelogStream(spark, dirStr,
      "user_id BIGINT, ts_us BIGINT, event_id BIGINT, event_type STRING")
      .as[FunnelEvent]
    val stream = processed(events.groupByKey(_.user_id), new FunnelProcessor)
    val depths = runToMemory(stream, "graft_s36", "update")
    graft.operators.Events.funnelReduce(
      depths.groupBy($"user_id").agg(max($"stage").as("stage")))
  }

  /** s37: streaming last-touch attribution — the ingest face of e47,
    * and the KStream⋈KTable join under continuous ingest: the click
    * stream materializes as latest-click-per-user state
    * ([[AttributionProcessor]], one (µs, channel) per user in RocksDB),
    * each purchase does a point lookup at its own event-time and emits
    * its attribution exactly once, in the micro-batch that delivers
    * it. The declared result — per-channel purchases/revenue/lag via
    * the SHARED [[graft.operators.Events.attributionReduce]] — must
    * equal the e47 batch oracle over the whole month (incremental
    * assembly ≡ batch LOCF window).
    *
    * Scale design: state is the as-of ANSWER (latest click), not the
    * click history — constant per user however dense the stream; one
    * state roundtrip per user per batch; channel parsing happens
    * map-side in the changelog build via the shared channelOf
    * expression. */
  def streamAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s37", sfDir) {
      val ev = graft.Tables.events(spark, sfDir)
        .withColumn("kb",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT) % 4"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          when(col("event_type") === "click",
            graft.operators.Events.channelOf(col("kb")))
            .otherwise("").as("channel"),
          when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0).as("value"))
        .filter(col("event_type").isin("click", "purchase"))
      dayThirds(ev)
    }
    val events = changelogStream(spark, dirStr,
      "user_id BIGINT, ts_us BIGINT, event_id BIGINT, event_type STRING, " +
        "channel STRING, value DOUBLE")
      .as[AttribEvent]
    val stream = processed(events.groupByKey(_.user_id), new AttributionProcessor)
    val hits = runToMemory(stream, "graft_s37", "update")
    graft.operators.Events.attributionReduce(
      hits.select($"channel",
        when($"lag_s" >= 0, $"lag_s").as("lag_s"), $"value"))
  }

  /** s39: streaming CDC snapshot ingest — the d49 diff's streaming
    * face (the e47/s37 pairing): the old snapshot loads per-key hashes
    * into [[CdcProcessor]] RocksDB state in batch 1, the new snapshot
    * classifies against it in batch 2 (added/changed/unchanged), and
    * the declared report is the SHARED
    * [[graft.operators.TextOps.snapshotDiffReduce]] over the emissions
    * — d49's rollup minus `removed`, which arrival-side CDC cannot see
    * (the oracle states the same). Snapshot sides come from the shared
    * [[graft.operators.TextOps.snapshotSides]] projections, so batch
    * and streaming faces cannot drift.
    *
    * Scale design: one (hash, chars) per key in state, one point
    * lookup per arriving doc, no snapshot rescan — the append-only
    * ingest shape of s24/s26. */
  def streamCdcDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s39", sfDir) {
      val (old, nw) = graft.operators.TextOps.snapshotSides(spark, sfDir)
      Seq(old.withColumn("side", lit("O")),
        nw.withColumn("side", lit("N")))
        .map(_.select(col("k"), col("side"), col("h"), col("chars")))
    }
    val events = changelogStream(spark, dirStr,
      "k BIGINT, side STRING, h STRING, chars BIGINT")
      .as[SnapEvent]
    val stream = processed(events.groupByKey(_.k), new CdcProcessor)
    val hits = runToMemory(stream, "graft_s39", "update")
    graft.operators.TextOps.snapshotDiffReduce(
      hits.select($"k", $"status", $"new_chars", $"old_chars"))
  }

  /** s26: INCREMENTAL novelty scoring — the streaming face of d30, and
    * s24's n-gram-level companion: the corpus batch (even doc_ids)
    * loads every distinct 3-token shingle into per-shingle state; the
    * incoming batch (odd doc_ids) probes, and each incoming doc's
    * novelty is the fraction of its shingles the corpus does NOT hold.
    * Reuses [[NearDupProcessor]] verbatim — the bucket key is the raw
    * shingle instead of an LSH band, the emitted match count per doc is
    * the SEEN-shingle count, and the post-aggregation joins the
    * batch-side shingle counts to surface zero-match docs. The shingle
    * table is [[graft.operators.TextOps.distinctShingles]] — shared
    * text with d30's batch contract, zero drift.
    *
    * Scale design: state is one Long per distinct corpus shingle (the
    * RocksDB-backed inverted vocabulary); each incoming doc costs one
    * point lookup per shingle — no corpus rescan, the same
    * append-only-ingest shape as s24. */
  def streamNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val shingles = graft.operators.TextOps.distinctShingles(spark, sfDir)
    val dirStr = orderedBatchDir("s26", sfDir) {
      def side(parity: Int, tag: String) = shingles
        .filter(col("doc_id") % 2 === parity)
        .select(col("s").as("bucket"), lit(tag).as("side"), col("doc_id"))
      Seq(side(0, "O"), side(1, "N"))
    }
    val events = changelogStream(spark, dirStr,
      "bucket STRING, side STRING, doc_id BIGINT")
      .as[BandEvent]
    val stream = processed(events.groupByKey(_.bucket), new NearDupProcessor)
    val seen = runToMemory(stream, "graft_s26", "update")
      .groupBy(col("new_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_seen"))
    shingles.filter(col("doc_id") % 2 === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(seen, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_seen"))
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - col("n_seen")).as("n_novel"),
        graft.functions.Det.r4(
          col("n_grams") - col("n_seen"), col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** s29: streaming inverted-index maintenance — the d37 batch build's
    * ingest face (the s24/s26 pattern applied to retrieval): documents
    * arrive in two ordered batches (even doc_ids, then odd), each
    * batch's (term, doc, tf) rows fold into per-term RocksDB state via
    * [[IndexStatsProcessor]], and the declared result is the final
    * top-50-df index snapshot — which must equal the batch oracle
    * computed over the whole corpus at once (streaming assembly ≡
    * batch truth).
    *
    * Scale design: per batch only TOUCHED terms do work (one state
    * point-lookup + update each); the index is never rebuilt and never
    * rescanned, state is two Longs per distinct term. The top-50 cut
    * happens AFTER the stream on the emitted snapshot rows (bounded:
    * ≤ touched-terms rows per batch). */
  def streamInvertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dirStr = orderedBatchDir("s29", sfDir) {
      val tf = graft.operators.TextOps.docsWithToks(spark, sfDir)
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      Seq(tf.filter(col("doc_id") % 2 === 0), tf.filter(col("doc_id") % 2 === 1))
        .map(_.select(col("term"), col("doc_id"), col("tf")))
    }
    val events = changelogStream(spark, dirStr,
      "term STRING, doc_id BIGINT, tf BIGINT")
      .as[TermDocTf]
    val stream = processed(events.groupByKey(_.term), new IndexStatsProcessor)
    val emitted = runToMemory(stream, "graft_s29", "update")
    // latest emission per term: df is monotone across batches
    emitted.groupBy(col("term"))
      .agg(max(struct(col("df"), col("tf_total"))).as("m"))
      .select(col("term"), col("m.df").as("df"),
        col("m.tf_total").as("tf_total"))
      .orderBy(desc("df"), col("term")).limit(50)
  }

  /** The shared s46/s49 MONOID-FOLD harness (the r11 review's
    * duplication finding): stream `schemaDdl`-shaped changelog rows
    * from `in`, `shape` them into BinDelta (key, bin) rows, fold into
    * [[BinCountProcessor]] MapState ([[foldIntoStore]]) — the store is
    * the product (s42's discipline). Returns the checkpoint dir. */
  private def runBinFold(spark: SparkSession, in: java.nio.file.Path,
      name: String, schemaDdl: String)(
      shape: DataFrame => DataFrame): String = {
    import spark.implicits._
    foldIntoStore(processed(shape(changelogStream(spark, in.toString, schemaDdl))
      .as[BinDelta]
      .groupByKey(_.event_type), new BinCountProcessor), name)
  }

  /** The matching serving read: BinCountProcessor's flattened MapState
    * (one row per (grouping key, map key)) at the last committed
    * batchId, with caller-chosen column names. */
  private def readBinCells(spark: SparkSession, ckStr: String,
      key: String, mapKey: String, cnt: String): DataFrame = {
    import spark.implicits._
    readState(spark, ckStr, "bins")
      .select($"key.value".as(key), $"user_map_key.value".as(mapKey),
        $"user_map_value.value".as(cnt))
  }

  /** s46: STREAMING APPROX MEDIAN — e54's "bin counts are mergeable
    * monoid state" claim made real. Three %3-interleaved micro-batches
    * fold per-(event_type, $1-bin) counts into [[BinCountProcessor]]'s
    * MapState (bin → count; see its scaladoc for why ValueState would
    * be wrong); the store — read out-of-band at an explicit batchId,
    * the s42/s43 serving discipline — IS the product, and e54's cumsum
    * read-off computes the approx median from the bins alone. The
    * result must hash-match the batch e54 median formula exactly: a
    * lost batch, a double-fold, or a bin drifting one slot flips it.
    *
    * Scale design: state per key is the BIN TABLE (≤ value-range/width
    * entries — bounded, unlike a value log), each batch touches only
    * arriving keys, the store read is partition-parallel over the
    * checkpoint, and the read-off windows run over bins, never events.
    * This is the 100 TB streaming-median shape: e53's exact per-group
    * rank-sorts cannot stream; monoid bins can. */
  def streamBinnedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val B = graft.operators.Events.MadBinCents
    val ckStr = cachedScratchDir("s46", sfDir) {
      val in = newTempDir("graft_s46_in")
      val ev = graft.Tables.events(spark, sfDir)
        .select($"event_type", $"event_id",
          graft.functions.Det.fdiv(
            expr("CAST(round(value * 100, 0) AS BIGINT)"), lit(B))
            .as("bin"))
      def third(i: Int) = ev.filter(pmod($"event_id", lit(3L)) === i)
        .select($"event_type", $"bin")
      (0 to 2).foreach(i => writeChangelogFile(third(i), in, i))
      runBinFold(spark, in, "graft_s46", "event_type STRING, bin BIGINT")(
        identity)
    }
    // the serving read: bins out of the store (the flattened MapState
    // layout — one row per (grouping key, map key)), e54's read-off on
    // top
    val bins = readBinCells(spark, ckStr, "event_type", "bin", "bc")
    val w = org.apache.spark.sql.expressions.Window
    val wCum = w.partitionBy($"event_type").orderBy($"bin")
    val wN = w.partitionBy($"event_type")
    import graft.functions.Det
    bins
      .withColumn("cum", sum($"bc").over(wCum.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("n", sum($"bc").over(wN))
      .withColumn("target", Det.fdiv($"n" + 1L, lit(2L)))
      .filter($"cum" >= $"target" && $"cum" - $"bc" < $"target")
      .select($"event_type", $"n",
        Det.r4($"bin" * B +
            Det.fdiv(($"target" - ($"cum" - $"bc")) * B, $"bc"),
          lit(100L)).as("approx_median"))
      .orderBy($"event_type")
  }

  /** s51: STREAMING SHARD-MANIFEST ingest — d57's training-output
    * manifest as a running fold, the shape a continuous-crawl writer
    * runs (documents arrive forever; the manifest must be current
    * without rescanning the corpus). Three %3-interleaved micro-batches
    * fold per-shard (docs, tokens, bytes) counters into
    * [[ShardStatsProcessor]] ValueState KEYED BY SHARD — shard-parallel
    * by construction, state = |occupied shards| cells, the
    * hardest-capped bound in the ingest family. The store is the
    * product (s42/s46 discipline): read out-of-band at the last
    * committed batchId, then d57's balance read-off
    * ([[graft.operators.TextOps.shardManifestFrom]] — shared function,
    * zero drift) runs over CELLS, never documents. The oracle is d57's
    * text VERBATIM: a lost batch, a double-fold, or a shard-hash drift
    * between the faces flips the hash. */
  def streamShardManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ckStr = cachedScratchDir("s51", sfDir) {
      val in = newTempDir("graft_s51_in")
      val docs = graft.Tables.documents(spark, sfDir)
        .select($"doc_id", graft.operators.TextOps.shardOf.as("shard"),
          size(split($"text", " ")).cast("long").as("toks"),
          $"n_chars".cast("long").as("bytes"))
      def third(i: Int) = docs.filter(pmod($"doc_id", lit(3L)) === i)
        .select($"shard", $"toks", $"bytes")
      (0 to 2).foreach(i => writeChangelogFile(third(i), in, i))
      foldIntoStore(processed(changelogStream(spark, in.toString,
          "shard BIGINT, toks BIGINT, bytes BIGINT")
        .as[ShardDelta]
        .groupByKey(_.shard), new ShardStatsProcessor), "graft_s51")
    }
    val cells = readState(spark, ckStr, "cell")
      .select($"key.value".as("shard"), $"value.n_docs",
        $"value.n_tokens", $"value.n_bytes")
    graft.operators.TextOps.shardManifestFrom(cells)
  }
}
