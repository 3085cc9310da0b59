package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StatefulProcessor, TimeMode}
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.functions._

/** The streaming RUNTIME seam every s-query runs on: the sources (the
  * Kafka stand-in file source, flush sentinels, changelog replay), the
  * fixture-derived scratch-dir cache, one AvailableNow run primitive
  * ([[runAvailableNow]], with [[runToMemory]] and [[foldIntoStore]] on
  * top), the out-of-band state-store read ([[readState]]), and the
  * session-conf scoping ([[withConf]]) those runs share. A query states
  * its own transform, sink and conf pairs; everything else lives here. */
trait StreamRuntime {

  /** KTable materialization: latest value per key as a changelog
    * aggregation (struct-max rides the whole row on a unique
    * (ts, event_id) ordering). Shared by the aggregation face
    * (streamLatest) and the join face (streamTableJoin's compacted
    * snapshot), hence it lives in the runtime seam. */
  def latestByKey(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.ts").as("ts"), col("m.event_type").as("event_type"),
        round(col("m.value"), 2).as("value"))

  /** Any event time at/after this is a flush sentinel, not data (the
    * sentinels sit at 2100-01-01). */
  private[streaming] val flushBound = to_timestamp(lit("2099-01-01 00:00:00"))

  /** The event-time watermark delay of the events streams. */
  private[graft] val WatermarkDelay = "10 minutes"

  /** `stream` watermarked on `ts` by [[WatermarkDelay]], with the flush
    * sentinels dropped — the one way a flushed stream
    * ([[eventsStreamWithFlush]], or a changelog replay whose last file
    * is a sentinel) is closed. The call order is the invariant: the
    * sentinel filter sits ABOVE the watermark operator, so the
    * sentinels still advance the watermark past every real window
    * before they are dropped; the ts-bound predicate references the
    * watermark column, so Catalyst cannot push it below that operator. */
  private[graft] def closeFlushed(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", WatermarkDelay).filter(col("ts") < flushBound)

  /** The JSON serde half of the Kafka source: wire rows (binary `value`
    * as the connector emits them) → typed event columns. Factored out
    * of [[kafkaStream]] so it is testable WITHOUT a broker — the same
    * projection runs on any DataFrame with a binary `value` column
    * (KafkaSerdeSpec drives it on batch rows), leaving only the
    * connector `.format("kafka").load()` itself environment-blocked. */
  // µs-precision wire format for WRITERS: to_json's default pattern is
  // millisecond-only and silently truncates event times. The PARSER
  // below deliberately sets no timestampFormat — the default fallback
  // parser accepts fraction-less, milli, and micro variants alike
  // (a fixed pattern would null out producers that omit the fraction).
  private[graft] val kafkaTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private[graft] def parseKafkaValue(wire: DataFrame): DataFrame =
    wire
      .selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING")).as("e"))
      .select(col("e.*"))

  /** Production source: Kafka topic → typed event columns. Compiles
    * against the stable string-format API; requires the
    * spark-sql-kafka connector on the classpath at runtime (not shipped
    * in this sandbox — `eventsStream` below is the drop-in stand-in, and
    * every downstream transform is source-agnostic). */
  def kafkaStream(spark: SparkSession, bootstrapServers: String,
      topic: String): DataFrame =
    parseKafkaValue(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load())

  /** File-source stand-in for the Kafka source, with the same ns→µs
    * timestamp normalization as the batch path
    * ([[graft.Tables.rawEvents]] reads the fixture). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.Tables.rawEvents(spark, sfDir)._1.schema
    // the file source needs a directory; scope it to the events file
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    graft.Tables.normalizeTs(raw)
  }

  /** Delete `p` and everything under it, if it exists. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    tempDirs.asScala.foreach(d =>
      try deleteRecursively(java.nio.file.Paths.get(d))
      catch { case _: Throwable => () })
  }

  /** Dirs [[cachedScratchDir]] has handed out — these survive
    * [[reclaimScratch]]; everything else tracked in [[tempDirs]] is
    * per-run scratch (terminated-stream checkpoints, sink staging)
    * that only the JVM-exit hook would otherwise reclaim. */
  private val pinnedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Between-queries disk reclaim for long single-JVM sweeps
    * (ScaleProbe100 runs up to 15 queries × 2 fixture dirs × 3
    * executions in one process; at the 100× fixture the terminated
    * streams' checkpoints add up to tens of GiB of tmpfs — the v08
    * "No space left on device" probe failure, r13). Deletes every
    * tracked temp dir no cachedScratchDir cache pins; safe whenever no
    * stream is active. NOT part of any query path. */
  private[graft] def reclaimScratch(): Unit = {
    import scala.jdk.CollectionConverters._
    tempDirs.asScala.toSeq.filterNot(pinnedDirs.contains).foreach { d =>
      try { deleteRecursively(java.nio.file.Paths.get(d)); tempDirs.remove(d) }
      catch { case _: Throwable => () }
    }
  }

  /** Create a tracked temp dir, cleaned up on JVM exit. Prefers a
    * tmpfs root (/dev/shm) when one exists: streaming checkpoints and
    * flush-file staging are pure scratch — per-micro-batch offset/
    * commit/state files whose fsyncs are deadweight on a disk-backed
    * /tmp. On a real cluster the checkpoint must instead be durable
    * shared storage (object store / DFS) for failure recovery; local
    * AvailableNow roundtrips have no recovery story to preserve. */
  private val tmpRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
      java.nio.file.Files.isWritable(shm)) Some(shm) else None
  }

  private[graft] def newTempDir(prefix: String): java.nio.file.Path = {
    val dir = tmpRoot match {
      case Some(root) => java.nio.file.Files.createTempDirectory(root, prefix)
      case None       => java.nio.file.Files.createTempDirectory(prefix)
    }
    tempDirs.add(dir.toString)
    dir
  }

  /** The events file stream plus one far-future "__flush" row in a
    * second file. A finite stream's watermark only reaches
    * max(seen ts) − delay, so outer-join null padding and final window
    * emission for the tail of the data would stay locked in the state
    * store; the flush row advances the watermark past every real
    * window. It must pass through the `withWatermark` operator (which
    * tracks max event time) and be filtered AFTER it — which is what
    * [[closeFlushed]] does. In production this is the role of
    * periodic broker heartbeats / idle-source timeouts. */
  def eventsStreamWithFlush(spark: SparkSession, sfDir: String): DataFrame = {
    val (raw, path) = graft.Tables.rawEvents(spark, sfDir)
    val dirStr = cachedScratchDir("flush", sfDir) {
      val dir = newTempDir("graft_stream_flush")
      // One flush row PER event type: Catalyst pushes deterministic
      // event_type predicates below the EventTimeWatermark operator, so a
      // single sentinel type would be filtered out before it could advance
      // the watermark. A per-type sentinel survives any type filter; the
      // consumer drops it with a ts-bound predicate, which references the
      // watermark column and therefore stays ABOVE the watermark operator
      // (see [[flushBound]]).
      val flush = raw.limit(1).drop("event_type")
        .crossJoin(raw.select(col("event_type")).distinct())
        .withColumn("event_id", lit(-1L))
        .withColumn("ts", raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            lit(4102444800000000000L)  // 2100-01-01 as ns
          case org.apache.spark.sql.types.TimestampNTZType =>
            lit(java.time.LocalDateTime.of(2100, 1, 1, 0, 0))
          case _ => to_timestamp(lit("2100-01-01 00:00:00"))
        })
        .select(raw.columns.map(col): _*)
      flush.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        dir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dir.toString
    }
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dirStr)
    graft.Tables.normalizeTs(stream)
  }

  /** Terminal progress of the most recent [[runAvailableNow]] run, by
    * query name — the observability seam for state-size assertions: the
    * spec suite reads `stateOperators.numRowsTotal` here to prove each
    * transformWithState query's RocksDB row count is bounded by its
    * declared contract (occupied buckets / one record per user /
    * touched terms), not by event volume. */
  private[graft] val lastProgressByName = scala.collection.concurrent
    .TrieMap.empty[String, org.apache.spark.sql.streaming.StreamingQueryProgress]

  private[graft] val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The RocksDB state store provider, which transformWithState
    * requires: [[runAvailableNow]] sets it for every plan that has a
    * `TransformWithState` node ([[hasTransformWithState]]); other runs
    * that want it (s33, s40) pass it as conf. Changelog checkpointing
    * goes with it: per commit, upload only the batch's changelog instead
    * of a full RocksDB snapshot — the documented production setting for
    * frequent-commit workloads, and measured ~5% off the s-series fixed
    * overhead here (snapshots still happen, just in the background
    * maintenance pass). */
  private[graft] val RocksDb: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Whether `df`'s plan runs a transformWithState operator — the fact
    * [[runAvailableNow]] picks the state store provider from and
    * [[runToMemory]] sizes the store by. */
  private def hasTransformWithState(df: DataFrame): Boolean =
    df.queryExecution.logical.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.TransformWithState])

  /** `grouped.transformWithState(processor)` in `timeMode` (default: no
    * timers) with Update output and the product encoder of `U`, as a
    * DataFrame — the one spelling every transformWithState query uses
    * (s43's initial-state overload aside). */
  private[graft] def processed[K, V, U <: Product: TypeTag](
      grouped: KeyValueGroupedDataset[K, V],
      processor: StatefulProcessor[K, V, U],
      timeMode: TimeMode = TimeMode.None()): DataFrame =
    grouped.transformWithState(processor, timeMode, OutputMode.Update())(
      Encoders.product[U]).toDF()

  /** Set each of `pairs` on the session for the duration of `body`, then
    * put every key back as it was — its previous session value, or unset
    * if the session had not set it — also when `body` throws. The one
    * conf-scoping helper: streaming runs size their state stores and pick
    * their provider through it without leaking either into the next
    * query. */
  private[graft] def withConf[A](spark: SparkSession,
      pairs: (String, String)*)(body: => A): A = {
    val session = spark.conf.getAll
    val prev = pairs.map { case (k, _) => k -> session.get(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Replay the `changelog_<i>.parquet` files under `dir` (see
    * [[orderedBatchDir]]/[[writeChangelogFile]]) as one micro-batch per
    * file, in index order — the stand-in for consuming ordered Kafka
    * topic offsets. `ddl` is the files' schema. */
  private[graft] def changelogStream(spark: SparkSession, dir: String,
      ddl: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "changelog_*.parquet")
      .parquet(dir)

  /** Drive `df` to completion under an AvailableNow trigger: process
    * everything available (including the watermark-close no-data batch
    * that emits final windows / outer-join padding) and terminate — one
    * less idle-detection round trip than processAllAvailable + stop.
    * The caller picks the sink and output mode (`sink`) and any session
    * conf the run needs beyond the state store provider (`conf`, scoped
    * by [[withConf]]); a plan with a transformWithState operator gets
    * [[RocksDb]] here. The checkpoint is a fresh scratch dir unless a
    * restart passes its own. Records the terminal progress in
    * [[lastProgressByName]] and returns its batchId (−1 if no batch ran).
    *
    * Callers whose ORACLE encodes the micro-batch schedule (s38: the
    * two-watermark late filter lags exactly one batch per file trigger)
    * pin the terminal batchId with `assertLastBatchId`, so a Spark
    * upgrade that changes AvailableNow scheduling (an interleaved
    * no-data batch, a merged trigger) fails loudly instead of silently
    * producing a one-batch-off oracle divergence. */
  private[graft] def runAvailableNow(df: DataFrame, name: String,
      conf: Seq[(String, String)] = Nil,
      checkpoint: Option[java.nio.file.Path] = None,
      assertLastBatchId: Option[Long] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Long = {
    val ck = checkpoint.getOrElse(newTempDir(s"graft_ckpt_$name"))
    val store = if (hasTransformWithState(df)) RocksDb else Nil
    val last = withConf(df.sparkSession, store ++ conf: _*) {
      val q = sink(df.writeStream.queryName(name))
        .option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Option(q.lastProgress)
    }
    last.foreach(lastProgressByName.put(name, _))
    val got = last.map(_.batchId).getOrElse(-1L)
    assertLastBatchId.foreach { expect =>
      require(got == expect,
        s"$name: terminal batchId $got != expected $expect — " +
          "micro-batch scheduling changed; revisit the oracle's " +
          "batch-lag assumptions")
    }
    got
  }

  /** [[runAvailableNow]] into a memory sink named `name`; returns the
    * materialized result.
    *
    * Streaming shuffles are exempt from AQE partition coalescing, so a
    * high session `shuffle.partitions` (tuned for batch) means that many
    * state-store instances per micro-batch — pure overhead at local
    * fixture scale. The run caps the stateful parallelism (the knob a
    * Kafka Streams app would call num.stream.threads) by what the plan
    * does: a transformWithState plan pushes the full event volume THROUGH
    * its store every batch and gets min(8, cores) stores; any other plan
    * keeps tiny per-batch state (≤150 keys) and gets min(2, cores). Match
    * store parallelism to per-batch state traffic, not to key count.
    *
    * `noDataBatch = false` skips the trailing no-data batch. Spark runs
    * one only when a stateful operator asks for it: an Append or Update
    * operator whose eviction watermark has advanced, or a processing-time
    * transformWithState (never a Complete-mode aggregation). So the
    * switch matters only for a watermarked plan whose no-data batch
    * emits nothing and only evicts state: s03's dedup, s05's inner join
    * and s27's semi join pass it. */
  def runToMemory(df: DataFrame, name: String, mode: String,
      noDataBatch: Boolean = true,
      assertLastBatchId: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(name)
    val stores = math.min(if (hasTransformWithState(df)) 8 else 2,
      spark.sparkContext.defaultParallelism)
    val noData =
      if (noDataBatch) Nil
      else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    runAvailableNow(df, name, (ShufflePartitions -> stores.toString) +: noData,
      assertLastBatchId = assertLastBatchId)(
      _.format("memory").outputMode(mode))
    spark.table(name)
  }

  /** Fold a TimeMode.None transformWithState changelog `df` into its
    * RocksDB store with a noop sink — the store, not the changelog, is
    * the product (read it back with [[readState]]). 8 state partitions:
    * the full event volume passes through the store per batch (see
    * [[runToMemory]]'s sizing note). Returns the checkpoint dir;
    * `checkpoint` resumes an earlier fold (a restart), `conf` adds
    * pairs to the run. */
  private[graft] def foldIntoStore(df: DataFrame, name: String,
      checkpoint: Option[java.nio.file.Path] = None,
      conf: Seq[(String, String)] = Nil): String = {
    val ck = checkpoint.getOrElse(newTempDir(s"graft_ckpt_$name"))
    runAvailableNow(df, name, (ShufflePartitions -> "8") +: conf, Some(ck))(
      _.format("noop").outputMode("update"))
    ck.toString
  }

  /** Read state variable `stateVar` out of checkpoint `ck` with no query
    * running — the Interactive Queries read. It pins an EXPLICIT
    * batchId (default: the last committed one) instead of the implicit
    * "latest", so a later run appending batches cannot change what the
    * read returns; an older id reads an earlier store version (time
    * travel, see StateSourceBatchIdSpec). The provider and encoding come
    * from the checkpoint, so no session conf is needed. */
  private[graft] def readState(spark: SparkSession, ck: String,
      stateVar: String, batchId: Option[Long] = None): DataFrame =
    spark.read.format("statestore")
      .option("path", ck)
      .option("stateVarName", stateVar)
      .option("batchId", batchId.getOrElse(lastCommittedBatchId(ck)).toString)
      .load()

  /** A fixture-derived scratch dir (flush dirs, changelog dirs,
    * checkpoints, sink output, file-format copies), built once per
    * (tag, sfDir) and shared across sessions through
    * [[graft.FixtureCache.shared]], which rebuilds it if the fixture is
    * regenerated in place. `tag` names the query or source that owns
    * the dir. The dir is pinned, so [[reclaimScratch]] keeps it while
    * the cache may serve it; it is deleted on JVM exit. */
  private[graft] def cachedScratchDir(tag: String, sfDir: String)(
      build: => String): String = {
    val dir = graft.FixtureCache.shared(sfDir, tag)(build)
    pinnedDirs.add(dir)
    dir
  }

  /** The dir [[cachedScratchDir]] holds for (tag, sfDir), if built in
    * this JVM — how specs find a query's checkpoint to read its store
    * out-of-band. */
  private[graft] def cachedDir(tag: String, sfDir: String): Option[String] =
    graft.FixtureCache.sharedIfBuilt[String](sfDir, tag)

  /** Write `df` as exactly ONE uncompressed parquet FILE at `dst` (not
    * a directory): coalesce(1) into a scratch dir, move the single part
    * file out, drop the scaffolding. File-source streams glob concrete
    * file names, so sinks/batches must land as plain files. */
  private[graft] def writeSingleFile(df: DataFrame,
      dst: java.nio.file.Path): Unit = {
    val tmp = dst.getParent.resolve(s".${dst.getFileName}.build")
    df.coalesce(1).write.option("compression", "none")
      .mode("overwrite").parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val f = try {
      val it = listing.iterator()
      Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next()).find(_.toString.endsWith(".parquet")).get
    } finally listing.close()
    java.nio.file.Files.deleteIfExists(dst)
    java.nio.file.Files.move(f, dst)
    deleteRecursively(tmp)
  }

  /** Materialize ONE batch DataFrame as `changelog_<i>.parquet` in
    * `dir`, mtime-pinned so a file-source stream replays files in index
    * order. Shared by [[orderedBatchDir]] (all batches up front) and
    * the restart harness (s40 adds files BETWEEN query runs). */
  private[graft] def writeChangelogFile(df: DataFrame,
      dir: java.nio.file.Path, i: Int): Unit = {
    val dst = dir.resolve(s"changelog_$i.parquet")
    writeSingleFile(df, dst)
    dst.toFile.setLastModified(1700000000000L + i * 60000L)
  }

  /** Materialize `batches` as ONE parquet file each, mtime-ordered, so
    * [[changelogStream]] replays them as that exact micro-batch sequence
    * — the harness's stand-in for ordered Kafka topic offsets. Cached
    * per (tag, sfDir) by [[cachedScratchDir]]. */
  private[graft] def orderedBatchDir(tag: String, sfDir: String)(
      batches: => Seq[DataFrame]): String =
    cachedScratchDir(tag, sfDir) {
      val dir = newTempDir(s"graft_$tag")
      // each batch is its own Spark job — run them concurrently
      // (the scheduler interleaves them across the idle cores) and
      // skip compression: this is throwaway scratch on tmpfs, the
      // snappy encode of a full event batch is pure timed overhead
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.{Await, Future}
      val writes = batches.zipWithIndex.map { case (df, i) => Future {
        writeChangelogFile(df, dir, i)
      }}
      writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
      dir.toString
    }

  /** Resolve the newest committed batchId from a checkpoint's commit
    * log — [[readState]]'s default pin, and the entry s41 deletes to
    * force a redelivery. */
  private[graft] def lastCommittedBatchId(ck: String): Long = {
    val dir = new java.io.File(ck, "commits")
    val ids = Option(dir.list()).getOrElse(Array.empty[String])
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    require(ids.nonEmpty, s"no commit-log entries under $ck/commits")
    ids.max
  }
}
