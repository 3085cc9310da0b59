package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.streaming.StreamOps
import graft.functions.Det.dsum

/** Non-parquet file sources: JSON-lines and CSV read paths with explicit
  * schemas — the file-borne face of the serde surface (a Kafka topic's
  * JSON records land in object storage as exactly these JSON lines; CSV
  * is the interchange format every ingest pipeline still meets).
  *
  * Each declared query round-trips the events table through the format
  * once (written to a scratch dir cached per fixture like the streaming
  * flush source) and computes its aggregate FROM THE ROUND-TRIPPED COPY,
  * so what the oracle (running on the original parquet) verifies is the
  * serializer/parser fidelity itself: timestamps to the microsecond
  * (pinned by min/max epoch-µs in the output), doubles bit-exact
  * (shortest-roundtrip formatting), and CSV quoting of embedded JSON
  * (pinned by extracting a key from `props` post-roundtrip).
  *
  * Scale design: both readers are ordinary FileFormat scans — splittable
  * (JSON/CSV split by line), schema enforced up front (no inference
  * pass over 100 TB), pushdown-friendly column pruning. The explicit
  * `timestampFormat` keeps the parse on the fast DateTimeFormatter path
  * rather than the lenient fallback parser.
  */
object FileSources {

  /** Microsecond-precision wire format used for both write and read. */
  private[graft] val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private val EventsDdl =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"

  /** A scratch copy of the fixture, built once per sfDir by `write` into
    * a `graft_src_<tag>` dir: shared across sessions, kept by
    * StreamOps.reclaimScratch, deleted on JVM exit. */
  private def scratchCopy(tag: String, sfDir: String)(
      write: String => Unit): String =
    StreamOps.cachedScratchDir(s"src_$tag", sfDir) {
      val dir = StreamOps.newTempDir(s"graft_src_$tag").toString
      write(dir)
      dir
    }

  /** events → fmt on scratch (once per fixture) → read back with the
    * explicit schema. Columns are selected in schema order before the
    * write because CSV-with-schema binds by position, not header name. */
  private def roundTrip(spark: SparkSession, sfDir: String,
      fmt: String): DataFrame = {
    val dirStr = scratchCopy(fmt, sfDir) { dir =>
      val w = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").option("timestampFormat", TsFmt)
      fmt match {
        case "json" => w.json(dir)
        case "csv"  => w.option("header", "true").csv(dir)
        case "orc"  => w.orc(dir)
      }
    }
    val r = spark.read.schema(StructType.fromDDL(EventsDdl))
      .option("timestampFormat", TsFmt)
    fmt match {
      case "json" => r.json(dirStr)
      case "csv"  => r.option("header", "true").csv(dirStr)
      case "orc"  => r.orc(dirStr)
    }
  }

  /** Per-type profile computed from the JSON-lines round trip; min/max
    * epoch-µs pin microsecond timestamp fidelity into the hash. */
  def jsonSourceAgg(spark: SparkSession, sfDir: String): DataFrame =
    roundTrip(spark, sfDir, "json")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("event_type"))

  /** Hour-of-day histogram from the CSV round trip; summing a key
    * extracted from the embedded-JSON `props` column proves the CSV
    * quoting of quotes/braces/commas survived the round trip. */
  def csvSourceAgg(spark: SparkSession, sfDir: String): DataFrame =
    roundTrip(spark, sfDir, "csv")
      .groupBy(hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .orderBy(col("hour"))

  /** Daily profile computed from the ORC round trip — the third
    * columnar lake format next to parquet (ORC ships in Spark's core
    * jars; its binary timestamp encoding makes the round trip
    * format-string-free). min/max epoch-µs again pin microsecond
    * fidelity; countDistinct event_type proves dictionary-encoded
    * strings survive. */
  def orcSourceAgg(spark: SparkSession, sfDir: String): DataFrame =
    roundTrip(spark, sfDir, "orc")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_type")).as("n_types"),
        dsum(col("value")).as("sum_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("day"))

  /** A deliberately dirty JSON-lines copy of events: every row whose
    * event_id is divisible by 97 is written as a truncated non-JSON
    * line. Cached like the clean round-trip dirs. */
  private[graft] def dirtyJsonDir(spark: SparkSession, sfDir: String): String =
    scratchCopy("dirty", sfDir) { dir =>
      Tables.events(spark, sfDir)
        .select(when(col("event_id") % 97 === 0, lit("{broken"))
          .otherwise(to_json(
            struct(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"), col("props")),
            java.util.Map.of("timestampFormat", TsFmt)))
          .as("value"))
        .write.mode("overwrite").text(dir)
    }

  /** Corrupt-record handling (PERMISSIVE mode): parse the dirty JSON
    * with an explicit schema plus a `_corrupt_record` column — malformed
    * lines land there with every data column null instead of failing
    * the job, exactly the quarantine pattern a 100 TB ingest needs (one
    * bad producer must not kill the pipeline; it must be COUNTED). The
    * oracle reproduces the valid/corrupt split arithmetically from the
    * original parquet. */
  def corruptRecordAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dirStr = dirtyJsonDir(spark, sfDir)
    spark.read
      .schema(StructType.fromDDL(EventsDdl + ", _corrupt_record STRING"))
      .option("timestampFormat", TsFmt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dirStr)
      .groupBy(coalesce(col("event_type"), lit("_corrupt")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        count(col("_corrupt_record")).as("n_corrupt"),
        dsum(coalesce(col("value"), lit(0.0))).as("sum_value"))
      .orderBy(col("bucket"))
  }

  /** Schema evolution via mergeSchema: half the events land in a file
    * with (event_id, user_id, event_type), the other half in a file
    * with (event_id, ts, value) — the schema-drift shape of a long-
    * lived ingest directory. One mergeSchema read unions the columns,
    * null-filling each file's missing ones; the oracle reproduces the
    * split with a parity CASE over the original table. */
  def mergeSchemaAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dirStr = scratchCopy("evolve", sfDir) { dir =>
      val ev = Tables.events(spark, sfDir)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.parquet(s"$dir/gen=0")
      ev.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("ts"), col("value"))
        .write.parquet(s"$dir/gen=1")
    }
    spark.read.option("mergeSchema", "true").parquet(dirStr)
      .groupBy(coalesce(col("event_type"), lit("_newgen")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(coalesce(col("value"), lit(0.0))).as("sum_value"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("bucket"))
  }

  /** Hive-style partitioned layout + partition pruning: events written
    * once partitioned by event_type; the query filters one partition
    * value, so the scan's PartitionFilters prune every other directory
    * before a single row is read — THE scan-economics feature of a
    * date/tenant-partitioned 100 TB lake (PlanShapeSpec pins the
    * pruning; this query pins the results). */
  def partitionedScanAgg(spark: SparkSession, sfDir: String): DataFrame = {
    partitionedRead(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_value"))
      .orderBy(col("w_start"))
  }

  private[graft] def partitionedRead(spark: SparkSession,
      sfDir: String): DataFrame =
    spark.read.parquet(scratchCopy("parted", sfDir) { dir =>
      Tables.events(spark, sfDir)
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    })

  /** Bucketed co-located join (e30): orders and customer are written
    * ONCE as bucketed tables (8 buckets on the join key, sorted within
    * buckets) and the join then runs with NO shuffle exchange on either
    * side — the bucket layout IS the exchange, paid at write time. This
    * is THE pre-partitioning feature for a 100 TB lake: a fact table
    * bucketed by its FK joins every co-bucketed dimension forever
    * without moving data; at 1000 executors the join is a per-bucket
    * zip (bucket i ⋈ bucket i), and the within-bucket sort order
    * lets SortMergeJoin skip its sort. PlanShapeSpec pins the
    * no-exchange-under-the-join shape. */
  private def bucketedName(which: String, sfDir: String): String =
    s"graft_bk_${which}_${Integer.toHexString(sfDir.hashCode).replace('-', 'm')}"

  private[graft] def ensureBucketedTables(spark: SparkSession,
      sfDir: String): (String, String) = {
    val to = bucketedName("orders", sfDir)
    val tc = bucketedName("customer", sfDir)
    // (re)register both tables over `dir`; also when a cached dir's
    // tables are gone from the catalog
    def save(dir: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $to")
      spark.sql(s"DROP TABLE IF EXISTS $tc")
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .format("parquet").option("path", s"$dir/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(to)
      Tables.customer(spark, sfDir).write.mode("overwrite")
        .format("parquet").option("path", s"$dir/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(tc)
    }
    val dir = scratchCopy("bucketed", sfDir)(save)
    if (!(spark.catalog.tableExists(to) && spark.catalog.tableExists(tc)))
      save(dir)
    (to, tc)
  }

  /** Revenue per market segment over the bucket-co-located join. */
  def bucketedJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val (to, tc) = ensureBucketedTables(spark, sfDir)
    spark.table(to)
      .join(spark.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e23_json_source" -> jsonSourceAgg _,
    "e24_csv_source"  -> csvSourceAgg _,
    "e26_corrupt_source" -> corruptRecordAgg _,
    "e27_merge_schema"   -> mergeSchemaAgg _,
    "e28_partitioned_scan" -> partitionedScanAgg _,
    "e29_orc_source"     -> orcSourceAgg _,
    "e30_bucketed_join"  -> bucketedJoinAgg _,
  )

  private val D = graft.functions.Det.sql

  val oracles: Map[String, String] = Map(
    "e23_json_source" ->
      s"""SELECT event_type, count(*) AS n,
         |count(DISTINCT user_id) AS n_users,
         |${D.dsum("value", "sum_value")},
         |min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e24_csv_source" ->
      s"""SELECT CAST(hour(ts) AS BIGINT) AS hour, count(*) AS n,
         |${D.dsum("value", "sum_value")},
         |CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k
         |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    // every 97th event_id is written malformed → all-null data columns
    // + a _corrupt_record; the oracle reproduces that split by parity
    "e26_corrupt_source" ->
      """SELECT coalesce(CASE WHEN event_id % 97 = 0 THEN NULL
        |  ELSE event_type END, '_corrupt') AS bucket,
        |count(*) AS n,
        |count(*) FILTER (WHERE event_id % 97 = 0) AS n_corrupt,
        |round(CAST(sum(CASE WHEN event_id % 97 = 0
        |  THEN CAST(0 AS DECIMAL(18,4))
        |  ELSE CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "e27_merge_schema" ->
      """SELECT CASE WHEN event_id % 2 = 0 THEN event_type
        |  ELSE '_newgen' END AS bucket,
        |count(*) AS n,
        |count(DISTINCT CASE WHEN event_id % 2 = 0 THEN user_id END) AS n_users,
        |round(CAST(sum(CASE WHEN event_id % 2 = 0
        |  THEN CAST(0 AS DECIMAL(18,4))
        |  ELSE CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS sum_value,
        |max(CASE WHEN event_id % 2 = 0 THEN NULL ELSE epoch_us(ts) END)
        |  AS last_us
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "e28_partitioned_scan" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
         |  AS w_start,
         |count(*) AS n,
         |${D.dsum("value", "sum_value")}
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY w_start""".stripMargin,
    "e29_orc_source" ->
      s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n,
         |count(DISTINCT event_type) AS n_types,
         |${D.dsum("value", "sum_value")},
         |min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "e30_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |count(DISTINCT o_custkey) AS n_customers,
         |${D.dsum("o_totalprice", "revenue")}
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
  )
}
