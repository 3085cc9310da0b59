package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the fixture tables (TPC-H-ish star schema + events stream
  * table + LLM-pipeline tables). See FIXTURES.md for schemas.
  *
  * Scale notes (designed for ~100 TB on a real cluster, tested on local):
  *  - `region`/`nation` are constant-size dimensions (5/25 rows at every
  *    scale factor) — always broadcast them into joins.
  *  - `supplier`/`part`/`customer` grow with SF; leave join strategy to
  *    Catalyst + AQE (broadcast at small SF, shuffled hash/SMJ at scale).
  *  - `orders`/`lineitem`/`events` are fact tables — never broadcast;
  *    filters are written against raw columns so parquet predicate
  *    pushdown + column pruning apply before any shuffle.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` normalization — the fixture has shipped two physical
    * types across driver regenerations, and both must land on the
    * SAME Spark type (TIMESTAMP, i.e. LTZ) so every downstream
    * `unix_micros`/window/test contract sees one schema:
    *  - TIMESTAMP(NANOS): Spark 4 refuses to read it natively
    *    ([PARQUET_TYPE_ILLEGAL]) → read as raw long via the legacy
    *    conf, truncate ns→µs with integer division (a double division
    *    would lose precision at ~1.7e18 ns) — the same truncation
    *    DuckDB applies;
    *  - TIMESTAMP(MICROS) without timezone: Spark 4 infers
    *    TIMESTAMP_NTZ → cast to LTZ, which under the engine-wide UTC
    *    session timezone is value-preserving (the oracle reads the
    *    same file as a naive timestamp, so wall-clock values agree). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(rawEvents(s, d)._1)

  /** The events fixture as stored (`ts` not yet normalized) and its
    * path: the one read of that file, for [[events]] and the streaming
    * sources. `nanosAsLong` must stay set for the LIFETIME of any query
    * over it — the parquet reader consults it at every micro-batch, not
    * just at schema inference — so it is never restored; it only affects
    * nanos-annotated columns, which exist solely in this fixture. */
  private[graft] def rawEvents(s: SparkSession, d: String)
      : (DataFrame, String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    (s.read.parquet(path), path)
  }

  /** The single implementation of the two-generation `ts` contract —
    * shared by the batch reader above and the streaming source builders
    * in [[graft.streaming.StreamOps]], so batch and stream can never
    * drift. The NTZ→LTZ cast is value-preserving ONLY under a UTC
    * session timezone; failing fast here turns a silent whole-column
    * timestamp shift (every window/hour/unix_micros downstream) into an
    * immediate error for any new session builder that forgets the
    * config. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    // Accept any zone id that RESOLVES to UTC ("UTC", "Etc/UTC", "+00:00",
    // "Z", "GMT"…) — the cast is value-preserving under all of them; a
    // strict string compare would reject equivalent configurations.
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    val isUtc =
      try java.time.ZoneId.of(tz).normalized == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"graft sessions must set spark.sql.session.timeZone to UTC (got " +
        s"'$tz') — the events ts normalization (and every oracle " +
        "comparison) depends on it")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df.withColumn("ts", col("ts").cast(TimestampType))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Constant-size dims, pre-hinted for broadcast join. */
  def regionB(s: SparkSession, d: String): DataFrame = broadcast(region(s, d))
  def nationB(s: SparkSession, d: String): DataFrame = broadcast(nation(s, d))
}
