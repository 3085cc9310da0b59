package graft.streaming

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Encoders}

/** Broker-free Avro VALUE serde for the Kafka wire — the
  * `from_avro`/`to_avro` surface. The `spark-avro` module is absent
  * from this classpath, but `org.apache.avro` itself ships with Spark
  * core (avro-1.12.1 in /opt/spark/jars — it backs streaming state
  * encoding, which s44 already exercises), so the serde is built
  * directly on the Avro Java API: one `GenericDatumWriter`/`Reader`
  * per PARTITION, binary (schemaless) wire encoding, exactly the shape
  * a Confluent-style value payload carries after the magic-byte/ID
  * header is stripped.
  *
  * Distribution: both directions are `mapPartitions` over the typed
  * Dataset — the Avro objects are created once per task, rows stream
  * through them, nothing touches the driver. The decoder is PERMISSIVE
  * in the [[StreamOps.parseKafkaValue]] sense: a payload that fails to
  * decode yields an all-null row (poison-pill tolerance), never a task
  * failure.
  *
  * Timestamps ride the wire as Avro `long` epoch-MICROS (the
  * `timestamp-micros` logical type's representation) — the fixture's
  * parquet event times are µs-precision, and a millisecond wire format
  * would silently truncate them (the same trap [[StreamOps.kafkaTsFormat]]
  * documents for the JSON serde).
  */
object AvroSerde {

  /** The events VALUE record — field order is the wire contract. */
  val eventsSchemaJson: String =
    """{"type":"record","name":"Event","namespace":"graft","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"props","type":"string"}]}""".stripMargin

  /** Typed row shape on both sides of the wire (nullable boxes so a
    * corrupt payload can decode to an all-null row). */
  private[graft] case class WireEvent(
      event_id: java.lang.Long, ts: java.sql.Timestamp,
      user_id: java.lang.Long, event_type: String,
      value: java.lang.Double, props: String)

  /** `ts` as epoch microseconds — the wire's `timestamp-micros` value,
    * and the one Timestamp→µs conversion the streaming code uses. */
  private[graft] def micros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Producer stand-in: typed event columns → one Avro-binary `value`
    * column (what the connector would hand to the broker). */
  def toAvroValues(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[WireEvent]
      .mapPartitions { it =>
        val schema = new Schema.Parser().parse(eventsSchemaJson)
        val writer = new GenericDatumWriter[GenericRecord](schema)
        val baos = new ByteArrayOutputStream(64)
        // Avro's reuse API: one encoder and one record per PARTITION,
        // re-initialized per row — not re-allocated (the per-row
        // BufferedBinaryEncoder + Record allocations are pure GC
        // pressure on a large stream)
        var enc: org.apache.avro.io.BinaryEncoder = null
        val r = new GenericData.Record(schema)
        it.map { e =>
          baos.reset()
          enc = EncoderFactory.get().binaryEncoder(baos, enc)
          r.put("event_id", e.event_id.longValue())
          r.put("ts", micros(e.ts))
          r.put("user_id", e.user_id.longValue())
          r.put("event_type", e.event_type)
          r.put("value", e.value.doubleValue())
          r.put("props", e.props)
          writer.write(r, enc)
          enc.flush()
          baos.toByteArray
        }
      }(Encoders.BINARY)
      .toDF("value")
  }

  /** The Avro half of [[StreamOps.parseKafkaValue]]: wire rows (binary
    * `value`) → typed event columns. A payload that fails to decode —
    * truncated, empty, wrong schema — becomes an all-null row. */
  def fromAvroValues(wire: DataFrame): DataFrame = {
    val spark = wire.sparkSession
    import spark.implicits._
    wire.select("value").as[Array[Byte]]
      .mapPartitions { it =>
        val schema = new Schema.Parser().parse(eventsSchemaJson)
        val reader = new GenericDatumReader[GenericRecord](schema)
        // decoder + record reused across the partition (see the
        // encoder-side note); a failed decode may leave the reused
        // record partially written, which is fine — the next read
        // overwrites every field or throws again
        var dec: org.apache.avro.io.BinaryDecoder = null
        var rec: GenericRecord = null
        it.map { bytes =>
          try {
            dec = DecoderFactory.get().binaryDecoder(bytes, dec)
            rec = reader.read(rec, dec)
            val r = rec
            if (!dec.isEnd)
              throw new IllegalArgumentException("trailing wire bytes")
            WireEvent(
              r.get("event_id").asInstanceOf[Long],
              timestamp(r.get("ts").asInstanceOf[Long]),
              r.get("user_id").asInstanceOf[Long],
              r.get("event_type").toString,
              r.get("value").asInstanceOf[Double],
              r.get("props").toString)
          } catch {
            case scala.util.control.NonFatal(_) =>
              WireEvent(null, null, null, null, null, null)
          }
        }
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}
