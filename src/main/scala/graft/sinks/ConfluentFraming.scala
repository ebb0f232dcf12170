package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Confluent Schema-Registry wire format (K2): every Kafka value is
  * `0x00 | int32-BE schema id | payload` (ref darkpool_trades/
  * basic.py:114-252 — the reference fetches the latest subject version
  * and frames each Avro message; the 5-byte header is the part Spark
  * has no built-in for, per SURVEY.md §7).
  *
  * The framing is pure column expressions over any binary payload —
  * plug `to_avro(...)` in as the payload where the spark-avro module
  * is on the classpath (this container ships only avro-core, so tests
  * use JSON bytes; the wire format is payload-agnostic by design).
  */
object ConfluentFraming {

  val MagicByte: Int = 0x00

  /** The 5-byte registry header: the magic byte, then the schema id as
    * int32 big-endian. */
  def header(schemaId: Int): Array[Byte] =
    Array(MagicByte.toByte, ((schemaId >> 24) & 0xff).toByte,
      ((schemaId >> 16) & 0xff).toByte, ((schemaId >> 8) & 0xff).toByte,
      (schemaId & 0xff).toByte)

  /** The schema id in a framed value's header; throws when the value
    * is shorter than the header or lacks the magic byte. The payload
    * is `bytes.drop(5)`. */
  def parseHeader(bytes: Array[Byte]): Int = {
    require(bytes.length >= 5 && bytes(0) == MagicByte,
      "not a Confluent-framed value")
    ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
  }

  /** Frame a binary payload column with the 5-byte registry header. */
  def frame(payload: Column, schemaId: Int): Column =
    concat(lit(header(schemaId)), payload)

  /** Parse a framed value back: (schema_id, payload). The inverse is
    * what a registry-aware consumer does before deserializing
    * (ref darkpool_trades/basic.py:229-239 reads the subject's latest
    * schema to interpret the payload).
    */
  def unframe(framed: Column): Column = {
    // bytes 2..5 are the BE id; substring on binary is 1-based
    val b = (i: Int) => conv(hex(substring(framed, i, 1)), 16, 10).cast("int")
    struct(
      (b(2) * 16777216 + b(3) * 65536 + b(4) * 256 + b(5)).as("schema_id"),
      framed.substr(lit(6), length(framed) - 5).as("payload"))
  }

  /** Validity predicate: magic byte present. */
  def isFramed(framed: Column): Column =
    length(framed) >= 5 && substring(framed, 1, 1) === lit(Array(0x00.toByte))
}
