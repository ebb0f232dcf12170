package graft.sinks

import java.io.{ByteArrayOutputStream, EOFException}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Hand-rolled Avro BINARY body codec for the reference's fixed
  * `DarkpoolTrade` record (K2 — ref darkpool_trades/main.py:19-39
  * embeds the schema and Avro-serializes every record before the
  * Confluent framing; the spark-avro module is not on this container's
  * classpath, so the body encoding is implemented directly from the
  * public Avro 1.11 binary-encoding spec).
  *
  * Avro binary primitives used by the schema:
  *   - `int`/`long`: ZigZag-mapped then little-endian base-128 varint
  *   - `string`: `long` byte-length prefix + UTF-8 bytes
  *   - `enum`: `int` index into the symbol list (B=0, S=1, N=2)
  *   - `float`: 4 bytes little-endian IEEE-754
  * A record is simply its fields' encodings concatenated in schema
  * order — no per-record header or length.
  *
  * The price-like fields (`bid`/`ask`/`price`/`value`) are STRINGS in
  * the schema: the reference serializes `Decimal` values as their
  * string rendering (main.py:88-120 builds them with `Decimal`), which
  * this codec preserves byte-exactly — no float round-trip.
  *
  * Scale shape: encode/decode run at the sink/source boundary as a
  * typed `Dataset` map — the same per-row codec-at-the-boundary
  * pattern as the multimodal decode harness; everything before the
  * encode (and after the decode) stays columnar and codegen'd.
  */
object AvroBinary {

  /** The DarkpoolTrade record, field-for-field (main.py:19-39). */
  final case class DarkpoolTrade(
      ts: Long, symbol: String,
      bid: String, bid_sz: Int,
      ask: String, ask_sz: Int,
      price: String, qty: Int, value: String,
      side: String, confidence: Float, venue: String)

  val SideSymbols: IndexedSeq[String] = IndexedSeq("B", "S", "N")

  // ---- primitive writers (Avro spec: ZigZag + base-128 varint) ----

  private[sinks] def writeVarLong(out: ByteArrayOutputStream, v: Long): Unit = {
    // ZigZag: sign bit moves to bit 0 so small magnitudes stay short
    var n = (v << 1) ^ (v >> 63)
    while ((n & ~0x7fL) != 0L) {
      out.write(((n & 0x7f) | 0x80).toInt)
      n >>>= 7
    }
    out.write(n.toInt)
  }

  private[sinks] def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    writeVarLong(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  private[sinks] def writeFloat(out: ByteArrayOutputStream, f: Float): Unit = {
    val bits = java.lang.Float.floatToIntBits(f)
    out.write(bits & 0xff); out.write((bits >> 8) & 0xff)
    out.write((bits >> 16) & 0xff); out.write((bits >> 24) & 0xff)
  }

  // ---- primitive readers ----

  private final class Reader(bytes: Array[Byte]) {
    private var pos = 0
    def readVarLong(): Long = {
      var shift = 0; var acc = 0L; var b = 0
      do {
        if (pos >= bytes.length) throw new EOFException("truncated varint")
        // a varlong is AT MOST 10 bytes (70 bits of payload); past that
        // `<< shift` would wrap mod 64 and silently fold continuation
        // bytes back into low bits — an overlong/corrupt varint must be
        // an error, not a wrong value
        if (shift >= 70)
          throw new IllegalArgumentException("varint longer than 10 bytes")
        b = bytes(pos) & 0xff; pos += 1
        if (shift < 64) acc |= (b & 0x7fL) << shift
        else if ((b & 0x7f) != 0)
          throw new IllegalArgumentException("varint overflows 64 bits")
        shift += 7
      } while ((b & 0x80) != 0)
      (acc >>> 1) ^ -(acc & 1L) // un-ZigZag
    }
    def readInt(): Int = {
      val v = readVarLong()
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new IllegalArgumentException(s"int field out of range: $v")
      v.toInt
    }
    def readString(): String = {
      val lenL = readVarLong()
      // bound-check in LONG: a corrupt length like 0x1_0000_0005 must
      // not truncate to a plausible small int and mis-read the field
      if (lenL < 0 || lenL > bytes.length - pos)
        throw new EOFException(s"truncated string of length $lenL")
      val len = lenL.toInt
      val s = new String(bytes, pos, len, StandardCharsets.UTF_8)
      pos += len; s
    }
    def readFloat(): Float = {
      if (pos + 4 > bytes.length) throw new EOFException("truncated float")
      val bits = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8) |
        ((bytes(pos + 2) & 0xff) << 16) | ((bytes(pos + 3) & 0xff) << 24)
      pos += 4
      java.lang.Float.intBitsToFloat(bits)
    }
    def atEnd: Boolean = pos == bytes.length
  }

  // ---- the record codec ----

  def encode(t: DarkpoolTrade): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    writeVarLong(out, t.ts)
    writeString(out, t.symbol)
    writeString(out, t.bid)
    writeVarLong(out, t.bid_sz.toLong)
    writeString(out, t.ask)
    writeVarLong(out, t.ask_sz.toLong)
    writeString(out, t.price)
    writeVarLong(out, t.qty.toLong)
    writeString(out, t.value)
    val side = SideSymbols.indexOf(t.side)
    require(side >= 0, s"side '${t.side}' is not an enum symbol ${SideSymbols}")
    writeVarLong(out, side.toLong)
    writeFloat(out, t.confidence)
    writeString(out, t.venue)
    out.toByteArray
  }

  /** Strict decode: trailing garbage after the last field is an error
    * (a framing bug upstream), not silently ignored. */
  def decode(bytes: Array[Byte]): DarkpoolTrade = {
    val r = new Reader(bytes)
    val t = DarkpoolTrade(
      ts = r.readVarLong(), symbol = r.readString(),
      bid = r.readString(), bid_sz = r.readInt(),
      ask = r.readString(), ask_sz = r.readInt(),
      price = r.readString(), qty = r.readInt(), value = r.readString(),
      side = {
        val i = r.readInt()
        require(i >= 0 && i < SideSymbols.length, s"enum index $i out of range")
        SideSymbols(i)
      },
      confidence = r.readFloat(), venue = r.readString())
    if (!r.atEnd) throw new IllegalArgumentException(
      "trailing bytes after DarkpoolTrade record")
    t
  }

  // ---- Spark boundary ----

  /** Encode a typed trade Dataset to Confluent-framed Kafka values:
    * Avro body + the 5-byte registry header (composes [[encode]] with
    * [[ConfluentFraming.header]]). One row in, one framed
    * binary value out. */
  def encodeFramed(ds: Dataset[DarkpoolTrade], schemaId: Int): Dataset[Array[Byte]] = {
    import ds.sparkSession.implicits._
    val header = ConfluentFraming.header(schemaId)
    ds.map(t => header ++ encode(t))
  }

  /** Decode Confluent-framed values back to typed trades (the consumer
    * side: strip the 5-byte header, decode the Avro body). */
  def decodeFramed(spark: SparkSession, framed: Dataset[Array[Byte]]): Dataset[DarkpoolTrade] = {
    import spark.implicits._
    framed.map { bytes =>
      ConfluentFraming.parseHeader(bytes)
      decode(bytes.drop(5))
    }
  }
}
