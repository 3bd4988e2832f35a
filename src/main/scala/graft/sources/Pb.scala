package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** Minimal protocol-buffers WIRE FORMAT codec — the public encoding
  * (varint `key = (field << 3) | wire_type`; wire types 0 = varint,
  * 1 = fixed64, 2 = length-delimited, 5 = fixed32; packed repeated
  * scalars as one length-delimited run; little-endian fixed widths).
  * Hand-rolled because the runtime classpath carries no protobuf-java
  * (only shaded copies inside ORC, which are internals, not API) — the
  * format itself is a few dozen lines, and owning it keeps the binary
  * transport dependency-free.
  *
  * Used by [[GrpcWire]] to seal the collection protocol's messages
  * (modeled on Qdrant's public gRPC API surface — the transport the
  * reference's client speaks, /root/reference/src/table.rs:133,301-302
  * via the `qdrant-client` crate). Only non-negative integers cross
  * these messages (ids are strings, positions/counts/dims are >= 0), so
  * plain varints suffice — no zigzag fields in the protocol.
  */
final class PbWriter {
  private val out = new java.io.ByteArrayOutputStream(64)

  def toBytes: Array[Byte] = out.toByteArray

  def rawVarint(v0: Long): this.type = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
    this
  }

  private def key(field: Int, wire: Int): Unit = {
    rawVarint(((field.toLong) << 3) | wire.toLong): Unit
  }

  /** wire type 0 — varint scalar. */
  def int(field: Int, v: Long): this.type = { key(field, 0); rawVarint(v) }

  def bool(field: Int, b: Boolean): this.type =
    if (b) int(field, 1L) else this // proto3 default: false is absent

  /** wire type 1 — fixed64 (IEEE double). */
  def double(field: Int, d: Double): this.type = {
    key(field, 1)
    var bits = java.lang.Double.doubleToLongBits(d)
    var i = 0
    while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
    this
  }

  /** wire type 2 — length-delimited bytes. */
  def bytes(field: Int, b: Array[Byte]): this.type = {
    key(field, 2); rawVarint(b.length.toLong); out.write(b, 0, b.length)
    this
  }

  def string(field: Int, s: String): this.type = bytes(field, s.getBytes(UTF_8))

  /** Nested message = its encoding, length-delimited. */
  def message(field: Int, w: PbWriter): this.type = bytes(field, w.toBytes)

  /** Packed repeated float (fixed32 runs in one length-delimited field). */
  def packedFloats(field: Int, a: Array[Float]): this.type = {
    key(field, 2); rawVarint(4L * a.length)
    var i = 0
    while (i < a.length) {
      var bits = java.lang.Float.floatToIntBits(a(i))
      var j = 0
      while (j < 4) { out.write(bits & 0xff); bits >>>= 8; j += 1 }
      i += 1
    }
    this
  }

  /** Packed repeated double. */
  def packedDoubles(field: Int, a: Array[Double]): this.type = {
    key(field, 2); rawVarint(8L * a.length)
    var i = 0
    while (i < a.length) {
      var bits = java.lang.Double.doubleToLongBits(a(i))
      var j = 0
      while (j < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; j += 1 }
      i += 1
    }
    this
  }

  /** Packed repeated varint. */
  def packedInts(field: Int, a: Array[Int]): this.type = {
    val body = new PbWriter
    a.foreach(v => body.rawVarint(v.toLong & 0xffffffffL))
    bytes(field, body.toBytes)
  }
}

/** Cursor over one message's bytes: `while (r.hasNext) r.readTag match
  * { case (field, wire) => ... }` with unknown fields skipped by wire
  * type — the standard forward-compatible decode loop.
  */
final class PbReader(buf: Array[Byte], from: Int, until: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)
  private var pos = from

  def hasNext: Boolean = pos < until

  def readRawVarint(): Long = {
    var shift = 0
    var v = 0L
    var b = 0
    do {
      require(pos < until, "truncated varint")
      b = buf(pos) & 0xff
      pos += 1
      v |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  /** -> (field number, wire type). */
  def readTag(): (Int, Int) = {
    val k = readRawVarint()
    ((k >>> 3).toInt, (k & 7).toInt)
  }

  def readDouble(): Double = {
    require(pos + 8 <= until, "truncated fixed64")
    var bits = 0L
    var j = 7
    while (j >= 0) { bits = (bits << 8) | (buf(pos + j) & 0xffL); j -= 1 }
    pos += 8
    java.lang.Double.longBitsToDouble(bits)
  }

  private def readLenBounds(): (Int, Int) = {
    // bound-check in Long BEFORE narrowing: a malformed length > 2^31
    // must fail as "truncated", not alias to a small Int (and pos + n
    // must never overflow the Int comparison into a vacuous pass)
    val n = readRawVarint()
    require(n >= 0L && n <= (until - pos).toLong,
      s"truncated length-delimited field ($n)")
    val b = (pos, pos + n.toInt)
    pos += n.toInt
    b
  }

  def readBytes(): Array[Byte] = {
    val (s, e) = readLenBounds()
    java.util.Arrays.copyOfRange(buf, s, e)
  }

  def readString(): String = {
    val (s, e) = readLenBounds()
    new String(buf, s, e - s, UTF_8)
  }

  /** Nested-message reader over the delimited slice (no copy). */
  def readMessage(): PbReader = {
    val (s, e) = readLenBounds()
    new PbReader(buf, s, e)
  }

  def readPackedFloats(): Array[Float] = readMessage().floats()

  def readPackedDoubles(): Array[Double] = readMessage().doubles()

  def readPackedInts(): Array[Int] = readMessage().ints()

  // ---- whole-slice reads: a nested reader's remaining bytes as one
  // value; they never move the cursor, so a slice reads the same twice

  def text(): String = new String(buf, pos, until - pos, UTF_8)

  def floats(): Array[Float] = {
    require((until - pos) % 4 == 0, "packed float run not 4-aligned")
    val out = new Array[Float]((until - pos) / 4)
    var i = 0
    while (i < out.length) {
      var bits = 0
      var j = 3
      while (j >= 0) { bits = (bits << 8) | (buf(pos + i * 4 + j) & 0xff); j -= 1 }
      out(i) = java.lang.Float.intBitsToFloat(bits)
      i += 1
    }
    out
  }

  def doubles(): Array[Double] = {
    require((until - pos) % 8 == 0, "packed double run not 8-aligned")
    val out = new Array[Double]((until - pos) / 8)
    var i = 0
    while (i < out.length) {
      var bits = 0L
      var j = 7
      while (j >= 0) { bits = (bits << 8) | (buf(pos + i * 8 + j) & 0xffL); j -= 1 }
      out(i) = java.lang.Double.longBitsToDouble(bits)
      i += 1
    }
    out
  }

  def ints(): Array[Int] = {
    val sub = new PbReader(buf, pos, until)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (sub.hasNext) out += sub.readRawVarint().toInt
    out.toArray
  }

  /** Skip one field's value by wire type (forward compatibility). */
  def skip(wire: Int): Unit = wire match {
    case 0 => readRawVarint(): Unit
    case 1 =>
      require(pos + 8 <= until, "truncated fixed64"); pos += 8
    case 2 => readLenBounds(): Unit
    case 5 =>
      require(pos + 4 <= until, "truncated fixed32"); pos += 4
    case w => throw new IllegalArgumentException(s"unsupported wire type $w")
  }
}

/** One message decoded into its fields by number, each field's values in
  * arrival order — varints as Long, fixed64 as Double, length-delimited
  * values as slice readers (strings, packed runs and nested messages all
  * decode from the slice). A scalar read takes the LAST value, as
  * protobuf does; absent fields read as their default; fixed32 fields,
  * which no message here uses, are skipped.
  */
final class PbFields(r: PbReader) {
  def this(bytes: Array[Byte]) = this(new PbReader(bytes))

  private val byNumber = scala.collection.mutable.HashMap.empty[Int, Vector[Any]]
  while (r.hasNext) {
    val (f, w) = r.readTag()
    val v: Any = w match {
      case 0 => r.readRawVarint()
      case 1 => r.readDouble()
      case 2 => r.readMessage()
      case _ => r.skip(w); null
    }
    if (v != null) byNumber(f) = byNumber.getOrElse(f, Vector.empty) :+ v
  }

  private def all[T](f: Int): Seq[T] = byNumber.getOrElse(f, Vector.empty).asInstanceOf[Seq[T]]

  def has(f: Int): Boolean = byNumber.contains(f)
  def long(f: Int, default: Long = 0L): Long = all[Long](f).lastOption.getOrElse(default)
  def int(f: Int, default: Int = 0): Int = long(f, default.toLong).toInt
  def bool(f: Int): Boolean = long(f) != 0L
  def double(f: Int, default: Double = 0.0): Double =
    all[Double](f).lastOption.getOrElse(default)
  def longs(f: Int): Seq[Long] = all[Long](f)
  def msgs(f: Int): Seq[PbReader] = all[PbReader](f)
  /** The last value of a length-delimited field (an empty slice if absent). */
  def slice(f: Int): PbReader = msgs(f).lastOption.getOrElse(new PbReader(Array.emptyByteArray))
  def fields(f: Int): Seq[PbFields] = msgs(f).map(new PbFields(_))
  def strs(f: Int): Seq[String] = msgs(f).map(_.text())
  def str(f: Int, default: String = ""): String = if (has(f)) slice(f).text() else default
}
