package graft.avro

import java.nio.charset.StandardCharsets

final class AvroEofException(msg: String) extends RuntimeException(msg)

/** Positional binary reader over a byte array implementing the Avro wire
  * primitives: zigzag varints, little-endian IEEE floats, length-prefixed
  * bytes/strings, and type-directed skips.
  *
  * (reference: python-udf/avro/io.py:235-421 — BinaryDecoder read_* / skip_*)
  */
final class AvroBinaryReader(val buf: Array[Byte], var pos: Int, val end: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  @inline def remaining: Int = end - pos
  @inline def atEnd: Boolean = pos >= end

  @inline private def need(n: Int): Unit =
    if (pos + n > end) throw new AvroEofException(s"need $n bytes at pos $pos, have ${end - pos}")

  def readByte(): Int = { need(1); val b = buf(pos) & 0xff; pos += 1; b }

  def readBoolean(): Boolean = readByte() != 0

  /** zigzag varint (reference: io.py:248-266; decode `(n>>1)^-(n&1)`). */
  def readLong(): Long = {
    var b = readByte()
    var n: Long = (b & 0x7f).toLong
    var shift = 7
    while ((b & 0x80) != 0) {
      b = readByte()
      n |= (b & 0x7f).toLong << shift
      shift += 7
    }
    (n >>> 1) ^ -(n & 1)
  }

  def readInt(): Int = readLong().toInt

  def readFloat(): Float = {
    need(4)
    val bits = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
      ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
    pos += 4
    java.lang.Float.intBitsToFloat(bits)
  }

  def readDouble(): Double = {
    need(8)
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (buf(pos + i) & 0xffL); i -= 1 }
    pos += 8
    java.lang.Double.longBitsToDouble(bits)
  }

  def readFixed(n: Int): Array[Byte] = {
    need(n)
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
    pos += n
    out
  }

  /** Read the length prefix of a `what` ("bytes" or "string") value and
    * check that many bytes remain; the value starts at `pos`. */
  def readLength(what: String): Int = {
    val n = readLong()
    if (n < 0 || n > Int.MaxValue) throw new AvroEofException(s"bad $what length $n")
    need(n.toInt)
    n.toInt
  }

  def readBytes(): Array[Byte] = readFixed(readLength("bytes"))

  /** The UTF-8 bytes of a string value, undecoded. */
  def readStringBytes(): Array[Byte] = readFixed(readLength("string"))

  def readString(): String = {
    val n = readLength("string")
    val s = new String(buf, pos, n, StandardCharsets.UTF_8)
    pos += n
    s
  }

  // ---- skips (decode-free seeking; reference: io.py:394-421,793-822) -----
  def skip(n: Long): Unit = {
    if (n < 0 || pos + n > end) throw new AvroEofException(s"cannot skip $n at $pos")
    pos += n.toInt
  }
  def skipLong(): Unit = { while ((readByte() & 0x80) != 0) () }
  def skipBytes(): Unit = skip(readLong())
}

/** Avro wire-format writer (reference: python-udf/avro/io.py:441-631
  * write_*), backed by an UNSYNCHRONIZED growable byte array. The previous
  * `ByteArrayOutputStream` backing paid a synchronized virtual call PER BYTE
  * (a varint long = up to 10 monitor acquisitions); the engine sink encodes
  * every row through this class, so the buffer is hand-rolled: bounds are
  * checked once per primitive (`ensure`), bytes land via direct array
  * stores, and [[reserve]]/[[advance]] expose the raw tail so callers can
  * bulk-copy payloads (e.g. UTF8String bytes) without an intermediate
  * array. */
final class AvroBinaryWriter(initialCapacity: Int = 64) {
  private var buf = new Array[Byte](math.max(16, initialCapacity))
  private var count = 0

  /** Bytes written so far. */
  def size: Int = count
  /** Length of the backing array. */
  def capacity: Int = buf.length
  /** Drop the contents, keeping the capacity (per-datum reuse). */
  def reset(): Unit = count = 0
  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, count)
  /** Copy the contents to `os` without materializing an intermediate array. */
  def writeTo(os: java.io.OutputStream): Unit = os.write(buf, 0, count)

  // `n > buf.length - count` cannot overflow (both sides are non-negative
  // Ints), unlike `count + n > buf.length` for a large `n`
  @inline private def ensure(n: Int): Unit =
    if (n > buf.length - count) grow(n)
  private def grow(n: Int): Unit = {
    val need = count.toLong + n
    if (need > AvroBinaryWriter.MaxCapacity)
      throw new IllegalStateException(s"AvroBinaryWriter: $need bytes " +
        s"($count written + $n requested) exceed the maximum buffer size " +
        s"of ${AvroBinaryWriter.MaxCapacity} bytes")
    buf = java.util.Arrays.copyOf(buf,
      math.min(math.max(buf.length.toLong << 1, need),
        AvroBinaryWriter.MaxCapacity.toLong).toInt)
  }

  /** Ensure `n` writable bytes and return the backing array; the caller
    * fills `[position, position + n)` and then [[advance]]s. */
  def reserve(n: Int): Array[Byte] = { ensure(n); buf }
  def position: Int = count
  def advance(n: Int): Unit = count += n
  /** Drop everything written after the first `size` bytes. */
  def truncate(size: Int): Unit = {
    require(size >= 0 && size <= count, s"cannot truncate $count bytes to $size")
    count = size
  }

  def writeByte(b: Int): Unit = {
    ensure(1)
    buf(count) = b.toByte
    count += 1
  }

  def writeBoolean(b: Boolean): Unit = {
    ensure(1)
    buf(count) = if (b) 1 else 0
    count += 1
  }

  /** zigzag varint encode `(n<<1)^(n>>63)` (reference: io.py:454-468). */
  def writeLong(v: Long): Unit = {
    var n = (v << 1) ^ (v >> 63)
    ensure(10)
    val b = buf
    var c = count
    while ((n & ~0x7fL) != 0) {
      b(c) = ((n & 0x7f) | 0x80).toByte
      c += 1
      n >>>= 7
    }
    b(c) = n.toByte
    count = c + 1
  }
  def writeInt(v: Int): Unit = writeLong(v.toLong)

  def writeFloat(v: Float): Unit = {
    val bits = java.lang.Float.floatToIntBits(v)
    ensure(4)
    val b = buf
    val c = count
    b(c) = bits.toByte
    b(c + 1) = (bits >> 8).toByte
    b(c + 2) = (bits >> 16).toByte
    b(c + 3) = (bits >> 24).toByte
    count = c + 4
  }

  def writeDouble(v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    ensure(8)
    val b = buf
    val c = count
    var i = 0
    while (i < 8) { b(c + i) = (bits >> (8 * i)).toByte; i += 1 }
    count = c + 8
  }

  def writeFixed(b: Array[Byte]): Unit = writeRaw(b, 0, b.length)

  /** Append `len` raw bytes (no length prefix). */
  def writeRaw(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(b, off, buf, count, len)
    count += len
  }

  def writeBytes(b: Array[Byte]): Unit = {
    writeLong(b.length.toLong)
    writeRaw(b, 0, b.length)
  }

  def writeString(s: String): Unit = writeBytes(s.getBytes(StandardCharsets.UTF_8))
}

object AvroBinaryWriter {
  /** The largest byte array the JVM reliably allocates (a few header words
    * below `Int.MaxValue`, as in `java.util.ArrayList`). */
  val MaxCapacity: Int = Int.MaxValue - 8
}
