package graft.avro

import java.nio.charset.StandardCharsets

/** JSON text exactly as Python `json.dumps` writes it with its defaults:
  * `", "` and `": "` separators, insertion (writer-field) key order, unions
  * unwrapped to their value, and `ensure_ascii`, so every char outside
  * `' '..'~'` is a lowercase `\uXXXX` escape (astral chars as a surrogate
  * pair) and the text is pure ASCII.
  * (reference: avro-file-udf/lambda_function.py:14-22, python-udf/udf.py:9,
  * glue-schema-per-stream-udf/lambda_function.py:42 — all `json.dumps` sites.)
  *
  * The `write*` primitives append to an [[AvroBinaryWriter]] used as a byte
  * buffer; [[AvroJsonTranscoder]] renders wire bytes with them. [[render]]
  * walks a generic datum with the same primitives: it renders reader-field
  * defaults, which exist only as generic datums, and is the reference the
  * transcoder is tested against.
  */
object AvroJson {
  def render(datum: Any): String = {
    val out = new AvroBinaryWriter(64)
    write(datum, out)
    new String(out.toByteArray, StandardCharsets.ISO_8859_1)
  }

  private def write(v: Any, out: AvroBinaryWriter): Unit = v match {
    case null            => writeAscii("null", out)
    case b: Boolean      => writeAscii(if (b) "true" else "false", out)
    case i: Int          => writeLong(i.toLong, out)
    case l: Long         => writeLong(l, out)
    case f: Float        => writeDouble(f.toDouble, out)
    case d: Double       => writeDouble(d, out)
    case s: String       => writeString(s, out)
    case bd: java.math.BigDecimal => writeAscii(bd.toPlainString, out)
    case d: java.time.LocalDate   => writeString(d.toString, out)
    case t: java.time.LocalTime   => writeString(t.toString, out)
    case t: java.time.Instant     => writeString(t.toString, out)
    case b: Array[Byte]  => writeLatin1(b, 0, b.length, out)
    case r: AvroRecord =>
      out.writeByte('{')
      var i = 0
      r.schema.fields.foreach { f =>
        if (i > 0) writeAscii(", ", out)
        writeString(f.name, out)
        writeAscii(": ", out)
        write(r.values(i), out)
        i += 1
      }
      out.writeByte('}')
    case m: scala.collection.Map[_, _] =>
      out.writeByte('{')
      var first = true
      m.foreach { case (k, mv) =>
        if (!first) writeAscii(", ", out)
        first = false
        writeString(k.toString, out)
        writeAscii(": ", out)
        write(mv, out)
      }
      out.writeByte('}')
    case seq: Seq[_] =>
      out.writeByte('[')
      var first = true
      seq.foreach { e =>
        if (!first) writeAscii(", ", out)
        first = false
        write(e, out)
      }
      out.writeByte(']')
    case other => writeString(other.toString, out)
  }

  /** Append `s`, which must be ASCII, as is. */
  def writeAscii(s: String, out: AvroBinaryWriter): Unit = {
    val n = s.length
    val b = out.reserve(n)
    val p = out.position
    var i = 0
    while (i < n) { b(p + i) = s.charAt(i).toByte; i += 1 }
    out.advance(n)
  }

  /** Append the decimal digits of `v`, two at a time, in 32-bit arithmetic
    * once the rest fits an Int. */
  def writeLong(v: Long, out: AvroBinaryWriter): Unit =
    if (v == Long.MinValue) writeAscii("-9223372036854775808", out)
    else {
      val neg = v < 0
      var x = if (neg) -v else v
      var n = 1
      var pow = 10L
      while (n < 19 && x >= pow) { n += 1; pow *= 10 }
      if (neg) n += 1
      val b = out.reserve(n)
      val p = out.position
      if (neg) b(p) = '-'
      var q = p + n
      while (x > Int.MaxValue) {
        val y = x / 100
        val r = (x - y * 100).toInt
        q -= 2; b(q) = DigitPairs(2 * r); b(q + 1) = DigitPairs(2 * r + 1)
        x = y
      }
      var i = x.toInt
      while (i >= 100) {
        val y = i / 100
        val r = i - y * 100
        q -= 2; b(q) = DigitPairs(2 * r); b(q + 1) = DigitPairs(2 * r + 1)
        i = y
      }
      if (i >= 10) { b(q - 2) = DigitPairs(2 * i); b(q - 1) = DigitPairs(2 * i + 1) }
      else b(q - 1) = ('0' + i).toByte
      out.advance(n)
    }
  private val DigitPairs: Array[Byte] =
    (0 until 100).map(i => f"$i%02d").mkString.getBytes(StandardCharsets.US_ASCII)

  /** Python `repr(float)`: the shortest round-tripping digits, fixed
    * notation for 1e-4 <= |d| < 1e16, else `d[.ddd]e±XX`. Java's
    * `Double.toString` agrees for 1e-3 <= |d| < 1e7 (and for 0, NaN and
    * Infinity); integral values below 1e16 print their exact digits. */
  def writeDouble(d: Double, out: AvroBinaryWriter): Unit = {
    val a = math.abs(d)
    if (d == d.toLong.toDouble && a < 1e16 && (d != 0.0 || 1.0 / d > 0)) {
      writeLong(d.toLong, out); writeAscii(".0", out)
    } else if ((a >= 1e-3 && a < 1e7) || a == 0.0 || a.isNaN || a.isInfinite)
      writeAscii(java.lang.Double.toString(d), out)
    else writeAscii(pythonRepr(d), out)
  }

  private def pythonRepr(d: Double): String = {
    val sb = new StringBuilder
    val exact = new java.math.BigDecimal(d)
    // Java's Double.toString is not always the shortest form (1e23 ->
    // 9.999999999999999E22 before JDK 19): search the closest n-digit
    // decimals instead
    var best: java.math.BigDecimal = null
    var n = 1
    while (best == null) {
      val r = exact.round(new java.math.MathContext(n, java.math.RoundingMode.HALF_EVEN))
      def dist(c: java.math.BigDecimal) = c.subtract(exact).abs
      best = Seq(r, r.add(r.ulp), r.subtract(r.ulp))
        .filter(_.doubleValue == d)
        .reduceOption((x, y) => if (dist(x).compareTo(dist(y)) <= 0) x else y)
        .orNull
      n += 1
    }
    val stripped = best.stripTrailingZeros
    val digits = stripped.unscaledValue.abs.toString
    val decpt = digits.length - stripped.scale // value = 0.digits * 10^decpt
    if (d < 0) sb.append('-')
    if (decpt > -4 && decpt <= 16) {
      if (decpt <= 0) sb.append("0.").append("0" * -decpt).append(digits)
      else if (decpt >= digits.length)
        sb.append(digits).append("0" * (decpt - digits.length)).append(".0")
      else sb.append(digits.substring(0, decpt)).append('.').append(digits.substring(decpt))
    } else {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      val e = decpt - 1
      sb.append(if (e < 0) "e-" else "e+")
      if (math.abs(e) < 10) sb.append('0')
      sb.append(math.abs(e))
    }
    sb.toString
  }

  /** The escape of each ASCII char, or null where the char stands for
    * itself (`' '..'~'` except `"` and `\`). */
  private val AsciiEscapes: Array[Array[Byte]] = Array.tabulate(128) { c =>
    val esc = c match {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case '\b' => "\\b"
      case '\f' => "\\f"
      case _ if c < ' ' || c > '~' => f"\\u$c%04x"
      case _ => null
    }
    if (esc == null) null else esc.getBytes(StandardCharsets.US_ASCII)
  }
  private val Hex = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** The one string-escape routine: append UTF-16 char `c` of a string. */
  private def writeChar(c: Char, out: AvroBinaryWriter): Unit =
    if (c < 128) {
      val esc = AsciiEscapes(c)
      if (esc == null) out.writeByte(c) else out.writeRaw(esc, 0, esc.length)
    } else {
      val b = out.reserve(6)
      val p = out.position
      b(p) = '\\'; b(p + 1) = 'u'
      b(p + 2) = Hex((c >> 12) & 0xf); b(p + 3) = Hex((c >> 8) & 0xf)
      b(p + 4) = Hex((c >> 4) & 0xf); b(p + 5) = Hex(c & 0xf)
      out.advance(6)
    }

  /** Append `s` as a quoted JSON string. */
  def writeString(s: String, out: AvroBinaryWriter): Unit = {
    out.writeByte('"')
    var i = 0
    while (i < s.length) { writeChar(s.charAt(i), out); i += 1 }
    out.writeByte('"')
  }

  /** Append the UTF-8 text `src[off, off + len)` as a quoted JSON string.
    * ASCII text is escaped byte by byte; text with any other byte is decoded
    * to a `String` first, so invalid sequences become U+FFFD exactly as in
    * [[AvroBinaryReader.readString]]. */
  def writeUtf8(src: Array[Byte], off: Int, len: Int, out: AvroBinaryWriter): Unit =
    if (!writeBytes(src, off, len, out, latin1 = false))
      writeString(new String(src, off, len, StandardCharsets.UTF_8), out)

  /** Append bytes as a quoted JSON string of the chars U+0000..U+00FF.
    * Python's `json.dumps` refuses bytes; this renders them readably. */
  def writeLatin1(src: Array[Byte], off: Int, len: Int, out: AvroBinaryWriter): Unit =
    writeBytes(src, off, len, out, latin1 = true)

  /** Append `src[off, off + len)` as a quoted string, one char per byte.
    * A byte above 0x7f is escaped as a Latin-1 char when `latin1`; otherwise
    * it undoes everything appended and returns false. */
  private def writeBytes(src: Array[Byte], off: Int, len: Int, out: AvroBinaryWriter,
                         latin1: Boolean): Boolean = {
    val start = out.position
    // room for the quotes and one byte per char; an escape re-reserves
    var b = out.reserve(len + 2)
    var p = start
    b(p) = '"'; p += 1
    val end = off + len
    var i = off
    while (i < end) {
      val c = src(i)
      if (c >= 0 && AsciiEscapes(c) == null) { b(p) = c; p += 1 }
      else if (c < 0 && !latin1) { out.truncate(start); return false }
      else {
        out.advance(p - out.position)
        writeChar((c & 0xff).toChar, out)
        b = out.reserve(end - i + 1)
        p = out.position
      }
      i += 1
    }
    b(p) = '"'; p += 1
    out.advance(p - out.position)
    true
  }
}
