package graft.avro

import scala.collection.mutable

/** Render generic datums as JSON text matching Python `json.dumps` defaults:
  * `", "` and `": "` separators, insertion (writer-field) key order, unions
  * unwrapped to their value.
  * (reference: avro-file-udf/lambda_function.py:14-22, python-udf/udf.py:9,
  * glue-schema-per-stream-udf/lambda_function.py:42 — all `json.dumps` sites.)
  */
object AvroJson {
  def render(datum: Any): String = {
    val sb = new StringBuilder
    write(datum, sb)
    sb.toString
  }

  def renderAll(datums: Seq[Any]): String =
    datums.map(render).mkString("[", ", ", "]")

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null            => sb.append("null")
    case b: Boolean      => sb.append(if (b) "true" else "false")
    case i: Int          => sb.append(i)
    case l: Long         => sb.append(l)
    case f: Float        => writeDouble(f.toDouble, sb)
    case d: Double       => writeDouble(d, sb)
    case s: String       => writeString(s, sb)
    case bd: java.math.BigDecimal => sb.append(bd.toPlainString)
    case d: java.time.LocalDate   => writeString(d.toString, sb)
    case t: java.time.LocalTime   => writeString(t.toString, sb)
    case t: java.time.Instant     => writeString(t.toString, sb)
    case b: Array[Byte]  =>
      // Python json.dumps would raise on bytes; reference fixtures avoid it
      // (SURVEY §7.4 n.5). We render ISO-8859-1-escaped for debuggability.
      writeString(new String(b, java.nio.charset.StandardCharsets.ISO_8859_1), sb)
    case r: AvroRecord =>
      sb.append('{')
      var first = true
      r.schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!first) sb.append(", ")
        first = false
        writeString(f.name, sb)
        sb.append(": ")
        write(r.values(i), sb)
      }
      sb.append('}')
    case m: mutable.LinkedHashMap[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, mv) =>
        if (!first) sb.append(", ")
        first = false
        writeString(k.toString, sb)
        sb.append(": ")
        write(mv, sb)
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, mv) =>
        if (!first) sb.append(", ")
        first = false
        writeString(k.toString, sb)
        sb.append(": ")
        write(mv, sb)
      }
      sb.append('}')
    case seq: Seq[_] =>
      sb.append('[')
      var first = true
      seq.foreach { e =>
        if (!first) sb.append(", ")
        first = false
        write(e, sb)
      }
      sb.append(']')
    case other => writeString(other.toString, sb)
  }

  /** Python `repr(float)`: the shortest round-tripping digits, fixed
    * notation for 1e-4 <= |d| < 1e16, else `d[.ddd]e±XX`. Java's
    * `Double.toString` agrees for 1e-3 <= |d| < 1e7 (and for 0, NaN and
    * Infinity); integral values below 1e16 print their exact digits. */
  private def writeDouble(d: Double, sb: StringBuilder): Unit = {
    val a = math.abs(d)
    if (d == d.toLong.toDouble && a < 1e16 && (d != 0.0 || 1.0 / d > 0)) {
      sb.append(d.toLong); sb.append(".0")
    } else if ((a >= 1e-3 && a < 1e7) || a == 0.0 || a.isNaN || a.isInfinite) sb.append(d)
    else writePythonRepr(d, sb)
  }

  private def writePythonRepr(d: Double, sb: StringBuilder): Unit = {
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
  }

  private def writeString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
