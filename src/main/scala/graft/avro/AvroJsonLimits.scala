package graft.avro

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.time.LocalTime

import com.fasterxml.jackson.core.StreamReadConstraints

import AvroResolution.deref
import Resolved._

/** The limits Jackson's parser puts on JSON text, as they bear on the text
  * [[AvroJsonTranscoder]] renders. Spark's JSON readers (`get_json_object`,
  * `from_json`) parse with `StreamReadConstraints.defaults()`; a string,
  * name, number or nesting depth past these limits makes them fail or null
  * the whole document, as does a non-finite float, which renders as the
  * non-standard token `NaN` or `Infinity`. A decode that promises what those
  * readers make of the engine's JSON text checks a datum against this first
  * and, at [[AvroJsonLimits.Beyond]], leaves that datum to the JSON path. */
final case class AvroJsonLimits(maxString: Int, maxName: Int, maxDepth: Int,
    maxNumber: Int, unboundedDocument: Boolean) {

  /** Can the JSON text of every datum of `writer`, nested `extraDepth`
    * levels deep, stay within the limits that do not depend on the datum:
    * nesting depth, record field names, enum symbols, fixed sizes, and
    * number lengths of ints and floats? A recursive schema cannot. */
  def admits(writer: AvroSchema, extraDepth: Int): Boolean =
    unboundedDocument && maxNumber >= 24 && // "-2.2250738585072014e-308"
      AvroJsonLimits.depth(writer).exists(_ + extraDepth <= maxDepth) && fits(writer, Set.empty)

  private def fits(s: AvroSchema, seen: Set[String]): Boolean = deref(s) match {
    case r: ARecord => seen(r.fullName) || r.fields.forall(f =>
      f.name.length <= maxName && fits(f.schema, seen + r.fullName))
    case e: AEnum => e.symbols.forall(_.length <= maxString)
    case f: AFixed => f.size <= maxString
    case AArray(items) => fits(items, seen)
    case AMap(values) => fits(values, seen)
    case u: AUnion => u.branches.forall(fits(_, seen))
    case _ => true
  }

  /** Walks the datum of `writer` at `in` as the transcoder renders it,
    * failing where rendering it fails, and raises [[AvroJsonLimits.Beyond]]
    * at a string or map key past the limits, a non-finite float, a decimal
    * whose digits are past the number limit, or a map key seen twice in one
    * map. The limits [[admits]] covers are not checked here. */
  def checker(writer: AvroSchema): AvroBinaryReader => Unit =
    new Checks().of(AvroResolver.resolve(writer, writer))

  private final class Checks {
    /** One walk per record node: a recursive plan's cycle closes here. */
    private val records = new java.util.IdentityHashMap[Record, AvroBinaryReader => Unit]()

    def of(plan: Resolved): AvroBinaryReader => Unit = plan match {
      case s: Scalar => scalar(s)
      case Skip(w) => of(AvroResolver.resolve(w, w))
      case f: Fail => _ => f.raise()
      case WriterUnion(plans) =>
        val branches = plans.map(of).toArray
        val n = branches.length
        in => branches(branchIndex(in, n))(in)
      case ReaderUnion(_, _, value) => of(value)
      case e: EnumRemap =>
        val read = e.decoder(e.symbols.toArray)
        in => { read(in); () }
      case ArrayOf(items) =>
        val item = of(items)
        in => {
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) { count = -count; in.skipLong() }
            var i = 0L
            while (i < count) { item(in); i += 1 }
            count = in.readLong()
          }
        }
      case MapOf(values) => map(of(values))
      case rec: Record =>
        val known = records.get(rec)
        if (known != null) known
        else {
          var real: AvroBinaryReader => Unit = null
          val forwarder: AvroBinaryReader => Unit = in => real(in)
          records.put(rec, forwarder)
          val fields = rec.fields.map(of)
          real = in => { var i = 0; while (i < fields.length) { fields(i)(in); i += 1 } }
          forwarder
        }
    }

    /** The checks of one map: every key within the name limit and unlike
      * every other key of the map, compared as wire bytes. */
    private def map(value: AvroBinaryReader => Unit): AvroBinaryReader => Unit = in => {
      var spans: Array[Int] = null // per key: start, length
      var seen: java.util.HashSet[java.nio.ByteBuffer] = null
      var n = 0
      var count = in.readLong()
      while (count != 0) {
        if (count < 0) { count = -count; in.skipLong() }
        var i = 0L
        while (i < count) {
          val len = in.readLength("string")
          if (len > maxName) throw AvroJsonLimits.Beyond
          val start = in.pos
          if (n < 16) {
            if (spans == null) spans = new Array[Int](32)
            var j = 0
            while (j < n) {
              if (java.util.Arrays.equals(in.buf, spans(2 * j), spans(2 * j) + spans(2 * j + 1),
                  in.buf, start, start + len)) throw AvroJsonLimits.Beyond
              j += 1
            }
            spans(2 * n) = start; spans(2 * n + 1) = len
          } else {
            if (seen == null) {
              seen = new java.util.HashSet[java.nio.ByteBuffer]()
              var j = 0
              while (j < n) { seen.add(java.nio.ByteBuffer.wrap(in.buf, spans(2 * j), spans(2 * j + 1))); j += 1 }
            }
            if (!seen.add(java.nio.ByteBuffer.wrap(in.buf, start, len))) throw AvroJsonLimits.Beyond
          }
          in.pos += len
          value(in)
          n += 1
          i += 1
        }
        count = in.readLong()
      }
    }

    /** A scalar read as the transcoder reads it for rendering. */
    private def scalar(s: Scalar): AvroBinaryReader => Unit = s.logical match {
      case ADecimal(_, scale, _) =>
        def check(unscaled: Array[Byte]): Unit =
          if (new JBigDecimal(new BigInteger(unscaled), scale).toPlainString.length > maxNumber)
            throw AvroJsonLimits.Beyond
        deref(s.wire) match {
          case AFixed(_, _, size, _) => in => check(in.readFixed(size))
          case _ => in => check(in.readBytes())
        }
      case ATimeMillis(_) => in => { LocalTime.ofNanoOfDay(in.readInt() * 1000000L); () }
      case ATimeMicros(_) => in => { LocalTime.ofNanoOfDay(in.readLong() * 1000L); () }
      case _ => s.wire match {
        case ANull => _ => ()
        case ABoolean => in => { in.readBoolean(); () }
        case AInt | ALong => in => { in.readLong(); () }
        case AFloat => in => if (!java.lang.Float.isFinite(in.readFloat())) throw AvroJsonLimits.Beyond
        case ADouble => in => if (!java.lang.Double.isFinite(in.readDouble())) throw AvroJsonLimits.Beyond
        case AString | ABytes => in => {
          val n = in.readLength(s.wire.typeName)
          if (n > maxString) throw AvroJsonLimits.Beyond
          in.pos += n
        }
        case AFixed(_, _, size, _) => in => in.skip(size.toLong)
        case other => throw new AvroResolutionException(s"cannot decode ${other.typeName}")
      }
    }
  }
}

object AvroJsonLimits {
  /** The limits Jackson parses with now: a program may replace the
    * defaults (`StreamReadConstraints.overrideDefaultStreamReadConstraints`). */
  def current(): AvroJsonLimits = {
    val c = StreamReadConstraints.defaults()
    AvroJsonLimits(c.getMaxStringLength, c.getMaxNameLength, c.getMaxNestingDepth,
      c.getMaxNumberLength, c.getMaxDocumentLength <= 0 && c.getMaxTokenCount <= 0)
  }

  /** A datum whose JSON text Spark's readers would not read back as its
    * value; carries no stack trace, as it only redirects the datum. */
  object Beyond extends RuntimeException("datum beyond the JSON read limits", null, false, false)

  /** The deepest nesting of objects and arrays in the JSON text of a datum
    * of `s`, or None for a recursive schema, whose depth has no bound. */
  def depth(s: AvroSchema): Option[Int] = {
    def go(s: AvroSchema, path: Set[String]): Option[Int] = deref(s) match {
      case r: ARecord =>
        if (path(r.fullName)) None
        else r.fields.foldLeft(Option(0))((d, f) =>
          d.flatMap(a => go(f.schema, path + r.fullName).map(math.max(a, _)))).map(_ + 1)
      case AArray(items) => go(items, path).map(_ + 1)
      case AMap(values) => go(values, path).map(_ + 1)
      case u: AUnion => u.branches.foldLeft(Option(0))((d, b) =>
        d.flatMap(a => go(b, path).map(math.max(a, _))))
      case _ => Some(0)
    }
    go(s, Set.empty)
  }
}
