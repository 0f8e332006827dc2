package graft.avro

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalTime}

import AvroJson.{writeAscii, writeDouble, writeLatin1, writeLong, writeString, writeUtf8}
import AvroJsonTranscoder._
import AvroResolution.deref
import Resolved._

/** Avro binary → JSON text in one pass, compiled once per writer schema.
  *
  * Reads the wire with [[AvroBinaryReader]] and appends the JSON bytes to an
  * [[AvroBinaryWriter]], with no generic datum in between: the JSON emitter
  * over the resolution plan [[AvroResolver]] compiles for (writer, writer).
  * The output is byte-identical to
  * `AvroJson.render(new AvroDatumReader(writer).read(bytes))`:
  *  - a union branch renders as the FIRST branch of the same union it
  *    matches, promotions included: the int branch of `["long","int"]`
  *    reads as a long, the string branch of `["bytes","string"]` renders
  *    as bytes;
  *  - a writer logical type renders as itself;
  *  - duplicate map keys collapse as in a `LinkedHashMap`: first position,
  *    last value;
  *  - reads, and so every error, happen in the same order with the same
  *    messages.
  * Record keys are pre-rendered `"name": ` prefixes and enum symbols are
  * pre-quoted. A transcoder is immutable and may be shared across threads.
  */
final class AvroJsonTranscoder(writerSchema: AvroSchema) {
  /** One closure per record node: a recursive plan's cycle closes here. */
  private val records = new java.util.IdentityHashMap[Record, Emit]()
  private val emit: Emit = emitOf(AvroResolver.resolve(writerSchema, writerSchema))

  /** Append the JSON of the datum at `in.pos` to `out`. */
  def write(in: AvroBinaryReader, out: AvroBinaryWriter): Unit = emit(in, out)

  /** The JSON text of one bare datum, as (ASCII) bytes. */
  def toJson(datum: Array[Byte]): Array[Byte] =
    AvroJsonTranscoder.render(out => emit(new AvroBinaryReader(datum), out))

  private def emitOf(plan: Resolved): Emit = plan match {
    case s: Scalar => scalar(s)
    case Skip(w) =>
      val sk = AvroSkipper.compile(w)
      (in, _) => sk(in)
    case f: Fail => (_, _) => f.raise()
    case WriterUnion(plans) =>
      val branches = plans.map(emitOf).toArray
      val n = branches.length
      (in, out) => branches(branchIndex(in, n))(in, out)
    case ReaderUnion(_, _, value) => emitOf(value)
    case e: EnumRemap =>
      val read = e.decoder(e.symbols.map(s => if (s == null) null else jsonString(s)).toArray)
      (in, out) => {
        val q = read(in)
        out.writeRaw(q, 0, q.length)
      }
    case ArrayOf(items) =>
      val item = emitOf(items)
      (in, out) => {
        out.writeByte('[')
        var first = true
        var count = in.readLong()
        while (count != 0) {
          if (count < 0) { count = -count; in.skipLong() } // sized block: byte size follows
          var i = 0L
          while (i < count) {
            if (first) first = false else comma(out)
            item(in, out)
            i += 1
          }
          count = in.readLong()
        }
        out.writeByte(']')
      }
    case MapOf(values) => mapOf(emitOf(values))
    case rec: Record =>
      val known = records.get(rec)
      if (known != null) known
      else {
        var real: Emit = null
        val forwarder: Emit = (in, out) => real(in, out)
        records.put(rec, forwarder)
        real = record(rec)
        forwarder
      }
  }

  /** A scalar as [[AvroDatumReader]] decodes it, which converts no promoted
    * value by a logical type: an int under `timestamp-millis` renders as the
    * int. */
  private def scalar(s: Scalar): Emit =
    if (s.logical != null && s.target != s.wire) plain(s.wire)
    else s.logical match {
      case ADecimal(_, scale, _) => decimal(s.wire, scale)
      case ADate(_)            => date
      case ATimeMillis(_)      => timeMillis
      case ATimeMicros(_)      => timeMicros
      case ATimestampMillis(_) => timestampMillis
      case ATimestampMicros(_) => timestampMicros
      case _ => (s.wire, s.target) match {
        case (AInt, ALong)    => (in, out) => writeLong(in.readLong(), out)
        case (AInt, AFloat)   => (in, out) => writeDouble(in.readInt().toFloat.toDouble, out)
        case (AInt, ADouble)  => (in, out) => writeDouble(in.readInt().toDouble, out)
        case (ALong, AFloat)  => (in, out) => writeDouble(in.readLong().toFloat.toDouble, out)
        case (ALong, ADouble) => (in, out) => writeDouble(in.readLong().toDouble, out)
        case (AFloat, ADouble) => (in, out) => writeDouble(in.readFloat().toDouble, out)
        case (_, target) => plain(target) // string<->bytes renders as the target
      }
    }

  /** A wire value of physical type `p` rendered as itself. */
  private def plain(p: AvroSchema): Emit = p match {
    case ANull    => (_, out) => writeAscii("null", out)
    case ABoolean => (in, out) => writeAscii(if (in.readBoolean()) "true" else "false", out)
    case AInt     => (in, out) => writeLong(in.readInt().toLong, out)
    case ALong    => (in, out) => writeLong(in.readLong(), out)
    case AFloat   => (in, out) => writeDouble(in.readFloat().toDouble, out)
    case ADouble  => (in, out) => writeDouble(in.readDouble(), out)
    case AString  => string
    case ABytes   => bytes
    case f: AFixed => (in, out) => { val b = in.readFixed(f.size); writeLatin1(b, 0, b.length, out) }
    case other => throw new AvroResolutionException(s"cannot decode ${other.typeName}")
  }

  /** A map renders its entries in wire order. Each entry's rendered key
    * and value are spans of `out`; a key already seen (compared by its
    * rendered text, which is one-to-one with the decoded key) marks the map
    * for [[dedupe]]. */
  private def mapOf(value: Emit): Emit = (in, out) => {
    val open = out.position
    out.writeByte('{')
    // per entry: key start, key end, value end, index of the key's first entry
    var spans: Array[Int] = null
    var byKey: java.util.HashMap[String, Integer] = null
    var n = 0
    var dup = false
    var count = in.readLong()
    while (count != 0) {
      if (count < 0) { count = -count; in.skipLong() }
      var i = 0L
      while (i < count) {
        if (n > 0) comma(out)
        val ks = out.position
        val len = in.readLength("string")
        writeUtf8(in.buf, in.pos, len, out)
        in.pos += len
        val ke = out.position
        out.writeByte(':'); out.writeByte(' ')
        value(in, out)
        if (spans == null) spans = new Array[Int](16)
        else if (4 * n + 4 > spans.length) spans = java.util.Arrays.copyOf(spans, spans.length * 2)
        spans(4 * n) = ks; spans(4 * n + 1) = ke; spans(4 * n + 2) = out.position
        val buf = out.reserve(0)
        val first =
          if (n < 16) {
            var j = 0
            while (j < n && !(spans(4 * j + 3) == j &&
                java.util.Arrays.equals(buf, spans(4 * j), spans(4 * j + 1), buf, ks, ke))) j += 1
            j
          } else {
            def keyAt(e: Int) = new String(buf, spans(4 * e), spans(4 * e + 1) - spans(4 * e),
              StandardCharsets.ISO_8859_1)
            if (byKey == null) {
              byKey = new java.util.HashMap[String, Integer]()
              var j = 0
              while (j < n) { if (spans(4 * j + 3) == j) byKey.put(keyAt(j), j); j += 1 }
            }
            val prev = byKey.putIfAbsent(keyAt(n), n)
            if (prev == null) n else prev.intValue
          }
        spans(4 * n + 3) = first
        if (first != n) dup = true
        n += 1
        i += 1
      }
      count = in.readLong()
    }
    if (dup) dedupe(out, open + 1, spans, n)
    out.writeByte('}')
  }

  /** Re-render the entries after `base` as a `LinkedHashMap` holds them:
    * each distinct key once, at its first position, with its last value. */
  private def dedupe(out: AvroBinaryWriter, base: Int, spans: Array[Int], n: Int): Unit = {
    val body = java.util.Arrays.copyOfRange(out.reserve(0), base, out.position)
    out.truncate(base)
    val last = new Array[Int](n)
    var e = 0
    while (e < n) { last(spans(4 * e + 3)) = e; e += 1 }
    var written = false
    e = 0
    while (e < n) {
      if (spans(4 * e + 3) == e) {
        if (written) comma(out)
        written = true
        out.writeRaw(body, spans(4 * e) - base, spans(4 * e + 1) - spans(4 * e))
        out.writeByte(':'); out.writeByte(' ')
        val v = last(e)
        val vs = spans(4 * v + 1) + 2
        out.writeRaw(body, vs - base, spans(4 * v + 2) - vs)
      }
      e += 1
    }
  }

  /** Keys render in reader-field order, writer-absent fields as their
    * pre-rendered defaults; when that is not the wire order the values are
    * rendered first and then moved into place. */
  private def record(rec: Record): Emit = {
    val rr = rec.reader
    val slots = rec.slots
    val steps = rec.fields.map(emitOf)
    val defaults: Array[Array[Byte]] = rec.defaults.map(
      _.map(d => AvroJson.render(d).getBytes(StandardCharsets.ISO_8859_1)).orNull)
    val nr = rr.fields.length
    val prefixes: Array[Array[Byte]] = rr.fields.zipWithIndex.map { case (rf, i) =>
      (if (i == 0) "" else ", ").getBytes(StandardCharsets.US_ASCII) ++
        jsonString(rf.name) ++ ": ".getBytes(StandardCharsets.US_ASCII)
    }.toArray
    if (steps.length == nr && slots.indices.forall(i => slots(i) == i))
      (in, out) => {
        out.writeByte('{')
        var i = 0
        while (i < nr) {
          val p = prefixes(i)
          out.writeRaw(p, 0, p.length)
          steps(i)(in, out)
          i += 1
        }
        out.writeByte('}')
      }
    else
      (in, out) => {
        val base = out.position
        val starts = new Array[Int](nr)
        val ends = new Array[Int](nr)
        var i = 0
        while (i < steps.length) {
          val slot = slots(i)
          if (slot >= 0) starts(slot) = out.position - base
          steps(i)(in, out)
          if (slot >= 0) ends(slot) = out.position - base
          i += 1
        }
        val body = java.util.Arrays.copyOfRange(out.reserve(0), base, out.position)
        out.truncate(base)
        out.writeByte('{')
        i = 0
        while (i < nr) {
          val p = prefixes(i)
          out.writeRaw(p, 0, p.length)
          val d = defaults(i)
          if (d != null) out.writeRaw(d, 0, d.length)
          else out.writeRaw(body, starts(i), ends(i) - starts(i))
          i += 1
        }
        out.writeByte('}')
      }
  }
}

object AvroJsonTranscoder {
  type Emit = (AvroBinaryReader, AvroBinaryWriter) => Unit

  private val string: Emit = (in, out) => {
    val n = in.readLength("string")
    writeUtf8(in.buf, in.pos, n, out)
    in.pos += n
  }
  private val bytes: Emit = (in, out) => {
    val n = in.readLength("bytes")
    writeLatin1(in.buf, in.pos, n, out)
    in.pos += n
  }
  private val date: Emit = (in, out) =>
    writeString(LocalDate.ofEpochDay(in.readInt().toLong).toString, out)
  private val timeMillis: Emit = (in, out) =>
    writeString(LocalTime.ofNanoOfDay(in.readInt() * 1000000L).toString, out)
  private val timeMicros: Emit = (in, out) =>
    writeString(LocalTime.ofNanoOfDay(in.readLong() * 1000L).toString, out)
  private val timestampMillis: Emit = (in, out) =>
    writeString(Instant.ofEpochMilli(in.readLong()).toString, out)
  private val timestampMicros: Emit = (in, out) => {
    val us = in.readLong()
    writeString(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L).toString, out)
  }

  /** The plain text of an unscaled two's-complement value (`physical`:
    * fixed or bytes) at `scale`. */
  private def decimal(physical: AvroSchema, scale: Int): Emit = {
    def write(unscaled: Array[Byte], out: AvroBinaryWriter): Unit =
      writeAscii(new JBigDecimal(new BigInteger(unscaled), scale).toPlainString, out)
    deref(physical) match {
      case AFixed(_, _, size, _) => (in, out) => write(in.readFixed(size), out)
      case _ => (in, out) => write(in.readBytes(), out)
    }
  }

  private def jsonString(s: String): Array[Byte] = {
    val out = new AvroBinaryWriter(s.length + 2)
    writeString(s, out)
    out.toByteArray
  }

  @inline private def comma(out: AvroBinaryWriter): Unit = {
    out.writeByte(','); out.writeByte(' ')
  }

  // one reusable output buffer per thread: expressions are shared across a
  // local-mode session's task threads
  private val buffers: ThreadLocal[AvroBinaryWriter] =
    ThreadLocal.withInitial(() => new AvroBinaryWriter(256))
  /** A thread drops a buffer that grew past this, so one large text does not
    * pin its size for the life of the thread. */
  private[graft] val MaxRetainedBuffer = 1 << 20

  /** The bytes `f` writes into this thread's reusable output buffer. */
  def render(f: AvroBinaryWriter => Unit): Array[Byte] = {
    val out = buffers.get()
    out.reset()
    try { f(out); out.toByteArray }
    finally if (out.capacity > MaxRetainedBuffer) buffers.remove()
  }

  /** Capacity of the buffer this thread keeps between [[render]] calls. */
  private[graft] def retainedBufferCapacity: Int = buffers.get().capacity

  private val byWriter = scala.collection.concurrent.TrieMap.empty[String, AvroJsonTranscoder]

  /** The transcoder of the writer schema `writerJson`, compiled once per
    * JVM and shared by every JSON surface. */
  def forWriter(writerJson: String): AvroJsonTranscoder =
    byWriter.getOrElseUpdate(writerJson, new AvroJsonTranscoder(AvroSchemaParser.parse(writerJson)))

  /** Streams the object container file `bytes` block by block: `f` gets the
    * transcoder for the file's writer schema ([[forWriter]]) and a reader
    * at each datum in turn, and must consume that datum. */
  def foreachDatum(bytes: Array[Byte])(f: (AvroJsonTranscoder, AvroBinaryReader) => Unit): Unit = {
    val (header, blocks) = Ocf.blockIterator(bytes)
    val tc = forWriter(header.schemaJson)
    blocks.foreach { b =>
      var i = 0L
      while (i < b.datumCount) {
        f(tc, b.in)
        i += 1
      }
    }
  }

  /** The JSON array of every datum in the object container file `bytes`. */
  def ocfToJson(bytes: Array[Byte]): Array[Byte] = render { out =>
    out.writeByte('[')
    var first = true
    foreachDatum(bytes) { (tc, in) =>
      if (first) first = false else comma(out)
      tc.write(in, out)
    }
    out.writeByte(']')
  }
}
