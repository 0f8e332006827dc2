package graft.avro

import com.fasterxml.jackson.databind.JsonNode
import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.time.{Instant, LocalDate, LocalTime}
import scala.collection.mutable

/** Generic (Spark-free) datum representation:
  * null | Boolean | Int | Long | Float | Double | Array[Byte] | String |
  * Vector[Any] (array) | LinkedHashMap[String,Any] (map) | AvroRecord |
  * JBigDecimal | LocalDate | LocalTime | Instant.
  * (reference: python-udf/avro/io.py:29-41 — dict/list/primitive mapping)
  */
final case class AvroRecord(schema: ARecord, values: Array[Any]) {
  def get(field: String): Any = {
    val i = schema.fields.indexWhere(_.name == field)
    if (i < 0) throw new NoSuchElementException(field) else values(i)
  }
  def toMap: mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    schema.fields.zipWithIndex.foreach { case (f, i) => m(f.name) = values(i) }
    m
  }
  override def equals(o: Any): Boolean = o match {
    case r: AvroRecord => r.schema == schema &&
      r.values.zip(values).forall {
        case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
        case (a, b) => a == b
      }
    case _ => false
  }
}

final class AvroResolutionException(msg: String) extends RuntimeException(msg)

/** Generic datum reader with full writer→reader schema resolution: field
  * matching by name, skip of unknown writer fields, reader defaults, numeric
  * promotions, union branch selection, enum symbol fallback.
  *
  * (reference: python-udf/avro/io.py:637-1100 — DatumReader.read_data /
  * read_record / _read_default_value.)
  */
final class AvroDatumReader(val writerSchema: AvroSchema, val readerSchemaOpt: Option[AvroSchema] = None) {
  private val readerSchema = readerSchemaOpt.getOrElse(writerSchema)
  /** Memoized record compilation breaks cycles in recursive schemas
    * (reference: python-udf/avro/compatibility.py:144-164 uses the same
    * forward-declared-memo trick). */
  private val recordCache = mutable.HashMap.empty[(String, String), AvroBinaryReader => Any]
  private val readFn: AvroBinaryReader => Any = compile(writerSchema, readerSchema)

  def read(in: AvroBinaryReader): Any = readFn(in)
  def read(bytes: Array[Byte]): Any = readFn(new AvroBinaryReader(bytes))

  import AvroResolution.{deref, matches}

  /** Build `reader` closure for writer w resolved against reader r. */
  private def compile(w0: AvroSchema, r0: AvroSchema): AvroBinaryReader => Any = {
    val w = deref(w0)
    val r = deref(r0)
    (w, r) match {
      // reader union, writer not a union: resolve writer against first matching branch
      case (ww, ru: AUnion) if !ww.isInstanceOf[AUnion] =>
        ru.branches.find(b => matches(ww, b)) match {
          case Some(b) => compile(ww, b)
          case None => throw new AvroResolutionException(
            s"writer ${ww.typeName} matches no reader union branch")
        }
      // writer union: read branch index, then resolve that branch against reader
      case (wu: AUnion, rr) =>
        val branchReaders = wu.branches.map { b =>
          if (matches(b, rr)) compile(b, rr)
          else (_: AvroBinaryReader) => throw new AvroResolutionException(
            s"writer union branch ${b.typeName} not readable as ${rr.typeName}")
        }.toArray
        in => {
          val idx = in.readLong().toInt
          if (idx < 0 || idx >= branchReaders.length)
            throw new AvroResolutionException(s"union branch index $idx out of range")
          branchReaders(idx)(in)
        }
      case _ => compilePrimitiveOrComplex(w, r)
    }
  }

  private def compilePrimitiveOrComplex(w: AvroSchema, r: AvroSchema): AvroBinaryReader => Any =
    (w, r) match {
      case (ANull, _)    => _ => null
      case (ABoolean, _) => in => in.readBoolean()
      case (AInt, AInt)      => in => in.readInt()
      case (AInt, ALong)     => in => in.readLong()
      case (AInt, AFloat)    => in => in.readInt().toFloat
      case (AInt, ADouble)   => in => in.readInt().toDouble
      case (AInt, l: LogicalSchema) => compileLogicalInt(l)
      case (ALong, ALong)    => in => in.readLong()
      case (ALong, AFloat)   => in => in.readLong().toFloat
      case (ALong, ADouble)  => in => in.readLong().toDouble
      case (ALong, l: LogicalSchema) => compileLogicalLong(l)
      case (AFloat, AFloat)  => in => in.readFloat()
      case (AFloat, ADouble) => in => in.readFloat().toDouble
      case (ADouble, _)      => in => in.readDouble()
      case (ABytes, AString) => in => in.readString()
      case (ABytes, ADecimal(_, scale, _)) =>
        in => new JBigDecimal(new BigInteger(in.readBytes()), scale)
      case (ABytes, _)       => in => in.readBytes()
      case (AString, ABytes) => in => in.readBytes()
      case (AString, _)      => in => in.readString()
      case (lw: LogicalSchema, rr) =>
        // writer logical: decode per writer logical type (self-describing value)
        (lw, rr) match {
          case (ADecimal(_, scale, u), _) => deref(u) match {
            case AFixed(_, _, size, _) =>
              in => new JBigDecimal(new BigInteger(in.readFixed(size)), scale)
            case _ => in => new JBigDecimal(new BigInteger(in.readBytes()), scale)
          }
          case (ADate(_), _)            => in => LocalDate.ofEpochDay(in.readInt().toLong)
          case (ATimeMillis(_), _)      => in => LocalTime.ofNanoOfDay(in.readInt() * 1000000L)
          case (ATimeMicros(_), _)      => in => LocalTime.ofNanoOfDay(in.readLong() * 1000L)
          case (ATimestampMillis(_), _) => in => Instant.ofEpochMilli(in.readLong())
          case (ATimestampMicros(_), _) => in => {
            val us = in.readLong()
            Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
          }
          case (AUuid(_), _)            => in => in.readString()
          case _ => compile(lw.physical, rr)
        }
      case (f: AFixed, ADecimal(_, scale, _)) =>
        in => new JBigDecimal(new BigInteger(in.readFixed(f.size)), scale)
      case (f: AFixed, _) => in => in.readFixed(f.size)
      case (we: AEnum, re: AEnum) =>
        // (reference: io.py:834-862 — resolution error if symbol absent, unless
        // reader declares a default symbol)
        val mapped: Array[String] = we.symbols.map { sym =>
          if (re.symbols.contains(sym)) sym
          else re.enumDefault.getOrElse(null)
        }.toArray
        in => {
          val i = in.readInt()
          if (i < 0 || i >= mapped.length)
            throw new AvroResolutionException(s"enum index $i out of range for ${we.fullName}")
          val s = mapped(i)
          if (s == null) throw new AvroResolutionException(
            s"enum symbol ${we.symbols(i)} not in reader enum ${re.fullName} and no default")
          s
        }
      case (we: AEnum, _) => in => we.symbols(in.readInt())
      case (AArray(wi), AArray(ri)) =>
        val item = compile(wi, ri)
        in => {
          val out = Vector.newBuilder[Any]
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) { count = -count; in.skipLong() } // sized block: byte size follows
            var i = 0L
            while (i < count) { out += item(in); i += 1 }
            count = in.readLong()
          }
          out.result()
        }
      case (AMap(wv), AMap(rv)) =>
        val value = compile(wv, rv)
        in => {
          val out = mutable.LinkedHashMap.empty[String, Any]
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) { count = -count; in.skipLong() }
            var i = 0L
            while (i < count) { out(in.readString()) = value(in); i += 1 }
            count = in.readLong()
          }
          out
        }
      case (wr: ARecord, rr: ARecord) => compileRecord(wr, rr)
      case _ => throw new AvroResolutionException(
        s"cannot resolve writer ${w.typeName} against reader ${r.typeName}")
    }

  private def compileLogicalInt(l: LogicalSchema): AvroBinaryReader => Any = l match {
    case ADate(_)       => in => LocalDate.ofEpochDay(in.readInt().toLong)
    case ATimeMillis(_) => in => LocalTime.ofNanoOfDay(in.readInt() * 1000000L)
    case _              => in => in.readInt()
  }
  private def compileLogicalLong(l: LogicalSchema): AvroBinaryReader => Any = l match {
    case ATimeMicros(_)      => in => LocalTime.ofNanoOfDay(in.readLong() * 1000L)
    case ATimestampMillis(_) => in => Instant.ofEpochMilli(in.readLong())
    case ATimestampMicros(_) => in => {
      val us = in.readLong()
      Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    }
    case _ => in => in.readLong()
  }

  /** Record resolution: match writer fields by name; skip writer-only fields
    * without materializing; fill reader-only fields from defaults.
    * (reference: io.py:990-1039) */
  private def compileRecord(wr: ARecord, rr: ARecord): AvroBinaryReader => Any = {
    val key = (wr.fullName, rr.fullName)
    recordCache.get(key) match {
      case Some(fn) => fn
      case None =>
        var real: AvroBinaryReader => Any = null
        val forwarder: AvroBinaryReader => Any = in => real(in)
        recordCache(key) = forwarder
        real = compileRecordBody(wr, rr)
        forwarder
    }
  }

  private def compileRecordBody(wr: ARecord, rr: ARecord): AvroBinaryReader => Any = {
    val slots = AvroNames.assignReaderSlots(wr, rr)
    // per writer field: either (readerSlot, readFn) or (-1, skipFn)
    val steps: Array[(Int, AvroBinaryReader => Any)] = wr.fields.zipWithIndex.map { case (wf, wi) =>
      slots(wi) match {
        case -1 =>
          val sk = AvroSkipper.compile(wf.schema)
          (-1, (in: AvroBinaryReader) => { sk(in); null })
        case ri =>
          val fn = compile(wf.schema, rr.fields(ri).schema)
          (ri, fn)
      }
    }.toArray
    // reader fields no writer field landed in: defaults
    val written = steps.map(_._1).filter(_ >= 0).toSet
    val defaults: Array[(Int, Any)] = rr.fields.zipWithIndex.collect {
      case (rf, i) if !written.contains(i) =>
        rf.default match {
          case Some(d) => (i, AvroDefaults.materialize(d, rf.schema))
          case None => throw new AvroResolutionException(
            s"reader field ${rf.name} of ${rr.fullName} absent from writer and has no default")
        }
    }.toArray
    in => {
      val values = new Array[Any](rr.fields.length)
      var i = 0
      while (i < steps.length) {
        val (slot, fn) = steps(i)
        val v = fn(in)
        if (slot >= 0) values(slot) = v
        i += 1
      }
      i = 0
      while (i < defaults.length) {
        val (slot, v) = defaults(i)
        values(slot) = v
        i += 1
      }
      AvroRecord(rr, values)
    }
  }
}

/** Writer→reader type matching and Avro's one promotion table:
  * [[AvroDatumReader]] and [[AvroResolver]] pick union branches with
  * [[matches]]; the compatibility checker and the columnar scan lane read
  * [[promotes]]. */
object AvroResolution {
  def deref(s: AvroSchema): AvroSchema = s match {
    case r: ARef => deref(r.target)
    case other   => other
  }

  /** Avro's promotions of a writer primitive to a different reader
    * primitive: int→long/float/double, long→float/double, float→double,
    * string↔bytes. Both sides are compared as given, logical types
    * included. (reference: schema.py:445-462, compatibility.py:237-258) */
  def promotes(w: AvroSchema, r: AvroSchema): Boolean = (w, r) match {
    case (AInt, ALong | AFloat | ADouble) => true
    case (ALong, AFloat | ADouble)        => true
    case (AFloat, ADouble)                => true
    case (AString, ABytes)                => true
    case (ABytes, AString)                => true
    case _                                => false
  }

  /** Can a reader of type `r` accept wire data of writer type `w`? */
  def matches(w: AvroSchema, r: AvroSchema): Boolean = (deref(w), deref(r)) match {
    case (a, b) if a.typeName == b.typeName =>
      (a, b) match {
        case (x: NamedSchema, y: NamedSchema) => AvroNames.nameMatches(x, y)
        case _ => true
      }
    case (a, b) if promotes(a, b)         => true
    case (_, u: AUnion)                   => u.branches.exists(b => matches(w, b))
    case (u: AUnion, _)                   => true // per-branch check happens at read time
    case (lw: LogicalSchema, rr)          => matches(lw.physical, rr)
    case (ww, lr: LogicalSchema)          => matches(ww, lr.physical)
    case _ => false
  }
}

/** Type-directed skip: seek past a value without materializing it.
  * (reference: python-udf/avro/io.py:394-421,793-822 — skip_*) */
object AvroSkipper {
  def compile(s0: AvroSchema): AvroBinaryReader => Unit =
    compileMemo(s0, mutable.HashMap.empty)

  private def compileMemo(s0: AvroSchema,
      memo: mutable.HashMap[String, AvroBinaryReader => Unit]): AvroBinaryReader => Unit = {
    def compile(s: AvroSchema): AvroBinaryReader => Unit = compileMemo(s, memo)
    AvroResolution.deref(s0) match {
      case ANull    => _ => ()
      case ABoolean => in => in.skip(1)
      case AInt | ALong => in => in.skipLong()
      case AFloat   => in => in.skip(4)
      case ADouble  => in => in.skip(8)
      case ABytes | AString => in => in.skipBytes()
      case l: LogicalSchema => compile(l.physical)
      case f: AFixed => in => in.skip(f.size.toLong)
      case _: AEnum  => in => in.skipLong()
      case AArray(items) =>
        val itemSkip = compile(items)
        in => {
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) in.skip(in.readLong()) // sized block: O(1) skip
            else { var i = 0L; while (i < count) { itemSkip(in); i += 1 } }
            count = in.readLong()
          }
        }
      case AMap(values) =>
        val valSkip = compile(values)
        in => {
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) in.skip(in.readLong())
            else { var i = 0L; while (i < count) { in.skipBytes(); valSkip(in); i += 1 } }
            count = in.readLong()
          }
        }
      case u: AUnion =>
        val branchSkips = u.branches.map(compile).toArray
        val n = branchSkips.length
        in => branchSkips(Resolved.branchIndex(in, n))(in)
      case r: ARecord =>
        memo.get(r.fullName) match {
          case Some(fn) => fn
          case None =>
            var real: AvroBinaryReader => Unit = null
            val forwarder: AvroBinaryReader => Unit = in => real(in)
            memo(r.fullName) = forwarder
            val fieldSkips = r.fields.map(f => compile(f.schema)).toArray
            real = in => { var i = 0; while (i < fieldSkips.length) { fieldSkips(i)(in); i += 1 } }
            forwarder
        }
      case other => throw new AvroResolutionException(s"cannot skip ${other.typeName}")
    }
  }
}

/** Materialize a reader-field JSON default per its schema (recursive).
  * (reference: python-udf/avro/io.py:1045-1100 — _read_default_value) */
object AvroDefaults {
  def materialize(d: JsonNode, s0: AvroSchema): Any = {
    AvroResolution.deref(s0) match {
      case ANull    => null
      case ABoolean => d.asBoolean()
      case AInt     => d.asInt()
      case ALong    => d.asLong()
      case AFloat   => d.asDouble().toFloat
      case ADouble  => d.asDouble()
      case ABytes   => d.asText().getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      case AString  => d.asText()
      case _: AEnum => d.asText()
      case f: AFixed => d.asText().getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      case l: LogicalSchema => materialize(d, l.physical)
      case AArray(items) =>
        val b = Vector.newBuilder[Any]
        d.elements().forEachRemaining(e => b += materialize(e, items))
        b.result()
      case AMap(values) =>
        val m = mutable.LinkedHashMap.empty[String, Any]
        d.fieldNames().forEachRemaining(n => m(n) = materialize(d.get(n), values))
        m
      case u: AUnion =>
        // Avro spec: default of a union corresponds to its FIRST branch
        materialize(d, u.branches.head)
      case r: ARecord =>
        val values = r.fields.map { f =>
          val fd = d.get(f.name)
          if (fd != null) materialize(fd, f.schema)
          else f.default.map(materialize(_, f.schema)).orNull
        }.toArray
        AvroRecord(r, values)
      case other => throw new AvroResolutionException(s"no default materialization for ${other.typeName}")
    }
  }
}

/** Generic datum writer: encode a generic value per schema; union picks the
  * first branch the datum validates against.
  * (reference: python-udf/avro/io.py:1125-1337 — write_data / write_union.) */
final class AvroDatumWriter(val schema: AvroSchema) {
  def write(datum: Any, out: AvroBinaryWriter): Unit = writeData(schema, datum, out)
  def toBytes(datum: Any): Array[Byte] = {
    val w = new AvroBinaryWriter()
    write(datum, w)
    w.toByteArray
  }

  import AvroResolution.deref

  /** Runtime type check used for union branch selection
    * (reference: io.py:108-198 validate). */
  def validates(s0: AvroSchema, datum: Any): Boolean = deref(s0) match {
    case ANull    => datum == null
    case ABoolean => datum.isInstanceOf[Boolean]
    case AInt     => datum.isInstanceOf[Int]
    case ALong    => datum.isInstanceOf[Long] || datum.isInstanceOf[Int]
    case AFloat   => datum.isInstanceOf[Float]
    case ADouble  => datum.isInstanceOf[Double] || datum.isInstanceOf[Float]
    case ABytes   => datum.isInstanceOf[Array[Byte]]
    case AString  => datum.isInstanceOf[String]
    case e: AEnum => datum.isInstanceOf[String] && e.symbols.contains(datum.asInstanceOf[String])
    case f: AFixed => datum.isInstanceOf[Array[Byte]] && datum.asInstanceOf[Array[Byte]].length == f.size
    case _: AArray => datum.isInstanceOf[Seq[_]]
    case _: AMap   => datum.isInstanceOf[scala.collection.Map[_, _]]
    case u: AUnion => u.branches.exists(validates(_, datum))
    case r: ARecord => datum match {
      case ar: AvroRecord => ar.schema.fullName == r.fullName
      case m: scala.collection.Map[_, _] => true
      case _ => false
    }
    case ADecimal(_, _, _)      => datum.isInstanceOf[JBigDecimal]
    case ADate(_)               => datum.isInstanceOf[LocalDate]
    case ATimeMillis(_) | ATimeMicros(_) => datum.isInstanceOf[LocalTime]
    case ATimestampMillis(_) | ATimestampMicros(_) => datum.isInstanceOf[Instant]
    case AUuid(_)               => datum.isInstanceOf[String]
    case _: ARef                => false
  }

  private def writeData(s0: AvroSchema, datum: Any, out: AvroBinaryWriter): Unit = deref(s0) match {
    case ANull    => ()
    case ABoolean => out.writeBoolean(datum.asInstanceOf[Boolean])
    case AInt     => out.writeInt(datum.asInstanceOf[Int])
    case ALong    => datum match {
      case l: Long => out.writeLong(l)
      case i: Int  => out.writeLong(i.toLong)
      case _ => throw new AvroResolutionException(s"not a long: $datum")
    }
    case AFloat   => out.writeFloat(datum.asInstanceOf[Float])
    case ADouble  => datum match {
      case d: Double => out.writeDouble(d)
      case f: Float  => out.writeDouble(f.toDouble)
      case _ => throw new AvroResolutionException(s"not a double: $datum")
    }
    case ABytes   => out.writeBytes(datum.asInstanceOf[Array[Byte]])
    case AString  => out.writeString(datum.asInstanceOf[String])
    case e: AEnum =>
      val i = e.indexOf(datum.asInstanceOf[String])
      if (i < 0) throw new AvroResolutionException(s"symbol $datum not in enum ${e.fullName}")
      out.writeInt(i)
    case f: AFixed =>
      val b = datum.asInstanceOf[Array[Byte]]
      if (b.length != f.size) throw new AvroResolutionException(
        s"fixed ${f.fullName} expects ${f.size} bytes, got ${b.length}")
      out.writeFixed(b)
    case AArray(items) =>
      val seq = datum.asInstanceOf[Seq[Any]]
      if (seq.nonEmpty) {
        out.writeLong(seq.size.toLong)
        seq.foreach(writeData(items, _, out))
      }
      out.writeLong(0)
    case AMap(values) =>
      val m = datum.asInstanceOf[scala.collection.Map[String, Any]]
      if (m.nonEmpty) {
        out.writeLong(m.size.toLong)
        m.foreach { case (k, v) => out.writeString(k); writeData(values, v, out) }
      }
      out.writeLong(0)
    case u: AUnion =>
      val idx = u.branches.indexWhere(validates(_, datum))
      if (idx < 0) throw new AvroResolutionException(
        s"datum $datum matches no union branch of ${u.branches.map(_.typeName).mkString("[", ",", "]")}")
      out.writeLong(idx.toLong)
      writeData(u.branches(idx), datum, out)
    case r: ARecord =>
      datum match {
        case ar: AvroRecord =>
          r.fields.zipWithIndex.foreach { case (f, i) => writeData(f.schema, ar.values(i), out) }
        case m: scala.collection.Map[String @unchecked, Any @unchecked] =>
          r.fields.foreach { f =>
            val v = m.getOrElse(f.name,
              f.default.map(AvroDefaults.materialize(_, f.schema)).getOrElse(
                throw new AvroResolutionException(s"missing field ${f.name}")))
            writeData(f.schema, v, out)
          }
        case _ => throw new AvroResolutionException(s"not a record datum: $datum")
      }
    case ADecimal(precision, scale, u) =>
      val bd = datum.asInstanceOf[JBigDecimal].setScale(scale)
      val unscaled = bd.unscaledValue().toByteArray
      deref(u) match {
        case AFixed(_, _, size, _) =>
          // sign-extend to fixed size (reference: io.py:486-552)
          if (unscaled.length > size) throw new AvroResolutionException(
            s"decimal $bd does not fit in fixed($size)")
          val padded = new Array[Byte](size)
          val sign: Byte = if (bd.signum() < 0) -1 else 0
          java.util.Arrays.fill(padded, 0, size - unscaled.length, sign)
          System.arraycopy(unscaled, 0, padded, size - unscaled.length, unscaled.length)
          out.writeFixed(padded)
        case _ => out.writeBytes(unscaled)
      }
    case ADate(_) => out.writeInt(datum.asInstanceOf[LocalDate].toEpochDay.toInt)
    case ATimeMillis(_) => out.writeInt((datum.asInstanceOf[LocalTime].toNanoOfDay / 1000000L).toInt)
    case ATimeMicros(_) => out.writeLong(datum.asInstanceOf[LocalTime].toNanoOfDay / 1000L)
    case ATimestampMillis(_) => out.writeLong(datum.asInstanceOf[Instant].toEpochMilli)
    case ATimestampMicros(_) =>
      val i = datum.asInstanceOf[Instant]
      out.writeLong(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case AUuid(_) => out.writeString(datum.asInstanceOf[String])
    case other => throw new AvroResolutionException(s"cannot write ${other.typeName}")
  }
}
