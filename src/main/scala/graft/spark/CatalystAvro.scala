package graft.spark

import graft.avro._
import graft.avro.AvroResolution.deref
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Avro wire bytes → Catalyst values: the Catalyst emitter over the one
  * resolution plan [[AvroResolver]] compiles per (writer, reader) schema
  * pair. The closure tree is built once per JVM (the decode expressions
  * hold it in a transient field and rebuild it where they run), so
  * decoding a datum walks no plan and dispatches on no schema.
  *
  * A value has the Catalyst type [[SchemaConverters.toSqlType]] gives the
  * reader, or the writer's where the plan decodes by the writer (a writer
  * logical type, say, under a reader of another type): records → [[GenericInternalRow]], strings/enums/uuids →
  * [[UTF8String]], bytes/fixed → byte arrays, arrays →
  * [[GenericArrayData]], maps → [[ArrayBasedMapData]], decimals →
  * [[Decimal]], date and time-millis → int, time-micros → long,
  * timestamps → long micros, a `["null", T]` union → `T`, a wider union →
  * a struct with one member per non-null branch.
  */
object CatalystAvroReader {
  import Resolved._

  type Reader = AvroBinaryReader => Any

  def compile(writer: AvroSchema, reader: AvroSchema): Reader =
    new Emitter().emit(AvroResolver.resolve(writer, reader))

  private final class Emitter {
    /** One reader per record node: a recursive plan's cycle closes here. */
    private val records = new java.util.IdentityHashMap[Record, Reader]()

    def emit(plan: Resolved): Reader = plan match {
      case s: Scalar => scalar(s)
      case Skip(w) =>
        val sk = AvroSkipper.compile(w)
        in => { sk(in); null }
      case f: Fail => _ => f.raise()
      case WriterUnion(plans) =>
        val branches = plans.map(emit).toArray
        val n = branches.length
        in => branches(branchIndex(in, n))(in)
      case ReaderUnion(ru, i, value) =>
        val inner = emit(value)
        val width = ru.nonNullBranches.length
        if (width <= 1 || ru.branches(i) == ANull) inner
        else {
          val member = ru.branches.take(i).count(_ != ANull)
          in => {
            val row = new GenericInternalRow(width)
            row.update(member, inner(in))
            row
          }
        }
      case e: EnumRemap =>
        val binary = binarySlot(e.reader, default = false)
        e.decoder(e.symbols.map { s =>
          if (s == null) null
          else if (binary) s.getBytes(StandardCharsets.UTF_8)
          else UTF8String.fromString(s)
        }.toArray[AnyRef])
      case ArrayOf(items) =>
        val item = emit(items)
        in => {
          val out = new ArrayBuffer[Any](16)
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) { count = -count; in.skipLong() }
            var i = 0L
            while (i < count) { out += item(in); i += 1 }
            count = in.readLong()
          }
          new GenericArrayData(out.toArray)
        }
      case MapOf(values) =>
        val value = emit(values)
        in => {
          val keys = new ArrayBuffer[Any](16)
          val vals = new ArrayBuffer[Any](16)
          var count = in.readLong()
          while (count != 0) {
            if (count < 0) { count = -count; in.skipLong() }
            var i = 0L
            while (i < count) {
              keys += UTF8String.fromBytes(in.readStringBytes())
              vals += value(in)
              i += 1
            }
            count = in.readLong()
          }
          new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
        }
      case rec: Record =>
        val known = records.get(rec)
        if (known != null) known
        else {
          var real: Reader = null
          val forwarder: Reader = in => real(in)
          records.put(rec, forwarder)
          real = record(rec)
          forwarder
        }
    }

    private def record(rec: Record): Reader = {
      val fields = rec.fields.map(emit)
      val slots = rec.slots
      val defaults = rec.defaults.zipWithIndex.collect {
        case (Some(d), i) => (i, toCatalyst(d, rec.reader.fields(i).schema))
      }
      val defaultSlots = defaults.map(_._1)
      val defaultValues = defaults.map(_._2)
      val width = rec.reader.fields.length
      in => {
        val row = new GenericInternalRow(width)
        var i = 0
        while (i < fields.length) {
          val v = fields(i)(in)
          val slot = slots(i)
          if (slot >= 0) row.update(slot, v)
          i += 1
        }
        i = 0
        while (i < defaultSlots.length) {
          row.update(defaultSlots(i), defaultValues(i))
          i += 1
        }
        row
      }
    }
  }

  /** Does the reader hold a string-like or bytes-like value as a byte array
    * (bytes, fixed) rather than a UTF8String (string, enum, uuid)? */
  private def binarySlot(reader: AvroSchema, default: Boolean): Boolean = reader match {
    case ABytes | _: AFixed => true
    case AString | _: AEnum | _: AUuid => false
    case _ => default
  }

  /** A scalar in Catalyst form: decimals and timestamp-millis convert,
    * other logical types keep their physical value. */
  private def scalar(s: Scalar): Reader = s.logical match {
    case ADecimal(_, scale, _) =>
      val (p, sc) = s.reader match {
        case ADecimal(rp, rs, _) => (rp, rs)
        case _ => (DecimalType.MAX_PRECISION, scale)
      }
      s.wire match {
        case AFixed(_, _, size, _) =>
          in => Decimal(new JBigDecimal(new BigInteger(in.readFixed(size)), scale), p, sc)
        case _ =>
          in => Decimal(new JBigDecimal(new BigInteger(in.readBytes()), scale), p, sc)
      }
    case ATimestampMillis(_) => in => in.readLong() * 1000L // ms → µs (TimestampType)
    case _ => (s.wire, s.target) match {
      case (ANull, _) => _ => null
      case (ABoolean, _) => _.readBoolean()
      case (AInt, AInt) => _.readInt()
      case (AInt | ALong, ALong) => _.readLong() // one varint encoding for both
      case (AInt, AFloat) => _.readInt().toFloat
      case (AInt, ADouble) => _.readInt().toDouble
      case (ALong, AFloat) => _.readLong().toFloat
      case (ALong, ADouble) => _.readLong().toDouble
      case (AFloat, AFloat) => _.readFloat()
      case (AFloat, ADouble) => _.readFloat().toDouble
      case (ADouble, _) => _.readDouble()
      case (_, target) =>
        (target, binarySlot(s.reader, default = s.wire != AString)) match {
          case (AFixed(_, _, size, _), true) => _.readFixed(size)
          case (AFixed(_, _, size, _), false) => in => UTF8String.fromBytes(in.readFixed(size))
          case (AString, true) => _.readStringBytes()
          case (AString, false) => in => UTF8String.fromBytes(in.readStringBytes())
          case (_, true) => _.readBytes()
          case (_, false) => in => UTF8String.fromBytes(in.readBytes())
        }
    }
  }

  /** Generic datum (from [[AvroDefaults]]/[[AvroDatumReader]]) → Catalyst value. */
  def toCatalyst(v: Any, s0: AvroSchema): Any = {
    val s = deref(s0)
    (v, s) match {
      case (null, _) => null
      case (x, u: AUnion) => u.nonNullBranches match {
        case Seq(single) => toCatalyst(x, single)
        case many =>
          val idx = many.indexWhere(b => new AvroDatumWriter(b).validates(b, x))
          val row = new GenericInternalRow(many.length)
          if (idx >= 0) row.update(idx, toCatalyst(x, many(idx)))
          row
      }
      case (x: String, _) => UTF8String.fromString(x)
      case (x: Long, ATimestampMillis(_)) => x * 1000L // ms → µs (TimestampType)
      case (x: JBigDecimal, ADecimal(p, sc, _)) => Decimal(x, p, sc)
      case (x: java.time.LocalDate, _) => x.toEpochDay.toInt
      case (x: java.time.LocalTime, ATimeMillis(_)) => (x.toNanoOfDay / 1000000L).toInt
      case (x: java.time.LocalTime, _) => x.toNanoOfDay / 1000L
      case (x: java.time.Instant, _) => x.getEpochSecond * 1000000L + x.getNano / 1000L
      case (x: Seq[_], AArray(items)) => new GenericArrayData(x.map(toCatalyst(_, items)).toArray)
      case (x: scala.collection.Map[_, _], AMap(values)) =>
        val keys = x.keys.map(k => UTF8String.fromString(k.toString)).toArray[Any]
        val vals = x.values.map(toCatalyst(_, values)).toArray
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
      case (x: AvroRecord, r: ARecord) =>
        val row = new GenericInternalRow(r.fields.length)
        r.fields.zipWithIndex.foreach { case (f, i) => row.update(i, toCatalyst(x.values(i), f.schema)) }
        row
      case (x, _) => x
    }
  }
}

/** Catalyst values → Avro wire bytes (`to_avro`), compiled once per
  * (DataType, AvroSchema) pair — the encode mirror of [[CatalystAvroReader]].
  * (reference: python-udf/avro/io.py:1125-1337 DatumWriter.)
  */
object CatalystAvroWriter {
  type Writer = (Any, AvroBinaryWriter) => Unit

  def compile(dt: DataType, avro: AvroSchema): Writer =
    nullGuarded("<value>", avro, make(dt, avro))

  /** Fused per-ordinal field encoder for the OCF sink: reads column `ord`
    * of an [[InternalRow]] and writes its Avro bytes in one step — flat
    * primitives never box through `Any`, strings copy straight from the
    * UTF8String's memory into the output buffer. Complex or resolution-
    * heavy leaves (records, arrays, maps, enums, decimals, fixed, general
    * unions) fall back to the boxed [[Writer]] + getter pair, so the bytes
    * and every error message are identical to the boxed path by
    * construction (pinned by OcfV2WriteSpec's byte-identity test). */
  type FieldEncoder = (InternalRow, AvroBinaryWriter) => Unit

  def compileField(dt: DataType, avro: AvroSchema, ord: Int): FieldEncoder = {
    // boxed fallback: exactly the pair the previous sink hot loop used
    def boxed: FieldEncoder = {
      val w = compile(dt, avro)
      val g = InternalRowGetters.forType(dt)
      (row, out) => w(if (row.isNullAt(ord)) null else g(row, ord), out)
    }
    deref(avro) match {
      case AUnion(branches) =>
        val nullIdx = branches.indexOf(ANull)
        val valueBranches = branches.zipWithIndex.filter(_._1 != ANull)
        if (nullIdx >= 0 && valueBranches.length == 1) {
          primField(dt, valueBranches.head._1, ord) match {
            case Some(prim) =>
              val nIdx = nullIdx.toLong
              val vIdx = valueBranches.head._2.toLong
              (row, out) =>
                if (row.isNullAt(ord)) out.writeLong(nIdx)
                else { out.writeLong(vIdx); prim(row, out) }
            case None => boxed
          }
        } else boxed
      case nonUnion =>
        primField(dt, nonUnion, ord) match {
          case Some(prim) =>
            // a null into a non-nullable schema must fail with the same
            // typed error the boxed path raises — route it there
            val onNull = compile(dt, avro)
            (row, out) =>
              if (row.isNullAt(ord)) onNull(null, out) else prim(row, out)
          case None => boxed
        }
    }
  }

  /** Non-null flat-primitive encoders (the write mirror of the X91 read
    * lanes); None = not a flat primitive, caller falls back to boxed. */
  private def primField(dt: DataType, s0: AvroSchema, ord: Int): Option[FieldEncoder] =
    (deref(s0), dt) match {
      case (ABoolean, BooleanType) =>
        Some((r, o) => o.writeBoolean(r.getBoolean(ord)))
      case (AInt, ByteType) => Some((r, o) => o.writeInt(r.getByte(ord).toInt))
      case (AInt, ShortType) => Some((r, o) => o.writeInt(r.getShort(ord).toInt))
      case (AInt, IntegerType | DateType) => Some((r, o) => o.writeInt(r.getInt(ord)))
      case (ALong, IntegerType) => Some((r, o) => o.writeLong(r.getInt(ord).toLong))
      case (ALong, LongType | TimestampType | TimestampNTZType) =>
        Some((r, o) => o.writeLong(r.getLong(ord)))
      case (AFloat, FloatType) => Some((r, o) => o.writeFloat(r.getFloat(ord)))
      case (ADouble, DoubleType) => Some((r, o) => o.writeDouble(r.getDouble(ord)))
      case (AString, StringType) => Some((r, o) => writeUtf8(r.getUTF8String(ord), o))
      case (AUuid(_), StringType) => Some((r, o) => writeUtf8(r.getUTF8String(ord), o))
      case (ABytes, BinaryType) => Some((r, o) => o.writeBytes(r.getBinary(ord)))
      case (ADate(_), DateType) => Some((r, o) => o.writeInt(r.getInt(ord)))
      case (ATimeMillis(_), IntegerType) => Some((r, o) => o.writeInt(r.getInt(ord)))
      case (ATimeMicros(_), LongType) => Some((r, o) => o.writeLong(r.getLong(ord)))
      case (ATimestampMillis(_), TimestampType) =>
        Some((r, o) => o.writeLong(r.getLong(ord) / 1000L))
      case (ATimestampMicros(_), TimestampType) =>
        Some((r, o) => o.writeLong(r.getLong(ord)))
      case _ => None
    }

  /** Length-prefixed UTF-8 copy straight from the UTF8String's backing
    * memory — no intermediate `getBytes` array. */
  private def writeUtf8(u: UTF8String, out: AvroBinaryWriter): Unit = {
    val n = u.numBytes
    out.writeLong(n.toLong)
    val arr = out.reserve(n)
    u.writeToMemory(arr, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + out.position)
    out.advance(n)
  }

  private def allowsNull(s: AvroSchema): Boolean = deref(s) match {
    case ANull => true
    case AUnion(branches) => branches.exists(b => deref(b) == ANull)
    case _ => false
  }

  /** A null routed into a schema with no null branch must fail as a TYPED
    * [[AvroResolutionException]] naming the location — the raw scalar
    * writers would otherwise throw a bare executor-side NPE (e.g.
    * `asInstanceOf[UTF8String].getBytes`), inconsistent with the union
    * path's error and nearly undiagnosable from a task failure. */
  private def nullGuarded(where: String, s: AvroSchema, w: Writer): Writer =
    if (allowsNull(s)) w
    else (v, out) =>
      if (v == null) throw new AvroResolutionException(
        s"null value for non-nullable Avro ${deref(s).typeName} at $where; " +
          "add a [\"null\", ...] union branch or filter nulls upstream")
      else w(v, out)

  private def make(dt: DataType, s0: AvroSchema): Writer = deref(s0) match {
    case AUnion(branches) =>
      val nullIdx = branches.indexOf(ANull)
      val valueBranches = branches.zipWithIndex.filter(_._1 != ANull)
      if (valueBranches.isEmpty) (_, out) => out.writeLong(nullIdx.toLong)
      else if (valueBranches.length == 1) {
        // nullable-style ["null", T] union: Catalyst nullability IS the tag
        val (branch, valueIdx) = valueBranches.head
        val inner = make(dt, branch)
        (v, out) =>
          if (v == null) {
            if (nullIdx < 0) throw new AvroResolutionException("null for non-nullable Avro union")
            out.writeLong(nullIdx.toLong)
          } else {
            out.writeLong(valueIdx.toLong)
            inner(v, out)
          }
      } else dt match {
        // general union: the struct-of-members Catalyst form (the decode
        // mirror of SchemaConverters — member_i ↔ i-th non-null branch).
        // The set member's POSITION selects the branch, which is the
        // deterministic Catalyst equivalent of the reference writer's
        // first-validating-branch rule (io.py:1306-1322): exactly one
        // member is expected non-null; with several set, the first wins.
        case st: StructType if st.length == valueBranches.length =>
          val members = valueBranches.zipWithIndex.map { case ((b, branchIdx), mi) =>
            (branchIdx, make(st.fields(mi).dataType, b),
              InternalRowGetters.forType(st.fields(mi).dataType))
          }.toArray
          (v, out) => {
            val row = if (v == null) null else v.asInstanceOf[InternalRow]
            var mi = 0
            var chosen = -1
            while (chosen < 0 && row != null && mi < members.length) {
              if (!row.isNullAt(mi)) chosen = mi else mi += 1
            }
            if (chosen < 0) {
              if (nullIdx < 0) throw new AvroResolutionException(
                "no non-null member for non-nullable Avro union")
              out.writeLong(nullIdx.toLong)
            } else {
              val (branchIdx, w, g) = members(chosen)
              out.writeLong(branchIdx.toLong)
              w(g(row, chosen), out)
            }
          }
        case other => throw new AvroResolutionException(
          s"general Avro union with ${valueBranches.length} branches expects a " +
          s"struct of as many members; got ${other.sql}")
      }
    case ANull    => (_, _) => ()
    case ABoolean => (v, out) => out.writeBoolean(v.asInstanceOf[Boolean])
    case AInt => dt match {
      case ByteType  => (v, out) => out.writeInt(v.asInstanceOf[Byte].toInt)
      case ShortType => (v, out) => out.writeInt(v.asInstanceOf[Short].toInt)
      case _         => (v, out) => out.writeInt(v.asInstanceOf[Int])
    }
    case ALong => dt match {
      case IntegerType => (v, out) => out.writeLong(v.asInstanceOf[Int].toLong)
      case _           => (v, out) => out.writeLong(v.asInstanceOf[Long])
    }
    case AFloat  => (v, out) => out.writeFloat(v.asInstanceOf[Float])
    case ADouble => (v, out) => out.writeDouble(v.asInstanceOf[Double])
    case AString => (v, out) => out.writeBytes(v.asInstanceOf[UTF8String].getBytes)
    case ABytes  => (v, out) => out.writeBytes(v.asInstanceOf[Array[Byte]])
    case f: AFixed => (v, out) => {
      val b = v.asInstanceOf[Array[Byte]]
      if (b.length != f.size) throw new AvroResolutionException(
        s"fixed ${f.fullName} expects ${f.size} bytes, got ${b.length}")
      out.writeFixed(b)
    }
    case e: AEnum => (v, out) => {
      val i = e.indexOf(v.asInstanceOf[UTF8String].toString)
      if (i < 0) throw new AvroResolutionException(s"symbol $v not in enum ${e.fullName}")
      out.writeInt(i)
    }
    case ADecimal(p, s, u) => (v, out) => {
      val bd = v.asInstanceOf[Decimal].toJavaBigDecimal.setScale(s)
      val unscaled = bd.unscaledValue().toByteArray
      deref(u) match {
        case AFixed(_, _, size, _) =>
          val padded = new Array[Byte](size)
          val sign: Byte = if (bd.signum() < 0) -1 else 0
          java.util.Arrays.fill(padded, 0, size - unscaled.length, sign)
          System.arraycopy(unscaled, 0, padded, size - unscaled.length, unscaled.length)
          out.writeFixed(padded)
        case _ => out.writeBytes(unscaled)
      }
    }
    case ADate(_) => (v, out) => out.writeInt(v.asInstanceOf[Int])
    case ATimeMillis(_) => (v, out) => out.writeInt(v.asInstanceOf[Int])
    case ATimeMicros(_) => (v, out) => out.writeLong(v.asInstanceOf[Long])
    case ATimestampMillis(_) => (v, out) => out.writeLong(v.asInstanceOf[Long] / 1000L)
    case ATimestampMicros(_) => (v, out) => out.writeLong(v.asInstanceOf[Long])
    case AUuid(_) => (v, out) => out.writeBytes(v.asInstanceOf[UTF8String].getBytes)
    case AArray(items) =>
      val elType = dt match {
        case ArrayType(e, _) => e
        case other => throw new AvroResolutionException(s"array schema for ${other.sql}")
      }
      val item = nullGuarded("array item", items, make(elType, items))
      (v, out) => {
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val n = arr.numElements()
        if (n > 0) {
          out.writeLong(n.toLong)
          var i = 0
          val getter = InternalRowGetters.forType(elType)
          while (i < n) { item(getter(arr, i), out); i += 1 }
        }
        out.writeLong(0)
      }
    case AMap(values) =>
      val vType = dt match {
        case MapType(_, v, _) => v
        case other => throw new AvroResolutionException(s"map schema for ${other.sql}")
      }
      val value = nullGuarded("map value", values, make(vType, values))
      (v, out) => {
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val n = m.numElements()
        if (n > 0) {
          out.writeLong(n.toLong)
          val keys = m.keyArray()
          val vals = m.valueArray()
          val getter = InternalRowGetters.forType(vType)
          var i = 0
          while (i < n) {
            out.writeBytes(keys.getUTF8String(i).getBytes)
            value(getter(vals, i), out)
            i += 1
          }
        }
        out.writeLong(0)
      }
    case r: ARecord =>
      val st = dt match {
        case s: StructType => s
        case other => throw new AvroResolutionException(s"record schema for ${other.sql}")
      }
      val fieldWriters: Array[Writer] = r.fields.zipWithIndex.map { case (f, i) =>
        nullGuarded(s"field '${f.name}' of record ${r.fullName}", f.schema,
          make(st.fields(i).dataType, f.schema))
      }.toArray
      val getters = st.fields.map(f => InternalRowGetters.forType(f.dataType))
      (v, out) => {
        val row = v.asInstanceOf[InternalRow]
        var i = 0
        while (i < fieldWriters.length) {
          val fv = if (row.isNullAt(i)) null else getters(i)(row, i)
          fieldWriters(i)(fv, out)
          i += 1
        }
      }
    case other => throw new AvroResolutionException(s"cannot encode ${other.typeName}")
  }
}

/** Type-directed element access over Catalyst containers (rows/arrays share
  * the [[org.apache.spark.sql.catalyst.expressions.SpecializedGetters]] API). */
object InternalRowGetters {
  import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  type Getter = (SpecializedGetters, Int) => Any

  def forType(dt: DataType): Getter = dt match {
    case BooleanType => (g, i) => if (g.isNullAt(i)) null else g.getBoolean(i)
    case ByteType    => (g, i) => if (g.isNullAt(i)) null else g.getByte(i)
    case ShortType   => (g, i) => if (g.isNullAt(i)) null else g.getShort(i)
    case IntegerType | DateType => (g, i) => if (g.isNullAt(i)) null else g.getInt(i)
    case LongType | TimestampType | TimestampNTZType => (g, i) => if (g.isNullAt(i)) null else g.getLong(i)
    case FloatType   => (g, i) => if (g.isNullAt(i)) null else g.getFloat(i)
    case DoubleType  => (g, i) => if (g.isNullAt(i)) null else g.getDouble(i)
    case StringType  => (g, i) => if (g.isNullAt(i)) null else g.getUTF8String(i)
    case BinaryType  => (g, i) => if (g.isNullAt(i)) null else g.getBinary(i)
    case d: DecimalType => (g, i) => if (g.isNullAt(i)) null else g.getDecimal(i, d.precision, d.scale)
    case s: StructType => (g, i) => if (g.isNullAt(i)) null else g.getStruct(i, s.length)
    case _: ArrayType => (g, i) => if (g.isNullAt(i)) null else g.getArray(i)
    case _: MapType   => (g, i) => if (g.isNullAt(i)) null else g.getMap(i)
    case _ => (g, i) => if (g.isNullAt(i)) null else g.get(i, dt)
  }
}
