package graft.spark

import graft.avro._
import graft.avro.AvroResolution.deref
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
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
  * reader: the resolver refuses a pair whose value would not fit that slot.
  * Records → [[GenericInternalRow]], strings/enums/uuids →
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
    new Emitter(null).emit(AvroResolver.resolve(writer, reader))

  /** [[compile]] for the value Spark's JSON readers make of the datum's
    * JSON text ([[AvroJsonTranscoder]]): a string is the UTF-8 of its
    * decoded text, so invalid UTF-8 reads as U+FFFD as it renders; and a
    * datum that text would not carry back — one past `limits` or with a
    * duplicate map key, in a field read or skipped — raises
    * [[AvroJsonLimits.Beyond]]. The reader holds records, unions, enums,
    * and boolean, int, long, double and string values; a skipped field may
    * be of any type. */
  def compileJsonParity(writer: AvroSchema, reader: AvroSchema, limits: AvroJsonLimits): Reader =
    new Emitter(limits).emit(AvroResolver.resolve(writer, reader))

  /** `json`: the limits of JSON parity, or null for a plain decode. */
  private final class Emitter(json: AvroJsonLimits) {
    /** One reader per record node: a recursive plan's cycle closes here. */
    private val records = new java.util.IdentityHashMap[Record, Reader]()

    def emit(plan: Resolved): Reader = plan match {
      case s: Scalar => if (json == null) scalar(s) else jsonScalar(s, json)
      case Skip(w) =>
        val sk = if (json == null) AvroSkipper.compile(w) else json.checker(w)
        in => { sk(in); null }
      case ArrayOf(_) | MapOf(_) if json != null =>
        throw new IllegalArgumentException("a JSON-parity read holds no arrays or maps")
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
        val binary = binarySlot(e.reader)
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
  private def binarySlot(reader: AvroSchema): Boolean = reader match {
    case ABytes | _: AFixed => true
    case _ => false
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
        (target, binarySlot(s.reader)) match {
          case (AFixed(_, _, size, _), true) => _.readFixed(size)
          case (AFixed(_, _, size, _), false) => in => UTF8String.fromBytes(in.readFixed(size))
          case (AString, true) => _.readStringBytes()
          case (AString, false) => in => UTF8String.fromBytes(in.readStringBytes())
          case (_, true) => _.readBytes()
          case (_, false) => in => UTF8String.fromBytes(in.readBytes())
        }
    }
  }

  /** A JSON-parity scalar: the checks of [[AvroJsonLimits.checker]] on a
    * value that is also read. */
  private def jsonScalar(s: Scalar, limits: AvroJsonLimits): Reader =
    (s.logical, s.wire, s.target) match {
      case (null, ANull | ABoolean | AInt | ALong, _) => scalar(s)
      case (null, ADouble, ADouble) => in => {
        val d = in.readDouble()
        if (!java.lang.Double.isFinite(d)) throw AvroJsonLimits.Beyond
        d
      }
      case (null, AString, AString) if !binarySlot(s.reader) => in => {
        val n = in.readLength("string")
        if (n > limits.maxString) throw AvroJsonLimits.Beyond
        val buf = in.buf
        val start = in.pos
        in.pos += n
        var i = start
        while (i < start + n && buf(i) >= 0) i += 1
        if (i == start + n) UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, start, start + n))
        else UTF8String.fromString(new String(buf, start, n, StandardCharsets.UTF_8))
      }
      case _ => throw new IllegalArgumentException(
        s"a JSON-parity read holds no ${s.reader.typeName} read from ${s.wire.typeName}")
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

/** Catalyst values → Avro wire bytes, compiled once per (DataType,
  * AvroSchema) pair — the encode mirror of [[CatalystAvroReader]] and the
  * one encoder of `to_avro`, the graft-ocf sink's data and equality-delete
  * key files, and the sink's write-plan check.
  * (reference: python-udf/avro/io.py:1125-1337 DatumWriter.)
  *
  * Every node reads its own value from a container — an [[InternalRow]] or
  * an [[org.apache.spark.sql.catalyst.util.ArrayData]] — at an ordinal:
  * record fields, array items, map values and general-union members read
  * straight from their parent, so no value boxes at any depth. A node is
  * reached only for a non-null value: a `["null", T]` union takes its tag
  * from `isNullAt`, and every other schema with no null branch checks
  * `isNullAt` first and fails with an [[AvroResolutionException]] naming
  * the location. A Catalyst type whose values the Avro type does not hold
  * reads the boxed value and casts it, failing as a cast does.
  */
object CatalystAvroWriter {
  /** Writes the non-null value at ordinal `i` of a row or array. (Its own
    * type, not a `Function3`, so the ordinal is passed unboxed.) */
  private trait Encoder { def apply(c: SpecializedGetters, i: Int, out: AvroBinaryWriter): Unit }

  /** One value of `dt` as `avro`; a null fails at location `<value>`. */
  private def compile(dt: DataType, avro: AvroSchema): Encoder =
    nullGuarded("<value>", avro, make(dt, avro))

  /** `to_avro`'s adapter: encodes a value held in no container. Each call
    * wraps it in a one-slot row of its own, so the adapter holds no state
    * the task threads sharing an expression could race on. */
  def compileValue(dt: DataType, avro: AvroSchema): (Any, AvroBinaryWriter) => Unit = {
    val enc = compile(dt, avro)
    (v, out) => enc(new GenericInternalRow(Array[Any](v)), 0, out)
  }

  /** A record body over a row's columns: field `j` of `rec` is column
    * `ordinals(j)` of `sql`, each compiled as a top-level value. */
  def compileRecord(sql: StructType, rec: ARecord, ordinals: Array[Int])
      : (InternalRow, AvroBinaryWriter) => Unit = {
    val fields = rec.fields.indices.map(j =>
      compile(sql.fields(ordinals(j)).dataType, rec.fields(j).schema)).toArray
    (row, out) => {
      var j = 0
      while (j < fields.length) { fields(j)(row, ordinals(j), out); j += 1 }
    }
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
    * [[AvroResolutionException]] naming the location — the scalar reads
    * would otherwise return a default or throw a bare executor-side NPE,
    * inconsistent with the union path's error and nearly undiagnosable
    * from a task failure. */
  private def nullGuarded(where: String, s: AvroSchema, enc: Encoder): Encoder =
    if (allowsNull(s)) enc
    else (c, i, out) =>
      if (c.isNullAt(i)) throw new AvroResolutionException(
        s"null value for non-nullable Avro ${deref(s).typeName} at $where; " +
          "add a [\"null\", ...] union branch or filter nulls upstream")
      else enc(c, i, out)

  // the typed read of an object-valued Catalyst type, else its boxed value cast
  private trait At[T] { def apply(c: SpecializedGetters, i: Int): T }
  private def utf8At(dt: DataType): At[UTF8String] =
    if (dt == StringType) _.getUTF8String(_) else _.get(_, dt).asInstanceOf[UTF8String]
  private def binaryAt(dt: DataType): At[Array[Byte]] =
    if (dt == BinaryType) _.getBinary(_) else _.get(_, dt).asInstanceOf[Array[Byte]]
  private def decimalAt(dt: DataType): At[Decimal] = dt match {
    case d: DecimalType => _.getDecimal(_, d.precision, d.scale)
    case _ => _.get(_, dt).asInstanceOf[Decimal]
  }
  private def intRead(dt: DataType): Boolean = dt == IntegerType || dt == DateType
  private def longRead(dt: DataType): Boolean =
    dt == LongType || dt == TimestampType || dt == TimestampNTZType

  private def make(dt: DataType, s0: AvroSchema): Encoder = deref(s0) match {
    case AUnion(branches) =>
      val nullIdx = branches.indexOf(ANull).toLong
      val valueBranches = branches.zipWithIndex.filter(_._1 != ANull)
      if (valueBranches.isEmpty) (_, _, out) => out.writeLong(nullIdx)
      else if (valueBranches.length == 1) {
        // nullable-style ["null", T] union: Catalyst nullability IS the tag
        val (branch, valueIdx) = valueBranches.head
        val inner = make(dt, branch)
        (c, i, out) =>
          if (c.isNullAt(i)) out.writeLong(nullIdx)
          else { out.writeLong(valueIdx.toLong); inner(c, i, out) }
      } else dt match {
        // general union: the struct-of-members Catalyst form (the decode
        // mirror of SchemaConverters — member_i ↔ i-th non-null branch).
        // The set member's POSITION selects the branch, which is the
        // deterministic Catalyst equivalent of the reference writer's
        // first-validating-branch rule (io.py:1306-1322): exactly one
        // member is expected non-null; with several set, the first wins.
        case st: StructType if st.length == valueBranches.length =>
          val branchIdx = valueBranches.map(_._2.toLong).toArray
          val members = valueBranches.indices.map(m =>
            make(st.fields(m).dataType, valueBranches(m)._1)).toArray
          (c, i, out) => {
            val row = if (c.isNullAt(i)) null else c.getStruct(i, members.length)
            var m = 0
            while (row != null && m < members.length && row.isNullAt(m)) m += 1
            if (row == null || m == members.length) {
              if (nullIdx < 0) throw new AvroResolutionException(
                "no non-null member for non-nullable Avro union")
              out.writeLong(nullIdx)
            } else {
              out.writeLong(branchIdx(m))
              members(m)(row, m, out)
            }
          }
        case other => throw new AvroResolutionException(
          s"general Avro union with ${valueBranches.length} branches expects a " +
          s"struct of as many members; got ${other.sql}")
      }
    case ANull => (_, _, _) => ()
    case ABoolean =>
      if (dt == BooleanType) (c, i, out) => out.writeBoolean(c.getBoolean(i))
      else (c, i, out) => out.writeBoolean(c.get(i, dt).asInstanceOf[Boolean])
    case AInt if dt == ByteType => (c, i, out) => out.writeInt(c.getByte(i).toInt)
    case AInt if dt == ShortType => (c, i, out) => out.writeInt(c.getShort(i).toInt)
    case AInt | ADate(_) | ATimeMillis(_) =>
      if (intRead(dt)) (c, i, out) => out.writeInt(c.getInt(i))
      else (c, i, out) => out.writeInt(c.get(i, dt).asInstanceOf[Int])
    case ALong if dt == IntegerType => (c, i, out) => out.writeLong(c.getInt(i).toLong)
    case ALong | ATimeMicros(_) | ATimestampMicros(_) =>
      if (longRead(dt)) (c, i, out) => out.writeLong(c.getLong(i))
      else (c, i, out) => out.writeLong(c.get(i, dt).asInstanceOf[Long])
    case ATimestampMillis(_) =>
      if (longRead(dt)) (c, i, out) => out.writeLong(c.getLong(i) / 1000L)
      else (c, i, out) => out.writeLong(c.get(i, dt).asInstanceOf[Long] / 1000L)
    case AFloat =>
      if (dt == FloatType) (c, i, out) => out.writeFloat(c.getFloat(i))
      else (c, i, out) => out.writeFloat(c.get(i, dt).asInstanceOf[Float])
    case ADouble =>
      if (dt == DoubleType) (c, i, out) => out.writeDouble(c.getDouble(i))
      else (c, i, out) => out.writeDouble(c.get(i, dt).asInstanceOf[Double])
    case AString | AUuid(_) =>
      val str = utf8At(dt)
      (c, i, out) => writeUtf8(str(c, i), out)
    case ABytes =>
      val bin = binaryAt(dt)
      (c, i, out) => out.writeBytes(bin(c, i))
    case f: AFixed =>
      val bin = binaryAt(dt)
      (c, i, out) => {
        val b = bin(c, i)
        if (b.length != f.size) throw new AvroResolutionException(
          s"fixed ${f.fullName} expects ${f.size} bytes, got ${b.length}")
        out.writeFixed(b)
      }
    case e: AEnum =>
      val str = utf8At(dt)
      (c, i, out) => {
        val v = str(c, i)
        val k = e.indexOf(v.toString)
        if (k < 0) throw new AvroResolutionException(s"symbol $v not in enum ${e.fullName}")
        out.writeInt(k)
      }
    case ADecimal(p, s, u) =>
      val dec = decimalAt(dt)
      val size = deref(u) match {
        case AFixed(_, _, n, _) => n
        case _ => -1
      }
      (c, i, out) => {
        val bd = dec(c, i).toJavaBigDecimal.setScale(s)
        val unscaled = bd.unscaledValue().toByteArray
        if (size < 0) out.writeBytes(unscaled)
        else {
          val padded = new Array[Byte](size)
          val sign: Byte = if (bd.signum() < 0) -1 else 0
          java.util.Arrays.fill(padded, 0, size - unscaled.length, sign)
          System.arraycopy(unscaled, 0, padded, size - unscaled.length, unscaled.length)
          out.writeFixed(padded)
        }
      }
    case AArray(items) =>
      val elType = dt match {
        case ArrayType(e, _) => e
        case other => throw new AvroResolutionException(s"array schema for ${other.sql}")
      }
      val item = nullGuarded("array item", items, make(elType, items))
      (c, i, out) => {
        val arr = c.getArray(i)
        val n = arr.numElements()
        if (n > 0) {
          out.writeLong(n.toLong)
          var k = 0
          while (k < n) { item(arr, k, out); k += 1 }
        }
        out.writeLong(0)
      }
    case AMap(values) =>
      val vType = dt match {
        case MapType(_, v, _) => v
        case other => throw new AvroResolutionException(s"map schema for ${other.sql}")
      }
      val value = nullGuarded("map value", values, make(vType, values))
      (c, i, out) => {
        val m = c.getMap(i)
        val n = m.numElements()
        if (n > 0) {
          out.writeLong(n.toLong)
          val keys = m.keyArray()
          val vals = m.valueArray()
          var k = 0
          while (k < n) {
            writeUtf8(keys.getUTF8String(k), out)
            value(vals, k, out)
            k += 1
          }
        }
        out.writeLong(0)
      }
    case r: ARecord =>
      val st = dt match {
        case s: StructType => s
        case other => throw new AvroResolutionException(s"record schema for ${other.sql}")
      }
      val fields = r.fields.zipWithIndex.map { case (f, k) =>
        nullGuarded(s"field '${f.name}' of record ${r.fullName}", f.schema,
          make(st.fields(k).dataType, f.schema))
      }.toArray
      val width = st.length
      (c, i, out) => {
        val row = c.getStruct(i, width)
        var k = 0
        while (k < fields.length) { fields(k)(row, k, out); k += 1 }
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
