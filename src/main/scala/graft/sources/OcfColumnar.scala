package graft.sources

import graft.avro._
import graft.avro.AvroResolution.deref
import graft.avro.Resolved._
import graft.spark.{CatalystAvroReader, SchemaConverters}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized (ColumnarBatch) reads: when the reader schema is a record of
  * lane shapes — scalars (primitives, the date/time/timestamp/uuid/decimal
  * logical types, enum, fixed), structs of lane shapes, arrays and maps of
  * scalars or of structs of scalars, each plain or nullable, and top-level
  * general unions — and every planned file's writer admits a [[WirePlan]],
  * the scan decodes straight into on-heap column vectors: one loop per
  * batch instead of a per-row compiled-reader call, row allocation and
  * iterator step. Spark's `ColumnarToRow` (codegen'd) consumes the batches.
  * Partition values and `_file` are per-split CONSTANTS and ride as
  * constant vectors, `_pos` rides as a real ordinal vector, and MoR
  * position/equality deletes apply in-lane (X105).
  *
  * The wire plan is the third emitter over [[AvroResolver]]'s plan, beside
  * [[CatalystAvroReader]] and [[AvroJsonTranscoder]]: field matching,
  * aliases, promotions, enum symbols, defaults and skips are the
  * resolver's, so both lanes read one semantics. What the lane decides is
  * only admission — which plans its vectors can hold — and everything else
  * (arrays of arrays, recursive records, reordered projections, evolution
  * the admission refuses, aggregate pushdowns) rides the row reader. */
private[graft] object OcfColumnar {

  /** A lane-eligible reader record: its JSON and, per field, the Spark type
    * of the vector the field decodes into. */
  final case class Fields(readerJson: String, types: Array[DataType])

  /** Types a per-split CONSTANT vector can carry — the single source of
    * truth for both [[OcfColumnarSplitReader]]'s `constVec` dispatch and
    * the change feed's lane-eligibility gate (partition values, change
    * tag, commit version all ride as constants). */
  def constSupported(dt: DataType): Boolean = dt match {
    case BooleanType | StringType | BinaryType | ByteType | ShortType |
         IntegerType | DateType | LongType | TimestampType |
         FloatType | DoubleType => true
    case _ => false
  }

  private def plainPrimitive(s: AvroSchema): Boolean = s match {
    case ABoolean | AInt | ALong | AFloat | ADouble | AString | ABytes => true
    // SCALAR logical types decode as one fixed-width/length-prefixed wire
    // primitive with at most a ×1000 rescale (timestamp-millis) — exactly
    // as vectorizable as their underlying primitives.
    case ADate(_) | ATimeMillis(_) | ATimeMicros(_) |
         ATimestampMillis(_) | ATimestampMicros(_) | AUuid(_) => true
    // decimal: both physical encodings (length-prefixed bytes and fixed)
    // are one contiguous big-endian two's-complement run. Wider-than-38
    // precision can't be a Spark DecimalType — leave it to the row reader.
    case ADecimal(p, _, u) if p <= 38 => u.physical match {
      case ABytes | _: AFixed => true
      case _ => false
    }
    case _: AEnum | _: AFixed => true
    case _ => false
  }

  /** The value of a plain or a `["null", T]`/`[T, "null"]` shape. */
  private def valueOf(s: AvroSchema): Option[AvroSchema] = s match {
    case AUnion(Seq(ANull, t)) => Some(t)
    case AUnion(Seq(t, ANull)) => Some(t)
    case _: AUnion => None
    case t => Some(t)
  }

  private def scalar(s: AvroSchema): Boolean = valueOf(s).exists(plainPrimitive)

  /** Lane shapes at any depth: scalars, structs of lane shapes, and arrays
    * and maps whose items are scalars or structs of scalars. */
  private def shape(s: AvroSchema): Boolean = valueOf(s).exists {
    case r: ARecord => r.fields.forall(f => shape(f.schema))
    case AArray(items) => element(items)
    case AMap(values) => element(values)
    case t => plainPrimitive(t)
  }

  private def element(s: AvroSchema): Boolean = valueOf(s).exists {
    case r: ARecord => r.fields.forall(f => scalar(f.schema))
    case t => plainPrimitive(t)
  }

  /** A top-level field may also be a general union (X111, the F14
    * struct-of-branches shape): two or more non-null lane-shaped branches,
    * held as `member$i` struct children. */
  private def topShape(s: AvroSchema): Boolean = shape(s) || (s match {
    case u: AUnion => u.nonNullBranches.length >= 2 && u.nonNullBranches.forall(shape)
    case _ => false
  })

  private def laneRecord(json: String): Option[ARecord] =
    scala.util.Try(AvroSchemaParser.parse(json)).toOption.collect {
      case r: ARecord if r.fields.forall(f => topShape(f.schema)) => r
    }

  private def sqlType(s: AvroSchema): DataType = SchemaConverters.toSqlType(s).dataType

  /** The reader's vector types when `readerJson` is a record of lane shapes. */
  def fieldsFor(readerJson: String): Option[Fields] =
    laneRecord(readerJson).map(r => Fields(readerJson, r.fields.map(f => sqlType(f.schema)).toArray))

  /** The per-FILE decoder of `writerJson` into `reader`'s vectors, compiled
    * once per (writer, reader) pair per JVM, or None when the lane does not
    * admit the pair (the scan then rides the row reader). */
  def wirePlanFor(writerJson: String, reader: Fields): Option[WirePlan] =
    planCache.computeIfAbsent(writerJson + "\u0001" + reader.readerJson,
      _ => compile(writerJson, reader.readerJson))

  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[WirePlan]]()

  private def compile(writerJson: String, readerJson: String): Option[WirePlan] =
    for {
      writer <- laneRecord(writerJson)
      reader <- laneRecord(readerJson)
      plan <- (try Some(AvroResolver.resolve(writer, reader))
               catch { case _: AvroResolutionException => None }).collect {
        case rec: Record if recordAdmits(rec, writer, top = true) => rec
      }
    } yield new WirePlan(plan, writer)

  // ---- admission: which resolved plans the vectors hold ---------------------

  /** Does the lane decode `plan`, resolved from writer schema `w0`? It
    * refuses a null writer branch the reader cannot take (a null under a
    * plain reader), a general union whose branches do not land in the
    * reader's same-position branches, reader union members under anything
    * else, an enum remap that renames a symbol, a scalar whose reader vector
    * is neither its own Spark type nor an Avro promotion of it, and
    * (through [[recordAdmits]]) reordered records and defaults with no
    * constant. */
  private def admits(plan: Resolved, w0: AvroSchema): Boolean = (plan, deref(w0)) match {
    case (s: Scalar, w) =>
      val dt = sqlType(s.reader)
      sqlType(w) == dt || AvroResolution.promotes(w, SchemaConverters.toAvroType(dt))
    case (e: EnumRemap, _) => e.symbols == e.writer.symbols && sqlType(e.reader) == StringType
    case (_: Skip, _) => true
    // a non-null branch a `["null", T]` reader cannot take raises when a
    // datum uses it, on either lane; the lane admits it where it admits a
    // plain writer of that branch's type under the same reader, so which
    // files take the lane does not depend on which branches fail
    case (f: Fail, w) => w != ANull && (f.reader match {
      case ru: AUnion if members(ru) == 1 =>
        try admits(AvroResolver.resolve(w, ru), w)
        catch { case _: AvroResolutionException => false }
      case _ => false
    })
    case (WriterUnion(branches), wu: AUnion) =>
      val general = wu.nonNullBranches.length >= 2
      branches.indices.forall { b =>
        (branches(b), wu.branches(b)) match {
          case (ReaderUnion(ru, i, value), wb) if general =>
            members(ru) >= 2 && ru.branches.length == wu.branches.length && i == b &&
              admits(value, wb)
          case (branch, wb) => !general && admits(branch, wb)
        }
      }
    case (ReaderUnion(ru, _, value), w) => members(ru) <= 1 && admits(value, w)
    case (ArrayOf(items), AArray(wi)) => admits(items, wi)
    case (MapOf(values), AMap(wv)) => admits(values, wv)
    case (rec: Record, wr: ARecord) => recordAdmits(rec, wr, top = false)
    case _ => false
  }

  private def members(ru: AUnion): Int = ru.nonNullBranches.length

  /** Matched reader slots rise in writer order (a reordered projection
    * keeps the row lane), every field admits, and every default the writer
    * leaves to the reader has a constant form: null, or a value of a
    * constant-vector type written as itself (a JSON null under a type with
    * no null materializes as 0 or "null"). A top-level default becomes a
    * constant vector, so it must belong to a scalar field. */
  private def recordAdmits(rec: Record, wr: ARecord, top: Boolean): Boolean = {
    val matched = rec.slots.filter(_ >= 0)
    matched.indices.drop(1).forall(k => matched(k - 1) < matched(k)) &&
      rec.fields.indices.forall(i => admits(rec.fields(i), wr.fields(i).schema)) &&
      rec.defaults.indices.forall { j =>
        val rf = rec.reader.fields(j)
        rec.defaults(j).isEmpty || (!top || scalar(rf.schema)) && (defaultOf(rec, j) == null ||
          constSupported(sqlType(rf.schema)) && !rf.default.exists(_.isNull))
      }
  }

  // ---- the emitter: one compiled Put per plan node --------------------------

  /** One compiled plan node. `put` decodes a value at `in` into row `row` of
    * `v` (top-level fields, struct children, union members); `append` adds
    * it as the next element of `v` (array items, map values). A skipped
    * value gets a null `v`. */
  private abstract class Put {
    def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit
    def append(in: AvroBinaryReader, v: WritableColumnVector): Unit =
      put(in, v, v.appendNotNull())
  }

  private object NullPut extends Put {
    def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit = v.putNull(row)
    // a null struct element appends a null slot to each child, so the
    // children's append cursors stay element-aligned
    override def append(in: AvroBinaryReader, v: WritableColumnVector): Unit =
      if (v.dataType.isInstanceOf[StructType]) v.appendStruct(true) else v.appendNull()
  }

  /** A non-null branch of a nullable union clears the row's null bit first:
    * a reader that rejects a decoded row (an equality delete) reuses its
    * slot, and a put does not clear a null an earlier row left there. */
  private def notNull(inner: Put): Put = new Put {
    def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit = {
      v.putNotNull(row)
      inner.put(in, v, row)
    }
    override def append(in: AvroBinaryReader, v: WritableColumnVector): Unit = inner.append(in, v)
  }

  private def isNull(plan: Resolved): Boolean = plan match {
    case Scalar(ANull, _, _, _) => true
    case ReaderUnion(_, _, value) => isNull(value)
    case _ => false
  }

  private def emit(plan: Resolved): Put = plan match {
    case s: Scalar => scalarPut(s)
    case Skip(w) =>
      val skip = AvroSkipper.compile(w)
      (in, _, _) => skip(in)
    case f: Fail => (_, _, _) => f.raise()
    case WriterUnion(plans) =>
      val nullable = plans.exists(isNull)
      val branches = plans.map(p => if (nullable && !isNull(p)) notNull(emit(p)) else emit(p)).toArray
      val n = branches.length
      new Put {
        def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit =
          branches(branchIndex(in, n)).put(in, v, row)
        override def append(in: AvroBinaryReader, v: WritableColumnVector): Unit =
          branches(branchIndex(in, n)).append(in, v)
      }
    case ReaderUnion(ru, i, value) =>
      val inner = emit(value)
      val width = members(ru)
      if (width <= 1 || ru.branches(i) == ANull) inner
      else {
        // a general union (X111): the member decodes into its child, every
        // other member's slot is nulled, and the taken one cleared (a
        // reused slot may hold a rejected row's null)
        val member = ru.branches.take(i).count(_ != ANull)
        (in, v, row) => {
          var k = 0
          while (k < width) { if (k != member) v.getChild(k).putNull(row); k += 1 }
          val child = v.getChild(member)
          child.putNotNull(row)
          inner.put(in, child, row)
        }
      }
    case e: EnumRemap =>
      bytesPut(e.decoder(e.symbols.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray))
    case ArrayOf(items) =>
      // Avro arrays are blocked runs (a negative count prefixes a byte
      // size), ended by a zero count; items append to the child vector and
      // the row records (offset, length), Spark's columnar array shape. A
      // rejected row's items are dead space the batch reset reclaims.
      val item = emit(items)
      (in, v, row) => {
        val child = v.getChild(0)
        val start = child.getElementsAppended
        var total = 0
        var count = in.readLong()
        while (count != 0) {
          if (count < 0) { count = -count; in.skipLong() }
          var i = 0L
          while (i < count) { item.append(in, child); i += 1 }
          total += count.toInt
          count = in.readLong()
        }
        v.putArray(row, start, total)
      }
    case MapOf(values) =>
      // the same block walk; keys and values append in step
      val value = emit(values)
      (in, v, row) => {
        val keys = v.getChild(0)
        val vals = v.getChild(1)
        val start = keys.getElementsAppended
        var total = 0
        var count = in.readLong()
        while (count != 0) {
          if (count < 0) { count = -count; in.skipLong() }
          var i = 0L
          while (i < count) {
            val k = in.readStringBytes()
            keys.appendByteArray(k, 0, k.length)
            value.append(in, vals)
            i += 1
          }
          total += count.toInt
          count = in.readLong()
        }
        v.putArray(row, start, total)
      }
    case rec: Record => structPut(rec)
  }

  /** A struct: each writer field decodes into its reader child (or skips),
    * then the reader-only children take their defaults. Appended, the
    * struct slot comes first and every child gets exactly one append. */
  private def structPut(rec: Record): Put = {
    val fields = rec.fields.map(emit)
    val slots = rec.slots
    val fills = rec.defaults.indices.filter(rec.defaults(_).isDefined).toArray
    val fillPuts = fills.map(j => constant(defaultOf(rec, j), sqlType(rec.reader.fields(j).schema)))
    new Put {
      def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit = {
        var i = 0
        while (i < fields.length) {
          val s = slots(i)
          fields(i).put(in, if (s < 0) null else v.getChild(s), row)
          i += 1
        }
        i = 0
        while (i < fills.length) { fillPuts(i).put(in, v.getChild(fills(i)), row); i += 1 }
      }
      override def append(in: AvroBinaryReader, v: WritableColumnVector): Unit = {
        v.appendStruct(false)
        var i = 0
        while (i < fields.length) {
          val s = slots(i)
          if (s < 0) fields(i).put(in, null, -1) else fields(i).append(in, v.getChild(s))
          i += 1
        }
        i = 0
        while (i < fills.length) { fillPuts(i).append(in, v.getChild(fills(i))); i += 1 }
      }
    }
  }

  /** Reader field `j`'s default as a Catalyst value. */
  private def defaultOf(rec: Record, j: Int): Any =
    CatalystAvroReader.toCatalyst(rec.defaults(j).get, rec.reader.fields(j).schema)

  private def constant(value: Any, dt: DataType): Put =
    if (value == null) NullPut
    else dt match {
      case BooleanType =>
        val b = value.asInstanceOf[Boolean]
        (_, v, row) => v.putBoolean(row, b)
      case IntegerType | DateType =>
        val x = value.asInstanceOf[Int]
        (_, v, row) => v.putInt(row, x)
      case LongType | TimestampType =>
        val x = value.asInstanceOf[Long]
        (_, v, row) => v.putLong(row, x)
      case FloatType =>
        val x = value.asInstanceOf[Float]
        (_, v, row) => v.putFloat(row, x)
      case DoubleType =>
        val x = value.asInstanceOf[Double]
        (_, v, row) => v.putDouble(row, x)
      case StringType =>
        val b = value.asInstanceOf[UTF8String].getBytes
        (_, v, row) => v.putByteArray(row, b, 0, b.length)
      case BinaryType =>
        val b = value.asInstanceOf[Array[Byte]]
        (_, v, row) => v.putByteArray(row, b, 0, b.length)
    }

  private def bytesPut(read: AvroBinaryReader => Array[Byte]): Put = (in, v, row) => {
    val b = read(in)
    v.putByteArray(row, b, 0, b.length)
  }

  /** One scalar read, as [[CatalystAvroReader]] reads it, into the vector's
    * typed slot: the logical conversion (decimal, timestamp-millis ×1000),
    * else the wire type delivered as its target. */
  private def scalarPut(s: Scalar): Put = s.logical match {
    case ADecimal(_, scale, _) =>
      val (p, sc) = s.reader match {
        case ADecimal(rp, rs, _) => (rp, rs)
        case _ => (DecimalType.MAX_PRECISION, scale)
      }
      val read: AvroBinaryReader => Array[Byte] = s.wire match {
        case AFixed(_, _, size, _) => _.readFixed(size)
        case _ => _.readBytes()
      }
      (in, v, row) => v.putDecimal(row, Decimal(
        new java.math.BigDecimal(new java.math.BigInteger(read(in)), scale), p, sc), p)
    case ATimestampMillis(_) => (in, v, row) => v.putLong(row, in.readLong() * 1000L)
    case _ => (s.wire, s.target) match {
      case (ANull, _) => NullPut
      case (ABoolean, _) => (in, v, row) => v.putBoolean(row, in.readBoolean())
      case (AInt, AInt) => (in, v, row) => v.putInt(row, in.readInt())
      case (AInt | ALong, ALong) => (in, v, row) => v.putLong(row, in.readLong())
      case (AInt, AFloat) => (in, v, row) => v.putFloat(row, in.readInt().toFloat)
      case (AInt, ADouble) => (in, v, row) => v.putDouble(row, in.readInt().toDouble)
      case (ALong, AFloat) => (in, v, row) => v.putFloat(row, in.readLong().toFloat)
      case (ALong, ADouble) => (in, v, row) => v.putDouble(row, in.readLong().toDouble)
      case (AFloat, AFloat) => (in, v, row) => v.putFloat(row, in.readFloat())
      case (AFloat, ADouble) => (in, v, row) => v.putDouble(row, in.readFloat().toDouble)
      case (ADouble, _) => (in, v, row) => v.putDouble(row, in.readDouble())
      case (_, AFixed(_, _, size, _)) => bytesPut(_.readFixed(size))
      case (_, AString) => bytesPut(_.readStringBytes())
      case _ => bytesPut(_.readBytes())
    }
  }

  /** A file's decoder: per writer field its reader slot (-1: skipped) and
    * compiled node, and per reader field the constant it takes when this
    * writer never wrote it (the reader fills it as a constant vector). */
  final class WirePlan private[OcfColumnar] (plan: Record, writer: ARecord) {
    private val slots = plan.slots
    private val fields = plan.fields.map(emit)
    private val skipDatum = AvroSkipper.compile(writer)

    /** Per reader field: Some(constant) for a field this writer never wrote. */
    val constants: Array[Option[Any]] =
      plan.defaults.indices.map(j => plan.defaults(j).map(_ => defaultOf(plan, j))).toArray

    /** Decode the datum at `in` into row `row` of the writable `vectors`. */
    def decode(in: AvroBinaryReader, vectors: Array[WritableColumnVector], row: Int): Unit = {
      var i = 0
      while (i < fields.length) {
        val s = slots(i)
        fields(i).put(in, if (s < 0) null else vectors(s), row)
        i += 1
      }
    }

    /** Walk past the datum at `in` (a position-deleted row still occupies
      * wire bytes). */
    def skip(in: AvroBinaryReader): Unit = skipDatum(in)
  }
}

/** The vectorized split reader: the block walk of [[OcfBlocks.Cursor]] and
  * the delete state of [[OcfDeleteState]], as in [[OcfSplitReader]],
  * decoding up to `batchSize` datums per `next()` into reused on-heap
  * vectors. Vector types come from the READER fields; the decode loop runs
  * this file's [[OcfColumnar.WirePlan]], so the union-branch byte is read
  * exactly when the writer wrote one and projected-away writer columns are
  * type-skipped.
  * `appended` carries the split's CONSTANT trailing columns — required
  * partition values under their resolved read types, then (when requested)
  * the `_file` path — as `(DataType, catalystValue)` pairs; they become
  * [[org.apache.spark.sql.execution.vectorized.ConstantColumnVector]]s, so
  * a partitioned scan decodes no more bytes than an unpartitioned one.
  * `limit` counts emitted rows, exactly like the row reader. */
private[graft] final class OcfColumnarSplitReader(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long,
    fields: OcfColumnar.Fields, plan: OcfColumnar.WirePlan,
    conf: Configuration,
    limit: Long = Long.MaxValue, aligned: Boolean = false,
    appended: Array[(DataType, Any)] = Array.empty,
    batchSize: Int = 4096,
    // MoR deletes (X105): position-delete ordinals SKIP-decode (the wire
    // walks forward without touching the vectors), equality-deleted rows
    // decode into slot n and the slot is simply not advanced — the next
    // surviving row overwrites it. A MoR-burdened table thus vectorizes
    // like a clean one instead of dragging the whole scan onto the row
    // lane. `readerJson` binds the equality keys' vector ordinals.
    readerJson: String = null,
    deleteFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    eqDeleteFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    // `_pos` emission (the row-ordinal metadata column): a REAL LongType
    // vector — the one appended column that is per-row, not per-split
    withPos: Boolean = false,
    // CHANGES read, columnar (X95/X110): invert the filter — emit ONLY
    // the rows a commit deleted, mirroring [[OcfSplitReader]]'s modes.
    // `emitPosFiles`: ordinals in these position-delete files but not in
    // `deleteFiles` (non-matching rows type-SKIP, never touch vectors);
    // `emitEqFiles`: rows surviving the skip state whose key matches the
    // commit's new equality deletes. At most one mode per reader.
    emitPosFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    emitEqFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    // UPDATE pairing (X104) in the columnar lane: when `pairGroups` is
    // non-empty, the appended column at `pairTagAt` (index into `appended`)
    // is a WRITABLE string vector instead of a per-split constant — each
    // emitted row gets `pairAlt` when its key tuple probes into a group
    // (the same bound-extractor probe the equality modes run) and
    // `pairBase` otherwise.
    pairGroups: Array[OcfSplitReader.EqGroup] = Array.empty,
    pairTagAt: Int = -1,
    pairBase: org.apache.spark.unsafe.types.UTF8String = null,
    pairAlt: org.apache.spark.unsafe.types.UTF8String = null)
    extends PartitionReader[ColumnarBatch] {

  require(emitPosFiles.isEmpty || emitEqFiles.isEmpty,
    "graft-ocf: one changes-read mode per reader")
  // position ordinals count raw datums from block 0 — the planner plans
  // burdened files as one whole-file split (OcfScan), same as the row lane
  require((deleteFiles.isEmpty && !withPos && emitPosFiles.isEmpty) ||
      (start == 0L && !aligned),
    s"graft-ocf: positional columnar read of ${meta.path} must scan the " +
      s"whole file (got split [$start, $end), aligned=$aligned)")

  private val deletes = OcfDeleteState.load(deleteFiles, eqDeleteFiles,
    emitPosFiles, emitEqFiles, readerJson, conf)
  private val deletedPos = deletes.deletedPos
  private var delIdx = 0
  private var rawPos = 0L
  private val eqGroups = deletes.eqGroups
  // changes-read state (X110): the NEWLY-deleted ordinals (new minus old)
  // or the commit's new key groups — the row lane's exact derivation
  private val emitPos = deletes.emitPos
  private var emitIdx = 0
  private val emitEqGroups = deletes.emitEqGroups
  private val changesRead = deletes.changesRead

  private var remaining = 0L
  private var emitted = 0L
  private var bin: AvroBinaryReader = _

  // batch CAPACITY: the sink's `graft.rows` stamp bounds the split's row
  // count (scaled by the byte fraction for mid-file splits), so a 50-row
  // CDC file allocates 50-slot vectors, not 4096 — per-reader vector
  // allocation is the columnar lane's only fixed cost, and small-file
  // scans (the post-upsert, pre-compaction shape) create MANY readers
  private val capacity: Int = meta.rowsStamp match {
    case Some(rows) if rows > 0 =>
      val bytes = (if (end < 0L) meta.len else math.min(end, meta.len)) - start
      val frac = math.min(1.0, bytes.toDouble / math.max(1L, meta.len).toDouble)
      // 1.25 slack: block boundaries don't align with byte fractions
      math.max(16, math.min(batchSize, (rows * frac * 1.25).toInt + 1))
    case _ => batchSize
  }

  private def constVec(dt: DataType, v: Any): ColumnVector = {
    val cv = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
      capacity, dt)
    if (v == null) cv.setNull()
    else dt match {
      case BooleanType => cv.setBoolean(v.asInstanceOf[Boolean])
      case StringType => cv.setUtf8String(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      case BinaryType => cv.setBinary(v.asInstanceOf[Array[Byte]])
      case ByteType => cv.setByte(v.asInstanceOf[Byte])
      case ShortType => cv.setShort(v.asInstanceOf[Short])
      case IntegerType | DateType => cv.setInt(v.asInstanceOf[Int])
      case LongType | TimestampType => cv.setLong(v.asInstanceOf[Long])
      case FloatType => cv.setFloat(v.asInstanceOf[Float])
      case DoubleType => cv.setDouble(v.asInstanceOf[Double])
      case other => throw new IllegalStateException(
        s"graft-ocf: unsupported constant column type ${other.simpleString}")
    }
    cv
  }
  // reader fields this file WROTE decode into writable vectors; fields the
  // writer never had (post-ADD-COLUMN old files) are per-file CONSTANTS
  // from their reader defaults — the plan admitted only constant forms
  private val writable: Array[WritableColumnVector] = new Array(fields.types.length)
  private val vectors: Array[ColumnVector] =
    fields.types.zip(plan.constants).zipWithIndex.map {
      case ((dt, Some(c)), _) => constVec(dt, c)
      case ((dt, None), i) =>
        val v = new OnHeapColumnVector(capacity, dt)
        writable(i) = v
        v
    }
  private val pairing = pairGroups.length > 0
  require(!pairing || (pairTagAt >= 0 && pairTagAt < appended.length &&
      appended(pairTagAt)._1 == StringType && pairBase != null && pairAlt != null),
    "graft-ocf: columnar pairing needs a string appended slot and both tags")
  // the paired tag column: per-row writable, reset per batch
  private val pairVector: OnHeapColumnVector =
    if (pairing) new OnHeapColumnVector(capacity, StringType) else null
  private val pairBaseBytes: Array[Byte] = if (pairing) pairBase.getBytes else null
  private val pairAltBytes: Array[Byte] = if (pairing) pairAlt.getBytes else null
  // per-split constants (partition values, `_file`): set once, never reset
  private val constVectors: Array[ColumnVector] =
    appended.zipWithIndex.map { case ((dt, v), k) =>
      if (pairing && k == pairTagAt) pairVector: ColumnVector
      else constVec(dt, v)
    }
  private val posVector: OnHeapColumnVector =
    if (withPos) new OnHeapColumnVector(capacity, LongType) else null
  private val batch =
    new ColumnarBatch(vectors ++ constVectors ++
      (if (withPos) Array[ColumnVector](posVector) else Array.empty[ColumnVector]))

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    blocks.taskMetrics()

  override def next(): Boolean = {
    if (emitted >= limit) return false
    var i = 0
    while (i < writable.length) {
      if (writable(i) != null) writable(i).reset()
      i += 1
    }
    if (posVector != null) posVector.reset()
    if (pairVector != null) pairVector.reset()
    var n = 0
    var done = false
    while (n < capacity && emitted < limit && !done) {
      if (remaining == 0L) {
        if (blocks.next()) { bin = blocks.block; remaining = blocks.count }
        else done = true
      }
      if (!done && remaining > 0L) {
        val p = rawPos
        rawPos += 1L
        if (delIdx < deletedPos.length && deletedPos(delIdx) == p) {
          delIdx += 1
          skipRow() // already-dead ordinal: dropped in EVERY mode
        } else if (changesRead) {
          // X110: emit ONLY what the commit newly deleted — non-matching
          // rows type-SKIP the wire without touching the vectors, so a
          // delete part's cost is ~the skip walk plus the emitted rows
          if (emitPos != null) {
            while (emitIdx < emitPos.length && emitPos(emitIdx) < p) emitIdx += 1
            if (emitIdx < emitPos.length && emitPos(emitIdx) == p) {
              decodeRow(n)
              // a newly position-deleted ordinal whose row was ALREADY
              // equality-deleted (skipEq = pre-commit state) is a
              // re-delete of a dead row, not a change
              if (eqGroups.length == 0 || !equalityDeleted(n)) {
                if (withPos) posVector.putLong(n, p)
                tagRow(n)
                emitted += 1L
                n += 1
              }
            } else skipRow()
          } else {
            decodeRow(n)
            if ((eqGroups.length == 0 || !equalityDeleted(n)) &&
                matchesNewKeys(n)) {
              if (withPos) posVector.putLong(n, p)
              tagRow(n)
              emitted += 1L
              n += 1
            }
          }
        } else {
          decodeRow(n)
          if (eqGroups.length == 0 || !equalityDeleted(n)) {
            if (withPos) posVector.putLong(n, p)
            tagRow(n)
            emitted += 1L
            n += 1
          } // else: slot n is simply reused by the next surviving row
        }
        remaining -= 1L
      }
    }
    if (n == 0) false
    else { batch.setNumRows(n); true }
  }

  // Key probe of the just-decoded row at slot `row` — the vectors ARE the
  // decoded values. Typed extractors bound ONCE at init (ordinal = vector
  // index) read them back without a per-row InternalRow view.
  private def extractorsFor(groups: Array[OcfSplitReader.EqGroup])
      : Array[Array[Int => Any]] =
    groups.map(g => g.ordinals.zip(g.types).map { case (ord, dt) =>
      val v = vectors(ord)
      val get: Int => Any = dt match {
        case BooleanType => r => java.lang.Boolean.valueOf(v.getBoolean(r))
        case ByteType => r => java.lang.Byte.valueOf(v.getByte(r))
        case ShortType => r => java.lang.Short.valueOf(v.getShort(r))
        case IntegerType | DateType => r => java.lang.Integer.valueOf(v.getInt(r))
        case LongType | TimestampType | TimestampNTZType =>
          r => java.lang.Long.valueOf(v.getLong(r))
        case FloatType => r => java.lang.Float.valueOf(v.getFloat(r))
        case DoubleType => r => java.lang.Double.valueOf(v.getDouble(r))
        case StringType => r => v.getUTF8String(r)
        case BinaryType => r => v.getBinary(r)
        case d: DecimalType => r => v.getDecimal(r, d.precision, d.scale)
        case other => throw new IllegalStateException(
          s"graft-ocf: equality key type ${other.simpleString} has no " +
            "columnar extractor")
      }
      (r: Int) => if (v.isNullAt(r)) null else get(r)
    })

  private val eqExtractors = extractorsFor(eqGroups)
  private val emitExtractors = extractorsFor(emitEqGroups)
  private val pairExtractors = extractorsFor(pairGroups)

  // the data file opens last: everything above that can fail (the delete
  // state, constant and key-extractor binding) runs first, and the cursor
  // closes its own stream when its set-up fails — Spark only closes a
  // reader whose constructor SUCCEEDED
  private val blocks = new OcfBlocks.Cursor(meta, start, end, aligned, conf)

  /** UPDATE pairing (X104): stamp the emitted row's change tag — `pairAlt`
    * when its key tuple probes into a pairing group, `pairBase` otherwise. */
  private def tagRow(row: Int): Unit =
    if (pairing)
      pairVector.putByteArray(row,
        if (probe(pairGroups, pairExtractors, row)) pairAltBytes else pairBaseBytes)

  private def probe(groups: Array[OcfSplitReader.EqGroup],
      extractors: Array[Array[Int => Any]], row: Int): Boolean = {
    var i = 0
    while (i < groups.length) {
      val ex = extractors(i)
      val t = new Array[Any](ex.length)
      var j = 0
      while (j < ex.length) { t(j) = ex(j)(row); j += 1 }
      if (groups(i).keys.contains(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(t))) return true
      i += 1
    }
    false
  }

  private def equalityDeleted(row: Int): Boolean =
    probe(eqGroups, eqExtractors, row)

  private def matchesNewKeys(row: Int): Boolean =
    probe(emitEqGroups, emitExtractors, row)

  private def decodeRow(row: Int): Unit = plan.decode(bin, writable, row)

  /** Walk one datum forward without touching the vectors (a
    * position-deleted ordinal still occupies wire bytes). */
  private def skipRow(): Unit = plan.skip(bin)

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    blocks.close()
  }
}
