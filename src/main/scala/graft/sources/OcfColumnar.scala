package graft.sources

import graft.avro._
import graft.avro.Resolved._
import graft.spark.{AvroRuntime, CatalystAvroReader}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector,
  OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** How a graft-ocf split decodes: straight into on-heap column vectors,
  * one loop per batch, with no per-row reader call, row allocation or
  * iterator step. Spark's `ColumnarToRow` (codegen'd) consumes the
  * batches. Every graft-ocf scan, stream and change-feed read decodes this
  * way. Partition values, `_file` and the top-level fields a file never
  * wrote are per-split CONSTANTS and ride as constant vectors, `_pos`
  * rides as a real ordinal vector, and MoR
  * position/equality deletes apply in-lane (X105).
  *
  * The wire plan is an emitter over [[AvroResolver]]'s plan, beside
  * [[CatalystAvroReader]] and [[AvroJsonTranscoder]]: field matching,
  * aliases, promotions, enum symbols, defaults, skips and which writer
  * union branches fail are the resolver's, so every surface reads one
  * semantics. A pair the resolver refuses fails the scan's plan with the
  * resolver's message; every plan it compiles, a Spark vector holds (a
  * recursive record has no Spark type and fails the schema first). */
private[graft] object OcfColumnar {

  /** The per-FILE decoder of `writerJson` into `readerJson`'s vectors,
    * compiled once per (writer, reader) pair per JVM; a pair the resolver
    * refuses throws its [[AvroResolutionException]]. */
  def wirePlanFor(writerJson: String, readerJson: String): WirePlan =
    planCache.computeIfAbsent(writerJson + "\u0001" + readerJson, _ => {
      val (readerType, wrap) = OcfDataSource.sqlShape(readerJson)
      val writer = AvroRuntime.parse(writerJson)
      new WirePlan(AvroResolver.resolve(writer, AvroRuntime.parse(readerJson)),
        writer, readerType, wrap)
    })

  private val planCache = new java.util.concurrent.ConcurrentHashMap[String, WirePlan]()

  /** Compile the plan of every writer in `writerJsons` on the driver, so a
    * (writer, reader) pair the resolver refuses fails the query's plan (or
    * the trigger's) with the resolver's message, not a task. */
  def compilePlans(writerJsons: Iterator[String], readerJson: String): Unit =
    writerJsons.distinct.foreach(wirePlanFor(_, readerJson))

  /** A per-split constant column of `dt` holding Catalyst value `x`: a
    * partition value, `_file`, or a reader field the file never wrote. */
  def constantVector(capacity: Int, dt: DataType, x: Any): ConstantColumnVector = {
    val cv = new ConstantColumnVector(capacity, dt)
    if (x == null) cv.setNull()
    else dt match {
      case st: StructType =>
        val r = x.asInstanceOf[InternalRow]
        var k = 0
        while (k < st.length) {
          cv.setChild(k, constantVector(capacity, st(k).dataType, r.get(k, st(k).dataType)))
          k += 1
        }
      case _: ArrayType | _: MapType =>
        // the value decodes once into a one-row vector the constant views
        val one = new OnHeapColumnVector(1, dt)
        write(one, 0, x)
        if (dt.isInstanceOf[ArrayType]) cv.setArray(one.getArray(0)) else cv.setMap(one.getMap(0))
      case _ => ColumnVectorUtils.populate(cv, new GenericInternalRow(Array[Any](x)), 0)
    }
    cv
  }

  /** The factory of every graft-ocf split reader: each split decodes into
    * column batches, so Spark never asks for a row reader. */
  trait ColumnarReaderFactory extends PartitionReaderFactory {
    override def supportColumnarReads(partition: InputPartition): Boolean = true
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      throw new UnsupportedOperationException("graft-ocf splits decode into column batches")
  }

  // ---- the emitter: one compiled Put per plan node --------------------------

  /** One compiled plan node: decodes a value at `in` into row `row` of `v`
    * (top-level fields, struct children, union members, and array items and
    * map values at the slot [[slot]] appended). A skipped value gets a null
    * `v`. */
  private abstract class Put {
    def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit
  }

  private object NullPut extends Put {
    def put(in: AvroBinaryReader, v: WritableColumnVector, row: Int): Unit = v.putNull(row)
  }

  /** Append one element slot to `v`, and one to every child of a struct at
    * any depth, so a struct's children stay element-aligned with it. A
    * vector of Avro `null`s holds no null bits and takes a null slot. */
  private def slot(v: WritableColumnVector): Int = {
    val row = if (v.isAllNull) v.appendNull() else v.appendNotNull()
    v.dataType match {
      case st: StructType =>
        var k = 0
        while (k < st.length) { slot(v.getChild(k)); k += 1 }
      case _ =>
    }
    row
  }

  /** A non-null branch of a nullable union clears the row's null bit first:
    * a reader that rejects a decoded row (an equality delete) reuses its
    * slot, and a put does not clear a null an earlier row left there. */
  private def notNull(inner: Put): Put = (in, v, row) => {
    v.putNotNull(row)
    inner.put(in, v, row)
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
      val branches = plans.map {
        case p @ (_: Fail) => emit(p)
        case p => if (nullable && !isNull(p)) notNull(emit(p)) else emit(p)
      }.toArray
      val n = branches.length
      (in, v, row) => branches(branchIndex(in, n)).put(in, v, row)
    case ReaderUnion(ru, i, value) =>
      val inner = emit(value)
      val width = ru.nonNullBranches.length
      if (width <= 1 || ru.branches(i) == ANull) inner
      else {
        // a general union (X111) is a struct of one child per non-null
        // member: the member decodes into its child, every other member's
        // slot is nulled, and the taken one cleared (a reused slot may hold
        // a rejected row's null)
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
      bytesPut(e.decoder(e.symbols.map(s =>
        if (s == null) null else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray))
    case ArrayOf(items) =>
      // Avro arrays are blocked runs (a negative count prefixes a byte
      // size), ended by a zero count; items append to the child vector and
      // the row records (offset, length), Spark's columnar array shape. A
      // rejected row's items are dead space the batch reset reclaims.
      val item = emit(items)
      (in, v, row) => {
        val child = v.getChild(0)
        val start = child.getElementsAppended
        var count = in.readLong()
        while (count != 0) {
          if (count < 0) { count = -count; in.skipLong() }
          var i = 0L
          while (i < count) { item.put(in, child, slot(child)); i += 1 }
          count = in.readLong()
        }
        v.putArray(row, start, child.getElementsAppended - start)
      }
    case MapOf(values) =>
      // the same block walk; keys and values append in step
      val value = emit(values)
      (in, v, row) => {
        val keys = v.getChild(0)
        val vals = v.getChild(1)
        val start = keys.getElementsAppended
        var count = in.readLong()
        while (count != 0) {
          if (count < 0) { count = -count; in.skipLong() }
          var i = 0L
          while (i < count) {
            val k = in.readStringBytes()
            keys.appendByteArray(k, 0, k.length)
            value.put(in, vals, slot(vals))
            i += 1
          }
          count = in.readLong()
        }
        v.putArray(row, start, keys.getElementsAppended - start)
      }
    case rec: Record => structPut(rec)
  }

  /** A struct: each writer field decodes into its reader child (or skips),
    * then, when `fill`, the reader-only children take their defaults (the
    * top-level record leaves them to constant vectors). */
  private def structPut(rec: Record, fill: Boolean = true): Put = {
    val fields = rec.fields.map(emit)
    val slots = rec.slots
    val fills =
      if (fill) rec.defaults.indices.filter(rec.defaults(_).isDefined).toArray else Array.empty[Int]
    val fillValues = fills.map(defaultOf(rec, _))
    (in, v, row) => {
      var i = 0
      while (i < fields.length) {
        val s = slots(i)
        fields(i).put(in, if (s < 0) null else v.getChild(s), row)
        i += 1
      }
      i = 0
      while (i < fills.length) { write(v.getChild(fills(i)), row, fillValues(i)); i += 1 }
    }
  }

  /** Reader field `j`'s default as a Catalyst value. */
  private def defaultOf(rec: Record, j: Int): Any =
    CatalystAvroReader.toCatalyst(rec.defaults(j).get, rec.reader.fields(j).schema)

  /** Write Catalyst value `x` (a default) into row `row` of `v`. */
  private def write(v: WritableColumnVector, row: Int, x: Any): Unit =
    if (x == null) v.putNull(row)
    else v.dataType match {
      case BooleanType => v.putBoolean(row, x.asInstanceOf[Boolean])
      case IntegerType | DateType => v.putInt(row, x.asInstanceOf[Int])
      case LongType | TimestampType => v.putLong(row, x.asInstanceOf[Long])
      case FloatType => v.putFloat(row, x.asInstanceOf[Float])
      case DoubleType => v.putDouble(row, x.asInstanceOf[Double])
      case d: DecimalType => v.putDecimal(row, x.asInstanceOf[Decimal], d.precision)
      case StringType =>
        val b = x.asInstanceOf[UTF8String].getBytes
        v.putByteArray(row, b, 0, b.length)
      case BinaryType =>
        val b = x.asInstanceOf[Array[Byte]]
        v.putByteArray(row, b, 0, b.length)
      case st: StructType =>
        val r = x.asInstanceOf[InternalRow]
        var k = 0
        while (k < st.length) { write(v.getChild(k), row, r.get(k, st(k).dataType)); k += 1 }
      case ArrayType(et, _) =>
        val a = x.asInstanceOf[ArrayData]
        val child = v.getChild(0)
        val start = child.getElementsAppended
        var i = 0
        while (i < a.numElements()) { write(child, slot(child), a.get(i, et)); i += 1 }
        v.putArray(row, start, a.numElements())
      case MapType(kt, vt, _) =>
        val m = x.asInstanceOf[MapData]
        val start = v.getChild(0).getElementsAppended
        var i = 0
        while (i < m.numElements()) {
          write(v.getChild(0), slot(v.getChild(0)), m.keyArray().get(i, kt))
          write(v.getChild(1), slot(v.getChild(1)), m.valueArray().get(i, vt))
          i += 1
        }
        v.putArray(row, start, m.numElements())
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

  /** A file's decoder into a struct vector of the reader's type
    * (`readerType`; a bare non-record reader is `wrap`ped as its one
    * `value` field). */
  final class WirePlan private[OcfColumnar] (plan: Resolved, writer: AvroSchema,
      val readerType: StructType, wrap: Boolean) {
    private val top = plan match {
      case rec: Record => structPut(rec, fill = false)
      case p => emit(p)
    }
    private val skipDatum = AvroSkipper.compile(writer)

    /** Per reader column: Some(default) for a top-level field this writer
      * never wrote (the post-ADD-COLUMN old file), which the split reader
      * holds as a constant vector instead of filling it per row. */
    val constants: Array[Option[Any]] = plan match {
      case rec: Record => rec.defaults.indices.map(j => rec.defaults(j).map(_ => defaultOf(rec, j))).toArray
      case _ => Array.fill(readerType.length)(None)
    }

    /** Decode the datum at `in` into row `row` of `root`'s children. */
    def decode(in: AvroBinaryReader, root: WritableColumnVector, row: Int): Unit =
      top.put(in, if (wrap) root.getChild(0) else root, row)

    /** Walk past the datum at `in` (a position-deleted row still occupies
      * wire bytes). */
    def skip(in: AvroBinaryReader): Unit = skipDatum(in)
  }
}

/** The split reader: the block walk of [[OcfBlocks.Cursor]] and the delete
  * state of [[OcfDeleteState]], decoding up to `batchSize` datums per
  * `next()` into reused on-heap vectors. Vector types come from the READER
  * schema `readerJson`; the decode loop runs this file's
  * [[OcfColumnar.WirePlan]], so the union-branch byte is read exactly when
  * the writer wrote one and projected-away writer columns are type-skipped.
  * `appended` carries the split's CONSTANT trailing columns — required
  * partition values under their resolved read types, then (when requested)
  * the `_file` path — as `(DataType, catalystValue)` pairs; they become
  * [[ConstantColumnVector]]s, so a partitioned scan decodes no more bytes
  * than an unpartitioned one. `limit` counts emitted rows. */
private[graft] final class OcfColumnarSplitReader(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long,
    readerJson: String, conf: Configuration,
    limit: Long = Long.MaxValue, aligned: Boolean = false,
    appended: Array[(DataType, Any)] = Array.empty,
    batchSize: Int = 4096,
    // MoR deletes (X105): position-delete ordinals SKIP-decode (the wire
    // walks forward without touching the vectors), equality-deleted rows
    // decode into slot n and the slot is simply not advanced — the next
    // surviving row overwrites it. `readerJson` binds the equality keys'
    // vector ordinals.
    deleteFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    eqDeleteFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    // `_pos` emission (the row-ordinal metadata column): a REAL LongType
    // vector — the one appended column that is per-row, not per-split
    withPos: Boolean = false,
    // CHANGES read (X95/X110): invert the filter — emit ONLY the rows a
    // commit deleted. `emitPosFiles`: ordinals in these position-delete
    // files but not in `deleteFiles` (the older set — re-deletes of dead
    // rows are not changes; non-matching rows type-SKIP, never touch
    // vectors); `emitEqFiles`: rows surviving the skip state whose key
    // matches the commit's new equality deletes. At most one mode per
    // reader.
    emitPosFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    emitEqFiles: Seq[OcfDataSource.OcfFileMeta] = Nil,
    // UPDATE pairing (X104): when `pairGroups` is non-empty, the appended
    // column at `pairTagAt` (index into `appended`) is a WRITABLE string
    // vector instead of a per-split constant — each emitted row gets
    // `pairAlt` when its key tuple probes into a group (the same
    // bound-extractor probe the equality modes run) and `pairBase`
    // otherwise.
    pairGroups: Array[OcfColumnarSplitReader.EqGroup] = Array.empty,
    pairTagAt: Int = -1,
    pairBase: UTF8String = null,
    pairAlt: UTF8String = null)
    extends PartitionReader[ColumnarBatch] {

  require(emitPosFiles.isEmpty || emitEqFiles.isEmpty,
    "graft-ocf: one changes-read mode per reader")
  // position ordinals count raw datums from block 0 — the planner plans
  // burdened files as one whole-file split (OcfScan)
  require((deleteFiles.isEmpty && !withPos && emitPosFiles.isEmpty) ||
      (start == 0L && !aligned),
    s"graft-ocf: positional read of ${meta.path} must scan the whole file " +
      s"(got split [$start, $end), aligned=$aligned)")

  private val plan = OcfColumnar.wirePlanFor(meta.writerSchemaJson, readerJson)
  private val deletes = OcfDeleteState.load(deleteFiles, eqDeleteFiles,
    emitPosFiles, emitEqFiles, readerJson, conf)
  private val deletedPos = deletes.deletedPos
  private var delIdx = 0
  private var rawPos = 0L
  private val eqGroups = deletes.eqGroups
  // changes-read state (X110): the NEWLY-deleted ordinals (new minus old)
  // or the commit's new key groups
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
  // allocation is the reader's only fixed cost, and small-file
  // scans (the post-upsert, pre-compaction shape) create MANY readers
  private val capacity: Int = meta.rowsStamp match {
    case Some(rows) if rows > 0 =>
      val bytes = (if (end < 0L) meta.len else math.min(end, meta.len)) - start
      val frac = math.min(1.0, bytes.toDouble / math.max(1L, meta.len).toDouble)
      // 1.25 slack: block boundaries don't align with byte fractions
      math.max(16, math.min(batchSize, (rows * frac * 1.25).toInt + 1))
    case _ => batchSize
  }

  // the reader's fields decode into the children of one struct vector;
  // fields the writer never had (post-ADD-COLUMN old files) are per-file
  // constants from their reader defaults
  private val root = new OnHeapColumnVector(capacity, plan.readerType)
  private val vectors: Array[ColumnVector] =
    Array.tabulate(plan.readerType.length)(i => plan.constants(i) match {
      case Some(c) => OcfColumnar.constantVector(capacity, plan.readerType(i).dataType, c)
      case None => root.getChild(i)
    })
  private val pairing = pairGroups.length > 0
  require(!pairing || (pairTagAt >= 0 && pairTagAt < appended.length &&
      appended(pairTagAt)._1 == StringType && pairBase != null && pairAlt != null),
    "graft-ocf: pairing needs a string appended slot and both tags")
  // the paired tag column: per-row writable, reset per batch
  private val pairVector: OnHeapColumnVector =
    if (pairing) new OnHeapColumnVector(capacity, StringType) else null
  private val pairBaseBytes: Array[Byte] = if (pairing) pairBase.getBytes else null
  private val pairAltBytes: Array[Byte] = if (pairing) pairAlt.getBytes else null
  // per-split constants (partition values, `_file`): set once, never reset
  private val constVectors: Array[ColumnVector] =
    appended.zipWithIndex.map { case ((dt, v), k) =>
      if (pairing && k == pairTagAt) pairVector: ColumnVector
      else OcfColumnar.constantVector(capacity, dt, v)
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
    root.reset()
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
  private def extractorsFor(groups: Array[OcfColumnarSplitReader.EqGroup])
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

  private def probe(groups: Array[OcfColumnarSplitReader.EqGroup],
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

  private def decodeRow(row: Int): Unit = plan.decode(bin, root, row)

  /** Walk one datum forward without touching the vectors (a
    * position-deleted ordinal still occupies wire bytes). */
  private def skipRow(): Unit = plan.skip(bin)

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    blocks.close()
  }
}

private[graft] object OcfColumnarSplitReader {
  /** One partition value as its Catalyst representation under the column's
    * READ TYPE (Int for int/date columns, UTF8String for strings, null for
    * the hive null dir) — the SINGLE materialization point
    * ([[OcfPartitions.castPartValue]]), shared by the per-split appended
    * constants, the keyed-split partition keys, and the grouped-aggregate
    * group values so they can never diverge.
    *
    * Bounds guard: a streaming discovery log persisted BEFORE partition
    * support has entries with empty value arrays — degrade to null
    * partition values on replay rather than crash the restarted query. */
  def partitionValue(meta: OcfDataSource.OcfFileMeta, i: Int, dt: DataType): Any =
    if (i >= meta.partitionValues.length || meta.partitionValues(i) == null) null
    else OcfPartitions.castPartValue(meta.partitionValues(i), dt)

  /** The per-split CONSTANTS appended after the data columns, in readSchema
    * order, each with its type: required partition values (`partTypes`
    * aligns with `partIdx`), then, when asked, the `_file` metadata value —
    * the file's path. */
  def appendedValues(meta: OcfDataSource.OcfFileMeta, partIdx: Array[Int],
                     partTypes: Seq[DataType],
                     withFilePath: Boolean = false): Array[(DataType, Any)] =
    (partIdx.indices.map(k => partTypes(k) -> partitionValue(meta, partIdx(k), partTypes(k))) ++
      (if (withFilePath) Seq(StringType -> UTF8String.fromString(meta.path)) else Nil)).toArray

  /** One equality-delete key group (X94): delete files sharing a key-column
    * set load into one hash set of key tuples, which decoded rows probe.
    * Tuples are `immutable.ArraySeq`s of Catalyst values
    * (UTF8String/Long/...), which hash/compare element-wise. */
  final class EqGroup(val ordinals: Array[Int],
                      val types: Array[DataType],
                      val keys: java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]) {
    /** The key tuple of a decoded row, in this group's column order. */
    def tuple(row: InternalRow): scala.collection.immutable.ArraySeq[Any] =
      EqGroup.tuple(row, ordinals, types)
  }

  object EqGroup {
    /** The tuple of `row`'s values at `ordinals` under `types`: the one
      * builder of key tuples, for key files and probed rows alike. */
    def tuple(row: InternalRow, ordinals: Array[Int], types: Array[DataType])
        : scala.collection.immutable.ArraySeq[Any] = {
      val t = new Array[Any](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        t(i) = if (row.isNullAt(ordinals(i))) null else row.get(ordinals(i), types(i))
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(t)
    }
  }
}
