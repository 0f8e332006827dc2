package graft.sources

import graft.avro._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Vectorized (ColumnarBatch) reads for FLAT schemas (X91): when every
  * reader field is a scalar Avro shape (primitives, date/time/timestamp/
  * uuid/decimal logical types, enum, fixed; nullable unions included) and
  * every planned file's writer schema admits a positional WIRE PLAN
  * (below), the scan decodes straight into on-heap column vectors — one
  * tight loop per batch instead of a per-row compiled-reader virtual call
  * + row allocation + iterator step. Spark's `ColumnarToRow` (codegen'd)
  * consumes the batches. Partition values and the `_file` metadata column
  * are per-split CONSTANTS and ride along as [[ConstantColumnVector]]s —
  * identity/transform/bucket-partitioned tables (the normal production
  * shape) vectorize exactly like unpartitioned ones; `_pos` rides as a
  * real ordinal vector, MoR position/equality deletes apply in-lane
  * (X105), and SCHEMA EVOLUTION resolves per file (X106: aliases,
  * reader-default constants, numeric promotions). Only NESTED shapes
  * (and aggregate pushdowns, which have their own readers) fall back to
  * the row reader — Avro is row-oriented, so the columnar path is a fast
  * lane with one semantics, never a second one. */
private[graft] object OcfColumnar {

  /** One flat READER field: its name, Spark type, wire primitive, and
    * (for a nullable `[null,T]`/`[T,null]` union) which branch index is
    * null. These define the batch's vector types; the on-wire shape each
    * file actually wrote is the [[WireStep]] plan's business. `aliases`
    * (rename history) let a file written under a former name match, and
    * `defaultJson` (the reader default) lets a file written BEFORE the
    * field existed fill it as a per-file CONSTANT vector — the same
    * evolution semantics the row lane gets from Avro resolution. */
  final case class Field(name: String, dt: DataType, wire: AvroSchema,
                         nullBranch: Int, aliases: Seq[String] = Nil,
                         defaultJson: Option[String] = None,
                         // NESTED shapes (X107/X108): a struct's child
                         // Fields (which may themselves nest), or an
                         // array/map's single element/value Field
                         children: Array[Field] = null) {
    def nullable: Boolean = nullBranch >= 0
  }

  /** One step of a per-FILE wire plan, in WRITER field order: decode the
    * writer field described by (`wire`, `nullBranch`) — the WRITER's union
    * shape, which is what sits on the wire — into vector `target`, or
    * type-skip it when `target < 0` (a projected-away column). A non-null
    * `rdt` is a numeric Avro PROMOTION (int->long/float/double,
    * long->float/double, float->double): decode the writer's primitive,
    * widen into the reader-typed vector — the row lane's exact semantics. */
  final case class WireStep(wire: AvroSchema, nullBranch: Int, target: Int,
                            rdt: DataType = null,
                            // struct step (X107): the leaves' sub-steps, in
                            // WRITER child order; targets index the struct
                            // vector's children
                            children: Array[WireStep] = null,
                            // struct step, nested evolution (X106 at depth):
                            // READER children this writer never wrote fill
                            // from their reader defaults per present row (a
                            // struct child has no constant-vector form; the
                            // parent's null mask is per-row). Each entry is
                            // (child ordinal, child type, default constant)
                            // so the decoder needs no Field lookup at any
                            // nesting depth.
                            absentFills: Array[(Int, DataType, Any)] = null) {
    def nullable: Boolean = nullBranch >= 0
  }

  /** A file's full decode recipe: the writer-ordered steps plus the reader
    * ordinals this writer never wrote (post-ADD-COLUMN old files) — those
    * fill from their reader defaults as constant vectors. */
  final case class WirePlan(steps: Array[WireStep], absent: Array[Int])

  /** The CONSTANT a writer-absent reader field materializes (Catalyst
    * domain, per the field's wire logical type — the same conversions the
    * decode path applies), or None when the default's shape can't ride a
    * constant vector (falls back to the row lane). Some(null) is a genuine
    * null default. */
  def constDefault(f: Field): Option[Any] = f.defaultJson.flatMap { js =>
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
    if (node.isNull) { if (f.nullable) Some(null) else None }
    else f.wire match {
      case ABoolean => Some(java.lang.Boolean.valueOf(node.asBoolean))
      case AInt | ADate(_) | ATimeMillis(_) =>
        Some(java.lang.Integer.valueOf(node.asInt))
      case ALong | ATimeMicros(_) | ATimestampMicros(_) =>
        Some(java.lang.Long.valueOf(node.asLong))
      case ATimestampMillis(_) => Some(java.lang.Long.valueOf(node.asLong * 1000L))
      case AFloat => Some(java.lang.Float.valueOf(node.asDouble.toFloat))
      case ADouble => Some(java.lang.Double.valueOf(node.asDouble))
      case AString | AUuid(_) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(node.asText))
      case ABytes => Some(node.asText.getBytes(
        java.nio.charset.StandardCharsets.ISO_8859_1))
      case _: AEnum =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(node.asText))
      case _: AFixed => Some(node.asText.getBytes(
        java.nio.charset.StandardCharsets.ISO_8859_1))
      case _ => None
    }
  }

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
    // are one contiguous big-endian two's-complement run — BigInteger does
    // the sign extension, exactly as in the row lane
    // (avro/AvroData.scala ADecimal cases). Wider-than-38 precision can't
    // be a Spark DecimalType — leave it to the row reader's error path.
    case ADecimal(p, _, u) if p <= 38 => u.physical match {
      case ABytes | _: AFixed => true
      case _ => false
    }
    // enum decodes writer-driven (index -> symbol string) and fixed is one
    // writer-sized read — both single wire ops, exactly like the row lane
    case _: AEnum | _: AFixed => true
    case _ => false
  }

  /** The reader-facing Spark type — the SAME mapping as
    * [[graft.spark.SchemaConverters]], so the columnar and row lanes can
    * never disagree on a column's type. */
  private def sparkTypeOf(s: AvroSchema): DataType = s match {
    case ABoolean => BooleanType
    case AInt => IntegerType
    case ALong => LongType
    case AFloat => FloatType
    case ADouble => DoubleType
    case AString => StringType
    case ABytes => BinaryType
    case ADate(_) => DateType
    case ATimeMillis(_) => IntegerType
    case ATimeMicros(_) => LongType
    case ATimestampMillis(_) | ATimestampMicros(_) => TimestampType
    case AUuid(_) => StringType
    case ADecimal(p, s, _) => DecimalType(p, s)
    case _: AEnum => StringType
    case _: AFixed => BinaryType
    case other => throw new IllegalStateException(s"not flat: $other")
  }

  private def flatFieldOf(name: String, s: AvroSchema): Option[Field] = s match {
    case p if plainPrimitive(p) => Some(Field(name, sparkTypeOf(p), p, -1))
    case AUnion(Seq(ANull, p)) if plainPrimitive(p) =>
      Some(Field(name, sparkTypeOf(p), p, 0))
    case AUnion(Seq(p, ANull)) if plainPrimitive(p) =>
      Some(Field(name, sparkTypeOf(p), p, 1))
    case _ => None
  }

  /** An ARRAY element (X108): a scalar — the embedding / token-list
    * shape, every scalar appends in one wire op (decimal via an explicit
    * appendNotNull + slot put) — or a STRUCT of scalars (the span/entity
    * list shape, `array<struct<start,end,label>>`), appended via
    * `appendStruct` + per-child appends. The element may be nullable. */
  private def elemFieldOf(s: AvroSchema): Option[Field] =
    flatFieldOf("item", s).orElse(
      structFieldOf("item", s).filter(_.children.forall(_.children == null)))

  /** `array<scalar>` (X108): the single most common LLM-pipeline column
    * shape (embeddings `array<float>`, token lists `array<string>`).
    * Avro arrays are block-encoded contiguous runs — they decode as
    * offset+length into a growing child vector, Spark's native columnar
    * array representation. */
  private def arrayFieldOf(name: String, s: AvroSchema): Option[Field] = {
    def of(a: AArray, nb: Int): Option[Field] =
      elemFieldOf(a.items).map(ef =>
        Field(name, ArrayType(ef.dt, ef.nullable), a, nb,
          children = Array(ef)))
    s match {
      case a: AArray => of(a, -1)
      case AUnion(Seq(ANull, a: AArray)) => of(a, 0)
      case AUnion(Seq(a: AArray, ANull)) => of(a, 1)
      case _ => None
    }
  }

  /** `map<string,scalar>` (X108): Avro map blocks decode as parallel
    * key/value child vectors under the same offset+length — Spark's
    * columnar map representation (keys are Avro-mandated strings). */
  private def mapFieldOf(name: String, s: AvroSchema): Option[Field] = {
    def of(m: AMap, nb: Int): Option[Field] =
      elemFieldOf(m.values).map(vf =>
        Field(name, MapType(StringType, vf.dt, vf.nullable), m, nb,
          children = Array(vf)))
    s match {
      case m: AMap => of(m, -1)
      case AUnion(Seq(ANull, m: AMap)) => of(m, 0)
      case AUnion(Seq(m: AMap, ANull)) => of(m, 1)
      case _ => None
    }
  }

  /** A general UNION field (X111, the F14 struct-of-branches shape):
    * two or more non-null branches map to `member$i` struct children,
    * exactly one non-null per row — the branch byte selects it. Branches
    * may be any lane-eligible shape (scalar, struct, array, map — not
    * unions, which Avro forbids nesting). A null branch anywhere in the
    * union makes the column nullable. Field.nullBranch stays -1: the
    * branch byte is ALWAYS on the wire, read by the union decode itself,
    * never by the generic nullable prefix. */
  private def unionFieldOf(name: String, s: AvroSchema): Option[Field] = s match {
    case u: AUnion if u.nonNullBranches.length >= 2 =>
      val kids = u.nonNullBranches.zipWithIndex.map { case (b, i) =>
        fieldOfShape(s"member$i", b)
      }
      if (kids.exists(_.isEmpty)) None
      else Some(Field(name,
        StructType(kids.flatten.map(k =>
          StructField(k.name, k.dt, nullable = true))),
        u, -1, children = kids.flatten.toArray))
    case _ => None
  }

  /** Any lane-eligible shape, by name: the one dispatch every nesting
    * site uses (top-level fields, struct children, union branches). */
  private def fieldOfShape(name: String, s: AvroSchema): Option[Field] =
    flatFieldOf(name, s)
      .orElse(structFieldOf(name, s))
      .orElse(arrayFieldOf(name, s))
      .orElse(mapFieldOf(name, s))

  /** A STRUCT field (X107): children are scalars, arrays/maps of
    * scalars (X108), or structs — the resolver RECURSES, so arbitrary
    * nesting of those shapes vectorizes (unions-of-structs and
    * arrays-of-arrays keep the row lane). Child aliases (nested RENAME
    * history) and defaults (nested ADD COLUMN) propagate so old files
    * resolve at depth like they do at top level. */
  private def structFieldOf(name: String, s: AvroSchema): Option[Field] = {
    def ofRecord(r: ARecord, nullBranch: Int): Option[Field] = {
      val kids = new Array[Field](r.fields.length)
      var i = 0
      while (i < kids.length) {
        val kf = r.fields(i)
        // children may themselves be array/map-of-scalars (X108 inside
        // X107) — `meta STRUCT<..., tags ARRAY<STRING>>` — or structs
        // (recursion: arbitrary nesting of scalars/arrays/maps/structs
        // vectorizes; unions-of-structs stay on the row lane)
        fieldOfShape(kf.name, kf.schema) match {
          case Some(k) => kids(i) = k.copy(aliases = kf.aliases,
            defaultJson = kf.default.map(_.toString))
          case None => return None
        }
        i += 1
      }
      Some(Field(name,
        StructType(kids.map(k => StructField(k.name, k.dt, k.nullable))),
        r, nullBranch, children = kids))
    }
    s match {
      case r: ARecord => ofRecord(r, -1)
      case AUnion(Seq(ANull, r: ARecord)) => ofRecord(r, 0)
      case AUnion(Seq(r: ARecord, ANull)) => ofRecord(r, 1)
      case _ => None
    }
  }

  /** Field specs when `readerJson` is a flat all-primitive record. */
  def fieldsFor(readerJson: String): Option[Array[Field]] =
    scala.util.Try(AvroSchemaParser.parse(readerJson)).toOption.flatMap {
      case rec: ARecord =>
        val out = new Array[Field](rec.fields.length)
        var i = 0
        while (i < out.length) {
          val rf = rec.fields(i)
          fieldOfShape(rf.name, rf.schema)
            .orElse(unionFieldOf(rf.name, rf.schema)) match {
            case Some(f) => out(i) = f.copy(aliases = rf.aliases,
              defaultJson = rf.default.map(_.toString))
            case None => return None
          }
          i += 1
        }
        Some(out)
      case _ => None
    }

  /** The per-FILE wire plan: how this writer's record decodes into the
    * reader's vectors, as one forward positional pass. Supported shapes —
    * exactly those whose decode is a tight loop with no name resolution at
    * decode time:
    *
    *   - every reader field matches a writer field of the SAME name and
    *     SAME primitive, with the reader fields appearing as an in-order
    *     subsequence of the writer fields (Avro resolves by name; Spark's
    *     column pruning preserves relative field order, so a pruned flat
    *     projection plans as match steps with cheap type-directed skip
    *     steps for the writer-only columns);
    *   - either side may independently be plain (`T`) or nullable
    *     (`[null,T]`/`[T,null]`) EXCEPT writer-nullable under reader-plain
    *     (a null would have nowhere to go). A plain writer under a
    *     nullable reader is the CATALOG's common case — nullable table
    *     schema over non-null-written files — and decodes with NO branch
    *     byte, because the wire shape is the WRITER's;
    *   - SCHEMA EVOLUTION resolves too, so one legacy file no longer costs
    *     the whole scan the lane: a RENAMED reader field matches the
    *     writer's old name through its aliases; a reader-only field
    *     (post-ADD-COLUMN old file) fills from its reader default as a
    *     constant vector; Avro's numeric promotions (int->long/float/
    *     double, long->float/double, float->double) and the string<->bytes
    *     byte-copy widen during decode — each the row lane's exact
    *     semantics.
    *
    * Reordered projections and non-flat shapes: None → row-reader
    * fallback. */
  def wirePlanFor(writerJson: String, reader: Array[Field]): Option[WirePlan] = {
    // the key renders CHILDREN and the reader's WIRE identity too — two
    // readers differing only in nested aliases/defaults (X106-at-depth) or
    // in enum SYMBOL SETS (both map to Spark StringType, but enum-subset
    // admission depends on the symbols) must not share a cached plan
    def renderField(f: Field): String =
      f.name + ":" + f.dt.simpleString + ":" + f.wire.toString + ":" +
        f.nullBranch +
        ":" + f.aliases.mkString("~") + ":" + f.defaultJson.getOrElse("") +
        (if (f.children == null) ""
         else f.children.map(renderField).mkString("<", "|", ">"))
    val key = writerJson + "\u0001" + reader.map(renderField).mkString(",")
    wireCache.computeIfAbsent(key, _ => computeWirePlan(writerJson, reader))
  }

  private val wireCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[WirePlan]]()

  private def computeWirePlan(writerJson: String,
                              reader: Array[Field]): Option[WirePlan] =
    scala.util.Try(AvroSchemaParser.parse(writerJson)).toOption.flatMap {
      case rec: ARecord =>
        // reader lookup by CURRENT name and by rename-history aliases —
        // names bind first (two passes), so one field's alias can never
        // shadow another field's real name
        val idxByName = scala.collection.mutable.HashMap.empty[String, Int]
        reader.zipWithIndex.foreach { case (f, i) =>
          idxByName.getOrElseUpdate(f.name, i)
        }
        reader.zipWithIndex.foreach { case (f, i) =>
          f.aliases.foreach(a => idxByName.getOrElseUpdate(a, i))
        }
        val steps = new Array[WireStep](rec.fields.length)
        val absent = Array.newBuilder[Int]
        var r = 0
        // reader fields the writer never wrote fill as constant vectors —
        // possible only when the default's shape supports one
        def fillAbsentUpTo(until: Int): Boolean = {
          while (r < until) {
            // scalar constants only — an absent STRUCT has no constant
            // vector shape (nested ADDs keep the row lane)
            if (reader(r).children != null ||
                constDefault(reader(r)).isEmpty) return false
            absent += r
            r += 1
          }
          true
        }
        // the one step rule for a matched (writer, reader) pair — top-level
        // fields, struct children, array/map elements, union members:
        // scalars agree in Spark type (an enum when every writer symbol is a
        // reader symbol) or promote to the reader vector's plain Avro type; a
        // writer-nullable value needs a reader-nullable slot (the null must
        // have somewhere to go). The caller sets the step's target.
        def elemStepOf(w: Field, rk: Field): Option[WireStep] = {
          if (w.nullable && !rk.nullable) return None
          // NESTED shapes resolve recursively: struct children like any
          // struct (decoded in slot or APPEND mode as the site demands),
          // array/map through their element steps
          (w.wire, rk.wire) match {
            case (wr: ARecord, _: ARecord) =>
              if (w.children == null || rk.children == null) return None
              return structSteps(wr.fields, rk.children).map {
                case (kids, af) => WireStep(wr, w.nullBranch, 0,
                  children = kids, absentFills = af)
              }
            case (wa: AArray, _: AArray) =>
              if (w.children == null || rk.children == null) return None
              return elemStepOf(w.children(0), rk.children(0)).map(es =>
                WireStep(wa, w.nullBranch, 0, children = Array(es)))
            case (wm: AMap, _: AMap) =>
              if (w.children == null || rk.children == null) return None
              return elemStepOf(w.children(0), rk.children(0)).map(es =>
                WireStep(wm, w.nullBranch, 0, children = Array(es)))
            case _ => ()
          }
          // cross-KIND nested pairs whose Spark types coincide (a union and
          // the F14 member-struct both render as the same StructType) must
          // refuse here — the scalar tail below matches on dt alone, and a
          // children-less nested step would throw at decode instead of
          // falling back to the row lane's resolution semantics
          if (w.children != null || rk.children != null) return None
          val enumOk = (w.wire, rk.wire) match {
            case (we: AEnum, re: AEnum) => we.symbols.forall(re.symbols.contains)
            case _ => true
          }
          if (w.dt == rk.dt && enumOk)
            Some(WireStep(w.wire, w.nullBranch, 0))
          else if (AvroResolution.promotes(w.wire,
              graft.spark.SchemaConverters.toAvroType(rk.dt)))
            // a numeric promotion widens into the reader-typed vector;
            // string<->bytes is the same byte copy either way
            Some(WireStep(w.wire, w.nullBranch, 0,
              rdt = if (rk.dt == StringType || rk.dt == BinaryType) null else rk.dt))
          else None
        }
        // struct-of-scalars (X107), with X106's evolution tolerance at
        // DEPTH: children resolve by name THEN by rename-history aliases;
        // numeric promotions and string<->bytes widen during decode;
        // reader-only children (nested ADD COLUMN on an old file) fill
        // from their defaults per present row; writer-only children
        // type-skip. Reader children must still be an in-order subsequence
        // of the writer's — a reordered nested projection keeps the row
        // lane, same as at top level.
        // general UNION (X111): per-WIRE-branch steps — branch lists must
        // match positionally (same order, null at the same index, member
        // shapes compatible); the null branch marks the whole struct null
        def unionSteps(wu: AUnion, ru: AUnion, wKids: Array[Field],
            rKids: Array[Field]): Option[Array[WireStep]] = {
          if (wu.branches.length != ru.branches.length) return None
          val out = new Array[WireStep](wu.branches.length)
          var m = 0
          var bi = 0
          while (bi < out.length) {
            (wu.branches(bi), ru.branches(bi)) match {
              case (ANull, ANull) => out(bi) = WireStep(ANull, -1, -1)
              case (ANull, _) | (_, ANull) => return None
              case _ =>
                if (m >= rKids.length || m >= wKids.length) return None
                elemStepOf(wKids(m), rKids(m)) match {
                  case Some(st) => out(bi) = st.copy(target = m)
                  case None => return None
                }
                m += 1
            }
            bi += 1
          }
          if (m == rKids.length) Some(out) else None
        }
        def structSteps(wKids: Seq[AField],
            rKids: Array[Field])
            : Option[(Array[WireStep], Array[(Int, DataType, Any)])] = {
          val kidIdx = scala.collection.mutable.HashMap.empty[String, Int]
          rKids.zipWithIndex.foreach { case (f, i) =>
            kidIdx.getOrElseUpdate(f.name, i)
          }
          rKids.zipWithIndex.foreach { case (f, i) =>
            f.aliases.foreach(a => kidIdx.getOrElseUpdate(a, i))
          }
          val out = new Array[WireStep](wKids.length)
          val absentK = Array.newBuilder[(Int, DataType, Any)]
          var rc = 0
          def fillAbsentKidsUpTo(until: Int): Boolean = {
            while (rc < until) {
              constDefault(rKids(rc)) match {
                case Some(v) => absentK += ((rc, rKids(rc).dt, v))
                case None => return false
              }
              rc += 1
            }
            true
          }
          var wc = 0
          while (wc < out.length) {
            val wk = wKids(wc)
            fieldOfShape(wk.name, wk.schema) match {
              case Some(ws) =>
                kidIdx.get(ws.name) match {
                  case Some(idx) if idx >= rc =>
                    if (!fillAbsentKidsUpTo(idx)) return None
                    // flat or nested (array, map, struct-in-struct): the
                    // element rule decides
                    out(wc) = elemStepOf(ws, rKids(idx))
                      .map(_.copy(target = idx)).getOrElse(return None)
                    rc = idx + 1
                  case Some(_) => return None // reordered nested projection
                  case None => // writer-only child: type-skip (skipValue
                    // self-describes array/map children from the wire)
                    out(wc) = WireStep(ws.wire, ws.nullBranch, -1)
                }
              case None => return None
            }
            wc += 1
          }
          if (!fillAbsentKidsUpTo(rKids.length)) None
          else Some((out, absentK.result()))
        }
        var w = 0
        while (w < steps.length) {
          val wf = rec.fields(w)
          val ws = fieldOfShape(wf.name, wf.schema)
            .orElse(unionFieldOf(wf.name, wf.schema))
            .getOrElse(return None) // no lane shape: row reader
          idxByName.get(wf.name) match {
            case Some(idx) if idx >= r =>
              if (!fillAbsentUpTo(idx)) return None
              // matched (by name or alias): general unions pair branch by
              // branch, every other shape takes the element rule
              val rf = reader(idx)
              steps(w) = ((ws.wire, rf.wire) match {
                case (wu: AUnion, ru: AUnion) =>
                  unionSteps(wu, ru, ws.children, rf.children)
                    .map(kids => WireStep(wu, -1, idx, children = kids))
                case _ => elemStepOf(ws, rf).map(_.copy(target = idx))
              }).getOrElse(return None)
              r = idx + 1
            case Some(_) => return None // reordered projection: row lane
            case None => // writer-only (dropped/pruned) column: type-skip; a
              // nested one's children carry the wire shapes the skip needs
              steps(w) = WireStep(ws.wire, ws.nullBranch, -1,
                children = if (ws.children == null) null
                  else ws.children.map(k => WireStep(k.wire, k.nullBranch, -1)))
          }
          w += 1
        }
        if (!fillAbsentUpTo(reader.length)) None
        else Some(WirePlan(steps, absent.result()))
      case _ => None
    }
}

/** The vectorized split reader: the block walk of [[OcfBlocks.Cursor]] and
  * the delete state of [[OcfDeleteState]], as in [[OcfSplitReader]],
  * decoding up to `batchSize` datums per `next()` into reused on-heap
  * vectors. Vector types come from the READER fields; the decode loop runs
  * this file's WIRE PLAN, so the union-branch byte is read exactly when the
  * writer wrote one and projected-away writer columns are type-skipped.
  * `appended` carries the split's CONSTANT trailing columns — required
  * partition values under their resolved read types, then (when requested)
  * the `_file` path — as `(DataType, catalystValue)` pairs; they become
  * [[org.apache.spark.sql.execution.vectorized.ConstantColumnVector]]s, so
  * a partitioned scan decodes no more bytes than an unpartitioned one.
  * `limit` counts emitted rows, exactly like the row reader. */
private[graft] final class OcfColumnarSplitReader(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long,
    fields: Array[OcfColumnar.Field], plan: OcfColumnar.WirePlan,
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
  // a decoded row can be REJECTED (equality-deleted, or not matching the
  // commit's new keys) and its slot reused by the next candidate — putX
  // does not clear a stale null bit, so decode must putNotNull under any
  // mode that rejects decoded rows
  private val slotReuse = eqGroups.length > 0 || emitEqGroups.length > 0

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
  // from their reader defaults — the plan validated they exist
  private val writable: Array[OnHeapColumnVector] = new Array(fields.length)
  private val vectors: Array[ColumnVector] = {
    val absent = plan.absent.toSet
    fields.zipWithIndex.map { case (f, i) =>
      if (absent(i)) constVec(f.dt, OcfColumnar.constDefault(f).get)
      else {
        val v = new OnHeapColumnVector(capacity, f.dt)
        writable(i) = v
        v
      }
    }
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

  /** Walk one datum forward without touching the vectors (a
    * position-deleted ordinal still occupies wire bytes). */
  private def skipRow(): Unit = {
    val steps = plan.steps
    var j = 0
    while (j < steps.length) {
      skipField(steps(j))
      j += 1
    }
  }

  private def skipField(step: OcfColumnar.WireStep): Unit = {
    val isNull = step.nullable && bin.readLong().toInt == step.nullBranch
    if (!isNull) {
      if (step.children == null) skipValue(step.wire)
      else step.wire match {
        case _: ARecord =>
          var k = 0
          while (k < step.children.length) { skipField(step.children(k)); k += 1 }
        // arrays/maps (X108): the wire schema self-describes the skip walk
        case w => skipValue(w)
      }
    }
  }

  private def skipValue(wire: AvroSchema): Unit = wire match {
    case AInt | ALong | ADate(_) | ATimeMillis(_) | ATimeMicros(_) |
         ATimestampMillis(_) | ATimestampMicros(_) => bin.skipLong()
    case AFloat => bin.skip(4L)
    case ADouble => bin.skip(8L)
    case ABoolean => bin.skip(1L)
    case AString | ABytes | AUuid(_) => bin.skipBytes()
    case d: ADecimal => d.underlying.physical match {
      case f: AFixed => bin.skip(f.size.toLong)
      case _ => bin.skipBytes()
    }
    case f: AFixed => bin.skip(f.size.toLong)
    case _: AEnum => bin.skipLong()
    case ANull => ()
    // a union element inside a skipped array/map: branch byte, then branch
    case AUnion(branches) => skipValue(branches(bin.readLong().toInt))
    // a record inside a skipped nested shape (writer-only struct child,
    // struct element of a skipped parent): skip each field by type
    case r: ARecord =>
      var i = 0
      while (i < r.fields.length) { skipValue(r.fields(i).schema); i += 1 }
    // array/map blocks: a sized block (negative count) skips in ONE seek;
    // an unsized block walks its items by type
    case AArray(items) =>
      var c = bin.readLong()
      while (c != 0L) {
        if (c < 0L) bin.skip(bin.readLong())
        else { var i = 0L; while (i < c) { skipValue(items); i += 1 } }
        c = bin.readLong()
      }
    case AMap(values) =>
      var c = bin.readLong()
      while (c != 0L) {
        if (c < 0L) bin.skip(bin.readLong())
        else {
          var i = 0L
          while (i < c) { bin.skipBytes(); skipValue(values); i += 1 }
        }
        c = bin.readLong()
      }
    case other => throw new IllegalStateException(s"not flat: $other")
  }

  // per struct STEP, its reader struct vector's child vectors (X107)
  private val structKids
      : Array[Array[org.apache.spark.sql.execution.vectorized.WritableColumnVector]] =
    plan.steps.map { st =>
      if (st.children != null && st.target >= 0 && st.wire.isInstanceOf[ARecord]) {
        val sv = writable(st.target)
        val n = fields(st.target).children.length
        Array.tabulate(n)(sv.getChild)
      } else null
    }

  // NOTE: putConst (slot mode) and appendConst (element-append mode) are
  // the same dispatch over the constDefault-producible types and must stay
  // in lockstep — a type added to one without the other makes struct-field
  // fills work while element fills throw (or vice versa).
  private def putConst(
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      row: Int, dt: DataType, value: Any): Unit = {
    if (value == null) { v.putNull(row); return }
    if (slotReuse) v.putNotNull(row) // reused slot: clear stale bit
    dt match {
      case BooleanType => v.putBoolean(row, value.asInstanceOf[Boolean])
      case IntegerType | DateType => v.putInt(row, value.asInstanceOf[Int])
      case LongType | TimestampType => v.putLong(row, value.asInstanceOf[Long])
      case FloatType => v.putFloat(row, value.asInstanceOf[Float])
      case DoubleType => v.putDouble(row, value.asInstanceOf[Double])
      case StringType =>
        val b = value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        v.putByteArray(row, b, 0, b.length)
      case BinaryType =>
        val b = value.asInstanceOf[Array[Byte]]
        v.putByteArray(row, b, 0, b.length)
      case other => throw new IllegalStateException(
        s"graft-ocf: nested default of type ${other.simpleString} has no " +
          "columnar fill")
    }
  }

  /** Array decode (X108): Avro arrays are blocked runs — each block a
    * count (negative = sized, abs(count) items follow a byte length),
    * terminated by a 0 count. Elements APPEND into the growing child
    * vector; the row's slot records (offset, length) — Spark's native
    * columnar array shape. An equality-deleted row's appended elements are
    * simply dead space in the child (the reused slot's putArray points past
    * them), which a batch reset reclaims. */
  private def decodeArray(elem: OcfColumnar.WireStep, row: Int,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    val child = v.getChild(0)
    val start = child.getElementsAppended
    var total = 0
    var c = bin.readLong()
    while (c != 0L) {
      if (c < 0L) { bin.readLong(); c = -c } // sized block: length unused
      var i = 0L
      while (i < c) { appendElement(elem, child); i += 1 }
      total += c.toInt
      c = bin.readLong()
    }
    v.putArray(row, start, total)
  }

  /** Map decode (X108): same block walk; each item is a string key + a
    * value — parallel appends into the key/value child vectors keep them
    * aligned (a null value still appends a null slot). */
  private def decodeMap(valueStep: OcfColumnar.WireStep, row: Int,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    val keys = v.getChild(0)
    val vals = v.getChild(1)
    val start = keys.getElementsAppended
    var total = 0
    var c = bin.readLong()
    while (c != 0L) {
      if (c < 0L) { bin.readLong(); c = -c }
      var i = 0L
      while (i < c) {
        val kb = bin.readBytes()
        keys.appendByteArray(kb, 0, kb.length)
        appendElement(valueStep, vals)
        i += 1
      }
      total += c.toInt
      c = bin.readLong()
    }
    v.putArray(row, start, total)
  }

  /** A general UNION column (X111, struct-of-branches): the branch byte
    * selects the member — the taken member decodes into its child vector,
    * every other member's slot is explicitly nulled (slots are written
    * exactly once per row), and the null branch nulls the whole struct. */
  private def decodeUnion(step: OcfColumnar.WireStep, row: Int,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      nMembers: Int): Unit = {
    val b = bin.readLong().toInt
    val c = step.children(b)
    if (c.wire == ANull) v.putNull(row)
    else {
      if (slotReuse) v.putNotNull(row)
      var m = 0
      while (m < nMembers) {
        if (m != c.target) v.getChild(m).putNull(row)
        m += 1
      }
      val child = v.getChild(c.target)
      // a REUSED slot may carry a stale null from a rejected row that took
      // a different member (decodeUnion putNulls non-taken members), and
      // branch steps are NON-nullable by Avro rules — nothing downstream
      // would clear it, so clear it here
      if (slotReuse) child.putNotNull(row)
      if (c.children == null) decodeField(c, row, child)
      else decodeNestedChild(c, row, child)
    }
  }

  /** Reader-only children of a struct step (nested ADD COLUMN on an old
    * file): fill their default constants into this present row's slots. */
  private def fillAbsent(step: OcfColumnar.WireStep, row: Int,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    val fills = step.absentFills
    if (fills != null) {
      var a = 0
      while (a < fills.length) {
        val (ord, dt, value) = fills(a)
        putConst(v.getChild(ord), row, dt, value)
        a += 1
      }
    }
  }

  /** A NESTED child of a struct step — array/map (X108 inside X107) or
    * struct (recursion: arbitrary nesting of scalars/arrays/maps/structs):
    * null branch marks the child vector inside the struct, present values
    * decode into ITS child vectors. */
  private def decodeNestedChild(step: OcfColumnar.WireStep, row: Int,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    var isNull = false
    if (step.nullable) {
      val br = bin.readLong().toInt
      if (br == step.nullBranch) {
        isNull = true
        if (v != null) v.putNull(row)
      }
    }
    if (!isNull) {
      if (v == null) skipValue(step.wire)
      else {
        if (step.nullable && slotReuse) v.putNotNull(row)
        step.wire match {
          case _: AArray => decodeArray(step.children(0), row, v)
          case _: AMap => decodeMap(step.children(0), row, v)
          case _: ARecord =>
            val cs = step.children
            var k = 0
            while (k < cs.length) {
              val c = cs(k)
              val gv = if (c.target < 0) null else v.getChild(c.target)
              if (c.children == null) decodeField(c, row, gv)
              else decodeNestedChild(c, row, gv)
              k += 1
            }
            fillAbsent(step, row, v)
          case other => throw new IllegalStateException(s"not flat: $other")
        }
      }
    }
  }

  /** One array/map element: same wire shapes as a scalar field, routed
    * through the child vector's APPEND cursor (elements are dense — no
    * slot addressing, no stale-null concerns). */
  /** A STRUCT element of an array/map (X108): `appendStruct(false)`
    * advances the struct vector, then every reader child receives exactly
    * ONE append — matched children decode, writer-only children type-skip,
    * reader-only children append their default constants — so the
    * children's cursors stay element-aligned by construction. */
  private def appendStructElement(step: OcfColumnar.WireStep,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    v.appendStruct(false)
    val cs = step.children
    var k = 0
    while (k < cs.length) {
      val c = cs(k)
      if (c.target < 0) skipField(c)
      else appendElement(c, v.getChild(c.target))
      k += 1
    }
    val fills = step.absentFills
    if (fills != null) {
      var a = 0
      while (a < fills.length) {
        val (ord, dt, value) = fills(a)
        appendConst(v.getChild(ord), dt, value)
        a += 1
      }
    }
  }

  private def appendConst(
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      dt: DataType, value: Any): Unit = {
    if (value == null) { v.appendNull(); return }
    dt match {
      case BooleanType => v.appendBoolean(value.asInstanceOf[Boolean])
      case IntegerType | DateType => v.appendInt(value.asInstanceOf[Int])
      case LongType | TimestampType => v.appendLong(value.asInstanceOf[Long])
      case FloatType => v.appendFloat(value.asInstanceOf[Float])
      case DoubleType => v.appendDouble(value.asInstanceOf[Double])
      case StringType =>
        val b = value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        v.appendByteArray(b, 0, b.length)
      case BinaryType =>
        val b = value.asInstanceOf[Array[Byte]]
        v.appendByteArray(b, 0, b.length)
      case other => throw new IllegalStateException(
        s"graft-ocf: element default of type ${other.simpleString} has no " +
          "columnar append")
    }
  }

  private def appendElement(step: OcfColumnar.WireStep,
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
    if (step.nullable) {
      val br = bin.readLong().toInt
      if (br == step.nullBranch) {
        // a null STRUCT element must keep the children's append cursors
        // aligned — appendStruct(true) appends a null slot to each child
        if (step.wire.isInstanceOf[ARecord]) v.appendStruct(true)
        else v.appendNull()
        return
      }
    }
    if (step.children != null && step.wire.isInstanceOf[ARecord]) {
      appendStructElement(step, v); return
    }
    if (step.rdt != null) (step.wire, step.rdt) match {
      case (AInt | ALong, LongType) => v.appendLong(bin.readLong())
      case (AInt | ALong, FloatType) => v.appendFloat(bin.readLong().toFloat)
      case (AInt | ALong, DoubleType) => v.appendDouble(bin.readLong().toDouble)
      case (AFloat, DoubleType) => v.appendDouble(bin.readFloat().toDouble)
      case other => throw new IllegalStateException(
        s"graft-ocf: unplanned element promotion $other")
    } else step.wire match {
      case AInt | ADate(_) | ATimeMillis(_) => v.appendInt(bin.readLong().toInt)
      case ALong | ATimeMicros(_) | ATimestampMicros(_) =>
        v.appendLong(bin.readLong())
      case ATimestampMillis(_) => v.appendLong(bin.readLong() * 1000L)
      case AFloat => v.appendFloat(bin.readFloat())
      case ADouble => v.appendDouble(bin.readDouble())
      case ABoolean => v.appendBoolean(bin.readBoolean())
      case AString | ABytes | AUuid(_) =>
        val b = bin.readBytes()
        v.appendByteArray(b, 0, b.length)
      case f: AFixed =>
        val b = bin.readFixed(f.size)
        v.appendByteArray(b, 0, b.length)
      case e: AEnum =>
        val b = e.symbols(bin.readInt()).getBytes(
          java.nio.charset.StandardCharsets.UTF_8)
        v.appendByteArray(b, 0, b.length)
      case d @ ADecimal(p, s, _) =>
        // no appendDecimal form exists: reserve the slot explicitly, then
        // put at it — putDecimal routes to int/long/bytes by precision
        val b = d.underlying.physical match {
          case f: AFixed => bin.readFixed(f.size)
          case _ => bin.readBytes()
        }
        val idx = v.appendNotNull()
        v.putDecimal(idx, org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(new java.math.BigInteger(b), s)), p)
      case other => throw new IllegalStateException(s"not flat: $other")
    }
  }

  private def decodeRow(row: Int): Unit = {
    val steps = plan.steps
    var j = 0
    while (j < steps.length) {
      val step = steps(j)
      if (step.children == null) decodeField(step, row,
        if (step.target < 0) null else writable(step.target))
      else {
        // NESTED step (X107 struct / X108 array / X108 map): null branch
        // marks the parent vector; present values decode into the parent's
        // child vectors — slots of a null parent stay untouched (the
        // parent null masks them)
        var isNull = false
        if (step.nullable) {
          val br = bin.readLong().toInt
          if (br == step.nullBranch) {
            isNull = true
            if (step.target >= 0) writable(step.target).putNull(row)
          }
        }
        if (!isNull) {
          val cs = step.children
          if (step.target < 0) step.wire match {
            case _: ARecord =>
              var k = 0
              while (k < cs.length) { skipField(cs(k)); k += 1 }
            case w => skipValue(w)
          } else {
            val v = writable(step.target)
            if (step.nullable && slotReuse) v.putNotNull(row)
            step.wire match {
              case _: ARecord =>
                val kids = structKids(j)
                var k = 0
                while (k < cs.length) {
                  val c = cs(k)
                  val cv = if (c.target < 0) null else kids(c.target)
                  if (c.children == null) decodeField(c, row, cv)
                  else decodeNestedChild(c, row, cv) // array/map in struct
                  k += 1
                }
                // reader-only children: fill defaults for this present row
                fillAbsent(step, row, v)
              case _: AArray => decodeArray(cs(0), row, v)
              case _: AMap => decodeMap(cs(0), row, v)
              case _: AUnion =>
                decodeUnion(step, row, v, fields(step.target).children.length)
              case other => throw new IllegalStateException(s"not flat: $other")
            }
          }
        }
      }
      j += 1
    }
  }

  private def decodeField(step: OcfColumnar.WireStep, row: Int,
      v0: org.apache.spark.sql.execution.vectorized.WritableColumnVector): Unit = {
      var isNull = false
      if (step.nullable) {
        val br = bin.readLong().toInt
        if (br == step.nullBranch) {
          isNull = true
          if (v0 != null) v0.putNull(row)
        }
      }
      if (!isNull) {
        if (v0 == null) skipValue(step.wire)
        else {
          val v = v0
          // an equality-deleted row's slot is REUSED by the next surviving
          // row: putX does not clear a stale null bit, so clear it here
          if (step.nullable && slotReuse) v.putNotNull(row)
          if (step.rdt != null) {
            // numeric Avro PROMOTION: decode the writer primitive, widen
            // into the reader-typed vector (the row lane's conversions)
            (step.wire, step.rdt) match {
              case (AInt | ALong, LongType) => v.putLong(row, bin.readLong())
              case (AInt | ALong, FloatType) =>
                v.putFloat(row, bin.readLong().toFloat)
              case (AInt | ALong, DoubleType) =>
                v.putDouble(row, bin.readLong().toDouble)
              case (AFloat, DoubleType) =>
                v.putDouble(row, bin.readFloat().toDouble)
              case other => throw new IllegalStateException(
                s"graft-ocf: unplanned promotion $other")
            }
          } else step.wire match {
            case AInt | ADate(_) | ATimeMillis(_) =>
              v.putInt(row, bin.readLong().toInt)
            case ALong | ATimeMicros(_) | ATimestampMicros(_) =>
              v.putLong(row, bin.readLong())
            case ATimestampMillis(_) =>
              // ms -> us, the row reader's exact conversion (TimestampType)
              v.putLong(row, bin.readLong() * 1000L)
            case AFloat => v.putFloat(row, bin.readFloat())
            case ADouble => v.putDouble(row, bin.readDouble())
            case ABoolean => v.putBoolean(row, bin.readBoolean())
            case AString | ABytes | AUuid(_) =>
              val b = bin.readBytes()
              v.putByteArray(row, b, 0, b.length)
            case d @ ADecimal(p, s, _) =>
              // big-endian two's complement (BigInteger sign-extends), scale
              // from the schema — the row lane's exact construction
              val b = d.underlying.physical match {
                case f: AFixed => bin.readFixed(f.size)
                case _ => bin.readBytes()
              }
              v.putDecimal(row, org.apache.spark.sql.types.Decimal(
                new java.math.BigDecimal(new java.math.BigInteger(b), s)), p)
            case f: AFixed =>
              val b = bin.readFixed(f.size)
              v.putByteArray(row, b, 0, b.length)
            case e: AEnum =>
              // writer-driven: index -> the WRITER's symbol, the row lane's
              // exact decode (the plan admitted only subset-safe enums)
              val b = e.symbols(bin.readInt()).getBytes(
                java.nio.charset.StandardCharsets.UTF_8)
              v.putByteArray(row, b, 0, b.length)
            case other => throw new IllegalStateException(s"not flat: $other")
          }
        }
      }
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    blocks.close()
  }
}
