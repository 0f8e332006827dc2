package graft.avro

import scala.collection.mutable

import AvroResolution.{deref, matches, promotes}

/** One step of a resolved (writer, reader) plan. [[AvroResolver.resolve]]
  * builds the tree once per schema pair; emitters turn it into closures
  * ([[graft.spark.CatalystAvroReader]] for Catalyst values,
  * [[AvroJsonTranscoder]] for JSON text), so the resolution rules — union
  * branch choice, promotions, which logical type converts a scalar, field
  * matching, defaults, enum symbols and recursion — are decided here and
  * nowhere else; an emitter only maps each node to its own output type.
  * Apache Avro's Java `Resolver` (1.9+) plans resolution the same way. */
sealed trait Resolved

object Resolved {
  /** A scalar read as `wire` (the writer's physical type), delivered as
    * `target` (`wire`, or the reader's physical type it promotes to), then
    * converted by `logical` (the writer's logical type, else the reader's
    * where it applies to `target`, else null); `reader` types the output. */
  final case class Scalar(wire: AvroSchema, target: AvroSchema, logical: LogicalSchema,
      reader: AvroSchema) extends Resolved

  /** A writer value no reader field takes: skipped, never materialized. */
  final case class Skip(writer: AvroSchema) extends Resolved

  /** A writer union branch the reader cannot read: decoding one fails. */
  final case class Fail(writer: AvroSchema, reader: AvroSchema) extends Resolved {
    def message: String = s"writer union branch ${writer.typeName} not readable as ${reader.typeName}"
    def raise(): Nothing = throw new AvroResolutionException(message)
  }

  /** A writer union: the wire's branch index picks one plan per branch. */
  final case class WriterUnion(branches: IndexedSeq[Resolved]) extends Resolved

  /** The writer union branch index at `in`, checked against its `n` branches. */
  def branchIndex(in: AvroBinaryReader, n: Int): Int = {
    val idx = in.readLong().toInt
    if (idx < 0 || idx >= n)
      throw new AvroResolutionException(s"union branch index $idx out of range")
    idx
  }

  /** A non-union writer value read into branch `index` of a reader union:
    * the first branch the writer type matches. */
  final case class ReaderUnion(reader: AUnion, index: Int, value: Resolved) extends Resolved

  /** A writer enum: per writer index, the symbol the reader gets (under a
    * reader enum, null where it has neither the symbol nor a default). */
  final case class EnumRemap(writer: AEnum, reader: AvroSchema, symbols: IndexedSeq[String])
      extends Resolved {
    /** Reads a checked symbol index as `images(i)`, an emitter's image of
      * `symbols(i)` (null exactly where that symbol is). */
    def decoder[T <: AnyRef](images: Array[T]): AvroBinaryReader => T = {
      val name = writer.fullName
      val missing = symbols.indices.map(i => if (symbols(i) != null) null else
        s"enum symbol ${writer.symbols(i)} not in reader enum " +
          s"${reader.asInstanceOf[AEnum].fullName} and no default").toArray
      in => {
        val i = in.readInt()
        if (i < 0 || i >= images.length)
          throw new AvroResolutionException(s"enum index $i out of range for $name")
        val image = images(i)
        if (image == null) throw new AvroResolutionException(missing(i))
        image
      }
    }
  }

  final case class ArrayOf(items: Resolved) extends Resolved
  final case class MapOf(values: Resolved) extends Resolved

  /** A record read in writer field order: per writer field its reader
    * slot (-1: skipped) and plan; per reader field the default
    * ([[AvroDefaults]]) it takes when no writer field fills it. One node
    * exists per record pair, so a recursive schema closes a cycle that
    * emitters memoize on; the resolver fills the arrays before returning. */
  final class Record private[avro] (val reader: ARecord) extends Resolved {
    private[graft] var slots: Array[Int] = _
    private[graft] var fields: Array[Resolved] = _
    private[graft] var defaults: Array[Option[Any]] = _
  }
}

/** Writer→reader Avro resolution (reference: python-udf/avro/io.py:637-1100,
  * the `DatumReader` rules): compiles a schema pair into a [[Resolved]] plan.
  * A pair that cannot resolve fails here, at compile time; a writer union
  * branch the reader cannot take fails only when a datum uses it. */
object AvroResolver {
  import Resolved._

  def resolve(writer: AvroSchema, reader: AvroSchema): Resolved =
    new Resolving().resolve(writer, reader)

  private final class Resolving {
    private val records = mutable.HashMap.empty[(String, String), Record]

    def resolve(w0: AvroSchema, r0: AvroSchema): Resolved = (deref(w0), deref(r0)) match {
      case (wu: AUnion, r) =>
        WriterUnion(wu.branches.map { b =>
          if (matches(b, r)) resolve(b, r)
          else Fail(b, r)
        }.toIndexedSeq)
      case (w, ru: AUnion) =>
        val i = ru.branches.indexWhere(matches(w, _)) match {
          // a nullable-T reader holds a T: a writer no branch matches
          // resolves against T as it would against a plain T reader
          case -1 if ru.nonNullBranches.length == 1 => ru.branches.indexWhere(_ != ANull)
          case i => i
        }
        if (i < 0) throw new AvroResolutionException(
          s"writer ${w.typeName} matches no reader union branch")
        ReaderUnion(ru, i, resolve(w, ru.branches(i)))
      case (we: AEnum, r) =>
        // a symbol is text: only a string-like or bytes-like reader holds it
        if (slot(r) != "bytes") throw unresolvable(we, r)
        // (reference: io.py:834-862 — a symbol the reader lacks takes the
        // reader's default, else it is a resolution error)
        EnumRemap(we, r, r match {
          case re: AEnum => we.symbols.map { s =>
            if (re.symbols.contains(s)) s else re.enumDefault.orNull
          }.toIndexedSeq
          case _ => we.symbols.toIndexedSeq
        })
      case (AArray(wi), AArray(ri)) => ArrayOf(resolve(wi, ri))
      case (AMap(wv), AMap(rv)) => MapOf(resolve(wv, rv))
      case (wr: ARecord, rr: ARecord) => record(wr, rr)
      case (w, r) => scalar(w, r)
    }

    /** Same physical type or an Avro promotion, else a pair the generic
      * reader decodes by the writer: a writer logical type, or a string,
      * bytes or fixed writer under any reader. An int under
      * `timestamp-millis` widens to long, then scales. Whichever rule
      * resolves it, the value must fit the reader's slot ([[slot]]); a pair
      * whose value would land in a slot of another type — a string under an
      * int, a decimal under plain bytes, time-micros under time-millis, a
      * null under a non-null reader — fails here, as the reference's
      * `read_data` fails a pair it cannot match. */
    private def scalar(w: AvroSchema, r: AvroSchema): Scalar = {
      val wire = deref(w.physical)
      val rp = deref(r.physical)
      val readerLogical = r match {
        case l: LogicalSchema => l
        case _ => null
      }
      val s = (w, wire) match {
        case (l: LogicalSchema, _) => Scalar(wire, wire, l, r)
        case _ if wire.typeName == rp.typeName => Scalar(wire, wire, readerLogical, r)
        case _ if promotes(wire, rp) => Scalar(wire, rp, readerLogical, r)
        case (_, ABytes | _: AFixed) => Scalar(wire, wire, readerLogical match {
          case d: ADecimal => d // a decimal reads a bytes or fixed value alike
          case _ => null
        }, r)
        case (_, AString) => Scalar(wire, wire, null, r)
        case _ => throw unresolvable(w, r)
      }
      val value = s.logical match {
        case _: ADecimal => "decimal"
        case _: ATimestampMillis => "long" // scaled to micros
        case _ => slot(s.target)
      }
      if (value != slot(r)) throw unresolvable(w, r)
      s
    }

    private def unresolvable(w: AvroSchema, r: AvroSchema) = new AvroResolutionException(
      s"cannot resolve writer ${w.typeName} against reader ${r.typeName}")

    /** The kind of value a reader of `r` holds: `int` for int, date and
      * time-millis; `long` for long, time-micros and the timestamps;
      * `bytes` for string, enum, uuid, bytes and fixed (a text or binary
      * value takes whichever form the reader holds); `decimal`; else the
      * type's name (null, boolean, float, double, or a complex type, which
      * holds no scalar). */
    private def slot(r: AvroSchema): String = deref(r) match {
      case _: ADecimal => "decimal"
      case AInt | _: ADate | _: ATimeMillis => "int"
      case ALong | _: ATimeMicros | _: ATimestampMillis | _: ATimestampMicros => "long"
      case AString | ABytes | _: AFixed | _: AEnum | _: AUuid => "bytes"
      case other => other.typeName
    }

    /** Match writer fields to reader fields by name and reader alias, skip
      * writer-only fields, and default reader-only ones.
      * (reference: io.py:990-1039) */
    private def record(wr: ARecord, rr: ARecord): Record =
      records.getOrElse((wr.fullName, rr.fullName), {
        val rec = new Record(rr)
        records((wr.fullName, rr.fullName)) = rec
        val slots = AvroNames.assignReaderSlots(wr, rr)
        rec.slots = slots
        rec.fields = wr.fields.indices.map { i =>
          if (slots(i) < 0) Skip(wr.fields(i).schema)
          else resolve(wr.fields(i).schema, rr.fields(slots(i)).schema)
        }.toArray
        val written = slots.filter(_ >= 0).toSet
        rec.defaults = rr.fields.indices.map { i =>
          val rf = rr.fields(i)
          if (written.contains(i)) None
          else rf.default match {
            case Some(d) => Some(AvroDefaults.materialize(d, rf.schema))
            case None => throw new AvroResolutionException(
              s"reader field ${rf.name} of ${rr.fullName} absent from writer and has no default")
          }
        }.toArray
        rec
      })
  }
}
