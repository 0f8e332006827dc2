package graft.avro

import scala.collection.mutable

/** Reader/writer schema compatibility checker ("can a reader with schema R
  * read data written with schema W?") with typed incompatibility results and
  * memoized recursion so recursive schemas terminate.
  *
  * Semantics mirror the reference checker
  * (reference: python-udf/avro/compatibility.py:57-395): six typed
  * incompatibility kinds, JSON-pointer-ish locations, full-result
  * accumulation (every incompatibility is reported, not just the first),
  * numeric/string promotions on the reader side, enum-default forgiveness
  * for removed symbols, and union branch-by-branch checking.
  *
  * One deliberate divergence: memoized results store locations RELATIVE to
  * the (reader, writer) pair and are rebased at every use site, so a
  * mismatch that occurs at two different paths reports both paths. (The
  * reference memoizes absolute locations, which is only sound because its
  * schema objects are unique per occurrence; our primitive schemas are
  * singletons. Union branch checks also keep their true absolute path here
  * instead of resetting to the root.)
  */
object Compatibility {

  sealed abstract class Kind(val name: String) { override def toString: String = name }
  case object NameMismatch                  extends Kind("name_mismatch")
  case object FixedSizeMismatch             extends Kind("fixed_size_mismatch")
  case object MissingEnumSymbols            extends Kind("missing_enum_symbols")
  case object ReaderFieldMissingDefaultValue extends Kind("reader_field_missing_default_value")
  case object TypeMismatch                  extends Kind("type_mismatch")
  case object MissingUnionBranch            extends Kind("missing_union_branch")

  final case class Incompatibility(kind: Kind, message: String, location: String)

  final case class Result(incompatibilities: Seq[Incompatibility]) {
    def isCompatible: Boolean = incompatibilities.isEmpty
    def ++(that: Result): Result = Result(incompatibilities ++ that.incompatibilities)
  }
  val Compatible: Result = Result(Nil)

  /** One-shot check. For many checks over a schema registry, instantiate a
    * [[Checker]] and reuse it — the memo table then also caches across
    * pairs (the reference's ReaderWriterCompatibilityChecker pattern,
    * compatibility.py:140-164). */
  def check(reader: AvroSchema, writer: AvroSchema): Result =
    new Checker().check(reader, writer)

  def canRead(writer: AvroSchema, reader: AvroSchema): Boolean =
    check(reader, writer).isCompatible

  /** Identity key for memoization (schemas may be singletons or shared). */
  private final class IdKey(val s: AvroSchema) {
    override def hashCode: Int = System.identityHashCode(s)
    override def equals(o: Any): Boolean = o match {
      case k: IdKey => k.s eq s
      case _ => false
    }
  }

  /** An incompatibility located relative to its (reader, writer) pair. */
  private final case class RelInc(kind: Kind, message: String, loc: List[String])

  final class Checker {
    /** Memo keyed by (reader, writer) object identity; an in-progress entry
      * marks a recursion cycle and reads as compatible (the cycle's result
      * is determined by the rest of the traversal). Values carry
      * pair-RELATIVE locations; callers rebase. */
    private val memo = mutable.HashMap.empty[(IdKey, IdKey), Option[List[RelInc]]]

    def check(reader: AvroSchema, writer: AvroSchema): Result =
      Result(pairCompat(deref(reader), deref(writer)).map { r =>
        Incompatibility(r.kind, r.message, render("/" :: r.loc))
      })

    /** Token rendering matches the reference: joined with '/', doubled root
      * slash collapsed (compatibility.py:367-374). */
    private def render(tokens: List[String]): String = {
      val joined = tokens.mkString("/")
      if (tokens.length > 1) joined.drop(1) else joined
    }

    /** Strip forward references and logical wrappers: compatibility is
      * decided on physical types, as in the reference (logical schemas
      * report their physical `type`). */
    private def deref(s: AvroSchema): AvroSchema = s match {
      case r: ARef          => deref(r.target)
      case l: LogicalSchema => deref(l.underlying)
      case other            => other
    }

    /** Memoized compatibility of one pre-deref'd pair, locations relative
      * to the pair's root. */
    private def pairCompat(reader: AvroSchema, writer: AvroSchema): List[RelInc] = {
      val key = (new IdKey(reader), new IdKey(writer))
      memo.get(key) match {
        case Some(Some(result)) => result
        case Some(None)         => Nil // recursion in progress: cycle breaks as compatible
        case None =>
          memo(key) = None
          val result = calculate(reader, writer)
          memo(key) = Some(result)
          result
      }
    }

    /** Recurse into a child pair, placing its results under `prefix`. */
    private def child(reader0: AvroSchema, writer0: AvroSchema,
                      prefix: List[String]): List[RelInc] =
      pairCompat(deref(reader0), deref(writer0)).map(i => i.copy(loc = prefix ++ i.loc))

    private def calculate(reader: AvroSchema, writer: AvroSchema): List[RelInc] =
      (reader, writer) match {
        // ---- same-shape pairs ------------------------------------------------
        case _ if reader.typeName == writer.typeName && isPrimitive(reader) => Nil
        case (AArray(ri), AArray(wi)) => child(ri, wi, List("items"))
        case (AMap(rv), AMap(wv))     => child(rv, wv, List("values"))
        case (rf: AFixed, wf: AFixed) =>
          checkNames(rf, wf) ++ checkFixedSize(rf, wf)
        case (re: AEnum, we: AEnum) =>
          checkNames(re, we) ++ checkEnumSymbols(re, we)
        case (rr: ARecord, wr: ARecord) =>
          checkNames(rr, wr) ++ checkRecordFields(rr, wr)
        case (ru: AUnion, wu: AUnion) =>
          // every writer branch must be readable by the reader union
          wu.branches.zipWithIndex.flatMap { case (wb, i) =>
            if (pairCompat(ru, deref(wb)).isEmpty) Nil
            else List(RelInc(MissingUnionBranch,
              s"reader union lacking writer type: ${wb.typeName.toUpperCase}",
              List(i.toString)))
          }.toList

        // ---- writer union vs non-union reader: all branches must be readable
        case (_, wu: AUnion) =>
          wu.branches.zipWithIndex.flatMap { case (wb, i) =>
            child(reader, wb, List(i.toString)) }.toList

        // ---- reader union vs non-union writer: some branch must accept ------
        case (ru: AUnion, _) =>
          if (ru.branches.exists(rb => pairCompat(deref(rb), writer).isEmpty)) Nil
          else List(RelInc(MissingUnionBranch,
            s"reader union lacking writer type ${writer.typeName}", Nil))

        // ---- reader-side promotions (reference: compatibility.py:237-258) ---
        case _ if AvroResolution.promotes(writer, reader) => Nil

        case _ => List(RelInc(TypeMismatch,
          s"reader type: ${reader.typeName} not compatible with writer type: ${writer.typeName}",
          Nil))
      }

    /** Per reader field: find the writer field by name or reader-field alias;
      * absent writer field needs a reader default. The enum-with-enum-default
      * special case recurses against the writer record, matching the
      * reference exactly (compatibility.py:287-314). */
    private def checkRecordFields(rr: ARecord, wr: ARecord): List[RelInc] =
      rr.fields.zipWithIndex.flatMap { case (rf, i) =>
        val at = List("fields", i.toString)
        lookupWriterField(wr, rf) match {
          case None =>
            if (rf.default.isDefined) Nil
            else deref(rf.schema) match {
              case e: AEnum if e.enumDefault.isDefined =>
                child(rf.schema, wr, at :+ "type")
              case _ =>
                List(RelInc(ReaderFieldMissingDefaultValue, rf.name, at))
            }
          case Some(wf) =>
            child(rf.schema, wf.schema, at :+ "type")
        }
      }.toList

    private def lookupWriterField(wr: ARecord, rf: AField): Option[AField] =
      wr.fields.find(_.name == rf.name)
        .orElse(rf.aliases.iterator.flatMap(a => wr.fields.find(_.name == a)).nextOption())

    private def checkNames(reader: NamedSchema, writer: NamedSchema): List[RelInc] =
      if (schemaNameEquals(reader, writer)) Nil
      else List(RelInc(NameMismatch, s"expected: ${writer.fullName}", List("name")))

    /** Simple-name equality or reader alias naming the writer's fullname
      * (reference: compatibility.py:381-383). */
    private def schemaNameEquals(reader: NamedSchema, writer: NamedSchema): Boolean =
      reader.name == writer.name || reader.aliases.contains(writer.fullName)

    private def checkFixedSize(rf: AFixed, wf: AFixed): List[RelInc] =
      if (rf.size == wf.size) Nil
      else List(RelInc(FixedSizeMismatch,
        s"expected: ${wf.size}, found: ${rf.size}", List("size")))

    /** Writer symbols missing from the reader are an error unless the reader
      * declares a valid enum default to absorb them. */
    private def checkEnumSymbols(re: AEnum, we: AEnum): List[RelInc] = {
      val extra = we.symbols.filterNot(re.symbols.contains)
      if (extra.isEmpty) Nil
      else re.enumDefault match {
        case Some(d) if re.symbols.contains(d) => Nil
        case _ => List(RelInc(MissingEnumSymbols,
          extra.mkString("{", ", ", "}"), List("symbols")))
      }
    }

    private def isPrimitive(s: AvroSchema): Boolean = s match {
      case ANull | ABoolean | AInt | ALong | AFloat | ADouble | ABytes | AString => true
      case _ => false
    }
  }
}
