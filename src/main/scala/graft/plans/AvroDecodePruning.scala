package graft.plans

import scala.util.control.NonFatal

import graft.avro._
import graft.avro.AvroResolution.deref
import graft.spark.{AvroDecode, AvroDecodeJson, AvroJsonPaths, AvroParsedJson, AvroRuntime,
  SchemaConverters, SpringKplDecodeAll}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Expression,
  GetJsonObject, GetStructField, JsonToStructs, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Decode-time narrowing: when a query reads only part of a decode's value,
  * rewrite the decode to read only that part. Two kinds of decode narrow:
  *
  *  - FIELD PRUNING. When a query consumes only some fields of an
  *    [[AvroDecode]] result (`decoded.a`, `decoded.meta.ts`), the decode
  *    gets a reader schema restricted to those fields, at ANY nesting depth.
  *    The resolution engine then SKIPS the dropped writer fields on the wire
  *    (type-directed skip, reference python-udf/avro/io.py:793-822) instead
  *    of materializing them: the Avro analog of parquet nested-schema
  *    pruning. Uses are `GetStructField` chains (access PATHS): `r.a.b`
  *    prunes the nested record `a` down to `{b}`; a use that stops at a
  *    struct keeps that subtree, and a bare whole-struct use keeps the full
  *    schema. Nesting prunes through records and nullable `["null", record]`
  *    unions; refs, general unions and containers keep their subtree.
  *    Corrupt-record (quarantine) decodes are never pruned.
  *  - JSON ROUND TRIP. The reference's UDFs return JSON text that Redshift
  *    parses (`JSON_PARSE`); in Spark that is `get_json_object` or
  *    `from_json` over `avro_decode_json` or `spring_kpl_decode_all`. Where
  *    the answer is provably the one the JSON path gives, the pair decodes
  *    straight from the wire, with no JSON text (as Spark's own
  *    `OptimizeCsvJsonExprs` drops `from_json(to_json(x))`):
  *     - `get_json_object(avro_decode_json(p, W), path)` becomes a field of
  *       one [[AvroJsonPaths]] per decode, when every path is a literal
  *       `$.a.b` of named fields only, through records and `["null", record]`
  *       unions, down to a boolean, int, long, string or enum leaf (or a
  *       nullable union of one);
  *     - `from_json(avro_decode_json(p, W), S)` and
  *       `from_json(spring_kpl_decode_all(p, m), array<S>)` with no options
  *       become an [[AvroParsedJson]], when S equals, up to nullability, the
  *       Catalyst type of W (of every schema in m), made of records,
  *       nullable records and boolean, int, long, double, string and enum
  *       fields (or nullable unions of one).
  *    Everything else keeps the JSON path: a wildcard, index or non-literal
  *    path, a float or double leaf under `get_json_object`, a float, bytes,
  *    array, map, logical-type or general-union field under `from_json`, a
  *    schema that does not match, `from_json` options, a recursive writer
  *    schema, and a JSON text that is also read as itself. Each such
  *    consumer is logged at DEBUG once per plan with its reason. A datum
  *    whose JSON text Spark would read otherwise (a non-finite float, a
  *    duplicate map key, a value past Jackson's read limits) goes through
  *    the original expressions at run time, row by row.
  *
  * Each kind narrows in two passes:
  *  1. INLINE: a decode consumed directly inside one node's expressions, in
  *     ANY operator (Project, Filter, Aggregate, Generate, Join, ...);
  *  2. ALIASED: a decode bound to an attribute by `Alias` in some Project
  *     and consumed ANYWHERE above it. The pass counts every reference to
  *     the attribute across the WHOLE plan, so the consumer's operator shape
  *     is irrelevant; an attribute the plan outputs, or a plan carrying
  *     subquery expressions (whose inner references this pass cannot see),
  *     is left untouched. */
object AvroDecodePruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    narrowAliased(plan.transformUp { case node => narrowInline(node) })

  /** Install on a session (idempotent); rules added this way run in the
    * user-provided optimizer batch after the built-in batches. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(AvroDecodePruning))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AvroDecodePruning

  // ---- the two passes -----------------------------------------------------

  /** The narrower decode, and how a use of the old value becomes one of the
    * new: `rewrite(use, retarget)` where `retarget` maps the use's root (the
    * old decode or its attribute) to the new root. */
  private final case class Narrowed(decode: Expression,
      rewrite: (Expression, Expression => Expression) => Expression)

  /** One kind of decode this rule narrows. */
  private trait Narrowing {
    def isDecode(e: Expression): Boolean
    /** Is `e` a use of the value at a root (`isRoot`)? No use holds
      * another use of the same root. */
    def isUse(e: Expression, isRoot: Expression => Boolean): Boolean
    /** Narrow decode `d` for all of its `uses`, or say why not. */
    def narrow(d: Expression, uses: Seq[Expression],
               isRoot: Expression => Boolean): Either[String, Narrowed]
    /** `uses` keep their decode, for reason `why`. */
    def leftAlone(uses: Seq[Expression], why: String): Unit = ()
  }

  private lazy val narrowings: Seq[Narrowing] = Seq(FieldPruning, JsonRoundTrip)

  /** Narrow `d` if every reference to its root in `es` is a use. */
  private def narrowed(k: Narrowing, d: Expression, es: Seq[Expression],
                       isRoot: Expression => Boolean): Option[Narrowed] = {
    val uses = scala.collection.mutable.ArrayBuffer.empty[Expression]
    var bare = 0
    def visit(e: Expression): Unit =
      if (k.isUse(e, isRoot)) uses += e
      else if (isRoot(e)) bare += 1
      else e.children.foreach(visit)
    es.foreach(visit)
    if (uses.isEmpty) None
    else {
      val result =
        if (bare > 0) Left("the decoded value is also read whole")
        else k.narrow(d, uses.toSeq, isRoot)
      result.left.foreach(k.leftAlone(uses.toSeq, _))
      result.toOption
    }
  }

  /** Rewrite every use of the root in `e`, leaving other subtrees alone. */
  private def rewriteUses(e: Expression, k: Narrowing, isRoot: Expression => Boolean,
                          n: Narrowed, retarget: Expression => Expression): Expression =
    if (k.isUse(e, isRoot)) n.rewrite(e, retarget)
    else e.mapChildren(rewriteUses(_, k, isRoot, n, retarget))

  private def narrowInline(node: LogicalPlan): LogicalPlan =
    narrowings.foldLeft(node) { (n0, k) =>
      n0.expressions.flatMap(_.collect { case d if k.isDecode(d) => d }).distinct
        .foldLeft(n0) { (n, d) =>
          val isRoot = (e: Expression) => e == d
          narrowed(k, d, n.expressions, isRoot) match {
            case Some(nd) => n.mapExpressions(rewriteUses(_, k, isRoot, nd, _ => nd.decode))
            case None => n
          }
        }
    }

  private def narrowAliased(plan: LogicalPlan): LogicalPlan = {
    val defs = plan.collect { case p: Project => p.projectList }.flatten.collect {
      case al @ Alias(d, _) if narrowings.exists(_.isDecode(d)) => al
    }.distinctBy(_.exprId)
    if (defs.isEmpty ||
        plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))))
      return plan // inner-plan references are invisible here
    val exprs = plan.flatMap(_.expressions)
    val rewrites = defs.filterNot(al => plan.outputSet.exists(_.exprId == al.exprId))
      .flatMap { al =>
        val k = narrowings.find(_.isDecode(al.child)).get
        val isRoot = (e: Expression) => e match {
          case ar: AttributeReference => ar.exprId == al.exprId
          case _ => false
        }
        // the defining Alias holds the decode, not a reference to it
        val uses = exprs.filter {
          case a: Alias => a.exprId != al.exprId
          case _ => true
        }
        narrowed(k, al.child, uses, isRoot).map(nd => (al.exprId, k, isRoot, nd))
      }
    if (rewrites.isEmpty) return plan
    plan.transformUp { case node =>
      node.mapExpressions { e =>
        rewrites.foldLeft(e) { case (cur, (id, k, isRoot, nd)) =>
          val withDef = cur match {
            case al: Alias if al.exprId == id => al.withNewChildren(Seq(nd.decode))
            case other => other
          }
          rewriteUses(withDef, k, isRoot, nd,
            old => old.asInstanceOf[AttributeReference].withDataType(nd.decode.dataType))
        }
      }
    }
  }

  // ---- access-path machinery ----------------------------------------------

  /** Trie of access paths; `terminal` = some use stops here (keep subtree). */
  private final case class PathTrie(terminal: Boolean, children: Map[Int, PathTrie])

  private def buildTrie(paths: Seq[Seq[Int]]): Map[Int, PathTrie] = {
    def insert(nodes: Map[Int, PathTrie], path: Seq[Int]): Map[Int, PathTrie] = {
      val head = path.head
      val node = nodes.getOrElse(head, PathTrie(terminal = false, Map.empty))
      val updated =
        if (path.tail.isEmpty) node.copy(terminal = true)
        else node.copy(children = insert(node.children, path.tail))
      nodes.updated(head, updated)
    }
    paths.foldLeft(Map.empty[Int, PathTrie])(insert)
  }

  /** Old ordinal → new ordinal at one record level, plus nested remaps for
    * fields pruned deeper. A field absent from `children` kept its whole
    * subtree, so deeper ordinals pass through unchanged. */
  private final case class Remap(ord: Map[Int, Int], children: Map[Int, Remap])

  /** View a schema as a record if it is one, or a nullable union of one —
    * with a rebuilder that re-wraps the pruned record the same way. */
  private def recordView(s: AvroSchema): Option[(ARecord, ARecord => AvroSchema)] = s match {
    case r: ARecord => Some((r, identity))
    case u: AUnion => u.branches.filterNot(_ == ANull) match {
      case Seq(r: ARecord) =>
        Some((r, pruned => AUnion(u.branches.map {
          case _: ARecord => pruned
          case other => other
        })))
      case _ => None
    }
    case _ => None
  }

  /** Prune `record` to the trie's accessed fields, recursing into children
    * that are records (or nullable records) and not terminally used. */
  private def pruneRecord(record: ARecord, trie: Map[Int, PathTrie]): (ARecord, Remap) = {
    val keep = trie.keys.toSeq.sorted
    val (fields, childRemaps) = keep.map { old =>
      val f = record.fields(old)
      val node = trie(old)
      if (node.terminal || node.children.isEmpty) (f, None)
      else recordView(f.schema) match {
        case Some((sub, rebuild)) =>
          val (prunedSub, subRemap) = pruneRecord(sub, node.children)
          (f.copy(schema = rebuild(prunedSub)), Some(subRemap))
        case None => (f, None) // not a prunable shape: keep whole subtree
      }
    }.unzip
    val ordMap = keep.zipWithIndex.toMap
    (record.copy(fields = fields),
      Remap(ordMap, keep.zip(childRemaps).collect { case (o, Some(r)) => o -> r }.toMap))
  }

  private def prunedDecode(d: AvroDecode, paths: Seq[Seq[Int]]): Option[(AvroDecode, Remap)] =
    // corrupt-record (quarantine) decodes are never pruned: their sql struct
    // carries a trailing field with no Avro counterpart (ordinals would
    // misalign), and narrowing the reader schema would change WHICH
    // corruptions are even detected — the full-record decode IS the contract
    if (d.corruptRecordCol.isDefined) None
    else AvroRuntime.parse(d.readerSchemaJson.getOrElse(d.writerSchemaJson)) match {
      case reader: ARecord =>
        val (pruned, remap) = pruneRecord(reader, buildTrie(paths))
        if (pruned == reader) None
        else Some((d.copy(readerSchemaJson = Some(AvroSchemaParser.toJson(pruned))), remap))
      case _ => None
    }

  /** The access path of a GetStructField chain bottoming out at `isRoot`,
    * outermost record level first; None if the chain roots elsewhere. */
  private def chainPath(g: GetStructField, isRoot: Expression => Boolean): Option[List[Int]] =
    g.child match {
      case r if isRoot(r) => Some(List(g.ordinal))
      case inner: GetStructField => chainPath(inner, isRoot).map(_ :+ g.ordinal)
      case _ => None
    }

  /** Rebuild a chain against the pruned schema: remap the ordinal at each
    * level it was pruned, and put `retarget` of its root at the bottom. */
  private def rebuildChain(g: GetStructField, isRoot: Expression => Boolean,
                           retarget: Expression => Expression, remap: Remap): Expression = {
    def go(cur: GetStructField): (Expression, Option[Remap], Int) = cur.child match {
      case r if isRoot(r) =>
        val newOrd = remap.ord(cur.ordinal)
        (GetStructField(retarget(r), newOrd, cur.name), remap.children.get(cur.ordinal), cur.ordinal)
      case inner: GetStructField =>
        val (rebuilt, subRemap, _) = go(inner)
        subRemap match {
          case Some(rm) =>
            (GetStructField(rebuilt, rm.ord(cur.ordinal), cur.name),
              rm.children.get(cur.ordinal), cur.ordinal)
          case None => // this level kept its whole subtree: ordinal unchanged
            (GetStructField(rebuilt, cur.ordinal, cur.name), None, cur.ordinal)
        }
      case other => throw new IllegalStateException(s"not a chain: $other")
    }
    go(g)._1
  }

  // ---- field pruning ------------------------------------------------------

  private object FieldPruning extends Narrowing {
    def isDecode(e: Expression): Boolean = e.isInstanceOf[AvroDecode]
    def isUse(e: Expression, isRoot: Expression => Boolean): Boolean = e match {
      case g: GetStructField => chainPath(g, isRoot).isDefined
      case _ => false
    }
    def narrow(d: Expression, uses: Seq[Expression],
               isRoot: Expression => Boolean): Either[String, Narrowed] = {
      val paths = uses.map(u => chainPath(u.asInstanceOf[GetStructField], isRoot).get)
      prunedDecode(d.asInstanceOf[AvroDecode], paths).map { case (nd, remap) =>
        Narrowed(nd, (u, retarget) =>
          rebuildChain(u.asInstanceOf[GetStructField], isRoot, retarget, remap))
      }.toRight("every field is read")
    }
  }

  // ---- JSON round trip ----------------------------------------------------

  private object JsonRoundTrip extends Narrowing {
    /** Marks a consumer already logged as left on the JSON path. */
    private val Logged = TreeNodeTag[Unit]("graft.jsonRoundTrip.logged")
    /** A `get_json_object` path of named fields only. */
    private val NamedPath = """\$(\.[A-Za-z_][A-Za-z0-9_]*)+""".r

    def isDecode(e: Expression): Boolean =
      e.isInstanceOf[AvroDecodeJson] || e.isInstanceOf[SpringKplDecodeAll]
    def isUse(e: Expression, isRoot: Expression => Boolean): Boolean = e match {
      case g: GetJsonObject => isRoot(g.json)
      case j: JsonToStructs => isRoot(j.child)
      case _ => false
    }

    def narrow(d: Expression, uses: Seq[Expression],
               isRoot: Expression => Boolean): Either[String, Narrowed] =
      try {
        val gets = uses.collect { case g: GetJsonObject => g }
        val parses = uses.collect { case j: JsonToStructs => j }
        if (parses.isEmpty) paths(d, gets)
        else if (gets.isEmpty) parsed(d, parses)
        else Left("the JSON text is read by both get_json_object and from_json")
      } catch {
        case NonFatal(e) => Left(s"schema mismatch: ${e.getMessage}")
      }

    override def leftAlone(uses: Seq[Expression], why: String): Unit =
      if (log.isDebugEnabled) uses.foreach { u =>
        if (u.getTagValue(Logged).isEmpty) {
          u.setTagValue(Logged, ())
          logDebug(s"$u stays on the JSON path: $why")
        }
      }

    /** `get_json_object` uses of `avro_decode_json`: one [[AvroJsonPaths]].
      * A use whose own path keeps the JSON path is logged with its reason. */
    private def paths(d: Expression, gets: Seq[GetJsonObject]): Either[String, Narrowed] = d match {
      case AvroDecodeJson(child, writerJson) => writerRecord(writerJson).flatMap { record =>
        val fields = gets.map(g => g -> (g.path match {
          case Literal(p: UTF8String, StringType) => fieldPath(record, p.toString).map(p.toString -> _)
          case _ => Left("the path is not a literal")
        }))
        fields.foreach { case (g, f) => f.left.foreach(why => leftAlone(Seq(g), why)) }
        if (fields.exists(_._2.isLeft)) Left("another path over this JSON text keeps the JSON path")
        else {
          val distinct = fields.map(_._2.toOption.get).distinct
          val (pruned, _) = pruneRecord(record, buildTrie(distinct.map(_._2)))
          val paths = distinct.map(_._1)
          Right(Narrowed(AvroJsonPaths(child, writerJson, AvroSchemaParser.toJson(pruned), paths),
            (u, retarget) => {
              val g = u.asInstanceOf[GetJsonObject]
              val p = g.path.eval().toString
              GetStructField(retarget(g.json), paths.indexOf(p), Some(p))
            }))
        }
      }
      case _ => Left("get_json_object over a JSON array")
    }

    /** `from_json` uses, all alike: one [[AvroParsedJson]]. */
    private def parsed(d: Expression, parses: Seq[JsonToStructs]): Either[String, Narrowed] = {
      val j = parses.head
      if (parses.exists(p => p.schema != j.schema || p.options != j.options ||
          p.timeZoneId != j.timeZoneId)) return Left("the from_json calls differ")
      if (j.options.nonEmpty) return Left("options set")
      val (writers, element) = d match {
        case AvroDecodeJson(_, w) => (Seq(w), Some(j.schema))
        case SpringKplDecodeAll(_, m) => (m.values.toSeq, j.schema match {
          case ArrayType(el, _) => Some(el)
          case _ => None
        })
      }
      if (writers.isEmpty) return Left("no writer schema")
      if (element.isEmpty) return Left(s"schema mismatch: a JSON array read as ${j.schema.simpleString}")
      for (_ <- sequence(writers.map { w =>
        for {
          record <- writerRecord(w)
          _ <- parsedFields(record)
          sql = SchemaConverters.toSqlType(record).dataType
          _ <- Either.cond(Shims.equalsIgnoreNullability(sql, element.get), (),
            s"schema mismatch: ${element.get.simpleString} is not ${sql.simpleString}")
        } yield ()
      })) yield {
        val bound = d.withNewChildren(Seq(BoundReference(0, BinaryType, nullable = true)))
        Narrowed(AvroParsedJson(d.children.head, j.withNewChildren(Seq(bound)).asInstanceOf[JsonToStructs]),
          (u, retarget) => retarget(u.asInstanceOf[JsonToStructs].child))
      }
    }

    /** The writer schema, when it is a record of bounded depth. */
    private def writerRecord(writerJson: String): Either[String, ARecord] = {
      val writer = AvroRuntime.parse(writerJson)
      if (AvroJsonLimits.depth(writer).isEmpty) Left("recursive schema")
      else deref(writer) match {
        case r: ARecord => Right(r)
        case other => Left(s"schema mismatch: a ${other.typeName} is not a record")
      }
    }

    /** The field ordinals `path` names, down to a leaf `get_json_object`
      * returns as the JSON path does. */
    private def fieldPath(record: ARecord, path: String): Either[String, Seq[Int]] =
      if (!NamedPath.matches(path)) Left(s"$path is a wildcard, index or quoted path")
      else {
        val names = path.split('.').toList.tail
        def walk(r: ARecord, names: List[String]): Either[String, List[Int]] = {
          val i = r.fields.indexWhere(_.name == names.head)
          if (i < 0) return Left(s"schema mismatch: $path names no field of ${r.fullName}")
          val s = r.fields(i).schema
          if (names.tail.nonEmpty) recordOf(s) match {
            case Some(sub) => walk(sub, names.tail).map(i :: _)
            case None => Left(s"schema mismatch: $path crosses a ${deref(s).typeName}")
          }
          else leaf(s, double = false).map(_ => List(i))
        }
        walk(record, names)
      }

    /** Every field of `record` one `from_json` reads as the JSON path does. */
    private def parsedFields(record: ARecord): Either[String, Unit] =
      sequence(record.fields.map(f => recordOf(f.schema) match {
        case Some(sub) => parsedFields(sub)
        case None => leaf(f.schema, double = true)
      })).map(_ => ())

    /** A record, or a nullable union of one. */
    private def recordOf(s: AvroSchema): Option[ARecord] = deref(s) match {
      case r: ARecord => Some(r)
      case u: AUnion if u.isNullable && u.branches.length == 2 => deref(u.nonNullBranches.head) match {
        case r: ARecord => Some(r)
        case _ => None
      }
      case _ => None
    }

    /** A scalar read the same through its JSON text: boolean, int, long,
      * string or enum, and double where `double`, or a nullable union of one. */
    private def leaf(s: AvroSchema, double: Boolean): Either[String, Unit] = deref(s) match {
      case ABoolean | AInt | ALong | AString | _: AEnum => Right(())
      case ADouble if double => Right(())
      case AFloat | ADouble => Left("float leaf")
      case u: AUnion if u.isNullable && u.branches.length == 2 => leaf(u.nonNullBranches.head, double)
      case other => Left(s"schema mismatch: a ${other.typeName} leaf")
    }

    private def sequence[A](xs: Seq[Either[String, A]]): Either[String, Seq[A]] =
      xs.collectFirst { case Left(why) => Left(why) }.getOrElse(Right(xs.map(_.toOption.get)))
  }
}
