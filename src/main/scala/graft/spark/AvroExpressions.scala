package graft.spark

import graft.avro._
import graft.framing.{KplDeaggregator, SpringHeaders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Generator, GetJsonObject, JsonToStructs, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Per-executor caches: schema JSON → parsed AST, (writer,reader) → compiled
  * Catalyst reader (plain or JSON-parity). The Spark analog of the
  * reference's registry LRU cache
  * (glue-schema-per-stream-udf/lambda_function.py:14) — resolved once per
  * executor, reused across rows and tasks. JSON transcoders are cached by
  * [[AvroJsonTranscoder.forWriter]]. */
object AvroRuntime {
  private val schemaCache = TrieMap.empty[String, AvroSchema]
  private val readerCache = TrieMap.empty[(String, String), CatalystAvroReader.Reader]
  private val jsonReaderCache =
    TrieMap.empty[(String, String, AvroJsonLimits), CatalystAvroReader.Reader]

  def parse(json: String): AvroSchema =
    schemaCache.getOrElseUpdate(json, AvroSchemaParser.parse(json))

  def catalystReader(writerJson: String, readerJson: String): CatalystAvroReader.Reader =
    readerCache.getOrElseUpdate((writerJson, readerJson),
      CatalystAvroReader.compile(parse(writerJson), parse(readerJson)))

  def jsonParityReader(writerJson: String, readerJson: String,
                       limits: AvroJsonLimits): CatalystAvroReader.Reader =
    jsonReaderCache.getOrElseUpdate((writerJson, readerJson, limits),
      CatalystAvroReader.compileJsonParity(parse(writerJson), parse(readerJson), limits))
}

/** Mixin: codegen that calls back into the expression instance — a single
  * virtual call per row, so the expression participates in whole-stage codegen
  * instead of forcing a CodegenFallback interpreter boundary. */
trait GraftUnaryCodegen { self: UnaryExpression =>
  /** Must accept the non-null child value and return a Catalyst value. */
  def nullSafeEval(input: Any): Any

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, classOf[GraftUnaryCodegen].getName)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, input => {
      // ev.value is declared with the PRIMITIVE java type for numeric results,
      // so the null check must happen on a boxed temporary (a `long == null`
      // comparison fails Janino compilation and silently disables codegen).
      val tmp = ctx.freshName("graftResult")
      if (nullable)
        s"""
           |$boxed $tmp = ($boxed) $ref.nullSafeEval($input);
           |${ev.isNull} = $tmp == null;
           |if (!${ev.isNull}) { ${ev.value} = $tmp; }
         """.stripMargin
      else
        // nullSafeCodeGen's non-nullable branch pins ev.isNull to the literal
        // `false` and declares no isNull variable — assigning it would fail
        // Janino compilation (and silently disable codegen for the stage).
        s"""
           |$boxed $tmp = ($boxed) $ref.nullSafeEval($input);
           |${ev.value} = $tmp;
         """.stripMargin
    })
  }
}

/** `from_avro(binary, writerSchema[, readerSchema])`: decode one bare Avro
  * datum to a Catalyst value, with full writer→reader resolution.
  * FAILFAST throws (the reference's batch-failure contract,
  * avro-file-udf/lambda_function.py:26-30); PERMISSIVE yields null.
  * PERMISSIVE with `corruptRecordCol` set is the third mode (Spark's
  * `from_json` `_corrupt_record` idiom): the result struct gains a trailing
  * binary field of that name holding the RAW offending datum bytes on a
  * row-level decode failure (data fields null), and null on clean rows —
  * the quarantine-and-continue shape of the reference's batch-fail contract.
  * (reference: glue-schema-per-stream-udf/lambda_function.py:30-42 bare-datum
  * decode; python-udf/avro/io.py:637-702.) */
case class AvroDecode(child: Expression, writerSchemaJson: String,
                      readerSchemaJson: Option[String] = None,
                      mode: String = "FAILFAST",
                      corruptRecordCol: Option[String] = None)
    extends UnaryExpression with GraftUnaryCodegen {

  @transient private lazy val reader =
    AvroRuntime.catalystReader(writerSchemaJson, readerSchemaJson.getOrElse(writerSchemaJson))
  @transient private lazy val permissive = mode.equalsIgnoreCase("PERMISSIVE")

  private lazy val decodedType: DataType =
    SchemaConverters.toSqlType(AvroRuntime.parse(readerSchemaJson.getOrElse(writerSchemaJson))).dataType

  override lazy val dataType: DataType = corruptRecordCol match {
    case None => decodedType
    case Some(name) => decodedType match {
      // quarantined rows carry null in every data slot, so the declared
      // field types must be NULLABLE regardless of the Avro schema — the
      // same rule as Spark's from_json, whose PERMISSIVE mode forces a
      // fully-nullable schema; advertising non-null here would let a
      // downstream encoder read garbage (getInt on a null slot) instead of
      // seeing the quarantine
      case st: StructType =>
        StructType(st.fields.map(_.copy(nullable = true)))
          .add(name, BinaryType, nullable = true)
      case other => throw new IllegalArgumentException(
        s"from_avro corrupt-record mode requires a record schema, got ${other.simpleString}")
    }
  }
  @transient private lazy val decodedWidth =
    decodedType.asInstanceOf[StructType].length
  @transient private lazy val decodedFieldTypes =
    decodedType.asInstanceOf[StructType].fields.map(_.dataType)

  override def nullable: Boolean = true
  override def prettyName: String = "from_avro"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    corruptRecordCol match {
      case None =>
        try reader(new AvroBinaryReader(bytes))
        catch { case _: Exception if permissive => null }
      case Some(_) =>
        // quarantine mode: always emit a row; the trailing field carries the
        // raw datum bytes iff this row failed to decode
        val out = new Array[Any](decodedWidth + 1)
        try {
          val row = reader(new AvroBinaryReader(bytes)).asInstanceOf[InternalRow]
          var i = 0
          while (i < decodedWidth) { out(i) = row.get(i, decodedFieldTypes(i)); i += 1 }
        } catch {
          case e: Exception =>
            if (!permissive) throw e
            out(decodedWidth) = bytes
        }
        new GenericInternalRow(out)
    }
  }
  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)
}

/** `to_avro(value)`: encode any Catalyst value as a bare Avro datum using a
  * schema derived from the input type (or an explicit one).
  * (reference: python-udf/avro/io.py:1125-1337 DatumWriter — needed for the
  * fixture writers and round-trip tests, per SURVEY §2.1 S2.) */
case class AvroEncode(child: Expression, schemaJsonOpt: Option[String] = None)
    extends UnaryExpression with GraftUnaryCodegen {

  lazy val avroSchema: AvroSchema = schemaJsonOpt.map(AvroRuntime.parse).getOrElse(
    SchemaConverters.toAvroType(child.dataType, child.nullable))
  lazy val avroSchemaJson: String = AvroSchemaParser.toJson(avroSchema)
  @transient private lazy val writer = CatalystAvroWriter.compileValue(child.dataType, avroSchema)

  override def dataType: DataType = BinaryType
  override def prettyName: String = "to_avro"

  // one reusable encode buffer per thread: the expression object is shared
  // across a local-mode session's task threads, and an unshared buffer per
  // ROW would re-grow from scratch every evaluation
  @transient private lazy val encBuf: ThreadLocal[AvroBinaryWriter] =
    ThreadLocal.withInitial(() => new AvroBinaryWriter(256))

  override def nullSafeEval(input: Any): Any = {
    val out = encBuf.get()
    out.reset()
    writer(input, out)
    out.toByteArray
  }
  override protected def withNewChildInternal(newChild: Expression): AvroEncode =
    copy(child = newChild)
}

/** `avro_ocf_decode(binary, readerSchema)` → `array<struct>`: decode every
  * datum of an Avro Object Container File payload. The writer schema is read
  * from the file header and resolved against the supplied reader schema, so
  * the output type is static while files may evolve. Wrap in `explode(...)`
  * for the relational fan-out.
  * (reference: python-udf/avro/datafile.py:292-426 DataFileReader;
  * avro-file-udf/lambda_function.py:8-30.) */
case class AvroOcfDecode(child: Expression, readerSchemaJson: String)
    extends UnaryExpression with GraftUnaryCodegen {

  @transient private lazy val readerSchema = AvroRuntime.parse(readerSchemaJson)
  // keyed by writer schema only: block framing/codec is handled per payload
  // by Ocf.blockIterator, so a schema seen with several codecs still reuses
  // one compiled reader
  @transient private lazy val perWriter = TrieMap.empty[String, CatalystAvroReader.Reader]

  override lazy val dataType: DataType =
    ArrayType(SchemaConverters.toSqlType(readerSchema).dataType, containsNull = false)
  override def prettyName: String = "avro_ocf_decode"

  override def nullSafeEval(input: Any): Any = {
    val (header, blocks) = Ocf.blockIterator(input.asInstanceOf[Array[Byte]])
    val reader = perWriter.getOrElseUpdate(header.schemaJson,
      CatalystAvroReader.compile(AvroRuntime.parse(header.schemaJson), readerSchema))
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    blocks.foreach { b =>
      var i = 0L
      while (i < b.datumCount) { out += reader(b.in); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(newChild: Expression): AvroOcfDecode =
    copy(child = newChild)
}

/** `avro_ocf_explode(binary, readerSchema)`: the [[AvroOcfDecode]] semantics
  * as a true Catalyst `Generator` (UDTF) — one payload row in, one output
  * row PER DATUM, decoded lazily block-by-block. Unlike the
  * `explode(avro_ocf_decode(...))` form, the per-payload array of datums is
  * never materialized, so memory stays bounded by one block (≤ the 64 KB
  * sync interval × codec ratio) regardless of payload size.
  * (reference: python-udf/avro/datafile.py:331-409 — the pull-based
  * DataFileReader iterator, which this mirrors shape-for-shape.) */
case class AvroOcfExplode(child: Expression, readerSchemaJson: String)
    extends UnaryExpression with Generator with CodegenFallback {

  @transient private lazy val readerSchema = AvroRuntime.parse(readerSchemaJson)
  @transient private lazy val perWriter = TrieMap.empty[String, CatalystAvroReader.Reader]
  @transient private lazy val (outSchema: StructType, wrap: Boolean) =
    SchemaConverters.toSqlType(readerSchema).dataType match {
      case st: StructType => (st, false)
      case other          => (StructType(Seq(StructField("value", other))), true)
    }

  override def elementSchema: StructType = outSchema
  override def prettyName: String = "avro_ocf_explode"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val payload = child.eval(input)
    if (payload == null) return Iterator.empty
    val (header, blocks) = Ocf.blockIterator(payload.asInstanceOf[Array[Byte]])
    val reader = perWriter.getOrElseUpdate(header.schemaJson,
      CatalystAvroReader.compile(AvroRuntime.parse(header.schemaJson), readerSchema))
    new Iterator[InternalRow] {
      private var remaining = 0L
      private var bin: AvroBinaryReader = _
      private def advance(): Unit =
        while (remaining == 0 && blocks.hasNext) {
          val b = blocks.next()
          bin = b.in
          remaining = b.datumCount
        }
      override def hasNext: Boolean = { advance(); remaining > 0 }
      override def next(): InternalRow = {
        advance()
        remaining -= 1
        val v = reader(bin)
        if (wrap) new GenericInternalRow(Array(v)) else v.asInstanceOf[InternalRow]
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): AvroOcfExplode =
    copy(child = newChild)
}

/** `avro_ocf_decode_json(binary)` → JSON array string of all datums — the
  * schema-less late-binding surface matching the reference Lambda UDF output
  * exactly (one JSON array per input row, Python `json.dumps` formatting).
  * (reference: avro-file-udf/lambda_function.py:13-22 — U1/U2 parity.) */
case class AvroOcfDecodeJson(child: Expression)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "avro_ocf_decode_json"

  override def nullSafeEval(input: Any): Any = UTF8String.fromBytes(
    AvroJsonTranscoder.ocfToJson(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): AvroOcfDecodeJson =
    copy(child = newChild)
}

/** `avro_decode_json(binary, writerSchema)` → JSON string of one bare datum
  * (registry path parity: the schema comes from a registry, the output is the
  * reference's exact JSON text).
  * (reference: glue-schema-per-stream-udf/lambda_function.py:30-42.) */
case class AvroDecodeJson(child: Expression, writerSchemaJson: String)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "avro_decode_json"

  @transient private lazy val transcoder = AvroJsonTranscoder.forWriter(writerSchemaJson)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromBytes(transcoder.toJson(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): AvroDecodeJson =
    copy(child = newChild)
}

/** `kpl_deaggregate(binary)` → `array<binary>`: explode a KPL aggregated
  * Kinesis record into its sub-payloads.
  * (reference: springcloud-lambda-udf/lambda_function.py:142-155.) */
case class KplDeaggregate(child: Expression)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "kpl_deaggregate"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      KplDeaggregator.subPayloads(input.asInstanceOf[Array[Byte]]).toArray[Any])
  override protected def withNewChildInternal(newChild: Expression): KplDeaggregate =
    copy(child = newChild)
}

/** `spring_kpl_decode_all(binary)` → JSON array string: the U4 composite in
  * ONE expression — KPL de-aggregation → per-sub-record Spring embedded-header
  * extraction → contentType → registry schema → bare-datum decode → one
  * Python-`json.dumps`-formatted JSON array per input row. Schemas are
  * resolved from a driver-supplied contentType→schema map (the offline
  * registry), cached per executor.
  * (reference: springcloud-lambda-udf/lambda_function.py:171-219 —
  * decode_spring_kpl_encoded_data + the per-row json.dumps contract.) */
case class SpringKplDecodeAll(child: Expression, schemasByContentType: Map[String, String])
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "spring_kpl_decode_all"

  override def nullSafeEval(input: Any): Any = {
    val subs = KplDeaggregator.subPayloads(input.asInstanceOf[Array[Byte]])
    UTF8String.fromBytes(AvroJsonTranscoder.render { out =>
      out.writeByte('[')
      var first = true
      subs.foreach { sub =>
        val ex = SpringHeaders.extract(sub)
        val contentType = ex.headers.getOrElse("contentType",
          throw new AvroResolutionException("Spring message missing contentType header"))
        val schemaJson = schemasByContentType.getOrElse(contentType,
          throw new AvroResolutionException(s"no schema registered for content type '$contentType'"))
        if (first) first = false else { out.writeByte(','); out.writeByte(' ') }
        AvroJsonTranscoder.forWriter(schemaJson).write(new AvroBinaryReader(ex.body), out)
      }
      out.writeByte(']')
    })
  }
  override protected def withNewChildInternal(newChild: Expression): SpringKplDecodeAll =
    copy(child = newChild)
}

/** `get_json_object(avro_decode_json(child, W), path)` for each of `paths`,
  * read straight from the wire: the rewrite [[graft.plans.AvroDecodePruning]]
  * makes where every path names fields only, through records and
  * `["null", record]` unions, down to a boolean, int, long, string or enum
  * (or a nullable union of one). One pass of the resolution plan from W to
  * `readerSchemaJson` (W pruned to the paths' fields) reads the leaves; the
  * struct holds, per path, the string `get_json_object` returns. A datum
  * whose JSON text Spark would read otherwise ([[AvroJsonLimits]]), or that
  * fails to decode, goes through the original expressions, so every value,
  * null and error is theirs. */
case class AvroJsonPaths(child: Expression, writerSchemaJson: String,
                         readerSchemaJson: String, paths: Seq[String])
    extends UnaryExpression with GraftUnaryCodegen {

  override lazy val dataType: StructType = StructType(paths.map(StructField(_, StringType)))
  override def nullable: Boolean = true
  override def prettyName: String = "avro_json_paths"
  override def toString: String = s"$prettyName($child, ${paths.mkString(", ")})"

  @transient private lazy val reader: CatalystAvroReader.Reader = {
    val limits = AvroJsonLimits.current()
    if (!limits.admits(AvroRuntime.parse(writerSchemaJson), 0)) null
    else AvroRuntime.jsonParityReader(writerSchemaJson, readerSchemaJson, limits)
  }
  /** Per path, the field ordinals from the decoded record down to its leaf. */
  @transient private lazy val ordinals: Array[Array[Int]] = {
    def ords(s: AvroSchema, names: List[String]): List[Int] = names match {
      case Nil => Nil
      case name :: rest =>
        val r = AvroResolution.deref(s) match {
          case r: ARecord => r
          case u: AUnion => AvroResolution.deref(u.nonNullBranches.head).asInstanceOf[ARecord]
          case other => throw new IllegalStateException(s"path $name crosses ${other.typeName}")
        }
        val i = r.fields.indexWhere(_.name == name)
        i :: ords(r.fields(i).schema, rest)
    }
    val readerSchema = AvroRuntime.parse(readerSchemaJson)
    paths.map(p => ords(readerSchema, p.split('.').toList.tail).toArray).toArray
  }
  @transient private lazy val originals: Array[Expression] = paths.map(p => GetJsonObject(
    AvroDecodeJson(BoundReference(0, BinaryType, nullable = true), writerSchemaJson),
    Literal(p))).toArray

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (reader != null) {
      try return leaves(reader(new AvroBinaryReader(bytes)))
      catch { case NonFatal(_) => } // the original expressions decide this datum
    }
    val row = InternalRow(bytes)
    new GenericInternalRow(originals.map(_.eval(row)))
  }

  /** The text `get_json_object` returns for each path's leaf. */
  private def leaves(decoded: Any): InternalRow = {
    val out = new Array[Any](ordinals.length)
    var i = 0
    while (i < out.length) {
      val ords = ordinals(i)
      var v = decoded
      var k = 0
      while (v != null && k < ords.length) {
        v = v.asInstanceOf[GenericInternalRow].values(ords(k))
        k += 1
      }
      out(i) = v match {
        case null => null
        case s: UTF8String => s
        case b: Boolean => UTF8String.fromString(b.toString)
        case n => UTF8String.fromString(n.toString) // an int or a long
      }
      i += 1
    }
    new GenericInternalRow(out)
  }
  override protected def withNewChildInternal(newChild: Expression): AvroJsonPaths =
    copy(child = newChild)
}

/** `from_json` over `avro_decode_json` or `spring_kpl_decode_all`, read
  * straight from the wire: the rewrite [[graft.plans.AvroDecodePruning]]
  * makes where `from_json` has no options and its schema is, up to
  * nullability, the Catalyst type of every writer schema involved, made of
  * records, nullable records, and boolean, int, long, double, string and
  * enum values (or nullable unions of one). `original` is the `from_json`
  * call over a [[BoundReference]] to the payload; its type is this
  * expression's. A datum whose JSON text Spark would read otherwise
  * ([[AvroJsonLimits]]), or that fails to decode or to frame, goes through
  * `original`, so every value, null and error is its own. */
case class AvroParsedJson(child: Expression, original: JsonToStructs)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = original.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "avro_parsed_json"
  override def toString: String = s"$prettyName($child, ${original.child.prettyName})"

  /** The direct decode of a payload, or null where the JSON read limits
    * cannot admit a schema involved. */
  @transient private lazy val decode: Array[Byte] => Any = {
    val limits = AvroJsonLimits.current()
    def datum(writerJson: String, depth: Int): CatalystAvroReader.Reader =
      if (!limits.admits(AvroRuntime.parse(writerJson), depth)) null
      else AvroRuntime.jsonParityReader(writerJson, writerJson, limits)
    original.child match {
      case AvroDecodeJson(_, w) =>
        val read = datum(w, 0)
        if (read == null) null else bytes => read(new AvroBinaryReader(bytes))
      case SpringKplDecodeAll(_, schemas) =>
        val readers = schemas.map { case (contentType, w) => contentType -> datum(w, 1) }
        if (readers.values.exists(_ == null)) null
        else bytes => {
          val subs = KplDeaggregator.subPayloads(bytes)
          val out = new Array[Any](subs.length)
          var i = 0
          subs.foreach { sub =>
            val ex = SpringHeaders.extract(sub)
            val read = ex.headers.get("contentType").flatMap(readers.get)
              .getOrElse(throw AvroJsonLimits.Beyond)
            out(i) = read(new AvroBinaryReader(ex.body))
            i += 1
          }
          new GenericArrayData(out)
        }
      case other => throw new IllegalArgumentException(s"no direct decode for ${other.prettyName}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (decode != null) {
      try return decode(bytes)
      catch { case NonFatal(_) => } // the original expression decides this datum
    }
    original.eval(InternalRow(bytes))
  }
  override protected def withNewChildInternal(newChild: Expression): AvroParsedJson =
    copy(child = newChild)
}

/** `registry_decode_json(streamName, payload)` → JSON string: resolve the
  * WRITER schema per stream-name value through a [[graft.framing.SchemaRegistry]]
  * shipped with the expression (the Glue registry-keyed-by-stream path, S9),
  * decode the bare datum, and render the reference's exact JSON text. JSON
  * transcoders are built per distinct stream key and cached per executor —
  * the Spark analog of the reference's LRU(32) per-container cache.
  * (reference: glue-schema-per-stream-udf/lambda_function.py:14-42.) */
case class RegistryDecodeJson(left: Expression, right: Expression,
                              registry: graft.framing.SchemaRegistry)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "registry_decode_json"

  @transient private lazy val transcoders = TrieMap.empty[String, AvroJsonTranscoder]

  override def nullSafeEval(stream: Any, payload: Any): Any = {
    val key = stream.asInstanceOf[UTF8String].toString
    val transcoder = transcoders.getOrElseUpdate(key, new AvroJsonTranscoder(registry.get(key)))
    UTF8String.fromBytes(transcoder.toJson(payload.asInstanceOf[Array[Byte]]))
  }

  // one virtual call per row keeps the expression inside whole-stage codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("registryDecode", this, classOf[RegistryDecodeJson].getName)
    nullSafeCodeGen(ctx, ev, (s, p) =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($s, $p);")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RegistryDecodeJson =
    copy(left = newLeft, right = newRight)
}

/** `spring_extract(binary)` → `struct<headers: map<string,string>, body: binary>`:
  * strip spring-cloud-stream embedded headers from a message payload.
  * (reference: springcloud-lambda-udf/lambda_function.py:72-139.) */
case class SpringExtract(child: Expression)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("headers", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("body", BinaryType, nullable = false)))
  override def prettyName: String = "spring_extract"

  override def nullSafeEval(input: Any): Any = {
    val ex = SpringHeaders.extract(input.asInstanceOf[Array[Byte]])
    val keys = ex.headers.keys.map(k => UTF8String.fromString(k)).toArray[Any]
    val vals = ex.headers.values.map(v => UTF8String.fromString(v)).toArray[Any]
    val row = new GenericInternalRow(2)
    row.update(0, new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals)))
    row.update(1, ex.body)
    row
  }
  override protected def withNewChildInternal(newChild: Expression): SpringExtract =
    copy(child = newChild)
}
