package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.unsafe.types.UTF8String

/** User-facing column functions + SQL registration for the graft Avro engine.
  *
  * SQL surface parity (reference UDF names, README.md:9-52):
  *  - `f_avro_from_kinesis(hex)` ≈ the Lambda OCF UDF (U1)
  *  - `fn_decode_avro_binary(hex)` ≈ the embedded Python UDF (U2)
  *  - `from_avro` / `to_avro` / `avro_ocf_decode` / `kpl_deaggregate` /
  *    `spring_extract` are the engine-native typed forms.
  */
object functions {
  private def col(e: Expression): Column = Shims.column(e)
  private def expr(c: Column): Expression = Shims.expression(c)

  /** Decode one bare Avro datum (registry mode, SURVEY §2.1 S4). */
  def from_avro(data: Column, writerSchemaJson: String): Column =
    col(AvroDecode(expr(data), writerSchemaJson))

  /** Decode with reader≠writer schema resolution (projection/promotion/defaults). */
  def from_avro(data: Column, writerSchemaJson: String, readerSchemaJson: String): Column =
    col(AvroDecode(expr(data), writerSchemaJson, Some(readerSchemaJson)))

  /** PERMISSIVE variant: corrupt rows decode to null instead of failing the
    * batch (the reference fails the whole batch, U5; PERMISSIVE is the Spark
    * idiom). */
  def from_avro_permissive(data: Column, writerSchemaJson: String): Column =
    col(AvroDecode(expr(data), writerSchemaJson, None, "PERMISSIVE"))

  /** PERMISSIVE third mode (the `from_json` `_corrupt_record` idiom): the
    * result struct gains a trailing binary `corruptColName` field holding
    * the RAW offending datum bytes when a row fails to decode (data fields
    * null), and null on clean rows — quarantine-and-continue instead of
    * drop-and-continue. */
  def from_avro_permissive(data: Column, writerSchemaJson: String,
                           corruptColName: String): Column =
    col(AvroDecode(expr(data), writerSchemaJson, None, "PERMISSIVE", Some(corruptColName)))

  /** Encode a Catalyst value as a bare Avro datum (schema derived from type). */
  def to_avro(data: Column): Column = col(AvroEncode(expr(data)))

  def to_avro(data: Column, schemaJson: String): Column =
    col(AvroEncode(expr(data), Some(schemaJson)))

  /** OCF payload → array of decoded records (wrap in `explode`). */
  def avro_ocf_decode(data: Column, readerSchemaJson: String): Column =
    col(AvroOcfDecode(expr(data), readerSchemaJson))

  /** OCF payload → one row per datum (true Generator/UDTF form): decodes
    * lazily block-by-block, so memory stays bounded by one ≤64 KB block
    * regardless of payload size — prefer this over
    * `explode(avro_ocf_decode(...))` for large containers. */
  def avro_ocf_explode(data: Column, readerSchemaJson: String): Column =
    col(AvroOcfExplode(expr(data), readerSchemaJson))

  /** OCF payload → reference-exact JSON array string (late binding, U1). */
  def avro_ocf_decode_json(data: Column): Column = col(AvroOcfDecodeJson(expr(data)))

  /** Bare datum + writer schema → reference-exact JSON string (U3).
    *
    * Where a query parses that text again, the optimizer rule
    * [[graft.plans.AvroDecodePruning]] reads the datum directly instead:
    * `get_json_object(avro_decode_json(d, W), "$.a.b")` whose paths name
    * fields only, through records and `["null", record]` unions, down to a
    * boolean, int, long, string or enum; and `from_json(avro_decode_json(d,
    * W), S)` with no options, where S is W's Catalyst type up to
    * nullability and W holds only records and boolean, int, long, double,
    * string and enum fields (each possibly nullable). Wildcard, index or
    * computed paths, float or double leaves under `get_json_object`, other
    * field types, options, and recursive schemas keep the JSON path. The
    * answer, including nulls and errors, is the JSON path's either way. */
  def avro_decode_json(data: Column, writerSchemaJson: String): Column =
    col(AvroDecodeJson(expr(data), writerSchemaJson))

  /** Encode rows to a complete OCF file payload (aggregate; fixture/sink side). */
  def kpl_deaggregate(data: Column): Column = col(KplDeaggregate(expr(data)))

  def spring_extract(data: Column): Column = col(SpringExtract(expr(data)))

  /** U4 composite: KPL → Spring headers → registry → decode → one JSON array
    * per input row (the reference Lambda's exact per-row contract).
    *
    * `from_json(spring_kpl_decode_all(d, m), array<S>)` with no options
    * decodes the sub-records directly, with no JSON text, when S is, up to
    * nullability, the Catalyst type of every schema in `m`, under the
    * conditions [[avro_decode_json]] gives for `from_json`; any other
    * consumer, `get_json_object` included, reads the JSON text. */
  def spring_kpl_decode_all(data: Column, schemasByContentType: Map[String, String]): Column =
    col(SpringKplDecodeAll(expr(data), schemasByContentType))

  /** S9: decode bare datums whose writer schema is resolved per STREAM NAME
    * through a [[graft.framing.SchemaRegistry]] (the Glue
    * registry-keyed-by-stream path). */
  def registry_decode_json(stream: Column, data: Column,
                           registry: graft.framing.SchemaRegistry): Column =
    col(RegistryDecodeJson(expr(stream), expr(data), registry))

  /** SURVEY §7.4 mode (b): decode a bare datum to Spark's `VariantType` —
    * the engine-native SUPER analog (reference `README.md:16-17` lands the
    * decoded JSON in Redshift SUPER). Rides the verified datum→JSON path
    * (F19) and Spark's `parse_json`, so the variant's value semantics are
    * exactly the JSON the reference UDF emits; prefer [[from_avro]] when the
    * schema is known at plan time (typed columns beat late binding). */
  def from_avro_variant(data: Column, writerSchemaJson: String): Column =
    org.apache.spark.sql.functions.parse_json(
      avro_decode_json(data, writerSchemaJson))

  /** [[from_avro_variant]] with the writer schema resolved per stream name
    * through a registry — the late-bound heterogeneous-stream shape where
    * a single typed schema cannot exist and variant IS the row type. */
  def registry_decode_variant(stream: Column, data: Column,
                              registry: graft.framing.SchemaRegistry): Column =
    org.apache.spark.sql.functions.parse_json(
      registry_decode_json(stream, data, registry))

  // ---- SQL registration ---------------------------------------------------
  private def litString(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal schema string, got $other")
  }

  /** The SQL surface as (name, builder) pairs — shared by the imperative
    * [[registerAll]] and the `spark.sql.extensions` path
    * ([[GraftSparkExtensions]]). */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "from_avro" -> {
      case Seq(data, schema) => AvroDecode(data, litString(schema, "from_avro"))
      case Seq(data, w, r) => AvroDecode(data, litString(w, "from_avro"),
        Some(litString(r, "from_avro")))
      case args => throw new IllegalArgumentException(s"from_avro(data, schema[, readerSchema]); got ${args.size} args")
    },
    "to_avro" -> {
      case Seq(data) => AvroEncode(data)
      case Seq(data, schema) => AvroEncode(data, Some(litString(schema, "to_avro")))
      case args => throw new IllegalArgumentException(s"to_avro(data[, schema]); got ${args.size} args")
    },
    "avro_ocf_decode" -> {
      case Seq(data, schema) => AvroOcfDecode(data, litString(schema, "avro_ocf_decode"))
      case args => throw new IllegalArgumentException(s"avro_ocf_decode(data, readerSchema); got ${args.size} args")
    },
    "avro_ocf_explode" -> {
      case Seq(data, schema) => AvroOcfExplode(data, litString(schema, "avro_ocf_explode"))
      case args => throw new IllegalArgumentException(s"avro_ocf_explode(data, readerSchema); got ${args.size} args")
    },
    "avro_ocf_decode_json" -> {
      case Seq(data) => AvroOcfDecodeJson(data)
      case args => throw new IllegalArgumentException(s"avro_ocf_decode_json(data); got ${args.size} args")
    },
    "avro_decode_json" -> {
      case Seq(data, schema) => AvroDecodeJson(data, litString(schema, "avro_decode_json"))
      case args => throw new IllegalArgumentException(s"avro_decode_json(data, schema); got ${args.size} args")
    },
    "kpl_deaggregate" -> {
      case Seq(data) => KplDeaggregate(data)
      case args => throw new IllegalArgumentException(s"kpl_deaggregate(data); got ${args.size} args")
    },
    "spring_extract" -> {
      case Seq(data) => SpringExtract(data)
      case args => throw new IllegalArgumentException(s"spring_extract(data); got ${args.size} args")
    },
    // U2 parity: hex varchar in → JSON varchar out, exactly the embedded
    // Python UDF contract (README.md:29-44, python-udf/udf.py:7-9).
    "fn_decode_avro_binary" -> {
      case Seq(hex) => AvroOcfDecodeJson(
        org.apache.spark.sql.catalyst.expressions.Unhex(hex))
      case args => throw new IllegalArgumentException(s"fn_decode_avro_binary(hex); got ${args.size} args")
    })

  /** Register the SQL functions on a session (idempotent). */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      Shims.registerFunction(spark, name, builder) }
}
