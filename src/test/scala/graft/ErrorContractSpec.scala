package graft

import graft.avro._
import graft.spark.{functions => gfn}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** U5 error contracts (FAILFAST mirrors the reference's whole-batch failure,
  * PERMISSIVE is the Spark idiom) and parser error taxonomy.
  * (reference: avro-file-udf/lambda_function.py:26-30 batch failure;
  * python-udf/avro/name.py:186-189 reserved names.) */
class ErrorContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-errors-spec")
    .getOrCreate()

  private val schemaJson =
    """{"type":"record","name":"KV","fields":[{"name":"k","type":"string"}]}"""

  private def payloadDf(bytes: Array[Byte]) = spark.createDataFrame(
    java.util.Arrays.asList(Row(bytes)),
    StructType(Seq(StructField("payload", BinaryType))))

  test("registry decode: unregistered stream name fails with a clear error") {
    val writer = new AvroDatumWriter(AvroSchemaParser.parse(schemaJson))
    val body = writer.toBytes(AvroRecord(
      AvroSchemaParser.parse(schemaJson).asInstanceOf[ARecord], Array[Any]("v1")))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row("ghost-stream", body)),
      StructType(Seq(
        StructField("stream", org.apache.spark.sql.types.StringType),
        StructField("payload", BinaryType))))
    val registry = graft.framing.SchemaRegistry.inMemory("real-stream" -> schemaJson)
    val e = intercept[Exception] {
      df.select(gfn.registry_decode_json(
        org.apache.spark.sql.functions.col("stream"),
        org.apache.spark.sql.functions.col("payload"), registry)).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("ghost-stream"), s"error must name the stream key: $e")
  }

  test("FAILFAST: corrupt bytes fail the query (reference batch contract)") {
    val corrupt = Array[Byte](0x7f, 0x7f, 0x7f) // truncated varint-length string
    val e = intercept[Exception] {
      payloadDf(corrupt).select(gfn.from_avro(
        org.apache.spark.sql.functions.col("payload"), schemaJson)).collect()
    }
    assert(e != null)
  }

  test("PERMISSIVE: corrupt bytes decode to null instead of failing") {
    val corrupt = Array[Byte](0x7f, 0x7f, 0x7f)
    val rows = payloadDf(corrupt).select(gfn.from_avro_permissive(
      org.apache.spark.sql.functions.col("payload"), schemaJson).as("r")).collect()
    assert(rows.length == 1)
    assert(rows(0).isNullAt(0))
    // and a VALID payload still decodes on the same path
    val schema = AvroSchemaParser.parse(schemaJson).asInstanceOf[ARecord]
    val good = new AvroDatumWriter(schema).toBytes(AvroRecord(schema, Array[Any]("v")))
    val ok = payloadDf(good).select(gfn.from_avro_permissive(
      org.apache.spark.sql.functions.col("payload"), schemaJson).as("r")).collect()
    assert(ok(0).getStruct(0).getString(0) == "v")
  }

  test("PERMISSIVE corrupt-record mode retains the raw offending bytes") {
    val corrupt = Array[Byte](0x7f, 0x7f, 0x7f)
    val rows = payloadDf(corrupt).select(gfn.from_avro_permissive(
      org.apache.spark.sql.functions.col("payload"), schemaJson, "_corrupt_record")
      .as("r")).select("r.k", "r._corrupt_record").collect()
    assert(rows.length == 1)
    assert(rows(0).isNullAt(0), "data fields must be null on a corrupt row")
    assert(rows(0).getAs[Array[Byte]](1).toSeq == corrupt.toSeq,
      "the corrupt row must retain the exact raw datum bytes")
    // a clean payload decodes normally with a null corrupt field
    val schema = AvroSchemaParser.parse(schemaJson).asInstanceOf[ARecord]
    val good = new AvroDatumWriter(schema).toBytes(AvroRecord(schema, Array[Any]("v")))
    val ok = payloadDf(good).select(gfn.from_avro_permissive(
      org.apache.spark.sql.functions.col("payload"), schemaJson, "_corrupt_record")
      .as("r")).select("r.k", "r._corrupt_record").collect()
    assert(ok(0).getString(0) == "v")
    assert(ok(0).isNullAt(1), "clean rows must carry a null corrupt field")
    // FAILFAST ignores the corrupt column and still fails the batch
    intercept[Exception] {
      payloadDf(corrupt).select(org.apache.spark.sql.graft.Shims.column(
        graft.spark.AvroDecode(
          org.apache.spark.sql.graft.Shims.expression(
            org.apache.spark.sql.functions.col("payload")),
          schemaJson, None, "FAILFAST", Some("_corrupt_record")))).collect()
    }
  }

  test("generator OCF decode matches the array form across multiple blocks") {
    // >64 KB of datums forces multi-block payloads (sync-interval flush)
    val rows = (0 until 5000).map(i => s"value_$i" * 3)
    import spark.implicits._
    val df = rows.toDF("k")
    val valSchema = """{"type":"record","name":"KV","fields":[{"name":"k","type":"string"}]}"""
    val payloads = graft.spark.OcfSink.payloads(df, valSchema, "deflate", datumsPerPayload = 5000)
    assert(payloads.count() >= 1)
    val viaGenerator = payloads
      .select(gfn.avro_ocf_explode(org.apache.spark.sql.functions.col("payload"), valSchema))
      .orderBy("k").collect().map(_.getString(0))
    val viaArray = payloads
      .select(org.apache.spark.sql.functions.explode(
        gfn.avro_ocf_decode(org.apache.spark.sql.functions.col("payload"), valSchema)).as("r"))
      .select("r.k").orderBy("k").collect().map(_.getString(0))
    assert(viaGenerator.toSeq == rows.sorted)
    assert(viaArray.toSeq == viaGenerator.toSeq)
  }

  test("general-union encode: struct-of-members bytes equal kernel-written bytes") {
    // ["int","string"]: member position selects the write branch — the
    // engine-encoded datum must be byte-identical to the kernel writer's
    // first-validating-branch output (io.py:1306-1322 semantics)
    val unionJson = """["int","string"]"""
    val kernel = new AvroDatumWriter(AvroSchemaParser.parse(unionJson))
    import org.apache.spark.sql.functions.{col, struct, when, lit}
    import spark.implicits._
    val df = Seq((0, "zero"), (1, "one"), (2, "two"), (3, "three")).toDF("k", "s")
    val engineBytes = df.select(col("k"), gfn.to_avro(struct(
        when(col("k") % 2 === 0, col("k") * 11).as("member0"),
        when(col("k") % 2 =!= 0, col("s")).as("member1")), unionJson).as("p"))
      .orderBy("k").collect().map(_.getAs[Array[Byte]]("p"))
    val kernelBytes = Seq(0, 1, 2, 3).map { k =>
      kernel.toBytes(if (k % 2 == 0) k * 11 else Seq("zero", "one", "two", "three")(k))
    }
    engineBytes.zip(kernelBytes).zipWithIndex.foreach { case ((e, x), i) =>
      assert(e.sameElements(x), s"row $i: engine ${e.toSeq} != kernel ${x.toSeq}")
    }
    // and the engine decode closes the loop (member0 XOR member1 set)
    val back = df.select(col("k"), gfn.from_avro(gfn.to_avro(struct(
        when(col("k") % 2 === 0, col("k") * 11).as("member0"),
        when(col("k") % 2 =!= 0, col("s")).as("member1")), unionJson), unionJson).as("u"))
      .orderBy("k").collect()
    back.foreach { r =>
      val k = r.getInt(0)
      val u = r.getStruct(1)
      if (k % 2 == 0) { assert(u.getInt(0) == k * 11); assert(u.isNullAt(1)) }
      else { assert(u.isNullAt(0)); assert(!u.isNullAt(1)) }
    }
  }

  test("general-union: three branches incl. a record branch round-trip") {
    // ["int","string",record(x,y)] — one member set per row by k mod 3; the
    // record branch exercises the nested-struct write path and the kernel
    // byte-equality closes the encode side (io.py:1306-1322)
    val u3 =
      """["int","string",{"type":"record","name":"pt","fields":[
        |{"name":"x","type":"long"},{"name":"y","type":"long"}]}]""".stripMargin
    import org.apache.spark.sql.functions.{col, concat_ws, lit, struct, when}
    import spark.implicits._
    val df = (0 until 9).toDF("k")
    val members = struct(
      when(col("k") % 3 === 0, col("k") * 11).as("member0"),
      when(col("k") % 3 === 1, concat_ws("_", lit("s"), col("k"))).as("member1"),
      when(col("k") % 3 === 2,
        struct((col("k") * 2).cast("long").as("x"),
          (col("k") + 100).cast("long").as("y"))).as("member2"))
    val engineBytes = df.select(col("k"), gfn.to_avro(members, u3).as("p"))
      .orderBy("k").collect().map(_.getAs[Array[Byte]]("p"))
    val parsed = AvroSchemaParser.parse(u3)
    val kernel = new AvroDatumWriter(parsed)
    val ptRec = parsed.asInstanceOf[AUnion].branches(2).asInstanceOf[ARecord]
    val kernelBytes = (0 until 9).map { k =>
      kernel.toBytes(k % 3 match {
        case 0 => k * 11
        case 1 => s"s_$k"
        case _ => AvroRecord(ptRec, Array[Any](k * 2L, k + 100L))
      })
    }
    engineBytes.zip(kernelBytes).zipWithIndex.foreach { case ((e, x), i) =>
      assert(e.sameElements(x), s"row $i: engine ${e.toSeq} != kernel ${x.toSeq}")
    }
    val back = df.select(col("k"),
      gfn.from_avro(gfn.to_avro(members, u3), u3).as("u")).orderBy("k").collect()
    back.foreach { r =>
      val k = r.getInt(0)
      val u = r.getStruct(1)
      k % 3 match {
        case 0 => assert(u.getInt(0) == k * 11 && u.isNullAt(1) && u.isNullAt(2))
        case 1 => assert(u.isNullAt(0) && u.getString(1) == s"s_$k" && u.isNullAt(2))
        case _ =>
          assert(u.isNullAt(0) && u.isNullAt(1))
          val pt = u.getStruct(2)
          assert(pt.getLong(0) == k * 2L && pt.getLong(1) == k + 100L)
      }
    }
  }

  test("general-union encode: nullable union writes the null branch for all-null members") {
    val unionJson = """["null","int","string"]"""
    import org.apache.spark.sql.functions.{col, struct, when}
    import spark.implicits._
    val df = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "s")
    // k=2 sets neither member → null branch (index 0) on the wire
    val back = df.select(col("k"), gfn.from_avro(gfn.to_avro(struct(
        when(col("k") === 0, col("k") + 100).as("member0"),
        when(col("k") === 1, col("s")).as("member1")), unionJson), unionJson).as("u"))
      .orderBy("k").collect()
    assert(back(0).getStruct(1).getInt(0) == 100)
    assert(back(1).getStruct(1).getString(1) == "b")
    // the null branch decodes to a NULL struct (nullable-union contract),
    // not a struct of nulls
    assert(back(2).isNullAt(1))
  }

  test("general-union encode: wrong struct arity fails with a clear error") {
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._
    val df = Seq((1, "x")).toDF("k", "s")
    val e = intercept[Exception] {
      df.select(gfn.to_avro(struct(col("k")), """["int","string","boolean"]""")).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(c => Option(c.getMessage).getOrElse("")).getOrElse("")
    assert(msg.contains("union"), s"error must mention the union mismatch: $e")
  }

  test("primitive type names are reserved for named types") {
    for (bad <- Seq("int", "string", "null", "bytes")) {
      intercept[AvroSchemaParseException] {
        AvroSchemaParser.parse(s"""{"type":"record","name":"$bad","fields":[]}""")
      }
      intercept[AvroSchemaParseException] {
        AvroSchemaParser.parse(s"""{"type":"fixed","name":"$bad","size":4}""")
      }
    }
    // ...but a namespaced name that merely ENDS in a primitive word is fine
    assert(AvroSchemaParser.parse(
      """{"type":"fixed","name":"my.ns.int2","size":4}""").isInstanceOf[AFixed])
  }

  test("direct field match shadows an alias to the same slot (no corruption)") {
    // writer has BOTH the current name and the old aliased name: the direct
    // match wins, the alias-named writer field is skipped, never overwritten
    val writer = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},{"name":"old_a","type":"int"}]}""".stripMargin)
    val reader = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int","aliases":["old_a"]}]}""".stripMargin)
    val schema = writer.asInstanceOf[ARecord]
    val bytes = new AvroDatumWriter(schema).toBytes(AvroRecord(schema, Array[Any](1, 2)))
    val back = new AvroDatumReader(writer, Some(reader)).read(bytes).asInstanceOf[AvroRecord]
    assert(back.get("a") == 1) // direct value, not the skipped old_a=2
  }

  test("genuinely ambiguous alias resolution throws instead of last-write-wins") {
    // reader field aliases TWO distinct writer fields and matches neither
    // directly: whichever decoded last would silently win — must throw
    val writer = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"w1","type":"int"},{"name":"w2","type":"int"}]}""".stripMargin)
    val reader = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int","aliases":["w1","w2"]}]}""".stripMargin)
    val schema = writer.asInstanceOf[ARecord]
    val bytes = new AvroDatumWriter(schema).toBytes(AvroRecord(schema, Array[Any](1, 2)))
    intercept[AvroResolutionException] {
      new AvroDatumReader(writer, Some(reader)).read(bytes)
    }
  }

  test("duplicate alias declarations are harmless when direct matches cover all fields") {
    // both reader fields declare the same alias, but the writer matches both
    // directly — aliases are never consulted, so decode must succeed
    val writer = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"x","type":"int"},{"name":"y","type":"int"}]}""".stripMargin)
    val reader = AvroSchemaParser.parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"x","type":"int","aliases":["old"]},
        |{"name":"y","type":"int","aliases":["old"]}]}""".stripMargin)
    val schema = writer.asInstanceOf[ARecord]
    val bytes = new AvroDatumWriter(schema).toBytes(AvroRecord(schema, Array[Any](7, 9)))
    val back = new AvroDatumReader(writer, Some(reader)).read(bytes).asInstanceOf[AvroRecord]
    assert(back.get("x") == 7 && back.get("y") == 9)
  }

  test("JSON surfaces raise the kernel's exception for a corrupt datum") {
    // the valid datum {"s": "x", "e": "B", "u": 5} is 02 78 02 02 0a
    val js =
      """{"type":"record","name":"T","fields":[{"name":"s","type":"string"},
        |{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}},
        |{"name":"u","type":["null","long"]}]}""".stripMargin
    val eof = classOf[AvroEofException].getName
    val resolution = classOf[AvroResolutionException].getName
    val corrupt = Seq(
      ("truncated datum", Array[Byte](2, 'x', 2, 2), eof, "need 1 bytes at pos 4, have 0"),
      ("union index", Array[Byte](2, 'x', 2, 6, 10), resolution, "union branch index 3 out of range"),
      ("enum index", Array[Byte](2, 'x', 8, 2, 10), resolution, "enum index 4 out of range for E"),
      ("string length", Array[Byte](3, 'x'), eof, "bad string length -2"))
    val contentType = "application/vnd.t.v1+avro"
    val registry = graft.framing.SchemaRegistry.inMemory("s" -> js)
    import org.apache.spark.sql.functions.col
    def surfaces(datum: Array[Byte]): Seq[(String, () => Unit)] = {
      val ocf = Ocf.writePreEncoded(AvroSchemaParser.parse(js), Iterator(datum))
      // a graft-ocf scan of the datum, whole and with `u` projected away
      // (the scan then skips it); the plan is checked here, outside the
      // intercept below
      val dir = java.nio.file.Files.createTempDirectory("graft-errors-ocf").toFile
      java.nio.file.Files.write(new java.io.File(dir, "d.avro").toPath, ocf)
      val scans = for (cols <- Seq(Seq("s", "e", "u"), Seq("s", "e")))
        yield {
          val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath).select(cols.map(col): _*)
          assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
            df.queryExecution.executedPlan.toString)
          s"graft-ocf scan of ${cols.mkString(", ")}" -> (() => { df.collect(); () })
        }
      val kpl = graft.framing.KplDeaggregator.encode(graft.framing.KplDeaggregator.Aggregated(
        Seq("pk"), Nil, Seq(graft.framing.KplDeaggregator.KplRecord(0, None,
          graft.framing.SpringHeaders.frame(Seq("contentType" -> contentType), datum)))))
      val streams = spark.createDataFrame(
        java.util.Arrays.asList(Row("s", datum)),
        StructType(Seq(
          StructField("stream", org.apache.spark.sql.types.StringType),
          StructField("payload", BinaryType))))
      val decodes: Seq[(String, () => Unit)] = Seq(
        "from_avro" -> (() =>
          payloadDf(datum).select(gfn.from_avro(col("payload"), js)).collect()),
        "avro_ocf_decode" -> (() =>
          payloadDf(ocf).select(gfn.avro_ocf_decode(col("payload"), js)).collect()),
        "avro_decode_json" -> (() =>
          payloadDf(datum).select(gfn.avro_decode_json(col("payload"), js)).collect()),
        "avro_ocf_decode_json" -> (() =>
          payloadDf(ocf).select(gfn.avro_ocf_decode_json(col("payload"))).collect()),
        "spring_kpl_decode_all" -> (() =>
          payloadDf(kpl).select(gfn.spring_kpl_decode_all(col("payload"),
            Map(contentType -> js))).collect()),
        "registry_decode_json" -> (() =>
          streams.select(gfn.registry_decode_json(col("stream"), col("payload"), registry))
            .collect()))
      decodes ++ scans
    }
    // every surface on every row is checked, and every miss reported
    val misses = for {
      (what, datum, cls, msg) <- corrupt
      (surface, run) <- surfaces(datum)
      root = scala.util.Try(run()).failed.toOption.map(e =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last)
      if !root.exists(r => r.getClass.getName == cls && r.getMessage == msg)
    } yield s"$surface, $what: got ${root.getOrElse("no exception")}"
    assert(misses.isEmpty, misses.mkString("\n"))
  }

  test("encode errors: one class and message per fault, through to_avro and a graft-ocf write") {
    // each case writes one row whose column `f` holds the faulty value under
    // the record schema {f: <avro>}; to_avro encodes the row as a struct, the
    // graft-ocf sink as its data file's record, where `f` is a top-level
    // column (so a null in `f` itself reports its location as <value>)
    val nullHint = "; add a [\"null\", ...] union branch or filter nulls upstream"
    def nonNull(avro: String, where: String) = s"null value for non-nullable Avro $avro at $where$nullHint"
    val resolution = classOf[AvroResolutionException].getName
    val cases: Seq[(String, String, String, String, String)] = Seq(
      // (fault, Avro type of f, SQL value of f, to_avro message, graft-ocf message)
      ("null top-level field", "\"string\"", "IF(id < 0, 'x', NULL)",
        nonNull("string", "field 'f' of record R"), nonNull("string", "<value>")),
      ("null struct field",
        """{"type":"record","name":"S","fields":[{"name":"a","type":"string"}]}""",
        "named_struct('a', IF(id < 0, 'x', NULL))",
        nonNull("string", "field 'a' of record S"), nonNull("string", "field 'a' of record S")),
      ("null array item", """{"type":"array","items":"string"}""",
        "array('x', IF(id < 0, 'x', NULL))",
        nonNull("string", "array item"), nonNull("string", "array item")),
      ("null map value", """{"type":"map","values":"long"}""",
        "map('k', IF(id < 0, 1L, NULL))",
        nonNull("long", "map value"), nonNull("long", "map value")),
      ("fixed size", """{"type":"fixed","name":"F","size":4}""", "X'010203'",
        "fixed F expects 4 bytes, got 3", "fixed F expects 4 bytes, got 3"),
      ("enum symbol", """{"type":"enum","name":"E","symbols":["A","B"]}""", "'C'",
        "symbol C not in enum E", "symbol C not in enum E"),
      ("general union arity", """["int","string","boolean"]""", "named_struct('member0', 1)",
        "general Avro union with 3 branches expects a struct of as many members; " +
          "got STRUCT<member0: INT NOT NULL>",
        "general Avro union with 3 branches expects a struct of as many members; " +
          "got STRUCT<member0: INT NOT NULL>"),
      ("general union with no member", """["int","string"]""",
        "named_struct('member0', IF(id < 0, 1, NULL), 'member1', IF(id < 0, 'x', NULL))",
        "no non-null member for non-nullable Avro union",
        "no non-null member for non-nullable Avro union"))
    def rootOf(run: () => Unit): Option[Throwable] =
      scala.util.Try(run()).failed.toOption.map(e =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last)
    val misses = for {
      (fault, avro, value, toAvroMsg, sinkMsg) <- cases
      schema = s"""{"type":"record","name":"R","fields":[{"name":"f","type":$avro}]}"""
      df = spark.sql(s"SELECT $value AS f FROM range(1)")
      (surface, msg, run) <- Seq[(String, String, () => Unit)](
        ("to_avro", toAvroMsg, () => {
          df.select(gfn.to_avro(org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("f")), schema)).collect(); ()
        }),
        ("graft-ocf write", sinkMsg, () => df.write.format("graft-ocf").mode("append")
          .option("avroSchema", schema).save(java.nio.file.Files.createTempDirectory("graft-errors-enc").toString)))
      root = rootOf(run)
      if !root.exists(r => r.getClass.getName == resolution && r.getMessage == msg)
    } yield s"$surface, $fault: got ${root.getOrElse("no exception")}"
    assert(misses.isEmpty, misses.mkString("\n"))
  }
}
