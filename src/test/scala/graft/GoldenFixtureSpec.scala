package graft

import graft.avro._
import graft.framing.{KplDeaggregator, SpringHeaders}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Golden-payload tests against the reference's own fixtures (SURVEY §5,
  * FIXTURES.md). The hex below is row 1 of
  * reference avro-file-udf/payload.json:11 — one complete OCF file. */
class GoldenFixtureSpec extends AnyFunSuite {

  val goldenOcfHex: String =
    "4f626a0104146176726f2e636f646563086e756c6c166176726f2e736368656d61ba037b22747970" +
    "65223a20227265636f7264222c20226e616d65223a202255736572222c20226e616d657370616365" +
    "223a20226578616d706c652e6176726f222c20226669656c6473223a205b7b2274797065223a2022" +
    "737472696e67222c20226e616d65223a20226e616d65227d2c207b2274797065223a205b22696e74" +
    "222c20226e756c6c225d2c20226e616d65223a20226661766f726974655f6e756d626572227d2c20" +
    "7b2274797065223a205b22737472696e67222c20226e756c6c225d2c20226e616d65223a20226661" +
    "766f726974655f636f6c6f72227d5d7d009eeefde491b1497c504abe61a8cc79c1042c0c416c7973" +
    "7361008004020642656e000e00067265649eeefde491b1497c504abe61a8cc79c1"

  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("golden OCF payload decodes to the Alyssa/Ben User records") {
    val (schema, datums) = Ocf.readAll(unhex(goldenOcfHex))
    assert(schema.asInstanceOf[ARecord].fullName == "example.avro.User")
    assert(datums.size == 2)
    val alyssa = datums(0).asInstanceOf[AvroRecord]
    assert(alyssa.get("name") == "Alyssa")
    assert(alyssa.get("favorite_number") == 256)
    assert(alyssa.get("favorite_color") == null)
    val ben = datums(1).asInstanceOf[AvroRecord]
    assert(ben.get("name") == "Ben")
    assert(ben.get("favorite_number") == 7)
    assert(ben.get("favorite_color") == "red")
  }

  test("golden OCF header metadata: codec null, embedded writer schema") {
    val in = new AvroBinaryReader(unhex(goldenOcfHex))
    val header = Ocf.readHeader(in)
    assert(header.codecName == "null")
    assert(header.schemaJson.contains("example.avro"))
    assert(header.sync.map("%02x".format(_)).mkString == "9eeefde491b1497c504abe61a8cc79c1")
  }

  test("JSON rendering matches Python json.dumps formatting (U1 contract)") {
    val (_, datums) = Ocf.readAll(unhex(goldenOcfHex))
    assert(AvroJson.render(datums(0)) ==
      """{"name": "Alyssa", "favorite_number": 256, "favorite_color": null}""")
    assert(AvroJson.renderAll(datums) ==
      """[{"name": "Alyssa", "favorite_number": 256, "favorite_color": null}, """ +
      """{"name": "Ben", "favorite_number": 7, "favorite_color": "red"}]""")
    // doubles: Python's shortest-repr forms, checked against python3
    // `json.dumps` (Java's Double.toString says 1.0E-4, 1.23456785E7, ...)
    Seq(
      1e-4 -> "0.0001", 2.5e-5 -> "2.5e-05", 12345678.5 -> "12345678.5",
      123456789012.25 -> "123456789012.25", 1e15 -> "1000000000000000.0",
      1e16 -> "1e+16", 1e22 -> "1e+22", -0.0 -> "-0.0", 0.0 -> "0.0",
      1e23 -> "1e+23", 8.41e21 -> "8.41e+21", 5e-324 -> "5e-324",
      1.7976931348623157e308 -> "1.7976931348623157e+308", -1e-7 -> "-1e-07",
      1.1e-4 -> "0.00011", 1e7 -> "10000000.0", 123456789.0 -> "123456789.0",
      0.001 -> "0.001", 9999999.999 -> "9999999.999", 4.35 -> "4.35",
      0.1 + 0.2 -> "0.30000000000000004", -2.5 -> "-2.5",
      Double.NaN -> "NaN", Double.PositiveInfinity -> "Infinity"
    ).foreach { case (d, want) =>
      assert(AvroJson.render(d) == want, s"$d")
    }
  }

  test("registry bare-datum fixture: Moiraine round-trip to exact JSON (U3)") {
    // (reference: glue-schema-per-stream-udf/lambda_function.py:66-95)
    val schemaJson =
      """{"type": "record", "name": "User", "namespace": "example.avro", "fields": [
        |{"type": "string", "name": "name"},
        |{"type": ["int", "null"], "name": "favorite_number"},
        |{"type": ["string", "null"], "name": "favorite_color"}]}""".stripMargin
    val schema = AvroSchemaParser.parse(schemaJson).asInstanceOf[ARecord]
    val datum = AvroRecord(schema, Array[Any]("Moiraine", 4, "Blue"))
    val bytes = new AvroDatumWriter(schema).toBytes(datum)
    val decoded = new AvroDatumReader(schema).read(bytes)
    assert(AvroJson.render(decoded) ==
      """{"name": "Moiraine", "favorite_number": 4, "favorite_color": "Blue"}""")
  }

  test("Spring embedded-header golden bytes (verbatim from the reference test)") {
    // (reference: springcloud-lambda-udf/lambda_function.py:250-259)
    val payload = Array[Byte](0xff.toByte, 0x02) ++
      Array[Byte](0x03) ++ "foo".getBytes ++ Array[Byte](0, 0, 0, 0x05) ++ "\"bar\"".getBytes ++
      Array[Byte](0x03) ++ "baz".getBytes ++ Array[Byte](0, 0, 0, 0x06) ++ "\"quxx\"".getBytes ++
      "Hello".getBytes
    val ex = SpringHeaders.extract(payload)
    assert(ex.headers == Map("foo" -> "bar", "baz" -> "quxx"))
    assert(new String(ex.body, "UTF-8") == "Hello")
    // inverse framing reproduces the golden bytes
    assert(java.util.Arrays.equals(
      SpringHeaders.frame(Seq("foo" -> "bar", "baz" -> "quxx"), "Hello".getBytes), payload))
  }

  test("content-type → registry URL (reference test_get_registry_url)") {
    // (reference: springcloud-lambda-udf/lambda_function.py:262-266)
    assert(SpringHeaders.registryUrl("example.com", "application/vnd.person.v1+avro")
      .contains("https://example.com/services/avro-schema-registry/person/avro/v1"))
    assert(SpringHeaders.parseContentType("not-a-content-type").isEmpty)
  }

  test("KPL aggregated record: encode → deaggregate round-trip") {
    // the reference's binary fixture is absent from its repo (FIXTURES.md §4);
    // synthesize per aggregated_record.proto and round-trip
    val sub1 = "payload-one".getBytes
    val sub2 = "payload-two".getBytes
    val agg = KplDeaggregator.Aggregated(
      partitionKeys = Seq("pk0"), explicitHashKeys = Seq("ehk0"),
      records = Seq(
        KplDeaggregator.KplRecord(0, Some(0), sub1),
        KplDeaggregator.KplRecord(0, None, sub2)))
    val bytes = KplDeaggregator.encode(agg)
    val back = KplDeaggregator.decode(bytes)
    assert(back.partitionKeys == Seq("pk0"))
    assert(back.records.map(r => new String(r.data)) == Seq("payload-one", "payload-two"))
    assert(KplDeaggregator.subPayloads(bytes).map(new String(_)) ==
      Seq("payload-one", "payload-two"))
  }

  test("full Spring/KPL pipeline: KPL → headers → registry → Avro datum (U4)") {
    // (reference: springcloud-lambda-udf/lambda_function.py:171-219 + :269-291)
    val schemaJson = """{"type":"record","name":"KV","fields":[
      |{"name":"my_message_key","type":"string"}]}""".stripMargin
    val schema = AvroSchemaParser.parse(schemaJson).asInstanceOf[ARecord]
    val body = new AvroDatumWriter(schema).toBytes(
      AvroRecord(schema, Array[Any]("my_message_value")))
    val framed = SpringHeaders.frame(
      Seq("contentType" -> "application/vnd.kv.v1+avro"), body)
    val kpl = KplDeaggregator.encode(KplDeaggregator.Aggregated(
      Seq("pk"), Nil, Seq(KplDeaggregator.KplRecord(0, None, framed))))

    val registry = graft.framing.SchemaRegistry.inMemory(
      "application/vnd.kv.v1+avro" -> schemaJson)
    val results = KplDeaggregator.subPayloads(kpl).map { sub =>
      val ex = SpringHeaders.extract(sub)
      val s = registry.get(ex.headers("contentType"))
      new AvroDatumReader(s).read(ex.body)
    }
    assert(results.map(AvroJson.render) == Seq("""{"my_message_key": "my_message_value"}"""))
  }
}
