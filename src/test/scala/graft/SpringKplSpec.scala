package graft

import graft.avro._
import graft.framing.{KplDeaggregator, SpringHeaders}
import graft.spark.{functions => gfn}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** U4 as ONE expression: `spring_kpl_decode_all` reproduces the reference
  * Lambda's one-input-row → one-JSON-array contract, including mixed content
  * types inside a single KPL aggregate.
  * (reference: springcloud-lambda-udf/lambda_function.py:171-219.) */
class SpringKplSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-springkpl-spec")
    .getOrCreate()

  private val kvSchema = """{"type":"record","name":"KV","fields":[
    |{"name":"my_message_key","type":"string"}]}""".stripMargin
  private val ptSchema = """{"type":"record","name":"Pt","fields":[
    |{"name":"x","type":"int"},{"name":"y","type":"int"}]}""".stripMargin

  private def frame(schemaJson: String, contentType: String, values: Array[Any]): Array[Byte] = {
    val schema = AvroSchemaParser.parse(schemaJson).asInstanceOf[ARecord]
    val body = new AvroDatumWriter(schema).toBytes(AvroRecord(schema, values))
    SpringHeaders.frame(Seq("contentType" -> contentType), body)
  }

  test("one KPL row with mixed content types decodes to one JSON array") {
    val kpl = KplDeaggregator.encode(KplDeaggregator.Aggregated(
      Seq("pk"), Nil, Seq(
        KplDeaggregator.KplRecord(0, None,
          frame(kvSchema, "application/vnd.kv.v1+avro", Array[Any]("my_message_value"))),
        KplDeaggregator.KplRecord(0, None,
          frame(ptSchema, "application/vnd.pt.v1+avro", Array[Any](3, 4))))))

    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(kpl)),
      StructType(Seq(StructField("payload", BinaryType))))
    val out = df.select(gfn.spring_kpl_decode_all(org.apache.spark.sql.functions.col("payload"),
        Map("application/vnd.kv.v1+avro" -> kvSchema,
            "application/vnd.pt.v1+avro" -> ptSchema)).as("json"))
      .collect()

    assert(out.length == 1) // the one-row contract: N sub-records, ONE array
    assert(out(0).getString(0) ==
      """[{"my_message_key": "my_message_value"}, {"x": 3, "y": 4}]""")
  }

  test("unknown content type fails the row (reference batch-failure contract)") {
    val kpl = KplDeaggregator.encode(KplDeaggregator.Aggregated(
      Seq("pk"), Nil, Seq(KplDeaggregator.KplRecord(0, None,
        frame(kvSchema, "application/vnd.unknown.v1+avro", Array[Any]("v"))))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(kpl)),
      StructType(Seq(StructField("payload", BinaryType))))
    val e = intercept[Exception] {
      df.select(gfn.spring_kpl_decode_all(org.apache.spark.sql.functions.col("payload"),
        Map("application/vnd.kv.v1+avro" -> kvSchema))).collect()
    }
    assert(e.getMessage != null)
  }

  private val twoRecords = KplDeaggregator.encode(KplDeaggregator.Aggregated(
    Seq("pk"), Nil, Seq(KplDeaggregator.KplRecord(0, None, "one".getBytes),
      KplDeaggregator.KplRecord(0, None, "two".getBytes))))
  private def bytes(b: Int*): Array[Byte] = b.map(_.toByte).toArray

  test("a KPL payload whose MD5 trailer does not match is one non-aggregated record") {
    val magic = bytes(0xf3, 0x89, 0x9a, 0xc2)
    val framed = magic ++ twoRecords ++
      java.security.MessageDigest.getInstance("MD5").digest(twoRecords)
    assert(KplDeaggregator.subPayloads(framed).map(new String(_)) == Seq("one", "two"))
    val flipped = framed.clone()
    flipped(flipped.length - 3) = (flipped(flipped.length - 3) ^ 0x10).toByte
    assert(KplDeaggregator.subPayloads(flipped).map(_.toSeq) == Seq(flipped.toSeq))
  }

  test("a KPL field that runs past the end of its message throws") {
    // unknown fields 9 of wire types 2, 1 and 5, each cut short
    Seq(bytes(0x4a, 100, 1, 2, 3), bytes(0x49, 1, 2, 3), bytes(0x4d, 1, 2)).foreach { tail =>
      val e = intercept[IllegalArgumentException](KplDeaggregator.decode(twoRecords ++ tail))
      assert(e.getMessage.startsWith("truncated protobuf"), e.getMessage)
    }
    // inside a record: pk index 0, data "a", then a fixed32 with one byte left
    val record = bytes(0x08, 0x00, 0x1a, 0x01, 'a', 0x4d, 0x01)
    val e = intercept[IllegalArgumentException](
      KplDeaggregator.decode(bytes(0x1a, record.length) ++ record))
    assert(e.getMessage.startsWith("truncated protobuf"), e.getMessage)
  }

  test("a negative or overflowing KPL length throws") {
    // field 3 (records) of length -1, a ten-byte varint
    val negative = bytes(0x1a) ++ Array.fill(9)(0xff.toByte) ++ bytes(0x01, 0x00)
    // field 1 (partition key) of length 2^32 + 1, which truncates to 1
    val overflowing = bytes(0x0a, 0x81, 0x80, 0x80, 0x80, 0x10, 'k')
    Seq(negative -> "bad protobuf length -1", overflowing -> "bad protobuf length 4294967297")
      .foreach { case (payload, msg) =>
        val e = intercept[IllegalArgumentException](KplDeaggregator.decode(payload))
        assert(e.getMessage == msg)
      }
  }
}
