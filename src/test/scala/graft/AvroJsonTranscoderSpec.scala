package graft

import graft.avro._
import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The JSON transcoder renders exactly what the generic path renders:
  * `AvroJson.render(new AvroDatumReader(w).read(bytes))` is the oracle for
  * every schema and every input, failures included. */
class AvroJsonTranscoderSpec extends AnyFunSuite {
  import AvroGen._

  /** The oracle's outcome: the JSON text, or the exception's class and message. */
  private def outcome(f: => String): Either[(Class[_], String), String] =
    try Right(f) catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  private def oracle(schema: AvroSchema, bytes: Array[Byte]) =
    outcome(AvroJson.render(new AvroDatumReader(schema).read(bytes)))
  private def transcoded(schema: AvroSchema, bytes: Array[Byte]) =
    outcome(new String(new AvroJsonTranscoder(schema).toJson(bytes), ISO_8859_1))

  private def same(schema: AvroSchema, bytes: Array[Byte]): Unit = {
    val want = oracle(schema, bytes)
    assert(transcoded(schema, bytes) == want, s"schema ${AvroSchemaParser.toJson(schema)}")
  }
  private def same(schemaJson: String, bytes: Array[Byte]): Unit =
    same(AvroSchemaParser.parse(schemaJson), bytes)

  /** Wire bytes built by hand: `long`s are zigzag varints, `str` is a
    * length-prefixed UTF-8 string, `raw` are bytes as is. */
  private final class Wire {
    private val w = new AvroBinaryWriter()
    def long(v: Long): Wire = { w.writeLong(v); this }
    def str(s: String): Wire = { w.writeString(s); this }
    def raw(b: Int*): Wire = { b.foreach(x => w.writeByte(x)); this }
    def double(d: Double): Wire = { w.writeDouble(d); this }
    def bytes: Array[Byte] = w.toByteArray
  }
  private def wire = new Wire

  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("é", "中", "😀", "\u007f", " ", "\u0001", "\u001f", "\"", "\\",
      "\n", "\t", "\r", "\b", "\f", "/", " ", "~"))).map(_.mkString)

  private def runProp(prop: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, res.status.toString)
  }

  test("random schema/datum pairs transcode byte-identically to the oracle") {
    val gen = for {
      schema <- genRecord(3)
      datum <- genDatum(schema, genText)
    } yield (schema, datum)
    runProp(Prop.forAll(gen) { case (schema, datum) =>
      val bytes = new AvroDatumWriter(schema).toBytes(datum)
      val want = oracle(schema, bytes)
      want.isRight && transcoded(schema, bytes) == want
    }, min = 500)
  }

  test("every truncation of a random datum fails with the oracle's exception") {
    val gen = for {
      schema <- genRecord(2)
      datum <- genDatum(schema, genText)
    } yield (schema, datum)
    runProp(Prop.forAll(gen) { case (schema, datum) =>
      val bytes = new AvroDatumWriter(schema).toBytes(datum)
      (0 until bytes.length).forall { n =>
        val cut = java.util.Arrays.copyOf(bytes, n)
        transcoded(schema, cut) == oracle(schema, cut)
      }
    }, min = 100)
  }

  test("promoted unions render the first matching branch") {
    // the int branch of ["long","int"] reads as a long: no truncation to int
    same("""["long","int"]""", wire.long(1).long(3000000000L).bytes)
    same("""["long","int"]""", wire.long(1).long(-7).bytes)
    same("""["float","int"]""", wire.long(1).long(16777217).bytes)
    same("""["double","long"]""", wire.long(1).long(Long.MaxValue).bytes)
    same("""["double","float"]""", wire.long(1).raw(0, 0, 0xc0, 0x3f).bytes)
    // the string branch of ["bytes","string"] renders as bytes, and the
    // bytes branch of ["string","bytes"] as a (U+FFFD-replaced) string
    same("""["bytes","string"]""", wire.long(1).str("é\"x").bytes)
    same("""["string","bytes"]""", wire.long(1).long(2).raw(0xff, 0x41).bytes)
    // a plain int branch after a date branch renders as a date
    same("""[{"type":"int","logicalType":"date"},"int"]""", wire.long(1).long(19000).bytes)
    same("""["null",{"type":"long","logicalType":"timestamp-micros"},"long"]""",
      wire.long(2).long(-1).bytes)
    assert(new String(new AvroJsonTranscoder(AvroSchemaParser.parse("""["long","int"]"""))
      .toJson(wire.long(1).long(3000000000L).bytes), ISO_8859_1) == "3000000000")
  }

  test("duplicate map keys keep the first position and the last value") {
    val m = """{"type":"map","values":"long"}"""
    same(m, wire.long(3).str("a").long(1).str("b").long(2).str("a").long(3).long(0).bytes)
    // across blocks, one of them sized
    val block = wire.str("b").long(5).bytes
    same(m, wire.long(2).str("a").long(1).str("b").long(2)
      .long(-1).long(block.length).raw(block.map(_ & 0xff): _*).long(0).bytes)
    // invalid UTF-8 keys that decode to the same U+FFFD string collide
    same(m, wire.long(2).long(1).raw(0xff).long(1).long(1).raw(0xfe).long(2).long(0).bytes)
    // more than 16 entries, and a map nested in a map
    val big = (0 until 40).foldLeft(wire.long(40)) { (w, i) => w.str(s"k${i % 23}").long(i) }
    same(m, big.long(0).bytes)
    same("""{"type":"map","values":{"type":"map","values":"long"}}""",
      wire.long(2).str("x").long(2).str("q").long(1).str("q").long(2).long(0)
        .str("x").long(1).str("r").long(3).long(0).long(0).bytes)
    assert(new String(new AvroJsonTranscoder(AvroSchemaParser.parse(m)).toJson(
      wire.long(3).str("a").long(1).str("b").long(2).str("a").long(3).long(0).bytes),
      ISO_8859_1) == """{"a": 3, "b": 2}""")
  }

  test("multi-block arrays and maps with negative counts") {
    val items = wire.long(7).long(8).bytes
    same("""{"type":"array","items":"long"}""",
      wire.long(-2).long(items.length).raw(items.map(_ & 0xff): _*).long(1).long(9).long(0).bytes)
    val entries = wire.str("k").str("v").bytes
    same("""{"type":"map","values":"string"}""",
      wire.long(-1).long(entries.length).raw(entries.map(_ & 0xff): _*)
        .long(1).str("j").str("w").long(0).bytes)
    same("""{"type":"array","items":"long"}""", wire.long(0).bytes)
    same("""{"type":"array","items":"long"}""", wire.long(Long.MinValue).long(0).bytes)
  }

  test("invalid UTF-8 and control chars") {
    val s = "\"string\""
    Seq(Seq(0xff), Seq(0xc3), Seq(0x41, 0xe2, 0x80), Seq(0xed, 0xa0, 0x80),
        Seq(0x01, 0x7f, 0x1f, 0x20, 0x7e), Seq(0x22, 0x5c, 0x0a, 0x0d, 0x09, 0x08, 0x0c),
        Seq(0xe2, 0x80, 0xa8), Seq(0xf0, 0x9f, 0x98, 0x80), Seq(0xc3, 0xa9, 0x41))
      .foreach { b => same(s, wire.long(b.length).raw(b: _*).bytes) }
    same("\"bytes\"", wire.long(4).raw(0x00, 0x7f, 0x80, 0xff).bytes)
    same("""{"type":"fixed","name":"F","size":3}""", wire.raw(0x22, 0xe9, 0x5c).bytes)
  }

  test("every logical type") {
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"L","fields":[
        |{"name":"dec","type":{"type":"bytes","logicalType":"decimal","precision":9,"scale":3}},
        |{"name":"decf","type":{"type":"fixed","name":"D","size":5,"logicalType":"decimal",
        |  "precision":9,"scale":2}},
        |{"name":"d","type":{"type":"int","logicalType":"date"}},
        |{"name":"tm","type":{"type":"int","logicalType":"time-millis"}},
        |{"name":"tu","type":{"type":"long","logicalType":"time-micros"}},
        |{"name":"tsm","type":{"type":"long","logicalType":"timestamp-millis"}},
        |{"name":"tsu","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"id","type":{"type":"string","logicalType":"uuid"}},
        |{"name":"o","type":["null",{"type":"int","logicalType":"date"}]}]}""".stripMargin)
    val rec = schema.asInstanceOf[ARecord]
    Seq(
      Array[Any](new java.math.BigDecimal("-1234.567"), new java.math.BigDecimal("12.30"),
        java.time.LocalDate.of(2024, 2, 29), java.time.LocalTime.of(23, 59, 58, 123000000),
        java.time.LocalTime.of(0, 0, 0, 1000), java.time.Instant.ofEpochMilli(-1),
        java.time.Instant.parse("2023-01-01T00:00:00.000001Z"),
        "123e4567-e89b-12d3-a456-426614174000", java.time.LocalDate.of(1969, 12, 31)),
      Array[Any](java.math.BigDecimal.ZERO.setScale(3), new java.math.BigDecimal("-0.01"),
        java.time.LocalDate.of(1, 1, 1), java.time.LocalTime.MIDNIGHT,
        java.time.LocalTime.of(12, 0), java.time.Instant.EPOCH,
        java.time.Instant.parse("1900-06-01T12:00:00Z"), "é", null)
    ).foreach(vs => same(schema, new AvroDatumWriter(schema).toBytes(AvroRecord(rec, vs))))
    // an invalid logical type degrades to its physical type on both paths
    same("""{"type":"bytes","logicalType":"decimal","precision":0}""", wire.long(1).raw(0x7f).bytes)
    // out-of-range values fail the same way
    same("""{"type":"int","logicalType":"time-millis"}""", wire.long(-1).bytes)
    same("""{"type":"bytes","logicalType":"decimal","precision":4,"scale":1}""", wire.long(0).bytes)
  }

  test("ints and longs render as their Java decimal strings") {
    // the oracle shares the digit writer, so check it against Long.toString
    val rnd = new scala.util.Random(7)
    val powers = (0 to 18).map(e => BigInt(10).pow(e).toLong)
    val values = Seq(Long.MaxValue, Long.MinValue, Long.MinValue + 1,
        Int.MaxValue.toLong, Int.MaxValue + 1L, Int.MinValue.toLong, Int.MinValue - 1L) ++
      powers.flatMap(p => Seq(p, p - 1, -p, 1 - p)) ++
      Seq.fill(2000)(rnd.nextLong() >> rnd.nextInt(64))
    val long = new AvroJsonTranscoder(ALong)
    val int = new AvroJsonTranscoder(AInt)
    values.foreach { v =>
      assert(new String(long.toJson(wire.long(v).bytes), ISO_8859_1) == v.toString)
      assert(new String(int.toJson(wire.long(v.toInt).bytes), ISO_8859_1) == v.toInt.toString)
    }
  }

  test("doubles and floats in each repr regime") {
    Seq(1e-05, 1e16, 1e23, -0.0, 0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e-4, 1e7, 12345678.5, 5e-324, 0.1 + 0.2, -2.5, 1e15)
      .foreach { d =>
        same("\"double\"", wire.double(d).bytes)
        val bits = java.lang.Float.floatToIntBits(d.toFloat)
        same("\"float\"", wire.raw(bits & 0xff, (bits >> 8) & 0xff, (bits >> 16) & 0xff,
          (bits >>> 24) & 0xff).bytes)
      }
    val doubles = Seq(1e-05, 1e16, 1e23, -0.0, Double.NaN, Double.PositiveInfinity)
    val w = doubles.foldLeft(wire.long(doubles.length))(_ double _).long(0)
    assert(new String(new AvroJsonTranscoder(AvroSchemaParser.parse(
      """{"type":"array","items":"double"}""")).toJson(w.bytes), ISO_8859_1) ==
      "[1e-05, 1e+16, 1e+23, -0.0, NaN, Infinity]")
  }

  test("recursive records, enums and an aliased record branch resolved with defaults") {
    val list = """{"type":"record","name":"Node","fields":[{"name":"v","type":"long"},
      |{"name":"next","type":["null","Node"]}]}""".stripMargin
    same(list, wire.long(1).long(1).long(2).long(1).long(3).long(0).bytes)
    same("""{"type":"enum","name":"E","symbols":["A","B"]}""", wire.long(1).bytes)
    same("""{"type":"array","items":{"type":"record","name":"Z","fields":[]}}""",
      wire.long(2).long(0).bytes)
    same("""{"type":"enum","name":"E","symbols":["A","B"]}""", wire.long(2).bytes)
    // branch 1 (R1) first matches R2, which aliases it: fields reorder,
    // "c" comes from its default, and R1's "x" is skipped
    val union =
      """[{"type":"record","name":"R2","aliases":["R1"],"fields":[
        |  {"name":"b","type":"string"},
        |  {"name":"c","type":{"type":"map","values":"double"},"default":{"z":1.5,"y":-0.0}},
        |  {"name":"a","type":"long"}]},
        | {"type":"record","name":"R1","fields":[
        |  {"name":"a","type":"int"},{"name":"x","type":{"type":"array","items":"string"}},
        |  {"name":"b","type":"string"}]}]""".stripMargin
    val r1 = wire.long(1).long(-5).long(2).str("p").str("q").long(0).str("bee").bytes
    same(union, r1)
    assert(new String(new AvroJsonTranscoder(AvroSchemaParser.parse(union)).toJson(r1),
      ISO_8859_1) == """{"b": "bee", "c": {"z": 1.5, "y": -0.0}, "a": -5}""")
    same(union, java.util.Arrays.copyOf(r1, r1.length - 2))
    // a field-less reader record skips every writer field
    same("""[{"type":"record","name":"Z2","aliases":["Z1"],"fields":[]},
      |{"type":"record","name":"Z1","fields":[{"name":"a","type":"string"}]}]""".stripMargin,
      wire.long(1).str("skipped").bytes)
  }

  test("an OCF's JSON matches the oracle, and a large one leaves no large buffer behind") {
    val schema = AvroSchemaParser.parse("""{"type":"array","items":"string"}""")
    val datums = (0 until 3).map(i => Vector(s"$i" * 400000, "\u00e9"))
    val ocf = Ocf.writeAll(schema, datums, "null")
    val json = AvroJsonTranscoder.ocfToJson(ocf)
    assert(json.length > AvroJsonTranscoder.MaxRetainedBuffer)
    val (_, back) = Ocf.readAll(ocf)
    assert(new String(json, ISO_8859_1) == back.map(AvroJson.render).mkString("[", ", ", "]"))
    assert(AvroJsonTranscoder.retainedBufferCapacity <= AvroJsonTranscoder.MaxRetainedBuffer)
    // a smaller text keeps the thread's buffer for the next call
    AvroJsonTranscoder.render(out => (0 until 4096).foreach(_ => out.writeByte('x')))
    assert(AvroJsonTranscoder.retainedBufferCapacity >= 4096)
  }

  test("two OCF payloads of one writer schema share one compiled transcoder") {
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"Once","fields":[{"name":"v","type":"long"}]}""")
    val rec = schema.asInstanceOf[ARecord]
    val payloads = Seq("null", "deflate").zipWithIndex.map { case (codec, i) =>
      Ocf.writeAll(schema, Seq(AvroRecord(rec, Array[Any](i.toLong))), codec) }
    val used = payloads.map { ocf =>
      var tc: AvroJsonTranscoder = null
      AvroJsonTranscoder.foreachDatum(ocf) { (t, in) => tc = t; t.write(in, new AvroBinaryWriter()) }
      tc
    }
    assert(used.forall(_ eq used.head))
    assert(used.head eq AvroJsonTranscoder.forWriter(Ocf.blockIterator(payloads.head)._1.schemaJson))
    assert(payloads.map(p => new String(AvroJsonTranscoder.ocfToJson(p), ISO_8859_1)) ==
      Seq("""[{"v": 0}]""", """[{"v": 1}]"""))
  }
}
