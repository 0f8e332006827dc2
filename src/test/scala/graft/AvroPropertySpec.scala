package graft

import graft.avro._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests over the Avro type algebra: random schema → random datum →
  * encode → decode → equality, plus parser/canonical-form round-trips.
  * Generalizes the reference's single-fixture round-trip test
  * (reference: glue-schema-per-stream-udf/lambda_function.py:66-95) to the
  * whole algebra — SURVEY §5's "where we exceed the reference". */
class AvroPropertySpec extends AnyFunSuite {
  import AvroGen._


  // ---- structural equality (Array[Byte]-aware; union branches untagged) ---

  private def deepEquals(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: AvroRecord, y: AvroRecord) =>
      x.values.length == y.values.length &&
        x.values.zip(y.values).forall { case (u, v) => deepEquals(u, v) }
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) =>
        y.asInstanceOf[scala.collection.Map[Any, Any]].get(k).exists(deepEquals(v, _)) }
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => deepEquals(u, v) }
    case (x, y) => x == y
  }

  private def runProp(prop: Prop, min: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- properties ---------------------------------------------------------

  test("encode→decode round-trips any schema/datum pair (wire-format total)") {
    runProp(Prop.forAll(genSchemaAndDatum) { case (schema, datum) =>
      val bytes = new AvroDatumWriter(schema).toBytes(datum)
      val back = new AvroDatumReader(schema).read(bytes)
      deepEquals(datum, back)
    })
  }

  test("schema JSON round-trips through the parser with identical canonical form") {
    runProp(Prop.forAll(genRecord(2)) { schema =>
      val reparsed = AvroSchemaParser.parse(AvroSchemaParser.toJson(schema))
      reparsed.canonical == schema.canonical &&
        reparsed.fingerprint == schema.fingerprint
    })
  }

  test("reader projection: dropping any field decodes the rest unchanged") {
    val gen = for {
      (schema, datum) <- genSchemaAndDatum
      if schema.fields.length >= 2
      drop <- Gen.choose(0, schema.fields.length - 1)
    } yield (schema, datum, drop)
    runProp(Prop.forAll(gen) { case (schema, datum, drop) =>
      val reader = ARecord(schema.name, schema.namespace,
        schema.fields.zipWithIndex.collect { case (f, i) if i != drop => f })
      val bytes = new AvroDatumWriter(schema).toBytes(datum)
      val back = new AvroDatumReader(schema, Some(reader)).read(bytes).asInstanceOf[AvroRecord]
      val expected = datum.values.zipWithIndex.collect { case (v, i) if i != drop => v }
      back.values.length == expected.length &&
        back.values.zip(expected).forall { case (u, v) => deepEquals(u, v) }
    }, min = 100)
  }

  test("compatibility checker accepts identical random schemas") {
    runProp(Prop.forAll(genRecord(2)) { schema =>
      // parse twice so object identity differs (exercises structural path)
      val a = AvroSchemaParser.parse(AvroSchemaParser.toJson(schema))
      val b = AvroSchemaParser.parse(AvroSchemaParser.toJson(schema))
      Compatibility.check(a, b).isCompatible
    }, min = 100)
  }
}
