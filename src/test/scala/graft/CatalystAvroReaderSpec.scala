package graft

import graft.avro._
import graft.spark.{CatalystAvroReader, SchemaConverters, functions => gfn}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import scala.util.Try

/** The compiled Catalyst decoder against the generic reader: for random
  * (writer, reader) pairs, decoding the wire bytes straight to Catalyst
  * values equals decoding them to a generic datum and converting that. */
class CatalystAvroReaderSpec extends AnyFunSuite {
  import AvroGen._

  /** Catalyst values compared by content; boxed scalars must also agree on
    * their class, so an Integer where a Long belongs is a mismatch. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: GenericInternalRow, y: GenericInternalRow) => sameAll(x.values, y.values)
    case (x: GenericArrayData, y: GenericArrayData) => sameAll(x.array, y.array)
    case (x: ArrayBasedMapData, y: ArrayBasedMapData) =>
      same(x.keyArray, y.keyArray) && same(x.valueArray, y.valueArray)
    case (null, _) | (_, null) => false
    case (x, y) => x.equals(y)
  }
  private def sameAll(x: Array[Any], y: Array[Any]): Boolean =
    x.length == y.length && x.indices.forall(i => same(x(i), y(i)))

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** A decode's value, or the class of what it threw. */
  private def outcome(t: Try[Any]): Either[String, Any] =
    t.fold(e => Left(e.getClass.getName), v => Right(v))
  private def agree(a: Either[String, Any], b: Either[String, Any]): Boolean = (a, b) match {
    case (Left(x), Left(y)) => x == y
    case (Right(x), Right(y)) => same(x, y)
    case _ => false
  }

  private def runProp(prop: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, res.status.toString)
  }

  private def agrees(writer: AvroSchema, reader: AvroSchema, datum: Any): Prop = {
    val bytes = new AvroDatumWriter(writer).toBytes(datum)
    val direct = CatalystAvroReader.compile(writer, reader)(new AvroBinaryReader(bytes))
    val generic = CatalystAvroReader.toCatalyst(
      new AvroDatumReader(writer, Some(reader)).read(bytes), reader)
    Prop(same(direct, generic)) :| s"writer ${writer.canonical}, reader ${reader.canonical}"
  }

  /** The reader-side image of `s` under one Avro promotion per type, or,
    * for a fixed or an enum, a reader the generic reader decodes it under by
    * the writer. bytes to string is left out: the generic reader replaces
    * malformed UTF-8 while Catalyst keeps the raw bytes, as Spark's strings
    * do. */
  private def promoted(s: AvroSchema): AvroSchema = s match {
    case AInt => ALong
    case ALong => ADouble
    case AFloat => ADouble
    case AString => ABytes
    case _: AFixed => ABytes
    case _: AEnum => AString
    case AArray(items) => AArray(promoted(items))
    case AMap(values) => AMap(promoted(values))
    case AUnion(branches) => AUnion(branches.map(promoted))
    case r: ARecord => r.copy(fields = r.fields.map(f => f.copy(schema = promoted(f.schema))))
    case other => other
  }

  test("random writer = reader pairs decode as the generic reader converts") {
    runProp(Prop.forAll(genSchemaAndDatum) { case (schema, datum) =>
      agrees(schema, schema, datum)
    }, min = 200)
  }

  test("reader projections and promotions decode as the generic reader converts") {
    val gen = for {
      (schema, datum) <- genSchemaAndDatum
      drop <- Gen.choose(-1, schema.fields.length - 1)
      promote <- Gen.listOfN(schema.fields.length, Gen.oneOf(true, false))
    } yield {
      val kept = schema.fields.zipWithIndex.collect {
        case (f, i) if i != drop || schema.fields.length == 1 =>
          if (promote(i)) f.copy(schema = promoted(f.schema)) else f
      }
      (schema, ARecord(schema.name, schema.namespace, kept), datum)
    }
    runProp(Prop.forAll(gen) { case (writer, reader, datum) =>
      agrees(writer, reader, datum)
    }, min = 200)
  }

  test("every scalar pair decodes as the generic reader converts") {
    val fixed = AFixed("F", None, 4)
    val scalars: Seq[(AvroSchema, Any)] = Seq(
      ANull -> null, ABoolean -> true, AInt -> 7, ALong -> 7L, AFloat -> 1.5f, ADouble -> 2.5,
      ABytes -> utf8("abc"), AString -> "xyz", fixed -> utf8("wxyz"),
      AEnum("E", None, Seq("A", "B")) -> "B",
      ADecimal(9, 2, ABytes) -> Array[Byte](1, 2), ADecimal(9, 2, fixed) -> Array[Byte](0, 0, 1, 2),
      ADate() -> 7, ATimeMillis() -> 7, ATimeMicros() -> 7L, ATimestampMillis() -> 7L,
      ATimestampMicros() -> 7L, AUuid() -> "u-1")
    def raw(d: Any): Array[Byte] = d match {
      case s: String => utf8(s)
      case b: Array[Byte] => b
    }
    // where the generic value does not have the reader's Catalyst type the
    // decoder holds the reader's: an int promoted to a long-backed logical
    // reader, a string promoted to a bytes decimal, and a string, uuid,
    // bytes, fixed or enum value under a string, enum or uuid reader (a
    // UTF8String) or under a bytes or fixed reader (a byte array)
    def fitted(w: AvroSchema, d: Any, r: AvroSchema): Option[Any] = (w, r) match {
      case (AInt, ATimestampMillis(_)) => Some(d.asInstanceOf[Int] * 1000L)
      case (AInt, ATimestampMicros(_) | ATimeMicros(_)) => Some(d.asInstanceOf[Int].toLong)
      case (AString, ADecimal(p, s, ABytes)) =>
        Some(Decimal(new java.math.BigDecimal(new java.math.BigInteger(raw(d)), s), p, s))
      case (AString | _: AUuid | ABytes | _: AFixed | _: AEnum, AString | _: AEnum | _: AUuid) =>
        Some(UTF8String.fromBytes(raw(d)))
      case (AString | _: AUuid | ABytes | _: AFixed | _: AEnum, ABytes | _: AFixed) => Some(raw(d))
      case _ => None
    }
    // a pair whose value would not have the class the reader's Catalyst
    // slot holds is refused when the plan compiles (reference: io.py
    // read_data's resolution error); a null fits only a null reader
    def fits(v: Any, r: AvroSchema): Boolean =
      (v == null && r == ANull) || ((SchemaConverters.toSqlType(r).dataType, v) match {
        case (BooleanType, _: Boolean) | (FloatType, _: Float) | (DoubleType, _: Double) => true
        case (IntegerType | DateType, _: Int) | (LongType | TimestampType, _: Long) => true
        case (StringType, _: UTF8String) | (BinaryType, _: Array[Byte]) => true
        case (_: DecimalType, _: Decimal) => true
        case _ => false
      })
    val refused = Left(classOf[AvroResolutionException].getName)
    val failures = for {
      (w, d) <- scalars
      r <- scalars.map(_._1)
      bytes = new AvroDatumWriter(w.physical).toBytes(d)
      direct = outcome(Try(CatalystAvroReader.compile(w, r)(new AvroBinaryReader(bytes))))
      // a writer logical type decodes as itself, whatever the reader
      expected = outcome(Try(new AvroDatumReader(w, Some(r)).read(bytes)).map(v =>
        fitted(w, d, r).getOrElse(CatalystAvroReader.toCatalyst(v, w match {
          case _: LogicalSchema => w
          case _ => r
        })))) match {
        case Right(v) if !fits(v, r) => refused
        case other => other
      }
      // a ["null", T] reader holds a T, so it reads every writer but null
      // as T does, including one that matches no branch (the generic reader
      // rejects it); a null writer takes its null branch
      nullable = outcome(Try(CatalystAvroReader.compile(w, AUnion(Seq(ANull, r)))(
        new AvroBinaryReader(bytes))))
      (what, got, want) <- Seq(("", direct, expected)) ++
        (if (r == ANull) Nil
        else Seq((" as [null, T]", nullable, if (w == ANull) Right(null) else direct)))
      if !agree(got, want)
    } yield s"writer $w, reader $r$what: got $got, expected $want"
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a nullable writer's branch fails under a nullable reader that does not match it") {
    // (reference: io.py read_union reads the writer's branch against the
    // whole reader union, and read_data fails where no reader branch matches
    // it) a branch the reader matches reads as a plain writer of that type
    // does; any other fails when a datum uses it, never as a value of the
    // wrong type in the reader's slot
    val fixed = AFixed("F", None, 4)
    val values: Seq[(AvroSchema, Any)] = Seq(
      AInt -> 7, ALong -> 7L, AFloat -> 1.5f, ABytes -> utf8("abcd"), AString -> "wxyz",
      fixed -> utf8("wxyz"), AEnum("E", None, Seq("A", "B")) -> "B", AUuid() -> "u-1")
    val misses = for {
      (w, d) <- values
      r <- values.map(_._1)
      reader = AUnion(Seq(ANull, r))
      body = new AvroDatumWriter(w.physical).toBytes(d)
      // branch 1 of ["null", W] is the zigzag varint 2, then W's bytes
      got = Try(CatalystAvroReader.compile(AUnion(Seq(ANull, w)), reader)(
        new AvroBinaryReader(Array[Byte](2) ++ body)))
      ok =
        if (AvroResolution.matches(w, reader)) agree(outcome(got),
          outcome(Try(CatalystAvroReader.compile(w, reader)(new AvroBinaryReader(body)))))
        else got.failed.toOption.exists(e => e.isInstanceOf[AvroResolutionException] &&
          e.getMessage == s"writer union branch ${w.typeName} not readable as union")
      if !ok
    } yield s"writer [null, $w], reader [null, $r]: got ${got.fold(e => e.toString, _.toString)}"
    assert(misses.isEmpty, misses.mkString("\n"))
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-catalyst-avro-reader-spec")
    .getOrCreate()

  test("from_avro promotes a writer int under a reader long-backed logical type") {
    val writer =
      """{"type":"record","name":"T","fields":[{"name":"a","type":"int"},
        |{"name":"b","type":"int"},{"name":"c","type":"int"}]}""".stripMargin
    val reader =
      """{"type":"record","name":"T","fields":[
        |{"name":"a","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"b","type":{"type":"long","logicalType":"timestamp-millis"}},
        |{"name":"c","type":{"type":"long","logicalType":"time-micros"}}]}""".stripMargin
    val w = AvroSchemaParser.parse(writer).asInstanceOf[ARecord]
    val bytes = new AvroDatumWriter(w).toBytes(AvroRecord(w, Array[Any](5, 7, 9)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(bytes)),
      StructType(Seq(StructField("payload", BinaryType))))
    val got = df.select(gfn.from_avro(col("payload"), writer, reader).as("r"))
      .select(expr("unix_micros(r.a)"), expr("unix_micros(r.b)"), col("r.c"))
      .collect().toSeq
    assert(got == Seq(Row(5L, 7000L, 9L)))
  }
}
