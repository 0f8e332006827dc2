package graft

import graft.avro._
import org.scalacheck.Gen
import scala.collection.mutable
import java.util.concurrent.atomic.AtomicLong

/** Random Avro schemas and datums for the property specs. */
object AvroGen {
  val nameCounter = new AtomicLong(0)
  def freshName(prefix: String): String = s"$prefix${nameCounter.incrementAndGet()}"

  // ---- schema generator ---------------------------------------------------

  val genPrimitive: Gen[AvroSchema] =
    Gen.oneOf(ABoolean, AInt, ALong, AFloat, ADouble, ABytes, AString)

  def genEnum: Gen[AvroSchema] = for {
    n <- Gen.choose(1, 5)
  } yield AEnum(freshName("E"), None, (0 until n).map(i => s"S$i"))

  def genFixed: Gen[AvroSchema] = for {
    size <- Gen.choose(0, 8)
  } yield AFixed(freshName("F"), None, size)

  /** Unions keep Avro's constraints (no nested unions, one branch per
    * unnamed type) and additionally use runtime-DISJOINT branches: the
    * writer picks the first branch the datum validates against, and an Int
    * validates as long (Float as double), so int|long unions don't
    * round-trip the runtime type — pick at most one of each family. */
  def genUnion: Gen[AvroSchema] = for {
    numeric <- Gen.oneOf[AvroSchema](AInt, ALong)
    fp <- Gen.oneOf[AvroSchema](AFloat, ADouble)
    branches <- Gen.pick(2, Seq(numeric, fp, AString, ABoolean))
    nullable <- Gen.oneOf(true, false)
  } yield AUnion((if (nullable) Seq(ANull) else Nil) ++ branches.toSeq)

  def genSchema(depth: Int): Gen[AvroSchema] =
    if (depth <= 0) genPrimitive
    else Gen.frequency(
      5 -> genPrimitive,
      1 -> genEnum,
      1 -> genFixed,
      1 -> genUnion,
      2 -> Gen.lzy(genSchema(depth - 1).map(AArray(_))),
      2 -> Gen.lzy(genSchema(depth - 1).map(AMap(_))),
      2 -> Gen.lzy(genRecord(depth - 1)))

  def genRecord(depth: Int): Gen[ARecord] = for {
    n <- Gen.choose(1, 5)
    fields <- Gen.sequence[Seq[AField], AField](
      (0 until n).map(i => genSchema(depth).map(s => AField(s"f$i", s))))
  } yield ARecord(freshName("R"), Some("prop.test"), fields)

  // ---- datum generator ----------------------------------------------------

  val genUtf: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf('é', '中', '\n', '"', '\\', ' '))).map(_.mkString)

  def genDatum(s: AvroSchema, text: Gen[String] = genUtf): Gen[Any] = s match {
    case ANull     => Gen.const(null)
    case ABoolean  => Gen.oneOf(true, false)
    case AInt      => Gen.choose(Int.MinValue, Int.MaxValue)
    case ALong     => Gen.choose(Long.MinValue, Long.MaxValue)
    case AFloat    => Gen.oneOf(Gen.choose(-1e30, 1e30).map(_.toFloat), Gen.oneOf(0.0f, -0.0f, Float.MinPositiveValue))
    case ADouble   => Gen.oneOf(Gen.choose(-1e300, 1e300), Gen.oneOf(0.0, -0.0, Double.MinPositiveValue))
    case ABytes    => Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    case AString   => text
    case e: AEnum  => Gen.oneOf(e.symbols)
    case f: AFixed => Gen.listOfN(f.size, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    case AArray(items) => Gen.resize(4, Gen.listOf(Gen.lzy(genDatum(items, text)))).map(_.toVector)
    case AMap(values) => for {
      n <- Gen.choose(0, 3)
      ks <- Gen.listOfN(n, Gen.identifier)
      vs <- Gen.sequence[Seq[Any], Any](ks.map(_ => Gen.lzy(genDatum(values, text))))
    } yield mutable.LinkedHashMap(ks.distinct.zip(vs).toSeq: _*)
    case u: AUnion => Gen.oneOf(u.branches).flatMap(b => Gen.lzy(genDatum(b, text)))
    case r: ARecord => Gen.sequence[Seq[Any], Any](r.fields.map(f => Gen.lzy(genDatum(f.schema, text))))
      .map(vs => AvroRecord(r, vs.toArray))
    case r: ARef => Gen.lzy(genDatum(r.target, text))
    case l: LogicalSchema => Gen.lzy(genDatum(l.underlying, text))
  }

  val genSchemaAndDatum: Gen[(ARecord, AvroRecord)] = for {
    schema <- genRecord(2)
    datum <- genDatum(schema)
  } yield (schema, datum.asInstanceOf[AvroRecord])
}
