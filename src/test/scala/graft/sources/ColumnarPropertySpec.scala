package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property fuzz over the vectorized lane (X91/X105): random flat schemas
  * (every columnar-eligible type, nullable and plain) x random rows
  * (nulls, NaN, negative/zero-scale decimals, empty strings/bytes) written
  * through the real sink, then read back through BOTH lanes — the columnar
  * batch decode must be value-identical to the row reader on the full
  * projection, on a random pruned projection, and under an upsert's
  * equality deletes. Generalizes OcfColumnarSpec's fixed fixtures the way
  * AvroPropertySpec generalizes the kernel round-trip. */
class ColumnarPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-columnar-prop-spec")
    .getOrCreate()

  private def tempDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  // ---- generators ---------------------------------------------------------

  private val genFieldType: Gen[DataType] = Gen.oneOf(
    BooleanType, IntegerType, LongType, FloatType, DoubleType, StringType,
    BinaryType, DateType, TimestampType,
    DecimalType(10, 2), DecimalType(38, 0), DecimalType(7, 7))

  // array/map-of-scalars (X108) join the pool — every scalar element
  // type, decimals included (both compact and byte-backed precisions)
  private val genElemType: Gen[DataType] = Gen.oneOf(
    BooleanType, IntegerType, LongType, FloatType, DoubleType, StringType,
    BinaryType, DateType, TimestampType, DecimalType(10, 2), DecimalType(38, 0))

  private lazy val genArrayType: Gen[DataType] = for {
    el <- Gen.frequency(5 -> genElemType, 1 -> genLeafStructType)
    cn <- Gen.oneOf(true, false)
  } yield ArrayType(el, containsNull = cn)

  // structs join the pool — children may themselves be arrays-of-scalars
  // (X108 inside X107) or structs (recursive nesting)
  private lazy val genLeafStructType: Gen[DataType] = for {
    k <- Gen.choose(1, 3)
    kids <- Gen.listOfN(k, genFieldType)
    nbs <- Gen.listOfN(k, Gen.oneOf(true, false))
  } yield StructType(kids.zip(nbs).zipWithIndex.map {
    case ((dt, nb), i) => StructField(s"n$i", dt, nullable = nb)
  })

  private val genStructType: Gen[DataType] = for {
    k <- Gen.choose(1, 4)
    kids <- Gen.listOfN(k, Gen.frequency(4 -> genFieldType,
      1 -> genArrayType, 1 -> genLeafStructType))
    nbs <- Gen.listOfN(k, Gen.oneOf(true, false))
  } yield StructType(kids.zip(nbs).zipWithIndex.map {
    case ((dt, nb), i) => StructField(s"s$i", dt, nullable = nb)
  })

  private val genMapType: Gen[DataType] = for {
    v <- genElemType
    cn <- Gen.oneOf(true, false)
  } yield MapType(StringType, v, valueContainsNull = cn)

  private def genSchema: Gen[StructType] = for {
    n <- Gen.choose(1, 7)
    types <- Gen.listOfN(n, Gen.frequency(5 -> genFieldType,
      2 -> genStructType, 2 -> genArrayType, 1 -> genMapType))
    nullables <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield StructType(types.zip(nullables).zipWithIndex.map {
    case ((dt, nb), i) => StructField(s"c$i", dt, nullable = nb)
  })

  private def genValue(dt: DataType): Gen[Any] = dt match {
    case BooleanType => Gen.oneOf(true, false)
    case IntegerType => Gen.chooseNum(Int.MinValue, Int.MaxValue)
    case LongType => Gen.chooseNum(Long.MinValue, Long.MaxValue)
    case FloatType => Gen.oneOf(Gen.chooseNum(-1e30f, 1e30f),
      Gen.oneOf(Float.NaN, Float.PositiveInfinity, -0.0f))
    case DoubleType => Gen.oneOf(Gen.chooseNum(-1e300, 1e300),
      Gen.oneOf(Double.NaN, Double.NegativeInfinity, 0.0))
    case StringType => Gen.oneOf(Gen.alphaNumStr.map(_.take(24)),
      Gen.const(""), Gen.const("é中😀"))
    case BinaryType => Gen.choose(0, 16).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))
    case DateType => Gen.chooseNum(-30000, 30000)
      .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)))
    case TimestampType => Gen.chooseNum(-2000000000L, 4000000000L)
      .map(s => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, 123456000L)))
    case d: DecimalType =>
      val maxUnscaled = BigInt(10).pow(math.min(d.precision, 18)) - 1
      Gen.chooseNum(-maxUnscaled.toLong, maxUnscaled.toLong).map(u =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(u), d.scale))
    case st: StructType =>
      Gen.sequence[Seq[Any], Any](st.fields.toSeq.map { f =>
        if (f.nullable) Gen.frequency(1 -> Gen.const(null), 4 -> genValue(f.dataType))
        else genValue(f.dataType)
      }).map(Row.fromSeq)
    case ArrayType(el, cn) =>
      val ge = if (cn) Gen.frequency(1 -> Gen.const(null), 4 -> genValue(el))
               else genValue(el)
      Gen.choose(0, 9).flatMap(k => Gen.listOfN(k, ge).map(_.toSeq))
    case MapType(StringType, v, cn) =>
      val gv = if (cn) Gen.frequency(1 -> Gen.const(null), 4 -> genValue(v))
               else genValue(v)
      val gk = Gen.frequency(6 -> Gen.alphaNumStr.map(_.take(10)),
        1 -> Gen.const(""), 1 -> Gen.const("clé中😀"))
      Gen.choose(0, 6).flatMap(k => Gen.listOfN(k,
        Gen.zip(gk, gv)).map(_.toMap))
    case other => throw new IllegalStateException(other.simpleString)
  }

  private def genRow(schema: StructType): Gen[Row] =
    Gen.sequence[Seq[Any], Any](schema.fields.toSeq.map { f =>
      if (f.nullable) Gen.frequency(1 -> Gen.const(null), 4 -> genValue(f.dataType))
      else genValue(f.dataType)
    }).map(Row.fromSeq)

  /** A random value of a kernel-written Avro schema. */
  private def avroValue(s: graft.avro.AvroSchema): Gen[Any] = {
    import graft.avro._
    s match {
      case ABoolean => Gen.oneOf(true, false)
      case AInt => Gen.chooseNum(Int.MinValue, Int.MaxValue)
      case ALong => Gen.chooseNum(Long.MinValue, Long.MaxValue)
      case AFloat => Gen.chooseNum(-1e20f, 1e20f)
      case ADouble => Gen.chooseNum(-1e200, 1e200)
      case AString => Gen.alphaNumStr.map(_.take(20))
      case ABytes => Gen.choose(0, 12).flatMap(k =>
        Gen.listOfN(k, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
      case e: AEnum => Gen.oneOf(e.symbols)
      case f: AFixed => Gen.const(Array.tabulate[Byte](f.size)(i => (i * 7).toByte))
      case ADecimal(p, s, _) =>
        val mx = BigInt(10).pow(math.min(p, 11)) - 1
        Gen.chooseNum(-mx.toLong, mx.toLong).map(u =>
          new java.math.BigDecimal(java.math.BigInteger.valueOf(u), s))
      case AUnion(Seq(ANull, p)) =>
        Gen.frequency(1 -> Gen.const(null), 3 -> avroValue(p))
      case r: ARecord =>
        Gen.sequence[Seq[Any], Any](r.fields.map(f => avroValue(f.schema)))
          .map(vs => AvroRecord(r, vs.toArray))
      case AArray(items) =>
        Gen.choose(0, 8).flatMap(k => Gen.listOfN(k, avroValue(items)).map(_.toSeq))
      case AMap(values) =>
        Gen.choose(0, 5).flatMap(k => Gen.listOfN(k,
          Gen.zip(Gen.alphaNumStr.map(_.take(8)), avroValue(values))).map(_.toMap))
      case other => throw new IllegalStateException(other.typeName)
    }
  }

  // canonical, NaN-stable rendering for comparison
  private def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map { i =>
      def render(x: Any): String = x match {
        case null => "<null>"
        case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
        case d: java.math.BigDecimal => d.toPlainString
        case sr: Row => "{" + (0 until sr.length).map(k =>
          render(sr.get(k))).mkString(";") + "}"
        case xs: scala.collection.Seq[_] =>
          "[" + xs.map(render).mkString(";") + "]"
        case m: scala.collection.Map[_, _] =>
          "(" + m.toSeq.map { case (k, v) => render(k) + "=" + render(v) }
            .sorted.mkString(";") + ")"
        case v => String.valueOf(v)
      }
      render(r.get(i))
    }).sortBy(_.mkString(""))

  test("random EXTERNAL flat files (kernel-written; enum/fixed/uuid/times " +
      "included) read value-identical through both lanes") {
    import graft.avro._
    val params = Gen.Parameters.default
    var seed = rng.Seed(77_2026_0815L)
    def next[A](g: Gen[A]): A = { val v = g.pureApply(params, seed); seed = seed.next; v }
    val genScalarWire: Gen[AvroSchema] = Gen.oneOf(
      Gen.const(ABoolean), Gen.const(AInt), Gen.const(ALong),
      Gen.const(AFloat), Gen.const(ADouble), Gen.const(AString),
      Gen.const(ABytes),
      Gen.choose(1, 6).map(n => AEnum(s"E$n", None, (0 until n).map(i => s"S$i"))),
      Gen.choose(0, 9).map(sz => AFixed(s"F$sz", None, sz)),
      // decimals under BOTH physical encodings, incl. as array elements
      Gen.const(ADecimal(9, 2, ABytes)),
      Gen.const(ADecimal(12, 3, AFixed("DF", None, 6))))
    // array/map-of-scalars (X108) — items possibly themselves nullable
    val genWire: Gen[AvroSchema] = Gen.frequency(
      6 -> genScalarWire,
      2 -> (for { e <- genScalarWire; nb <- Gen.oneOf(true, false) }
        yield AArray(if (nb) AUnion(Seq(ANull, e)) else e)),
      1 -> (for { v <- genScalarWire; nb <- Gen.oneOf(true, false) }
        yield AMap(if (nb) AUnion(Seq(ANull, v)) else v)))
    for (iter <- 1 to 6) {
      val n = next(Gen.choose(1, 6))
      val fields = (0 until n).map { i =>
        val base = next(genWire)
        val nullable = next(Gen.oneOf(true, false))
        AField(s"f$i", if (nullable) AUnion(Seq(ANull, base)) else base)
      }
      val schema = ARecord(s"ExtProp$iter", Some("prop.ext"), fields)
      val rows = (0 until 200 + iter * 13).map { _ =>
        AvroRecord(schema, fields.map(f => next(avroValue(f.schema))).toArray)
      }
      val dir = tempDir(s"graft-colprop-ext-$iter")
      java.nio.file.Files.write(
        new java.io.File(dir, "x.avro").toPath, Ocf.writeAll(schema, rows))
      def rd(c: Boolean) = spark.read.format("graft-ocf")
        .option("columnar", c.toString).load(dir)
      assert(rd(true).queryExecution.executedPlan.toString
        .contains("ColumnarToRow"), s"ext iter $iter did not vectorize: " +
        fields.map(_.schema.typeName).mkString(","))
      assert(canon(rd(true)) == canon(rd(false)),
        s"ext iter $iter mismatch on ${fields.map(f =>
          f.name + ":" + f.schema.typeName).mkString(",")}")
    }
  }

  test("random flat schemas read value-identical through both lanes, " +
      "full and pruned, clean and equality-burdened") {
    val params = Gen.Parameters.default
    var seed = rng.Seed(20260815L)
    for (iter <- 1 to 8) {
      val schema = genSchema.pureApply(params, seed); seed = seed.next
      val n = 120 + iter * 17
      val rows = (0 until n).map { _ =>
        val r = genRow(schema).pureApply(params, seed); seed = seed.next
        r
      }
      // a synthetic non-null key column so an upsert can burden the file
      val keyed = StructType(StructField("k", LongType, nullable = false) +: schema.fields)
      val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(data).asJava), keyed)
      val dir = tempDir(s"graft-colprop-$iter")
      df.coalesce(1).write.format("graft-ocf")
        .option("statsColumns", "k")
        .mode("append").save(dir)

      def rd(columnar: Boolean) = spark.read.format("graft-ocf")
        .option("columnar", columnar.toString).load(dir)
      // not vacuous: every generated shape must actually take the lane
      assert(rd(true).queryExecution.executedPlan.toString
        .contains("ColumnarToRow"), s"iter $iter did not vectorize")
      assert(canon(rd(true)) == canon(rd(false)),
        s"iter $iter full-projection mismatch on ${keyed.simpleString}")
      // random pruned projection (order-preserving subset)
      val kept = keyed.fieldNames.zipWithIndex
        .filter { case (_, i) => (i + iter) % 2 == 0 }.map(_._1)
      if (kept.nonEmpty)
        assert(canon(rd(true).select(kept.head, kept.tail: _*)) ==
          canon(rd(false).select(kept.head, kept.tail: _*)),
          s"iter $iter pruned-projection mismatch (${kept.mkString(",")})")
      // equality-burden the file (X105): upsert a third of the keys
      val upd = data.filter(r => r.getLong(0) % 3 == 0)
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(upd).asJava), keyed)
        .coalesce(1).write.format("graft-ocf")
        .option("statsColumns", "k")
        .option("upsertKeys", "k").mode("append").save(dir)
      assert(canon(rd(true)) == canon(rd(false)),
        s"iter $iter equality-burdened mismatch on ${keyed.simpleString}")
    }
  }

  test("random NESTED evolution (a child renamed through an alias, a child " +
      "added with a default, a promoted child, a writer-only child) reads " +
      "value-identical through both lanes in structs, arrays and maps") {
    import graft.avro._
    val params = Gen.Parameters.default
    var seed = rng.Seed(2026_1019L)
    def next[A](g: Gen[A]): A = { val v = g.pureApply(params, seed); seed = seed.next; v }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val scalars: Seq[AvroSchema] = Seq(ABoolean, AInt, ALong, AFloat, ADouble, AString, ABytes)
    val promotions: Seq[(AvroSchema, AvroSchema)] = Seq(AInt -> ALong, AInt -> AFloat,
      AInt -> ADouble, ALong -> AFloat, ALong -> ADouble, AFloat -> ADouble,
      AString -> ABytes, ABytes -> AString)
    // an added child's type and its default, as JSON
    val additions: Seq[(AvroSchema, String)] = Seq(ABoolean -> "true", AInt -> "-7",
      ALong -> "123456789012", AFloat -> "1.5", ADouble -> "-2.25", AString -> "\"dflt\"",
      ABytes -> "\"\\u00ff\\u0001\"", ADate() -> "19000", ATimestampMillis() -> "1700000000123",
      AEnum("Lvl", None, Seq("LO", "HI")) -> "\"HI\"", AUnion(Seq(ANull, AString)) -> "null",
      AUnion(Seq(ANull, ALong)) -> "null")
    def maybeNull(t: AvroSchema, nullable: Boolean) = if (nullable) AUnion(Seq(ANull, t)) else t
    for (iter <- 1 to 8) {
      val k = next(Gen.choose(3, 5))
      val kids = (0 until k).map(i => AField(s"c$i",
        maybeNull(next(Gen.oneOf(scalars)), next(Gen.oneOf(true, false)))))
      val (pw, pr) = next(Gen.oneOf(promotions))
      val (addType, addDefault) = next(Gen.oneOf(additions))
      val renamed = next(Gen.choose(0, k - 1))
      val dropped = (renamed + 1 + next(Gen.choose(0, k - 2))) % k
      val writerStruct = ARecord("S", Some("prop.evo"), kids :+ AField("p", pw))
      val readerKids = kids.zipWithIndex.collect {
        case (f, i) if i == renamed => f.copy(name = s"r$i", aliases = Seq(f.name))
        case (f, i) if i != dropped => f
      } :+ AField("p", pr)
      val at = next(Gen.choose(0, readerKids.length))
      val readerStruct = ARecord("S", Some("prop.evo"), readerKids.take(at) ++
        Seq(AField("added", addType, Some(json.readTree(addDefault)))) ++ readerKids.drop(at))
      // the evolving struct sits in a struct, an array, a map or a struct
      // inside a struct, itself plain or nullable
      val site = next(Gen.choose(0, 3))
      val nullable = next(Gen.oneOf(true, false))
      def place(st: ARecord): AvroSchema = maybeNull(site match {
        case 0 => st
        case 1 => AArray(st)
        case 2 => AMap(st)
        case _ => ARecord("O", Some("prop.evo"), Seq(AField("inner", st), AField("z", ALong)))
      }, nullable)
      def record(st: ARecord) = ARecord(s"Evo$iter", Some("prop.evo"),
        Seq(AField("id", ALong), AField("n", place(st))))
      val writer = record(writerStruct)
      val rows = (0 until 150 + iter * 11).map { i =>
        AvroRecord(writer, Array[Any](i.toLong, next(avroValue(writer.fields(1).schema))))
      }
      val dir = tempDir(s"graft-colprop-evo-$iter")
      java.nio.file.Files.write(
        new java.io.File(dir, "x.avro").toPath, Ocf.writeAll(writer, rows))
      def rd(c: Boolean) = spark.read.format("graft-ocf")
        .option("readerSchema", AvroSchemaParser.toJson(record(readerStruct)))
        .option("columnar", c.toString).load(dir)
      val what = s"evo iter $iter: ${AvroSchemaParser.toJson(readerStruct)} at site $site"
      assert(rd(true).queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"$what did not vectorize")
      assert(canon(rd(true)) == canon(rd(false)), s"$what mismatch")
    }
  }
}
