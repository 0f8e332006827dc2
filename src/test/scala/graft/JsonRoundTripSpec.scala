package graft

import graft.avro._
import graft.framing.{KplDeaggregator, SpringHeaders}
import graft.plans.AvroDecodePruning
import graft.spark.{AvroJsonPaths, AvroParsedJson, SchemaConverters, functions => gfn}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, JsonToStructs}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The JSON round-trip pass of [[AvroDecodePruning]] changes no answer:
  * every query gives the same rows, or fails with the same exception class
  * and message, with the rule on and off. Both JSON consumers
  * (`get_json_object`, `from_json`) over both producers (`avro_decode_json`,
  * `spring_kpl_decode_all`), inline and through an alias. */
class JsonRoundTripSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-json-round-trip-spec")
      .getOrCreate()
    AvroDecodePruning.install(s)
    s
  }

  private val ContentType = "application/vnd.h.v1+avro"

  // ---- running a query both ways ----------------------------------------

  /** Payload rows `(i, payload)`, through parquet so that no decode is
    * folded into a local relation before the rule sees it. */
  private def frame(payloads: Seq[Array[Byte]]): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft-json-rt").toString
    spark.createDataFrame(
      java.util.Arrays.asList(payloads.zipWithIndex.map { case (b, i) => Row(i, b) }: _*),
      StructType(Seq(StructField("i", IntegerType), StructField("payload", BinaryType))))
      .coalesce(1).write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def kplFrame(datums: Seq[Seq[Array[Byte]]], contentType: String = ContentType): DataFrame =
    frame(datums.map(ds => KplDeaggregator.encode(KplDeaggregator.Aggregated(Seq("pk"), Nil,
      ds.map(d => KplDeaggregator.KplRecord(0, None,
        SpringHeaders.frame(Seq("contentType" -> contentType), d)))))))

  /** The rows of `q` ordered by `i`, or its root exception's class and
    * message; and the optimized plan. A row carries a hash of its values'
    * bytes where it can, as a collected string has invalid UTF-8 replaced
    * whatever its bytes. */
  private def outcome(on: Boolean)(q: => DataFrame): (Either[(String, String), Seq[Row]], LogicalPlan) = {
    val key = "spark.sql.optimizer.excludedRules"
    if (on) spark.conf.unset(key) else spark.conf.set(key, AvroDecodePruning.ruleName)
    def root(e: Throwable) = {
      val r = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      Left((r.getClass.getName, r.getMessage))
    }
    try {
      val df = try q catch { case e: Exception => return (root(e), null) }
      val hashed =
        if (hasMap(df.schema)) df // xxhash64 takes no maps
        else df.select(col("*"), xxhash64(col("*")).as("bytes_hash"))
      val rows = try Right((if (df.columns.contains("i")) hashed.orderBy("i") else hashed)
        .collect().toSeq) catch { case e: Exception => root(e) }
      (rows, df.queryExecution.optimizedPlan)
    } finally spark.conf.unset(key)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  private def direct(plan: LogicalPlan): Boolean = plan != null && plan.exists(_.expressions.exists(_.exists {
    case _: AvroJsonPaths | _: AvroParsedJson => true
    case _ => false
  }))

  /** Asserts `q` answers alike both ways; true where the pass rewrote it. */
  private def same(what: String)(q: => DataFrame): Boolean = {
    val (off, offPlan) = outcome(on = false)(q)
    val (on, onPlan) = outcome(on = true)(q)
    assert(!direct(offPlan))
    assert(on == off, s"$what\n$onPlan")
    direct(onPlan)
  }

  // ---- the query shapes ---------------------------------------------------

  private def json(w: String): Column = gfn.avro_decode_json(col("payload"), w)
  private def kplJson(w: String): Column = gfn.spring_kpl_decode_all(col("payload"), Map(ContentType -> w))
  private def sqlType(w: String): DataType = SchemaConverters.toSqlType(AvroSchemaParser.parse(w)).dataType

  /** Every form of every consumer over `avro_decode_json` rows of `w`;
    * the number of forms the pass rewrote. */
  private def allForms(what: String, df: DataFrame, w: String, paths: Seq[String],
                       parses: Boolean = true): Int = {
    lazy val t = sqlType(w)
    val gets = if (paths.isEmpty) Nil else Seq(
      same(s"$what: get_json_object inline ${paths.mkString(" ")}")(
        df.select(col("i") +: paths.map(get_json_object(json(w), _)): _*)),
      same(s"$what: get_json_object aliased ${paths.mkString(" ")}")(
        df.select(col("i"), json(w).as("j"))
          .select(col("i") +: (paths :+ paths.head).map(get_json_object(col("j"), _)): _*)))
    val fromJsons = if (!parses) Nil else Seq(
      same(s"$what: from_json inline")(df.select(col("i"), from_json(json(w), t).as("v"))),
      same(s"$what: from_json aliased")(df.select(col("i"), json(w).as("j"))
        .select(col("i"), from_json(col("j"), t).as("a"), from_json(col("j"), t).as("b"))))
    (gets ++ fromJsons).count(identity)
  }

  /** The same over KPL aggregates of Spring-framed datums of `w`. */
  private def kplForms(what: String, df: DataFrame, w: String): Int = {
    val t = ArrayType(sqlType(w))
    Seq(
      same(s"$what: explode(from_json) over spring_kpl_decode_all")(
        df.select(col("i"), explode(from_json(kplJson(w), t)).as("r"))),
      same(s"$what: from_json aliased over spring_kpl_decode_all")(
        df.select(col("i"), kplJson(w).as("j"))
          .select(col("i"), from_json(col("j"), t).as("a"), size(from_json(col("j"), t)).as("n"))),
      same(s"$what: get_json_object over spring_kpl_decode_all")(
        df.select(col("i"), get_json_object(kplJson(w), "$[0]")))
    ).count(identity)
  }

  // ---- generated schemas and datums -------------------------------------

  /** Records of the field types `from_json` reads alike, nested up to
    * `depth` records deep. */
  private def genParsedRecord(depth: Int): Gen[ARecord] = {
    val leaf: Gen[AvroSchema] = Gen.oneOf[AvroSchema](
      Gen.oneOf[AvroSchema](ABoolean, AInt, ALong, AString, ADouble), AvroGen.genEnum)
    val field: Gen[AvroSchema] = Gen.frequency(
      6 -> leaf,
      2 -> leaf.map(l => AUnion(Seq(ANull, l))),
      (if (depth > 0) 2 else 0) -> Gen.lzy(genParsedRecord(depth - 1)),
      (if (depth > 0) 1 else 0) -> Gen.lzy(genParsedRecord(depth - 1)).map(r => AUnion(Seq(ANull, r))))
    for {
      n <- Gen.choose(1, 5)
      fields <- Gen.sequence[Seq[AvroSchema], AvroSchema](Seq.fill(n)(field))
    } yield ARecord(AvroGen.freshName("P"), Some("json.test"),
      fields.zipWithIndex.map { case (s, i) => AField(s"f$i", s) })
  }

  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("é", "中", "😀", "\u0000", "\u0001", "\u001f", "\u007f",
      " ", "\"", "\\", "\n", "\t", "/"))).map(_.mkString)

  /** Every field path under `r` through records and nullable records, with
    * its leaf schema. */
  private def fieldPaths(r: ARecord, prefix: String = "$"): Seq[(String, AvroSchema)] =
    r.fields.flatMap { f =>
      val p = s"$prefix.${f.name}"
      AvroResolution.deref(f.schema) match {
        case sub: ARecord => fieldPaths(sub, p)
        case u: AUnion if u.isNullable && u.nonNullBranches.size == 1 &&
            AvroResolution.deref(u.nonNullBranches.head).isInstanceOf[ARecord] =>
          fieldPaths(AvroResolution.deref(u.nonNullBranches.head).asInstanceOf[ARecord], p)
        case leaf => Seq(p -> leaf)
      }
    }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default.withSize(8), Seed(seed))

  test("generated schemas and datums answer alike, and the pass fires") {
    var anyFired = 0
    (1 to 12).foreach { n =>
      // from_json-shaped records; get_json_object reads all but their doubles
      val parsed = sample(genParsedRecord(2), n)
      // any record: arrays, maps, floats, bytes, fixed, unions to skip or read
      val any = sample(AvroGen.genRecord(2), 100 + n)
      Seq(parsed, any).zipWithIndex.foreach { case (schema, k) =>
        val w = AvroSchemaParser.toJson(schema)
        val datums = (0 until 8).map(i => new AvroDatumWriter(schema)
          .toBytes(sample(AvroGen.genDatum(schema, genText), 1000 * n + 10 * k + i)))
        val df = frame(datums)
        if (k == 0) {
          val paths = fieldPaths(schema).collect {
            case (path, leaf) if !(leaf == ADouble || leaf == AUnion(Seq(ANull, ADouble))) => path
          }.take(4)
          assert(allForms(s"schema $w", df, w, paths) == (if (paths.isEmpty) 2 else 4), w)
          assert(kplForms(s"schema $w", kplFrame(datums.grouped(3).toSeq), w) == 2, w)
        } else {
          // the leaves get_json_object reads directly, whatever is skipped
          val direct = fieldPaths(schema).collect { case (path, leaf) if (leaf match {
            case ABoolean | AInt | ALong | AString | _: AEnum => true
            case u: AUnion => u.branches.length == 2 && u.isNullable && (u.nonNullBranches.head match {
              case ABoolean | AInt | ALong | AString | _: AEnum => true
              case _ => false
            })
            case _ => false
          }) => path }.take(4)
          anyFired += allForms(s"schema $w", df, w, direct)
          val all = fieldPaths(schema).map(_._1).take(4)
          same(s"schema $w: get_json_object ${all.mkString(" ")}")(
            df.select(col("i") +: all.map(get_json_object(json(w), _)): _*))
        }
      }
    }
    assert(anyFired > 0)
  }

  // ---- hand cases ---------------------------------------------------------

  /** Wire bytes built by hand. */
  private final class Wire {
    private val w = new AvroBinaryWriter()
    def long(v: Long): Wire = { w.writeLong(v); this }
    def str(s: String): Wire = { w.writeString(s); this }
    def raw(b: Int*): Wire = { b.foreach(x => w.writeByte(x)); this }
    def float(f: Float): Wire = { w.writeFloat(f); this }
    def double(d: Double): Wire = { w.writeDouble(d); this }
    def bool(b: Boolean): Wire = { w.writeBoolean(b); this }
    def bytes: Array[Byte] = w.toByteArray
  }
  private def wire = new Wire

  /** Every kind of field the pass reads or skips. */
  private val H =
    """{"type":"record","name":"H","fields":[
      |{"name":"id","type":"long"},
      |{"name":"s","type":"string"},
      |{"name":"n","type":["null","string"]},
      |{"name":"u","type":["null",{"type":"record","name":"U","fields":[
      |  {"name":"name","type":"string"},
      |  {"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}}]}]},
      |{"name":"f","type":"float"},
      |{"name":"d","type":"double"},
      |{"name":"m","type":{"type":"map","values":"long"}},
      |{"name":"b","type":"boolean"}]}""".stripMargin
  private val HPaths = Seq("$.id", "$.s", "$.n", "$.u.name", "$.u.e", "$.b")
  /** The fields of H that `from_json` reads alike. */
  private val P =
    """{"type":"record","name":"P","fields":[
      |{"name":"id","type":"long"},
      |{"name":"s","type":"string"},
      |{"name":"n","type":["null","string"]},
      |{"name":"d","type":"double"}]}""".stripMargin

  /** A datum of H: its string `s` as raw UTF-8 bytes. */
  private def h(id: Long, s: Seq[Int] = Seq('x'), n: Option[String] = Some("n"),
                u: Option[(Seq[Int], Int)] = Some((Seq('n', 'm'), 1)), f: Float = 1.5f,
                d: Double = 2.5, m: Seq[(String, Long)] = Seq("k" -> 1L),
                b: Boolean = true): Array[Byte] = {
    val x = wire.long(id).long(s.length).raw(s: _*)
    n.fold(x.long(0))(v => x.long(1).str(v))
    u.fold(x.long(0)) { case (name, e) => x.long(1).long(name.length).raw(name: _*).long(e) }
    x.float(f).double(d)
    if (m.nonEmpty) x.long(m.length)
    m.foreach { case (k, v) => x.str(k).long(v) }
    x.long(0).bool(b).bytes
  }
  private def p(id: Long, s: Seq[Int] = Seq('x'), n: Option[String] = Some("n"),
                d: Double = 2.5): Array[Byte] = {
    val x = wire.long(id).long(s.length).raw(s: _*)
    n.fold(x.long(0))(v => x.long(1).str(v))
    x.double(d).bytes
  }

  private val texts: Seq[Seq[Int]] = Seq(
    Seq(0xff), Seq(0xc3), Seq(0x41, 0xe2, 0x80), Seq(0xed, 0xa0, 0x80), // invalid UTF-8
    Seq(0xf0, 0x9f, 0x98, 0x80), Seq(0xc3, 0xa9, 0x41), Seq(0xe2, 0x80, 0xa8), // non-BMP, BMP
    Seq(0x00, 0x01, 0x1f, 0x7f, 0x22, 0x5c, 0x0a, 0x0d, 0x09)) // control chars, escapes

  test("non-finite floats, invalid UTF-8, null branches and duplicate map keys") {
    val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 1e16, 5e-324)
    val hs = Seq(h(1), h(2, n = None), h(3, u = None), h(4, n = None, u = None)) ++
      floats.map(f => h(10, f = f)) ++ doubles.map(d => h(20, d = d)) ++
      texts.map(t => h(30, s = t)) ++ texts.map(t => h(40, u = Some((t, 0)))) ++
      Seq(h(50, m = Seq("a" -> 1L, "a" -> 2L)), h(51, m = Seq("a" -> 1L, "b" -> 2L, "a" -> 3L)),
        h(52, m = (0 until 20).map(i => s"k${i % 17}" -> i.toLong)),
        h(53, m = (0 until 20).map(i => s"k$i" -> i.toLong)))
    // every row but the non-finite ones is read directly
    assert(allForms("H", frame(hs), H, HPaths) == 2)
    val ps = Seq(p(1), p(2, n = None)) ++ doubles.map(d => p(20, d = d)) ++ texts.map(t => p(30, s = t))
    assert(allForms("P", frame(ps), P, Seq("$.id", "$.s", "$.n")) == 4)
    assert(kplForms("P", kplFrame(ps.grouped(4).toSeq :+ Nil), P) == 2)
    // a content type the map lacks fails on both ways alike
    assert(kplForms("P, unknown content type", kplFrame(Seq(Seq(p(1))), "text/other"), P) == 2)
  }

  test("the non-finite rows come back null through get_json_object, as on the JSON path") {
    val (rows, plan) = outcome(on = true)(frame(Seq(h(1), h(2, f = Float.NaN), h(3, d = Double.NegativeInfinity)))
      .select(col("i"), json(H).as("j")).select(col("i"),
        get_json_object(col("j"), "$.id").as("id"), get_json_object(col("j"), "$.s").as("s")))
    assert(direct(plan))
    assert(rows.map(_.map(r => Row(r.toSeq.init: _*))) ==
      Right(Seq(Row(0, "1", "x"), Row(1, null, null), Row(2, null, null))))
  }

  test("recursive records keep the JSON path and answer alike") {
    val r = """{"type":"record","name":"Node","fields":[{"name":"v","type":"long"},
              |{"name":"next","type":["null","Node"]}]}""".stripMargin
    val datums = Seq(wire.long(1).long(0).bytes, wire.long(1).long(1).long(2).long(0).bytes,
      wire.long(1).long(1).long(2).long(1).long(3).long(0).bytes)
    // (a recursive schema has no Catalyst type to give from_json)
    assert(allForms("Node", frame(datums), r, Seq("$.v", "$.next.v", "$.next.next.v"),
      parses = false) == 0)
  }

  test("corrupt datums fail with the kernel's exception both ways") {
    val good = h(1)
    val cases = Seq(
      "truncated" -> java.util.Arrays.copyOf(good, good.length - 1),
      "union index" -> wire.long(1).str("x").long(6).bytes,
      "enum index" -> wire.long(1).str("x").long(0).long(1).str("nm").long(9).bytes,
      "negative length" -> wire.long(1).long(-2).bytes)
    cases.foreach { case (what, bad) =>
      val df = frame(Seq(good, bad))
      allForms(s"H, $what", df, H, HPaths)
      val (rows, _) = outcome(on = true)(df.select(col("i"), get_json_object(json(H), "$.id")))
      assert(rows.isLeft, s"$what: $rows")
    }
    val badP = Seq("truncated" -> java.util.Arrays.copyOf(p(1), 3),
      "union index" -> wire.long(1).str("x").long(4).bytes,
      "negative length" -> wire.long(1).long(-3).bytes)
    badP.foreach { case (what, bad) =>
      allForms(s"P, $what", frame(Seq(p(1), bad)), P, Nil)
      kplForms(s"P, $what", kplFrame(Seq(Seq(p(1), bad))), P)
    }
  }

  test("the pass leaves shapes it cannot vouch for") {
    val df = frame(Seq(h(1), h(2, u = None)))
    // each built anew per run: a DataFrame keeps the plan it optimized first
    val left: Seq[(String, () => DataFrame)] = Seq(
      "wildcard path" -> (() => df.select(col("i"), get_json_object(json(H), "$.*"))),
      "index path" -> (() => df.select(col("i"), get_json_object(json(H), "$.m[0]"))),
      "quoted path" -> (() => df.select(col("i"), get_json_object(json(H), "$['id']"))),
      "non-literal path" -> (() =>
        df.select(col("i"), call_function("get_json_object", json(H), concat(lit("$.i"), col("i"))))),
      "float leaf" -> (() => df.select(col("i"), get_json_object(json(H), "$.f"))),
      "double leaf" -> (() => df.select(col("i"), get_json_object(json(H), "$.d"))),
      "record leaf" -> (() => df.select(col("i"), get_json_object(json(H), "$.u"))),
      "no such field" -> (() => df.select(col("i"), get_json_object(json(H), "$.zz"))),
      "JSON text read whole" -> (() => df.select(col("i"), json(H).as("j"))
        .select(col("i"), col("j"), get_json_object(col("j"), "$.id"))),
      "mixed consumers" -> (() => df.select(col("i"), json(P).as("j"))
        .select(col("i"), get_json_object(col("j"), "$.id"), from_json(col("j"), sqlType(P)))),
      "from_json over a float" -> (() => df.select(col("i"), from_json(json(H), sqlType(H)))),
      "from_json schema mismatch" -> (() => df.select(col("i"),
        from_json(json(P), StructType(sqlType(P).asInstanceOf[StructType].fields.reverse)))),
      "from_json field case" -> (() => df.select(col("i"), from_json(json(P),
        StructType(sqlType(P).asInstanceOf[StructType].fields.map(f => f.copy(name = f.name.toUpperCase)))))),
      "from_json options" -> (() => df.select(col("i"),
        from_json(json(P), sqlType(P).asInstanceOf[StructType], Map("mode" -> "FAILFAST")))))
    left.foreach { case (what, q) =>
      assert(!same(what)(q()), s"$what was rewritten")
    }
  }

  // ---- the payload-decode query shapes ------------------------------------

  private val Narrow =
    """{"type":"record","name":"Reading","namespace":"bench","fields":[
      |{"name":"id","type":"long"},{"name":"device","type":"string"},
      |{"name":"qty","type":"int"},{"name":"value","type":"double"},
      |{"name":"ok","type":"boolean"},{"name":"note","type":["null","string"]}]}""".stripMargin
  private val Wide =
    """{"type":"record","name":"Event","namespace":"bench","fields":[
      |{"name":"id","type":"long"},
      |{"name":"kind","type":{"type":"enum","name":"Kind","symbols":["VIEW","CLICK","BUY","SHARE"]}},
      |{"name":"user","type":{"type":"record","name":"User","fields":[
      |  {"name":"uid","type":"long"},{"name":"name","type":"string"},
      |  {"name":"geo","type":{"type":"record","name":"Geo","fields":[
      |    {"name":"lat","type":"double"},{"name":"lon","type":"double"}]}}]}},
      |{"name":"tags","type":{"type":"array","items":"string"}},
      |{"name":"scores","type":{"type":"array","items":"long"}},
      |{"name":"attrs","type":{"type":"map","values":"long"}},
      |{"name":"ref","type":["null","long","string"]},
      |{"name":"amount","type":"int"},{"name":"ratio","type":"float"},
      |{"name":"ts","type":"long"},{"name":"flag","type":"boolean"},
      |{"name":"comment","type":["null","string"]}]}""".stripMargin

  private def exprs(plan: LogicalPlan): Seq[Expression] = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  test("the decode_json and kpl_decode_all plans decode straight from the wire") {
    val wide = AvroSchemaParser.parse(Wide).asInstanceOf[ARecord]
    val wides = (0 until 20).map(i => new AvroDatumWriter(wide).toBytes(sample(AvroGen.genDatum(wide), i)))
    val j = col("j")
    val decodeJson = frame(wides).select(col("i"), json(Wide).as("j"))
      .select(col("i"), struct(get_json_object(j, "$.id").cast("long").as("id"),
        get_json_object(j, "$.user.name").as("name")).as("r"))
    val plan = outcome(on = true)(decodeJson)._2
    val found = exprs(plan)
    assert(found.collect { case p: AvroJsonPaths => p.paths } == Seq(Seq("$.id", "$.user.name")), plan)
    assert(!found.exists(_.isInstanceOf[GetJsonObject]) &&
      !found.exists(_.isInstanceOf[graft.spark.AvroDecodeJson]), plan)
    assert(plan.toString.contains("avro_json_paths(payload#"), plan)
    assert(same("decode_json")(decodeJson.agg(count(lit(1)), bit_xor(xxhash64(col("r"))))))

    val narrow = AvroSchemaParser.parse(Narrow).asInstanceOf[ARecord]
    val kpls = (0 until 6).map(k => (0 until 16).map(i =>
      new AvroDatumWriter(narrow).toBytes(sample(AvroGen.genDatum(narrow), 16 * k + i))))
    val t = "array<struct<id:bigint,device:string,qty:int,value:double,ok:boolean,note:string>>"
    val kplDecodeAll = kplFrame(kpls).select(col("i"),
      explode(from_json(kplJson(Narrow), DataType.fromDDL(t))).as("r"))
    val kplPlan = outcome(on = true)(kplDecodeAll)._2
    val generators = kplPlan.collect { case g: Generate => g.generator.children.head }
    assert(generators.size == 1 && generators.head.isInstanceOf[AvroParsedJson], kplPlan)
    assert(!exprs(kplPlan).exists(_.isInstanceOf[JsonToStructs]), kplPlan)
    assert(same("kpl_decode_all")(kplDecodeAll.agg(count(lit(1)), bit_xor(xxhash64(col("r"))))))
  }
}
