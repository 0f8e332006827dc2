package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.spark.{functions => gfn}

/** `payload-decode`: binary Avro payload columns held in Spark memory (the
  * Redshift VARBINARY analog), decoded by the engine's Catalyst expressions.
  * Payloads come in the three packagings the reference decodes: bare datums
  * (registry mode), object container files of a few hundred datums with a
  * seeded codec, and KPL-aggregated Spring-framed records; and in two
  * schemas, a narrow flat one and a wide one with nested, array, map, enum
  * and union fields. Every op ends in a checksum aggregate over every decoded
  * field ([[Checksum]]) that is compared with the same checksum computed on
  * the driver from the generated values. Ops take no seeded literals: a
  * literal that changed per op would change Spark's generated code, and each
  * new variant would be compiled and JIT-warmed inside the timed window. The
  * seed picks the payloads and the order of the ops. */
object PayloadSchemas {
  val Narrow: String =
    """{"type":"record","name":"Reading","namespace":"bench","fields":[
      |{"name":"id","type":"long"},{"name":"device","type":"string"},
      |{"name":"qty","type":"int"},{"name":"value","type":"double"},
      |{"name":"ok","type":"boolean"},{"name":"note","type":["null","string"]}]}""".stripMargin

  val Wide: String =
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

  /** Reader schema for the resolution op: reordered fields, a nested
    * projection, an int-to-long promotion and a field filled from its default. */
  val WideReader: String =
    """{"type":"record","name":"Event","namespace":"bench","fields":[
      |{"name":"amount","type":"long"},{"name":"id","type":"long"},
      |{"name":"region","type":"string","default":"unknown"},
      |{"name":"user","type":{"type":"record","name":"User","fields":[
      |  {"name":"uid","type":"long"},{"name":"name","type":"string"}]}},
      |{"name":"comment","type":["null","string"],"default":null}]}""".stripMargin

  def resolveWide(v: Any): Any = {
    val r = v.asInstanceOf[Rec].vs
    val user = r(2).asInstanceOf[Rec].vs
    Rec(Vector(r(7).asInstanceOf[Int].toLong, r(0), "unknown", Rec(Vector(user(0), user(1))), r(11)))
  }

  def narrow(r: Random, id: Long): Rec = Rec(Vector(
    id, s"dev-${r.nextInt(500)}", r.nextInt(1000) - 500, r.nextInt(1000000) / 100.0,
    r.nextBoolean(), if (r.nextInt(10) < 3) null else Text.words(r, 1 + r.nextInt(4)).mkString(" ")))

  def wide(r: Random, id: Long): Rec = {
    val kinds = Vector("VIEW", "CLICK", "BUY", "SHARE")
    Rec(Vector(
      id, kinds(r.nextInt(4)),
      Rec(Vector(r.nextInt(100000).toLong, Text.words(r, 2).mkString(" "),
        Rec(Vector(r.nextInt(18000) / 100.0 - 90.0, r.nextInt(36000) / 100.0 - 180.0)))),
      Text.words(r, r.nextInt(5)),
      Vector.fill(r.nextInt(6))(r.nextInt(1 << 20).toLong),
      MapV(Vector.tabulate(r.nextInt(4))(i => s"k$i" -> r.nextInt(1000).toLong)),
      r.nextInt(3) match { case 0 => null; case 1 => r.nextInt(1 << 30).toLong; case _ => s"ref-${r.nextInt(9999)}" },
      r.nextInt(100000), r.nextInt(4000) / 8.0f, 1700000000000L + r.nextInt(1 << 30),
      r.nextBoolean(), if (r.nextInt(10) < 4) null else Text.sentence(r, 3 + r.nextInt(8))))
  }
}

final class PayloadDecode extends Workload {
  import PayloadSchemas._
  val name = "payload-decode"
  val cycle = Seq("narrow_all", "wide_all", "wide_one", "wide_resolve", "ocf_explode", "decode_json", "kpl_decode_all")

  val NarrowRows = 48000
  val WideRows = 18000
  val Containers = 144
  val PerContainer = 250
  val KplRecords = 1800
  val PerKpl = 16
  val ContentType = "application/vnd.reading.v1+avro"

  private val narrowA = Avro.parse(Narrow)
  private val wideA = Avro.parse(Wide)
  private val readerA = Avro.parse(WideReader)

  /** Payload frames, and per kind the expected (rows, XOR of row hashes). */
  private var frames = Map.empty[String, DataFrame]
  private var expected = Map.empty[String, (Long, Long)]
  private var expectedFor = 0
  private var wideSample = Vector.empty[Any]
  var inputDigest = 0

  /** Schemas of what each kind's checksum covers. */
  private val idName = Avro.parse(
    """{"type":"record","name":"J","fields":[{"name":"id","type":"long"},{"name":"name","type":"string"}]}""")
  private val longA = Avro.parse("\"long\"")
  private def checked(kind: String): org.apache.avro.Schema = kind match {
    case "narrow_all" | "ocf_explode" | "kpl_decode_all" => narrowA
    case "wide_all" => wideA
    case "wide_one" => longA
    case "wide_resolve" => readerA
    case "decode_json" => idName
  }

  private def answer(kind: String, values: Seq[Any]): (Long, Long) = {
    val s = checked(kind)
    val hashes = java.util.stream.IntStream.range(0, values.size).parallel()
      .mapToLong(i => Checksum.value(s, values(i)))
    (values.size.toLong, hashes.reduce(0L, _ ^ _))
  }

  private def cache(ctx: Ctx, rows: Seq[Array[Byte]]): DataFrame = {
    val st = StructType(Seq(StructField("payload", BinaryType)))
    val df = ctx.spark.createDataFrame(rows.map(p => Row(p)).asJava, st)
      .repartition(2 * ctx.nCores).persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  def setup(ctx: Ctx, dir: File, rnd: Random): Unit = {
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    val narrowVals = Vector.fill(NarrowRows)(narrow(rnd, id()))
    val wideVals = Vector.fill(WideRows)(wide(rnd, id()))
    val codecs = Vector("null", "deflate", "snappy", "zstandard")
    val containers = Vector.fill(Containers)((codecs(rnd.nextInt(4)), Vector.fill(PerContainer)(narrow(rnd, id()))))
    val kpls = Vector.fill(KplRecords)(Vector.fill(PerKpl)(narrow(rnd, id())))
    wideSample = wideVals.take(2000)

    val encN = Avro.encoder(narrowA)
    val encW = Avro.encoder(wideA)
    val payloads = Seq(
      "narrow" -> narrowVals.map(encN),
      "wide" -> wideVals.map(encW),
      "ocf" -> containers.map { case (c, vs) => Avro.container(narrowA, vs, c) },
      "kpl" -> kpls.zipWithIndex.map { case (vs, i) =>
        Framing.kpl(s"pk-${i % 16}", vs.map(v => Framing.spring(Seq("contentType" -> ContentType), encN(v)))) })
    inputDigest = scala.util.hashing.MurmurHash3.seqHash(payloads.flatMap(_._2.map(java.util.Arrays.hashCode)))
    frames = payloads.map { case (k, rows) => k -> cache(ctx, rows) }.toMap
    // every set-up of a run generates the same payloads from the seed
    if (expectedFor != inputDigest || expected.isEmpty) expected = Map(
      "narrow_all" -> answer("narrow_all", narrowVals),
      "wide_all" -> answer("wide_all", wideVals),
      "wide_one" -> answer("wide_one", wideVals.map(_.vs(9))),
      "wide_resolve" -> answer("wide_resolve", wideVals.map(resolveWide)),
      "ocf_explode" -> answer("ocf_explode", containers.flatMap(_._2)),
      "decode_json" -> answer("decode_json", wideVals.map(v => Rec(Vector(v.vs(0), v.vs(2).asInstanceOf[Rec].vs(1))))),
      "kpl_decode_all" -> answer("kpl_decode_all", kpls.flatten))
    expectedFor = inputDigest
  }

  override def release(ctx: Ctx): Unit = frames.values.foreach(_.unpersist(blocking = true))

  def op(kind: String, rnd: Random): Op = {
    val exp = expected(kind)
    def frame(f: String) = frames(f)
    /** The decoded values of this kind as one column `r`. */
    def decoded(): DataFrame = kind match {
      case "narrow_all" => frame("narrow").select(gfn.from_avro(col("payload"), Narrow).as("r"))
      case "wide_all" => frame("wide").select(gfn.from_avro(col("payload"), Wide).as("r"))
      case "wide_one" => frame("wide").select(gfn.from_avro(col("payload"), Wide).getField("ts").as("r"))
      case "wide_resolve" => frame("wide").select(gfn.from_avro(col("payload"), Wide, WideReader).as("r"))
      case "ocf_explode" => frame("ocf").select(gfn.avro_ocf_explode(col("payload"), Narrow)).select(struct(col("*")).as("r"))
      case "decode_json" =>
        val j = col("j")
        frame("wide").select(gfn.avro_decode_json(col("payload"), Wide).as("j"))
          .select(struct(get_json_object(j, "$.id").cast("long").as("id"), get_json_object(j, "$.user.name").as("name")).as("r"))
      case "kpl_decode_all" =>
        val t = "array<struct<id:bigint,device:string,qty:int,value:double,ok:boolean,note:string>>"
        frame("kpl").select(explode(from_json(gfn.spring_kpl_decode_all(col("payload"), Map(ContentType -> Narrow)),
          DataType.fromDDL(t))).as("r"))
    }
    Op(kind, "", exp._1, ctx => {
      val r = ctx.collect {
        decoded().agg(count(lit(1)), bit_xor(Checksum.spark(checked(kind), col("r"))))
      }.head
      val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      if (got == exp) None else Some(s"checksum $got, expected $exp")
    })
  }

  def probeSet: ProbeSet = ProbeSet(Wide, wideSample, WideReader, resolveWide)

  override def extraMetrics(ctx: Ctx, results: Seq[OpResult], w: Window): Seq[(String, Double, String)] =
    if (!ctx.trace) Nil
    else {
      val rows = results.map(_.rows).sum
      Seq(("spark.decode_cpu_s_per_mrow", results.map(_.exec.cpuNs).sum / 1e9 / (rows / 1e6), "s"))
    }
}
