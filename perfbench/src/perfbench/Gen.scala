package perfbench

import java.io.ByteArrayOutputStream
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.Schema.Type._
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A generated Avro record value: the field values in schema order. Arrays are
  * `Vector`s, maps are [[MapV]]s, unions hold the branch value itself, enums
  * their symbol. */
final case class Rec(vs: Vector[Any])
final case class MapV(entries: Vector[(String, Any)])

/** Converts generated values for the three consumers that must agree on them:
  * the Apache Avro writer (which encodes every input the engine decodes), the
  * Spark rows the expected answers are computed from, and the engine's own
  * generic datums (which the kernel probes compare against). Everything here
  * is independent of the engine's Avro code. */
object Avro {
  def parse(json: String): ASchema = new ASchema.Parser().parse(json)

  /** The branch of union `s` that holds `v`. */
  def branchFor(s: ASchema, v: Any): ASchema = {
    val want = v match {
      case null => NULL
      case _: Long => LONG
      case _: Int => INT
      case _: String => STRING
      case _: Double => DOUBLE
      case _: Boolean => BOOLEAN
      case other => throw new IllegalArgumentException(s"no union branch for $other")
    }
    s.getTypes.asScala.find(_.getType == want)
      .getOrElse(throw new IllegalArgumentException(s"union $s has no $want branch"))
  }

  def toApache(s: ASchema, v: Any): AnyRef = s.getType match {
    case RECORD =>
      val r = new GenericData.Record(s)
      v.asInstanceOf[Rec].vs.zip(s.getFields.asScala).foreach { case (x, f) => r.put(f.pos, toApache(f.schema, x)) }
      r
    case ARRAY => v.asInstanceOf[Vector[Any]].map(toApache(s.getElementType, _)).asJava
    case MAP =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      v.asInstanceOf[MapV].entries.foreach { case (k, x) => m.put(k, toApache(s.getValueType, x)) }
      m
    case UNION => if (v == null) null else toApache(branchFor(s, v), v)
    case ENUM => new GenericData.EnumSymbol(s, v.asInstanceOf[String])
    case NULL => null
    case _ => v.asInstanceOf[AnyRef]
  }

  /** Bare datum bytes, encoded by the Apache Avro library. */
  def encoder(s: ASchema): Any => Array[Byte] = {
    val w = new GenericDatumWriter[AnyRef](s)
    val bos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(bos, null)
    v => { bos.reset(); w.write(toApache(s, v), enc); enc.flush(); bos.toByteArray }
  }

  /** An object container file written by the Apache Avro library. */
  def container(s: ASchema, vs: Seq[Any], codec: String): Array[Byte] = {
    val cf = codec match {
      case "null" => CodecFactory.nullCodec()
      case "deflate" => CodecFactory.deflateCodec(6)
      case "snappy" => CodecFactory.snappyCodec()
      case "zstandard" => CodecFactory.zstandardCodec(3)
      case "bzip2" => CodecFactory.bzip2Codec()
    }
    val bos = new ByteArrayOutputStream()
    val w = new DataFileWriter[AnyRef](new GenericDatumWriter[AnyRef](s)).setCodec(cf)
    w.create(s, bos)
    vs.foreach(v => w.append(toApache(s, v)))
    w.close()
    bos.toByteArray
  }

  /** The Spark type of a decoded Avro value (nullable unions become nullable
    * columns; other unions become `struct<member0..>`; enums become strings). */
  def sparkType(s: ASchema, mapEntries: Boolean = false): DataType = s.getType match {
    case RECORD => StructType(s.getFields.asScala.map(f =>
      StructField(f.name, sparkType(f.schema, mapEntries), nullableOf(f.schema))).toSeq)
    case ARRAY => ArrayType(sparkType(s.getElementType, mapEntries), nullableOf(s.getElementType))
    case MAP if mapEntries => ArrayType(StructType(Seq(StructField("key", StringType, nullable = false),
      StructField("value", sparkType(s.getValueType, mapEntries), nullableOf(s.getValueType)))), containsNull = false)
    case MAP => MapType(StringType, sparkType(s.getValueType), nullableOf(s.getValueType))
    case UNION =>
      val nn = s.getTypes.asScala.filter(_.getType != NULL).toSeq
      if (nn.size == 1) sparkType(nn.head, mapEntries)
      else StructType(nn.zipWithIndex.map { case (b, i) => StructField(s"member$i", sparkType(b, mapEntries), nullable = true) })
    case ENUM | STRING => StringType
    case LONG => LongType
    case INT => IntegerType
    case DOUBLE => DoubleType
    case FLOAT => FloatType
    case BOOLEAN => BooleanType
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }
  def nullableOf(s: ASchema): Boolean = s.getType == UNION && s.getTypes.asScala.exists(_.getType == NULL)

  /** The value as Spark returns it (`mapEntries`: maps as arrays of (key, value) rows). */
  def toSpark(s: ASchema, v: Any, mapEntries: Boolean = false): Any = s.getType match {
    case RECORD => Row.fromSeq(v.asInstanceOf[Rec].vs.zip(s.getFields.asScala).map { case (x, f) => toSpark(f.schema, x, mapEntries) })
    case ARRAY => v.asInstanceOf[Vector[Any]].map(toSpark(s.getElementType, _, mapEntries))
    case MAP if mapEntries => v.asInstanceOf[MapV].entries.map { case (k, x) => Row(k, toSpark(s.getValueType, x, mapEntries)) }
    case MAP => ListMap(v.asInstanceOf[MapV].entries.map { case (k, x) => k -> toSpark(s.getValueType, x) }: _*)
    case UNION =>
      val nn = s.getTypes.asScala.filter(_.getType != NULL).toSeq
      if (v == null) null
      else if (nn.size == 1) toSpark(nn.head, v, mapEntries)
      else {
        val b = branchFor(s, v)
        Row.fromSeq(nn.map(x => if (x eq b) toSpark(b, v, mapEntries) else null))
      }
    case _ => v
  }

  /** Does the engine's generic datum equal the generated value? */
  def sameAsEngine(s: ASchema, exp: Any, got: Any): Boolean = s.getType match {
    case RECORD => got match {
      case r: graft.avro.AvroRecord =>
        val fs = s.getFields.asScala
        r.values.length == fs.size && fs.indices.forall(i => sameAsEngine(fs(i).schema, exp.asInstanceOf[Rec].vs(i), r.values(i)))
      case _ => false
    }
    case ARRAY => got match {
      case g: Seq[_] =>
        val e = exp.asInstanceOf[Vector[Any]]
        g.size == e.size && e.indices.forall(i => sameAsEngine(s.getElementType, e(i), g(i)))
      case _ => false
    }
    case MAP => got match {
      case g: scala.collection.Map[_, _] =>
        val e = exp.asInstanceOf[MapV].entries
        g.size == e.size && e.forall { case (k, x) => g.asInstanceOf[scala.collection.Map[String, Any]].get(k).exists(sameAsEngine(s.getValueType, x, _)) }
      case _ => false
    }
    case UNION => if (exp == null) got == null else got != null && sameAsEngine(branchFor(s, exp), exp, got)
    case _ => exp == got
  }
}

/** KPL aggregation and Spring embedded-header framing, written from the wire
  * formats so that the framed inputs do not come from the engine's encoders. */
object Framing {
  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def field(out: ByteArrayOutputStream, num: Int, b: Array[Byte]): Unit = {
    varint(out, (num << 3) | 2L); varint(out, b.length.toLong); out.write(b, 0, b.length)
  }

  /** A KPL `AggregatedRecord` holding `records` under one partition key, with
    * the KPL magic prefix and MD5 trailer. */
  def kpl(partitionKey: String, records: Seq[Array[Byte]]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    field(body, 1, partitionKey.getBytes("UTF-8"))
    records.foreach { d =>
      val r = new ByteArrayOutputStream()
      varint(r, 1L << 3); varint(r, 0L) // partition_key_index = 0
      field(r, 3, d)
      field(body, 3, r.toByteArray)
    }
    val b = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(Array(0xf3, 0x89, 0x9a, 0xc2).map(_.toByte))
    out.write(b)
    out.write(java.security.MessageDigest.getInstance("MD5").digest(b))
    out.toByteArray
  }

  /** A Spring message with embedded headers (values JSON-encoded strings). */
  def spring(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(0xff)
    out.write(headers.size)
    headers.foreach { case (k, v) =>
      val kb = k.getBytes("UTF-8")
      val vb = ("\"" + v + "\"").getBytes("UTF-8")
      out.write(kb.length); out.write(kb)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(vb.length).array())
      out.write(vb)
    }
    out.write(body)
    out.toByteArray
  }
}

/** Text with planted near-duplicates, for the corpus workload. */
object Text {
  val Vocab: Vector[String] = {
    val r = new Random(7L)
    val common = Vector("the", "of", "and", "to", "in", "is", "that", "for", "it", "with", "as", "on", "was", "by")
    common ++ (0 until 3000).map(_ => (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }
  def words(r: Random, n: Int): Vector[String] =
    Vector.fill(n)(if (r.nextInt(4) == 0) Vocab(r.nextInt(14)) else Vocab(14 + (math.abs(r.nextGaussian()) * 400).toInt % (Vocab.size - 14)))
  def sentence(r: Random, n: Int): String = words(r, n).mkString(" ") + "."
}

/** The hash every decode op's answer is checked with: Spark's `xxhash64` of
  * the decoded value, XOR-folded over rows. [[spark]] hashes decoded columns
  * in the query; [[value]] hashes a generated value on the driver. Spark does
  * not hash maps, so both sides hash a map as its array of entries. */
object Checksum {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.{functions => F}

  private def hasMap(s: ASchema): Boolean = s.getType match {
    case RECORD => s.getFields.asScala.exists(f => hasMap(f.schema))
    case MAP => true
    case _ => false
  }

  private def hashable(s: ASchema, c: Column): Column = s.getType match {
    case RECORD if hasMap(s) =>
      F.struct(s.getFields.asScala.toSeq.map(f => hashable(f.schema, c.getField(f.name)).as(f.name)): _*)
    case MAP => F.map_entries(c)
    case _ => c
  }

  def spark(s: ASchema, c: Column): Column = F.xxhash64(hashable(s, c))

  def value(s: ASchema, v: Any): Long =
    org.apache.spark.sql.perfbench.RowHash.xxhash64(Avro.toSpark(s, v, mapEntries = true),
      Avro.sparkType(s, mapEntries = true))
}
