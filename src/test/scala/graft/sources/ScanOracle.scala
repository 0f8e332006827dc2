package graft.sources

import graft.avro.{AvroSchemaParser, AvroSkipper, Ocf}
import graft.spark.functions.from_avro
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** An oracle for graft-ocf scans that shares no code with the scan's
  * decoder: the kernel's OCF framing (`Ocf.blockIterator`) splits each
  * data file into its datums, and `from_avro` ([[graft.spark.CatalystAvroReader]])
  * decodes them under the reader schema. */
object ScanOracle {

  /** The writer schema JSON of an OCF file and the bytes of each datum. */
  def datums(file: java.io.File): (String, Seq[Array[Byte]]) = {
    val (header, blocks) = Ocf.blockIterator(java.nio.file.Files.readAllBytes(file.toPath))
    val skip = AvroSkipper.compile(AvroSchemaParser.parse(header.schemaJson))
    val out = Seq.newBuilder[Array[Byte]]
    blocks.foreach { b =>
      var i = 0L
      while (i < b.datumCount) {
        val start = b.in.pos
        skip(b.in)
        out += java.util.Arrays.copyOfRange(b.in.buf, start, b.in.pos)
        i += 1
      }
    }
    (header.schemaJson, out.result())
  }

  /** `from_avro` of every datum of the `.avro` files directly in `dir`
    * under `readerJson`: a record reader's fields as columns, any other
    * reader as one `value` column (the scan's shape). */
  def fromAvro(spark: SparkSession, dir: String, readerJson: String): DataFrame = {
    val files = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".avro") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    require(files.nonEmpty, s"no .avro files in $dir")
    val record = AvroSchemaParser.parse(readerJson).physical.isInstanceOf[graft.avro.ARecord]
    files.map { f =>
      val (writerJson, bytes) = datums(f)
      val payloads = spark.createDataFrame(bytes.map(b => Row(b)).asJava,
        new org.apache.spark.sql.types.StructType().add("p", "binary"))
      val decoded = payloads.select(from_avro(col("p"), writerJson, readerJson).as("v"))
      if (record) decoded.select("v.*") else decoded.select(col("v").as("value"))
    }.reduce(_ union _)
  }

  /** `df`'s rows rendered for comparison, sorted: NaN-stable, byte arrays
    * as hex, maps with sorted entries. */
  def rows(df: DataFrame): Seq[String] = {
    def render(x: Any): String = x match {
      case null => "<null>"
      case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
      case d: java.math.BigDecimal => d.toPlainString
      case r: Row => "{" + (0 until r.length).map(k => render(r.get(k))).mkString(";") + "}"
      case xs: scala.collection.Seq[_] => "[" + xs.map(render).mkString(";") + "]"
      case m: scala.collection.Map[_, _] =>
        "(" + m.toSeq.map { case (k, v) => render(k) + "=" + render(v) }.sorted.mkString(";") + ")"
      case v => String.valueOf(v)
    }
    df.collect().toSeq.map(render).sorted
  }
}
