package graft.sources

import graft.avro._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Which scalar (writer, reader) pairs a graft-ocf scan reads: 18 writer
  * types under 18 reader types, each plain or `["null", T]` on either side,
  * at top level, as array item, as map value and as struct child — 5,184
  * cells. Every cell [[AvroResolver]] compiles must scan, with the values
  * `from_avro` decodes from the same datums; every cell it refuses must fail
  * the scan's plan with the resolver's message. */
class ColumnarAdmissionGridSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-columnar-grid-spec")
    .getOrCreate()

  private val fixed = AFixed("F", None, 4)
  private val scalars: Seq[(String, AvroSchema)] = Seq(
    "null" -> ANull, "boolean" -> ABoolean, "int" -> AInt, "long" -> ALong,
    "float" -> AFloat, "double" -> ADouble, "bytes" -> ABytes, "string" -> AString,
    "fixed" -> fixed, "enum" -> AEnum("E", None, Seq("A", "B")),
    "decimal-bytes" -> ADecimal(9, 2, ABytes), "decimal-fixed" -> ADecimal(9, 2, fixed),
    "date" -> ADate(), "time-millis" -> ATimeMillis(), "time-micros" -> ATimeMicros(),
    "timestamp-millis" -> ATimestampMillis(), "timestamp-micros" -> ATimestampMicros(),
    "uuid" -> AUuid())

  private val sites: Seq[(String, AvroSchema => AvroSchema)] = Seq(
    "top level" -> (t => t),
    "array item" -> (t => AArray(t)),
    "map value" -> (t => AMap(t)),
    "struct child" -> (t => ARecord("S", None, Seq(AField("c", t)))))

  private def maybeNull(t: AvroSchema, nullable: Boolean) = if (nullable) AUnion(Seq(ANull, t)) else t

  /** `s` with every named type renamed by `tag`, so that many cells share
    * one record schema. */
  private def tagged(s: AvroSchema, tag: String): AvroSchema = s match {
    case f: AFixed => f.copy(name = f.name + tag)
    case e: AEnum => e.copy(name = e.name + tag)
    case ADecimal(p, sc, u) => ADecimal(p, sc, tagged(u, tag))
    case r: ARecord => r.copy(name = r.name + tag,
      fields = r.fields.map(f => f.copy(schema = tagged(f.schema, tag))))
    case AArray(i) => AArray(tagged(i, tag))
    case AMap(v) => AMap(tagged(v, tag))
    case AUnion(bs) => AUnion(bs.map(tagged(_, tag)))
    case other => other
  }

  /** Datum `k` of a value of scalar `t`. */
  private def scalar(t: AvroSchema, k: Int, out: AvroBinaryWriter): Unit = t match {
    case ANull =>
    case ABoolean => out.writeBoolean(k % 2 == 0)
    case AInt | ADate(_) | ATimeMillis(_) => out.writeInt(7 - 5 * k)
    case ALong | ATimeMicros(_) | ATimestampMillis(_) | ATimestampMicros(_) =>
      out.writeLong(1234567890123L * (k - 1))
    case AFloat => out.writeFloat(1.5f * k - 2)
    case ADouble => out.writeDouble(2.25 * k - 1)
    case ABytes => out.writeBytes(Array[Byte](k.toByte, -1, 2))
    case AString => out.writeString(s"s$k")
    case AUuid(_) => out.writeString(s"00000000-0000-0000-0000-00000000000$k")
    case _: AFixed => out.writeFixed(Array[Byte](1, 2, 3, k.toByte))
    case _: AEnum => out.writeInt(k % 2)
    case ADecimal(_, _, u) =>
      val unscaled = java.math.BigInteger.valueOf(12345L - 10000L * k).toByteArray
      u match {
        case f: AFixed => out.writeFixed(Array.fill[Byte](f.size - unscaled.length)(
          if (unscaled(0) < 0) -1 else 0) ++ unscaled)
        case _ => out.writeBytes(unscaled)
      }
  }

  /** Datum `k` of a cell's writer field: its scalar at `site` (two array
    * items, one map value), each behind a union branch index when nullable
    * (`k == 3` is the null, when `nulls`). */
  private def field(site: String, t: AvroSchema, nullable: Boolean, nulls: Boolean, k: Int,
      out: AvroBinaryWriter): Unit = {
    def value(k: Int): Unit =
      if (nullable && nulls && k >= 3) out.writeLong(0)
      else { if (nullable) out.writeLong(1); scalar(t, k, out) }
    site match {
      case "array item" => out.writeLong(2); value(k); value(k + 1); out.writeLong(0)
      case "map value" => out.writeLong(1); out.writeString("m"); value(k); out.writeLong(0)
      case _ => value(k)
    }
  }

  private def recordOf(fields: Seq[AField]) = ARecord("R", None, fields)

  test("every cell the resolver compiles scans as from_avro reads it; every " +
      "cell it refuses fails the scan's plan with the resolver's message") {
    final case class Cell(site: String, wrap: AvroSchema => AvroSchema, w: String, writer: AvroSchema,
        wn: Boolean, r: String, reader: AvroSchema, rn: Boolean) {
      def name = s"$site: writer ${if (wn) s"[null, $w]" else w} under reader " +
        s"${if (rn) s"[null, $r]" else r}"
      def writerField(tag: String) = tagged(wrap(maybeNull(writer, wn)), tag)
      def readerField(tag: String) = tagged(wrap(maybeNull(reader, rn)), tag)
      /** The cell's first non-null datum, as a one-field record. */
      def datum: Array[Byte] = {
        val out = new AvroBinaryWriter()
        field(site, writer, wn, nulls = false, 0, out)
        out.toByteArray
      }
    }
    val cells = for {
      (site, wrap) <- sites
      wn <- Seq(false, true)
      rn <- Seq(false, true)
      (w, writer) <- scalars
      (r, reader) <- scalars
    } yield Cell(site, wrap, w, writer, wn, r, reader, rn)
    assert(cells.length == 5184)
    def json(s: AvroSchema) = AvroSchemaParser.toJson(s)
    def parsed(field: AvroSchema) = AvroSchemaParser.parse(json(recordOf(Seq(AField("f", field)))))
    val verdicts = cells.map { c =>
      c -> (try { AvroResolver.resolve(parsed(c.writerField("")), parsed(c.readerField(""))); None }
      catch { case e: AvroResolutionException => Some(e.getMessage) })
    }
    val compiled = verdicts.collect { case (c, None) => c }
    val refused = verdicts.collect { case (c, Some(m)) => (c, m) }
    assert(compiled.length == 3052, s"compiled ${compiled.length}")
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    /** A file holding the cell's first datum. */
    def cellFile(c: Cell): OcfDataSource.OcfFileMeta = {
      val file = new java.io.File(java.nio.file.Files.createTempDirectory("graft-grid-cell").toFile, "x.avro")
      java.nio.file.Files.write(file.toPath, Ocf.writePreEncoded(
        recordOf(Seq(AField("f", c.writerField("")))), Iterator(c.datum)))
      OcfDataSource.fetchMetas(conf.value,
        Seq(OcfDataSource.FileSlice(file.getAbsolutePath, file.length()))).head
    }

    // refused: the scan's plan (its reader factory, built on the driver)
    // fails with the resolver's message
    val wrongPlans = refused.flatMap { case (c, m) =>
      val writerJson = json(recordOf(Seq(AField("f", c.writerField("")))))
      val readerJson = json(recordOf(Seq(AField("f", c.readerField("")))))
      val meta = OcfDataSource.OcfFileMeta("/grid/f.avro", 1L << 20, writerJson, "null",
        new Array[Byte](16), 100L)
      val got = try {
        OcfScan(Seq(meta), readerJson, OcfDataSource.sqlShape(readerJson)._1, conf, 1L << 20)
          .createReaderFactory()
        "a plan"
      } catch { case e: AvroResolutionException => e.getMessage }
      if (got == m) None else Some(s"${c.name}: $got, expected $m")
    }
    assert(wrongPlans.isEmpty, wrongPlans.mkString("\n"))
    // and through a real query, one refused cell per site
    refused.groupBy(_._1.site).values.map(_.head).foreach { case (c, m) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-grid-refused").toFile
      val writer = recordOf(Seq(AField("f", c.writerField(""))))
      java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath, Ocf.writePreEncoded(writer,
        Iterator.tabulate(3) { k =>
          val out = new AvroBinaryWriter(); field(c.site, c.writer, c.wn, nulls = false, k, out)
          out.toByteArray
        }))
      val df = spark.read.format("graft-ocf")
        .option("readerSchema", json(recordOf(Seq(AField("f", c.readerField(""))))))
        .load(dir.getAbsolutePath)
      val e = intercept[Exception](df.queryExecution.executedPlan)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(chain.contains(m), s"${c.name}: $chain")
    }

    // compiled: one file per (site, writer nullability, reader nullability)
    // whose record holds every compiled cell of the group as a field; the
    // scan equals from_avro over the same datums
    // a compiled cell whose writer value lands on a union branch the
    // reader cannot take: from_avro raises the resolver's message
    def fromAvroError(c: Cell): Option[String] =
      try {
        graft.spark.CatalystAvroReader.compile(parsed(c.writerField("")), parsed(c.readerField("")))(
          new AvroBinaryReader(c.datum))
        None
      } catch { case e: AvroResolutionException => Some(e.getMessage) }
    val (failing, reading) = compiled.map(c => (c, fromAvroError(c))).partition(_._2.isDefined)
    val scanned = reading.map(_._1)
    scanned.groupBy(c => (c.site, c.wn, c.rn)).foreach { case ((site, wn, rn), group) =>
      val writer = recordOf(group.zipWithIndex.map { case (c, i) => AField(s"f$i", c.writerField(s"_$i")) })
      val reader = recordOf(group.zipWithIndex.map { case (c, i) => AField(s"f$i", c.readerField(s"_$i")) })
      val dir = java.nio.file.Files.createTempDirectory("graft-grid").toFile
      java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath, Ocf.writePreEncoded(writer,
        Iterator.tabulate(4) { k =>
          val out = new AvroBinaryWriter()
          group.foreach(c => field(site, c.writer, wn, nulls = rn, k, out))
          out.toByteArray
        }))
      val scan = spark.read.format("graft-ocf").option("readerSchema", json(reader))
        .load(dir.getAbsolutePath)
      assert(scan.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val got = ScanOracle.rows(scan)
      val want = ScanOracle.rows(ScanOracle.fromAvro(spark, dir.getAbsolutePath, json(reader)))
      assert(got == want, s"$site, writer nullable $wn, reader nullable $rn: " +
        group.map(_.name).mkString("; "))
    }
    // the rest: the split raises the message from_avro raises
    val wrongFails = failing.flatMap { case (c, want) =>
      val meta = cellFile(c)
      val r = new OcfColumnarSplitReader(meta, 0L, meta.len,
        json(recordOf(Seq(AField("f", c.readerField(""))))), conf.value)
      val got = try { r.next(); None } catch { case e: AvroResolutionException => Some(e.getMessage) }
      finally r.close()
      if (got == want) None else Some(s"${c.name}: scan $got, from_avro $want")
    }
    assert(wrongFails.isEmpty, wrongFails.mkString("\n"))
    // of the 3,052 compiled cells, 1,160 read values through a scan and
    // 1,892 land on a union branch the reader cannot take
    assert((scanned.length, failing.length) == ((1160, 1892)))
  }
}
