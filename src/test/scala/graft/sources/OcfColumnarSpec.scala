package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Vectorized reads (X91): every graft-ocf split decodes into a
  * ColumnarBatch. Sink-written data is compared with the rows written;
  * external files with [[ScanOracle.fromAvro]] over the same datums. */
class OcfColumnarSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-columnar-spec")
    .getOrCreate()

  private def tempDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  /** Write `datums` under `writer` as an external file, read them under
    * `readerJson` through the scan (which must decode columnar) and through
    * [[ScanOracle.fromAvro]], and return both, rendered and sorted. */
  private def readWithOracle(writer: graft.avro.AvroSchema, datums: Seq[Any],
      readerJson: String): (Seq[String], Seq[String]) = {
    val dir = tempDir("graft-col-oracle")
    java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath,
      graft.avro.Ocf.writeAll(writer, datums))
    val scan = spark.read.format("graft-ocf").option("readerSchema", readerJson)
      .load(dir.getAbsolutePath)
    assert(isColumnar(scan), scan.queryExecution.executedPlan.toString)
    (ScanOracle.rows(scan), ScanOracle.rows(ScanOracle.fromAvro(spark, dir.getAbsolutePath, readerJson)))
  }

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString("\n")

  test("flat primitive scans read columnar; results equal the row path") {
    import spark.implicits._
    val dir = tempDir("graft-col")
    val src = (0L until 5000L).map(i =>
      (i, if (i % 7 == 0) null else s"doc $i", i * 0.5, i % 3 == 0))
      .toDF("id", "v", "score", "flag").repartition(3)
    src.write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)

    val colDf = spark.read.format("graft-ocf")
      .option("splitSize", "65536") // several splits per file
      .load(dir.getAbsolutePath)
    assert(isColumnar(colDf), colDf.queryExecution.executedPlan.toString)

    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getDouble(2), r.getBoolean(3))).sortBy(_._1).toSeq
    val a = canon(colDf)
    assert(a == canon(src))
    assert(a.length == 5000)
    assert(a(7) == ((7L, null, 3.5, false)))
    assert(a(6) == ((6L, "doc 6", 3.0, true)))

    // pushed limit stops early on the columnar path too
    assert(colDf.limit(5).collect().length == 5)
    // codegen'd filters/aggregates consume the batches
    assert(colDf.where("id % 100 = 3").count() == 50L)
  }

  test("columnar survives codecs and column pruning keeps identity resolution") {
    import spark.implicits._
    val dir = tempDir("graft-col-z")
    val src = (0L until 1000L).map(i => (i, s"z$i")).toDF("id", "v")
    src.write.format("graft-ocf").option("codec", "deflate")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(isColumnar(df))
    assert(df.count() == 1000L)
    // a projection PRUNES the reader schema — the wire plan decodes the
    // kept columns positionally and type-SKIPS the projected-away ones,
    // so the flat subset still rides the columnar lane
    val pruned = df.select("id")
    assert(isColumnar(pruned), pruned.queryExecution.executedPlan.toString)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
    assert(ScanOracle.rows(df) == ScanOracle.rows(src))
  }

  test("per-file wire plan: plain writer under nullable reader, both lanes equal") {
    import spark.implicits._
    val dir = tempDir("graft-col-wire")
    // tuple fields (Long, Double) are non-nullable in Spark => the sink
    // writes PLAIN long/double — no union, no branch byte on the wire
    val src = (0L until 3000L).map(i => (i, i * 0.25)).toDF("id", "score")
    src.write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    // a NULLABLE reader over those plain files is the catalog's common
    // case (nullable table schema over non-null-written files): the wire
    // plan must decode with NO branch byte, not consume one the writer
    // never wrote
    val readerJson =
      """{"type":"record","name":"topLevelRecord","fields":[
        |{"name":"id","type":["null","long"]},
        |{"name":"score","type":["null","double"]}]}""".stripMargin
    val col = spark.read.format("graft-ocf")
      .option("readerSchema", readerJson).load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val got = canon(col)
    assert(got == canon(src), "columnar decode must equal the rows written")
    assert(got.length == 3000 && got(17) == ((17L, 4.25)))
    // the inverse — NULLABLE writer under a PLAIN reader — has nowhere to
    // put a null: the plan compiles, and a null raises the resolver's
    // message (never a null or an empty string)
    val ndir = tempDir("graft-col-wire-n")
    (0L until 100L).map(i => (i, if (i % 9 == 0) null else s"s$i"))
      .toDF("id", "v") // v nullable => union on the wire
      .write.format("graft-ocf").mode(SaveMode.Append).save(ndir.getAbsolutePath)
    val plainReader =
      """{"type":"record","name":"topLevelRecord","fields":[
        |{"name":"id","type":"long"}]}""".stripMargin
    val fb = spark.read.format("graft-ocf")
      .option("readerSchema", plainReader).load(ndir.getAbsolutePath)
    assert(fb.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    val plainV = spark.read.format("graft-ocf").option("readerSchema",
      """{"type":"record","name":"topLevelRecord","fields":[
        |{"name":"id","type":"long"},{"name":"v","type":"string"}]}""".stripMargin)
      .load(ndir.getAbsolutePath)
    assert(isColumnar(plainV), plainV.queryExecution.executedPlan.toString)
    val e = intercept[Exception](plainV.collect())
    assert(messages(e).contains("writer union branch null not readable as string"), messages(e))
  }

  test("columnar composes with block-index aligned splits and stats skipping") {
    import spark.implicits._
    val dir = tempDir("graft-col-bi")
    (0L until 20000L).map(i => (i, s"payload $i")).toDF("id", "v")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("graft-ocf")
      .option("statsColumns", "id").option("blockIndex", "true")
      .option("blockBytes", "4096")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .where($"id" >= 19900L)
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    val got = df.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (19900L until 20000L))
    assert(got.length == 100)
    // stamp-size regression pin (X89): the FILE stamp carries the NDV
    // sketch; the per-BLOCK index entries must NOT (a sketch per block
    // would bloat the header ~700 B/entry for a file-level-only quantity)
    val f = OcfDataSource.list(
      spark.sessionState.newHadoopConf(), Seq(dir.getAbsolutePath), None,
      recursive = false).head
    val m = OcfDataSource.fetchMetas(spark.sessionState.newHadoopConf(), Seq(f)).head
    assert(m.statsJson.exists(_.contains("\"hll\"")), "file stamp needs the sketch")
    assert(m.blockIndexJson.exists(j => !j.contains("\"hll\"")),
      "block index entries must stay sketch-free")
  }

  test("`_file` and partition values ride as constant vectors; DEEP " +
      "nesting, unions of structs and arrays-of-arrays vectorize too") {
    import spark.implicits._
    val dir = tempDir("graft-col-fb")
    (0L until 100L).map(i => (i, s"d$i")).toDF("id", "v")
      .write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    val base = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // `_file` is a per-split CONSTANT — a ConstantColumnVector, still columnar
    val withFile = base.select($"id", $"_file")
    assert(isColumnar(withFile), withFile.queryExecution.executedPlan.toString)
    assert(withFile.collect().forall(_.getString(1).contains("graft-col-fb")))
    // TWO-level nesting (a struct inside a struct) — equal to the rows written
    val ndir = tempDir("graft-col-nested")
    val nsrc = (0L until 10L).map(i => (i, ((s"n$i", i * 2), i * 3)))
      .toDF("id", "info")
    nsrc.write.format("graft-ocf").mode(SaveMode.Append).save(ndir.getAbsolutePath)
    val nested = spark.read.format("graft-ocf").load(ndir.getAbsolutePath)
    assert(isColumnar(nested), nested.queryExecution.executedPlan.toString)
    def canonN(df: DataFrame) = df
      .selectExpr("id", "info._1._1 AS a", "info._1._2 AS b", "info._2 AS c")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(canonN(nested) == canonN(nsrc))
    assert(canonN(nested)(3) == ((3L, "n3", 6L, 9L)))
    // a union of structs (X111) and an ARRAY-OF-ARRAYS: equal to from_avro
    import graft.avro._
    val unionSchema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"u","type":[
        |  {"type":"record","name":"A","fields":[{"name":"x","type":"long"}]},
        |  {"type":"record","name":"B","fields":[{"name":"y","type":"string"}]}]}]}"""
        .stripMargin).asInstanceOf[ARecord]
    val Seq(a, b) = unionSchema.fields.head.schema.asInstanceOf[AUnion].branches
      .map(_.asInstanceOf[ARecord])
    val (unionScan, unionOracle) = readWithOracle(unionSchema, (0L until 40L).map(i =>
      AvroRecord(unionSchema, Array[Any](
        if (i % 2 == 0) AvroRecord(a, Array[Any](i)) else AvroRecord(b, Array[Any](s"y$i"))))),
      AvroSchemaParser.toJson(unionSchema))
    assert(unionScan == unionOracle)
    assert(unionScan.contains("{{{4};<null>}}") && unionScan.contains("{{<null>;{y5}}}"),
      unionScan.take(4).toString)
    val aoaSchema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"xs","type":{"type":"array","items":
        |  {"type":"array","items":"long"}}}]}""".stripMargin)
    val (aoaScan, aoaOracle) = readWithOracle(aoaSchema, (0L until 40L).map(i =>
      AvroRecord(aoaSchema.asInstanceOf[ARecord],
        Array[Any]((0L until i % 4).map(j => (0L until j).map(_ + i))))),
      AvroSchemaParser.toJson(aoaSchema))
    assert(aoaScan == aoaOracle)
    assert(aoaScan.contains("{[[];[7];[7;8]]}"), aoaScan.take(4).toString)
  }

  test("identity-partitioned scans vectorize: constant partition vectors, " +
      "bit-identical to the row lane, pruning intact") {
    import spark.implicits._
    val pdir = tempDir("graft-col-part")
    val src = (0L until 2000L).map(i => (i, s"p$i", s"g${i % 3}", (i % 5).toInt))
      .toDF("id", "v", "g", "n")
    src.write.format("graft-ocf").partitionBy("g", "n")
      .mode(SaveMode.Append).save(pdir.getAbsolutePath)
    val col = spark.read.format("graft-ocf").load(pdir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.select("id", "v", "g", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(src), "partitioned columnar decode must equal the rows written")
    assert(a.length == 2000 && a(7) == ((7L, "p7", "g1", 2)))
    // partition-value predicates still prune at plan time AND stay columnar
    val pruned = col.where($"g" === "g1" && $"n" === 2)
    assert(isColumnar(pruned))
    assert(pruned.count() == src.where($"g" === "g1" && $"n" === 2).count())
    // partition columns + `_file` together, projected in odd orders
    val mixed = col.select($"g", $"_file", $"id").where($"id" < 50)
    assert(isColumnar(mixed), mixed.queryExecution.executedPlan.toString)
    val got = mixed.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.length == 50)
    assert(got.forall { case (g, f, i) =>
      g == s"g${i % 3}" && f.contains(s"g=g${i % 3}") })
    // partition-only projection (zero data columns decoded) stays exact
    val gOnly = col.select("n")
    assert(isColumnar(gOnly))
    assert(gOnly.collect().map(_.getInt(0)).sorted.toSeq ==
      (0L until 2000L).map(i => (i % 5).toInt).sorted.toSeq)
  }

  test("transform- and bucket-partitioned CATALOG tables vectorize; values " +
      "equal the inserted rows and the row lane") {
    import spark.implicits._
    val wh = tempDir("graft-col-wh")
    spark.conf.set("spark.sql.catalog.gcol", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcol.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcol.ns")
    // hidden transform layout: days(ts) — ts stays a data column
    spark.sql(
      """CREATE TABLE gcol.ns.tfc (id BIGINT, ts TIMESTAMP, v STRING)
        |USING `graft-ocf` PARTITIONED BY (days(ts))""".stripMargin)
    val tfRows = (0 until 500).map(i => (i.toLong,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + i * 7200L)),
        s"v$i")).toDF("id", "ts", "v")
    tfRows.writeTo("gcol.ns.tfc").append()
    val tf = spark.read.table("gcol.ns.tfc")
    assert(isColumnar(tf), tf.queryExecution.executedPlan.toString)
    def canonT(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1).toInstant.toString, r.getString(2)))
      .sortBy(_._1).toSeq
    val at = canonT(tf)
    assert(at == canonT(tfRows))
    assert(at.length == 500 && at(3) ==
      ((3L, java.time.Instant.ofEpochSecond(1700021600L).toString, "v3")))
    // hidden-pruned transform predicate stays columnar
    val d0 = tf.where($"ts" < java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700086400L)))
    assert(isColumnar(d0))
    assert(d0.count() == tfRows.where($"ts" < java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700086400L))).count())

    // bucket layout: engine-owned hash dirs, id stays a data column
    spark.sql(
      """CREATE TABLE gcol.ns.bkc (id BIGINT, v STRING)
        |USING `graft-ocf` PARTITIONED BY (bucket(4, id))""".stripMargin)
    val bkRows = (0 until 400).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    bkRows.writeTo("gcol.ns.bkc").append()
    val bk = spark.read.table("gcol.ns.bkc")
    assert(isColumnar(bk), bk.queryExecution.executedPlan.toString)
    val bkGot = bk.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(bkGot.toSeq == (0 until 400).map(i => (i.toLong, s"b$i")))
    assert(bkGot.toSeq ==
      bkRows.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    // bucket point-lookup pruning stays columnar
    val one = bk.where($"id" === 37L)
    assert(isColumnar(one))
    assert(one.collect().map(_.getString(1)).toSeq == Seq("b37"))
  }

  test("date-typed and null (hive default) partition values land constant " +
      "vectors exactly like the row lane") {
    import spark.implicits._
    val pdir = tempDir("graft-col-pdate")
    val src = (0 until 300).map(i => (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(i % 4)),
        if (i % 7 == 0) null else s"k${i % 3}"))
      .toDF("id", "d", "k")
    src.write.format("graft-ocf").partitionBy("d", "k")
      .mode(SaveMode.Append).save(pdir.getAbsolutePath)
    val col = spark.read.format("graft-ocf").load(pdir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.select("id", "d", "k").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString,
        if (r.isNullAt(2)) null else r.getString(2))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(src))
    assert(a.length == 300)
    assert(a(7) == ((7L, "2021-01-04", null)))
    assert(a(8) == ((8L, "2021-01-01", "k2")))
  }

  test("scalar logical types (date/timestamp) ride the columnar lane; " +
      "values equal the row path exactly") {
    import spark.implicits._
    val dir = tempDir("graft-col-logic")
    val src = (0 until 2000).map { i =>
      (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1577836800L + i, (i % 1000) * 1000L)),
        if (i % 11 == 0) null
        else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + i)))
    }.toDF("id", "d", "ts", "tsn").repartition(2)
    src.write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)

    val colDf = spark.read.format("graft-ocf")
      .option("splitSize", "65536").load(dir.getAbsolutePath)
    assert(isColumnar(colDf), colDf.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getDate(1).toString, r.getTimestamp(2).toInstant.toString,
      if (r.isNullAt(3)) null else r.getTimestamp(3).toInstant.toString))
      .sortBy(_._1).toSeq
    val a = canon(colDf)
    assert(a == canon(src))
    assert(a.length == 2000)
    assert(a(1) == ((1L, "2020-01-02", "2020-01-01T00:00:01.000001Z",
      "2020-09-13T12:26:41Z")))
    assert(a(0)._4 == null)
    // date/timestamp predicates and aggregates consume the batches
    assert(colDf.where($"d" >= java.sql.Date.valueOf("2023-01-01")).count() ==
      src.where($"d" >= java.sql.Date.valueOf("2023-01-01")).count())

    // wire-plan level: an EXTERNAL writer's timestamp-millis resolves under
    // a timestamp-micros reader (same Spark type; decode is writer-driven)
    val readerJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}}]}"""
        .stripMargin
    val writerJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}]}"""
        .stripMargin
    val writer = graft.avro.AvroSchemaParser.parse(writerJson).asInstanceOf[graft.avro.ARecord]
    val (col, oracle) = readWithOracle(writer, (0 until 50).map(i => graft.avro.AvroRecord(writer,
      Array[Any](java.time.Instant.ofEpochMilli(1700000000123L + i)))), readerJson)
    assert(col == oracle)
    assert(col.head == s"{${java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1700000000123L))}}")
  }

  test("decimal (bytes and fixed encodings) rides the columnar lane, " +
      "bit-identical to the row reader") {
    import spark.implicits._
    val dir = tempDir("graft-col-dec")
    val src = (0 until 3000).map { i =>
      (i.toLong,
        BigDecimal(i * 1001L - 1500000L, 2), // negatives exercise sign extension
        if (i % 13 == 0) null
        else (BigDecimal(Long.MaxValue).pow(2) + i).toBigInt.toString) // > 18 digits
    }.toDF("id", "small", "wide")
      .select($"id", $"small".cast("decimal(10,2)").as("small"),
        $"wide".cast("decimal(38,0)").as("wide"))
      .repartition(2)
    src.write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    val col = spark.read.format("graft-ocf")
      .option("splitSize", "65536").load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getDecimal(1).toString,
      if (r.isNullAt(2)) null else r.getDecimal(2).toString)).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(src), "columnar decimal decode must equal the rows written")
    assert(a.length == 3000)
    assert(a(0) == ((0L, "-15000.00", null)))
    assert(a(1) == ((1L, "-14989.99",
      (BigDecimal(Long.MaxValue).pow(2) + 1).toBigInt.toString)))
    // decimal predicates/aggregates consume the batches
    assert(col.where($"small" < BigDecimal(0)).count() ==
      src.where($"small" < BigDecimal(0)).count())
    // wire-plan level: a FIXED-encoded writer decimal (external files)
    // resolves under the same DecimalType reader — decode is writer-driven
    val readerJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"d","type":{"type":"bytes","logicalType":"decimal",
        |"precision":10,"scale":2}}]}""".stripMargin
    val fixedWriterJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"d","type":{"type":"fixed","name":"f","size":5,
        |"logicalType":"decimal","precision":10,"scale":2}}]}""".stripMargin
    val fixedWriter = graft.avro.AvroSchemaParser.parse(fixedWriterJson)
      .asInstanceOf[graft.avro.ARecord]
    val fixedDatums = (0 until 50).map(i =>
      graft.avro.AvroRecord(fixedWriter, Array[Any](BigDecimal(i * 1001L - 25000L, 2).bigDecimal)))
    val (fixedCol, fixedOracle) = readWithOracle(fixedWriter, fixedDatums, readerJson)
    assert(fixedCol == fixedOracle)
    assert(fixedCol.contains("{-250.00}") && fixedCol.contains("{240.49}"))
    // precision beyond DecimalType's 38 has no Spark type: the read fails
    // its plan
    val wideDir = tempDir("graft-col-dec-wide")
    java.nio.file.Files.write(new java.io.File(wideDir, "x.avro").toPath,
      graft.avro.Ocf.writeAll(fixedWriter, fixedDatums))
    intercept[Exception](spark.read.format("graft-ocf").option("readerSchema",
      """{"type":"record","name":"r","fields":[
        |{"name":"d","type":{"type":"bytes","logicalType":"decimal",
        |"precision":44,"scale":2}}]}""".stripMargin).load(wideDir.getAbsolutePath).schema)
  }

  test("MoR position- and equality-deleted tables stay on the columnar " +
      "lane; results bit-equal the row lane (X105)") {
    import spark.implicits._
    val wh = tempDir("graft-col-mor-wh")
    spark.conf.set("spark.sql.catalog.gcolm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcolm.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcolm.ns")

    // POSITION deletes: DELETE FROM under merge-on-read
    spark.sql(
      """CREATE TABLE gcolm.ns.pos (id BIGINT, v STRING)
        |USING `graft-ocf`
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    val written = (0L until 3000L).map(i => (i, if (i % 5 == 0) null else s"v$i"))
    written.toDF("id", "v").coalesce(1).writeTo("gcolm.ns.pos").append()
    spark.sql("DELETE FROM gcolm.ns.pos WHERE id % 7 = 2")
    val posCol = spark.read.table("gcolm.ns.pos")
    assert(isColumnar(posCol), posCol.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1).toSeq
    val a = canon(posCol)
    assert(a == written.filter(_._1 % 7 != 2))
    assert(!a.exists(_._1 % 7 == 2) &&
      a.length == (0L until 3000L).count(_ % 7 != 2))
    assert(a.exists(_._2 == null)) // nulls survive the skip walk

    // EQUALITY deletes (upserts): old generations drop on the lane, and a
    // killed NULL row's slot reused by a non-null survivor must not leak
    // the stale null bit (id=15 null+killed; id=16 "v16" reuses its slot)
    spark.sql(
      """CREATE TABLE gcolm.ns.eq (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    written.toDF("id", "v").coalesce(1).writeTo("gcolm.ns.eq").append()
    (0L until 3000L by 3).map(i => (i, s"upd$i")).toDF("id", "v")
      .coalesce(1).writeTo("gcolm.ns.eq").option("upsertKeys", "id").append()
    val eqCol = spark.read.table("gcolm.ns.eq")
    assert(isColumnar(eqCol), eqCol.queryExecution.executedPlan.toString)
    val upserted = written.map { case (i, v) => (i, if (i % 3 == 0) s"upd$i" else v) }
    val b = canon(eqCol)
    assert(b == upserted)
    assert(b.length == 3000)
    val byId = b.toMap
    assert(byId(15L) == "upd15") // killed null row replaced by the upsert
    assert(byId(16L) == "v16")   // slot-reuse survivor: stale-null pin
    assert(byId(20L) == null)    // genuine surviving null stays null
    assert(byId(3L) == "upd3" && byId(4L) == "v4")
    // split-legal: equality filters are stateless per row, so the burdened
    // file still SPLITS on the columnar lane
    val split = spark.read.option("splitSize", "16384").table("gcolm.ns.eq")
    assert(isColumnar(split))
    assert(canon(split) == b)
    // pushed limit counts SURVIVORS on the burdened columnar read
    assert(spark.read.table("gcolm.ns.eq").limit(10).collect().length == 10)

    // both delete kinds together: position-delete the upserted table
    spark.sql("ALTER TABLE gcolm.ns.eq SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    spark.sql("DELETE FROM gcolm.ns.eq WHERE id % 11 = 1")
    val both = spark.read.table("gcolm.ns.eq")
    assert(isColumnar(both), both.queryExecution.executedPlan.toString)
    val c = canon(both)
    assert(c == upserted.filter(_._1 % 11 != 1))
    assert(!c.exists(_._1 % 11 == 1) &&
      c.length == (0L until 3000L).count(_ % 11 != 1))
  }

  test("struct-of-scalars rides the columnar lane (X107): nullable " +
      "structs, nullable leaves, nested pruning — value-identical") {
    import spark.implicits._
    val dir = tempDir("graft-col-struct")
    val src = (0L until 4000L).map { i =>
      (i,
        if (i % 11 == 0) null
        else (i * 0.5, if (i % 5 == 0) null else s"m$i", i % 2 == 0),
        s"tail$i")
    }.toDF("id", "meta", "tail")
    src.coalesce(2).write.format("graft-ocf")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    val col = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.selectExpr(
        "id", "meta._1 AS a", "meta._2 AS b", "meta._3 AS c", "tail",
        "meta IS NULL AS mn")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) "<n>" else r.getDouble(1).toString,
        Option(r.getString(2)).getOrElse("<n>"),
        if (r.isNullAt(3)) "<n>" else r.getBoolean(3).toString,
        r.getString(4), r.getBoolean(5))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(src))
    assert(a.length == 4000)
    assert(a(11)._6 && a(11)._2 == "<n>")                 // null struct
    assert(a(10) == ((10L, "5.0", "<n>", "true", "tail10", false))) // null leaf
    assert(a(7) == ((7L, "3.5", "m7", "false", "tail7", false)))
    // NESTED pruning: a struct-subfield projection stays columnar and equal
    val pr = col.selectExpr("id", "meta._2 AS b")
    assert(isColumnar(pr), pr.queryExecution.executedPlan.toString)
    assert(pr.collect().map(r => (r.getLong(0),
        Option(r.getString(1)).getOrElse("<n>"))).sortBy(_._1).toSeq ==
      src.selectExpr("id", "meta._2 AS b").collect().map(r =>
        (r.getLong(0), Option(r.getString(1)).getOrElse("<n>")))
        .sortBy(_._1).toSeq)
    // a WHOLE-struct projection-away skips the record on the wire
    val noStruct = col.select("id", "tail")
    assert(isColumnar(noStruct))
    assert(noStruct.count() == 4000 &&
      noStruct.where($"tail" === "tail99").count() == 1)
    // nested evolution at depth (X106): an old file missing a struct CHILD
    // plans when the reader child has a default (it fills per present
    // row); WITHOUT a default the plan fails with the resolver's message
    val rf =
      """{"type":"record","name":"r","fields":[
        |{"name":"m","type":{"type":"record","name":"M","fields":[
        |  {"name":"x","type":"long"},
        |  {"name":"y","type":["null","string"],"default":null}]}}]}""".stripMargin
    val oldWriter =
      """{"type":"record","name":"r","fields":[
        |{"name":"m","type":{"type":"record","name":"M","fields":[
        |  {"name":"x","type":"long"}]}}]}""".stripMargin
    val oldSchema = graft.avro.AvroSchemaParser.parse(oldWriter).asInstanceOf[graft.avro.ARecord]
    val mSchema = oldSchema.fields.head.schema.asInstanceOf[graft.avro.ARecord]
    val (healedCol, healedOracle) = readWithOracle(oldSchema, (0L until 40L).map(i =>
      graft.avro.AvroRecord(oldSchema, Array[Any](graft.avro.AvroRecord(mSchema, Array[Any](i))))),
      rf)
    assert(healedCol == healedOracle)
    assert(healedCol.contains("{{7;<null>}}"), healedCol.take(3).toString)
    val e = intercept[graft.avro.AvroResolutionException](OcfColumnar.wirePlanFor(oldWriter,
      """{"type":"record","name":"r","fields":[
        |{"name":"m","type":{"type":"record","name":"M","fields":[
        |  {"name":"x","type":"long"},
        |  {"name":"y","type":["null","string"]}]}}]}""".stripMargin))
    assert(e.getMessage == "reader field y of M absent from writer and has no default", e.getMessage)
  }

  test("enum and fixed (external files) ride the columnar lane, " +
      "value-identical to the row reader") {
    import graft.avro._
    val dir = tempDir("graft-col-enumfix")
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"state","type":{"type":"enum","name":"St",
        |  "symbols":["NEW","OPEN","DONE"]}},
        |{"name":"mac","type":{"type":"fixed","name":"Mac","size":6}},
        |{"name":"note","type":["null",{"type":"enum","name":"Lvl",
        |  "symbols":["LO","HI"]}]}]}""".stripMargin).asInstanceOf[ARecord]
    val syms = Seq("NEW", "OPEN", "DONE")
    val datums = (0 until 900).map { i =>
      AvroRecord(schema, Array[Any](i.toLong, syms(i % 3),
        Array.tabulate[Byte](6)(k => ((i + k) % 120).toByte),
        if (i % 4 == 0) null else (if (i % 2 == 0) "LO" else "HI")))
    }
    java.nio.file.Files.write(new java.io.File(dir, "ef.avro").toPath,
      Ocf.writeAll(schema, datums))
    val col = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getString(1), r.getAs[Array[Byte]](2).toSeq,
      Option(r.getString(3)).getOrElse("<null>"))).sortBy(_._1).toSeq
    val a = canon(col)
    val writerJson = AvroSchemaParser.toJson(schema)
    assert(a == canon(ScanOracle.fromAvro(spark, dir.getAbsolutePath, writerJson)))
    assert(a(5) == ((5L, "DONE", (5 until 11).map(_.toByte).toSeq, "HI")))
    assert(a(4)._4 == "<null>")
    // a writer symbol OUTSIDE a reader enum with no default fails the read
    // of a datum that uses it, with the resolver's message
    val narrow = spark.read.format("graft-ocf").option("readerSchema",
      """{"type":"record","name":"r","fields":[
        |{"name":"state","type":{"type":"enum","name":"St",
        |  "symbols":["NEW","OPEN"]}}]}""".stripMargin).load(dir.getAbsolutePath)
    assert(isColumnar(narrow), narrow.queryExecution.executedPlan.toString)
    val e = intercept[Exception](narrow.collect())
    assert(messages(e).contains("enum symbol DONE not in reader enum St and no default"),
      messages(e))
  }

  test("a string writer under a fixed reader and a bytes writer under an " +
      "enum reader ride the columnar lane, value-identical to the row reader") {
    import graft.avro._
    val dir = tempDir("graft-col-bytecopy")
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},{"name":"code","type":"string"},
        |{"name":"state","type":"bytes"}]}""".stripMargin).asInstanceOf[ARecord]
    val syms = Seq("NEW", "OPEN", "DONE")
    val datums = (0 until 300).map { i =>
      AvroRecord(schema, Array[Any](i.toLong, f"c$i%03d",
        syms(i % 3).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    java.nio.file.Files.write(new java.io.File(dir, "bc.avro").toPath,
      Ocf.writeAll(schema, datums))
    val reader =
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"code","type":{"type":"fixed","name":"Code","size":4}},
        |{"name":"state","type":{"type":"enum","name":"St",
        |  "symbols":["NEW","OPEN","DONE"]}}]}""".stripMargin
    val col = spark.read.format("graft-ocf").option("readerSchema", reader)
      .load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      new String(r.getAs[Array[Byte]](1), "UTF-8"), r.getString(2))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(ScanOracle.fromAvro(spark, dir.getAbsolutePath, reader)))
    assert(a(7) == ((7L, "c007", "OPEN")))
  }

  test("schema evolution keeps the columnar lane: ADD (null and DEFAULT), " +
      "RENAME via alias, int->bigint promotion — old files resolve (X106)") {
    import spark.implicits._
    val wh = tempDir("graft-col-evo-wh")
    spark.conf.set("spark.sql.catalog.gcole", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcole.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcole.ns")
    spark.sql(
      """CREATE TABLE gcole.ns.t (id BIGINT, n INT, tag STRING)
        |USING `graft-ocf`""".stripMargin)
    (0 until 1500).map(i => (i.toLong, i * 3, s"t$i")).toDF("id", "n", "tag")
      .coalesce(1).writeTo("gcole.ns.t").append()               // era A
    spark.sql("ALTER TABLE gcole.ns.t ADD COLUMN note STRING")  // null default
    spark.sql("ALTER TABLE gcole.ns.t ADD COLUMN qual STRING DEFAULT 'unscored'")
    spark.sql("ALTER TABLE gcole.ns.t ADD COLUMN rank BIGINT DEFAULT 7")
    spark.sql("ALTER TABLE gcole.ns.t RENAME COLUMN tag TO label")
    spark.sql("ALTER TABLE gcole.ns.t ALTER COLUMN n TYPE BIGINT")
    (1500 until 2000).map(i => (i.toLong, i * 3L, s"t$i", s"note$i", "gold", 1L))
      .toDF("id", "n", "label", "note", "qual", "rank")
      .coalesce(1).writeTo("gcole.ns.t").append()               // era B
    val col = spark.read.table("gcole.ns.t")
    // the evolved table STAYS columnar — the old file resolves via alias
    // (label<-tag), promotion (n int->bigint) and constant default fills
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getString(2),
      Option(r.getString(3)).getOrElse("<null>"), r.getString(4), r.getLong(5)))
      .sortBy(_._1).toSeq
    val a = canon(col)
    // era A reads through alias, promotion and defaults; era B as written
    val written = (0 until 1500).map(i => (i.toLong, i * 3L, s"t$i", "<null>", "unscored", 7L)) ++
      (1500 until 2000).map(i => (i.toLong, i * 3L, s"t$i", s"note$i", "gold", 1L))
    assert(a == written, "evolved columnar decode must equal the rows written")
    assert(a.length == 2000)
    assert(a(3) == ((3L, 9L, "t3", "<null>", "unscored", 7L)))      // era A
    assert(a(1600) == ((1600L, 4800L, "t1600", "note1600", "gold", 1L)))
    // filters across eras consume the batches
    assert(col.where($"qual" === "unscored").count() == 1500L)
    assert(col.where($"n" > 4497L).count() == written.count(_._2 > 4497L))
  }

  test("top-level fields a file never wrote are constant vectors; nested " +
      "fields it never wrote fill per row") {
    import graft.avro._
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    val writer = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"n","type":{"type":"record","name":"N","fields":[
        |  {"name":"a","type":"long"}]}}]}""".stripMargin).asInstanceOf[ARecord]
    val nRec = writer.fields(1).schema.asInstanceOf[ARecord]
    val readerJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"s","type":"string","default":"d"},
        |{"name":"xs","type":{"type":"array","items":"long"},"default":[1,2]},
        |{"name":"m","type":{"type":"map","values":"string"},"default":{"k":"v"}},
        |{"name":"p","type":{"type":"record","name":"P","fields":[
        |  {"name":"q","type":"int"}]},"default":{"q":3}},
        |{"name":"o","type":["null","long"],"default":null},
        |{"name":"n","type":{"type":"record","name":"N","fields":[
        |  {"name":"a","type":"long"},
        |  {"name":"b","type":"string","default":"nb"}]}}]}""".stripMargin
    val datums = (0L until 50L).map(i =>
      AvroRecord(writer, Array[Any](i, AvroRecord(nRec, Array[Any](i * 2)))))
    val (scan, oracle) = readWithOracle(writer, datums, readerJson)
    assert(scan == oracle)
    assert(scan.length == 50)
    val dir = tempDir("graft-col-const-fill")
    java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath, Ocf.writeAll(writer, datums))
    val conf = spark.sessionState.newHadoopConf()
    val meta = OcfDataSource.fetchMetas(conf, OcfDataSource.list(conf,
      Seq(dir.getAbsolutePath), None, recursive = false)).head
    val r = new OcfColumnarSplitReader(meta, 0L, meta.len, readerJson, conf)
    try {
      assert(r.next())
      val b = r.get()
      assert((1 to 5).forall(b.column(_).isInstanceOf[ConstantColumnVector]),
        (0 until b.numCols()).map(b.column(_).getClass.getSimpleName))
      assert(!b.column(0).isInstanceOf[ConstantColumnVector])
      assert(!b.column(6).isInstanceOf[ConstantColumnVector])
      val row = b.getRow(7)
      assert(row.getUTF8String(1).toString == "d")
      assert(row.getArray(2).toLongArray().toSeq == Seq(1L, 2L))
      assert(row.getMap(3).keyArray().getUTF8String(0).toString == "k")
      assert(row.getMap(3).valueArray().getUTF8String(0).toString == "v")
      assert(row.getStruct(4, 1).getInt(0) == 3)
      assert(row.isNullAt(5))
      assert(row.getStruct(6, 2).getLong(0) == 14L)
      assert(row.getStruct(6, 2).getUTF8String(1).toString == "nb")
    } finally r.close()
  }

  test("`_pos` rides the columnar lane as a real ordinal vector; deleted " +
      "ordinals stay raw-datum-based (X105)") {
    import spark.implicits._
    val wh = tempDir("graft-col-pos-wh")
    spark.conf.set("spark.sql.catalog.gcolp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcolp.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcolp.ns")
    spark.sql(
      """CREATE TABLE gcolp.ns.t (id BIGINT, v STRING)
        |USING `graft-ocf`
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).writeTo("gcolp.ns.t").append()
    spark.sql("DELETE FROM gcolp.ns.t WHERE id % 4 = 1")
    val dir = new java.io.File(wh, "ns/t").getAbsolutePath
    val col = spark.read.format("graft-ocf").load(dir)
      .selectExpr("id", OcfDataSource.PosColName)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == (0L until 2000L).filter(_ % 4 != 1).map(i => (i, i)))
    // one single-task file: ordinal == id, and deleted ordinals are GAPS
    // (the ordinal counts raw datums, not surviving rows)
    assert(a.forall { case (id, pos) => id == pos })
    assert(!a.exists(_._1 % 4 == 1) &&
      a.length == (0L until 2000L).count(_ % 4 != 1))
  }
  test("array- and map-of-scalars ride the columnar lane (X108): " +
      "embeddings, token lists, attr maps; nulls, empties, MoR burden") {
    import spark.implicits._
    val wh = tempDir("graft-col-arr-wh")
    spark.conf.set("spark.sql.catalog.gcola", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcola.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcola.ns")
    spark.sql(
      """CREATE TABLE gcola.ns.emb
        |(id BIGINT, embedding ARRAY<FLOAT>, toks ARRAY<STRING>,
        | attrs MAP<STRING, BIGINT>, lbl INT)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    val rows = (0L until 3000L).map { i =>
      val emb = if (i % 11 == 3) null
        else (0 until 16).map(j => (i * 31 + j).toFloat / 7.0f)
      val toks = if (i % 13 == 5) Seq.empty[String]
        else Seq(s"tok$i", null, s"t${i % 9}").filter(t => t != null || i % 2 == 0)
      val attrs = if (i % 17 == 7) null
        else Map(s"k${i % 5}" -> i, "n" -> (i * 2))
      (i, emb, toks, attrs, (i % 100).toInt)
    }
    rows.toDF("id", "embedding", "toks", "attrs", "lbl")
      .coalesce(2).writeTo("gcola.ns.emb").append()
    def rd() = spark.read.table("gcola.ns.emb")
    val col = rd()
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null else r.getSeq[Float](1).mkString(","),
        if (r.isNullAt(2)) null else r.getSeq[String](2)
          .map(t => if (t == null) "<null>" else t).mkString(","),
        if (r.isNullAt(3)) null else r.getMap[String, Long](3)
          .toSeq.sortBy(_._1).mkString(";"),
        r.getInt(4))
    }.sortBy(_._1).toSeq
    def written(rs: Seq[(Long, Seq[Float], Seq[String], Map[String, Long], Int)]) =
      rs.toDF("id", "embedding", "toks", "attrs", "lbl")
    val a = canon(col)
    assert(a == canon(written(rows)))
    assert(a.length == 3000)
    // pruning a projection AWAY from the arrays type-skips them columnar
    val pruned = rd().select("id", "lbl")
    assert(isColumnar(pruned))
    assert(pruned.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq ==
      rows.map(r => (r._1, r._5)))
    // MoR equality burden (X105) keeps the lane with array columns live
    spark.sql(
      """ALTER TABLE gcola.ns.emb
        |SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    def upsert(r: (Long, Seq[Float], Seq[String], Map[String, Long], Int)) =
      (r._1, Seq(9.5f, (r._1 % 7).toFloat), Seq(s"upd${r._1}"), Map("u" -> r._1), r._5 + 1000)
    written(rows.filter(_._1 % 3 == 0).map(upsert))
      .coalesce(1).writeTo("gcola.ns.emb").option("upsertKeys", "id").append()
    val burdened = rd()
    assert(isColumnar(burdened), burdened.queryExecution.executedPlan.toString)
    val b = canon(burdened)
    assert(b == canon(written(rows.map(r => if (r._1 % 3 == 0) upsert(r) else r))))
    assert(b.count(_._5 >= 1000) == rows.count(_._1 % 3 == 0))
  }
  test("nested evolution at depth (X106/X107): rename+widen+add-default " +
      "history keeps UN-compacted old files on the columnar lane") {
    val wh = tempDir("graft-col-ne-wh")
    spark.conf.set("spark.sql.catalog.gcoln", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcoln.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcoln.ns")
    spark.sql(
      """CREATE TABLE gcoln.ns.ne
        |(id BIGINT, info STRUCT<score: INT, tag: STRING>)
        |USING `graft-ocf`""".stripMargin)
    spark.sql(
      """INSERT INTO gcoln.ns.ne
        |SELECT id, named_struct('score', CAST(id AS INT), 'tag',
        |  concat('t', id)) FROM range(1500)""".stripMargin)   // old-era file
    spark.sql("ALTER TABLE gcoln.ns.ne RENAME COLUMN info.tag TO label")
    spark.sql("ALTER TABLE gcoln.ns.ne ALTER COLUMN info.score TYPE BIGINT")
    spark.sql(
      "ALTER TABLE gcoln.ns.ne ADD COLUMN info.qual STRING DEFAULT 'unscored'")
    spark.sql(
      """INSERT INTO gcoln.ns.ne
        |SELECT id, named_struct('score', id * 10, 'label', concat('n', id),
        |  'qual', 'gold') FROM range(1500, 2500)""".stripMargin) // new era
    def rd() = spark.read.table("gcoln.ns.ne")
      .selectExpr("id", "info.score AS score", "info.label AS label",
        "info.qual AS qual")
    // the heal: the PRE-evolution file resolves at depth (alias name,
    // int->long promotion, per-row default fill) — the scan keeps the lane
    val col = rd()
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getString(2), r.getString(3))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == (0L until 1500L).map(i => (i, i, s"t$i", "unscored")) ++
      (1500L until 2500L).map(i => (i, i * 10, s"n$i", "gold")))
    assert(a(3) == ((3L, 3L, "t3", "unscored")), a(3).toString)
    assert(a(1600) == ((1600L, 16000L, "n1600", "gold")), a(1600).toString)
    // compact rewrites under the current schema: lane retained, identical
    spark.sql("CALL gcoln.system.compact(table => 'ns.ne')")
    val after = rd()
    assert(isColumnar(after), after.queryExecution.executedPlan.toString)
    assert(canon(after) == a)
  }
  test("SIZED (negative-count) array/map blocks decode on both lanes — " +
      "the external-writer encoding our own sink never emits (X108)") {
    import graft.avro._
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"xs","type":{"type":"array","items":"long"}},
        |{"name":"m","type":{"type":"map","values":"string"}},
        |{"name":"tail","type":"string"}]}""".stripMargin)
    def datum(id: Long): Array[Byte] = {
      val w = new AvroBinaryWriter()
      w.writeLong(id)
      // xs: TWO sized blocks (2 items + 1 item), then the 0 terminator —
      // the Avro spec's negative-count form carrying a byte length
      val b1 = new AvroBinaryWriter()
      b1.writeLong(id); b1.writeLong(id + 1)
      w.writeLong(-2L); w.writeLong(b1.toByteArray.length.toLong)
      w.writeFixed(b1.toByteArray)
      val b2 = new AvroBinaryWriter()
      b2.writeLong(id * 7)
      w.writeLong(-1L); w.writeLong(b2.toByteArray.length.toLong)
      w.writeFixed(b2.toByteArray)
      w.writeLong(0L)
      // m: one sized block of 2 entries
      val kv = new AvroBinaryWriter()
      kv.writeString("a"); kv.writeString(s"x$id")
      kv.writeString("b"); kv.writeString(s"y$id")
      w.writeLong(-2L); w.writeLong(kv.toByteArray.length.toLong)
      w.writeFixed(kv.toByteArray)
      w.writeLong(0L)
      w.writeString(s"t$id")
      w.toByteArray
    }
    val dir = tempDir("graft-col-sized")
    java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath,
      Ocf.writePreEncoded(schema, (0L until 500L).iterator.map(datum)))
    val col = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).mkString(","),
      r.getMap[String, String](2).toSeq.sortBy(_._1).mkString(";"),
      r.getString(3))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(ScanOracle.fromAvro(spark, dir.getAbsolutePath,
      AvroSchemaParser.toJson(schema))))
    assert(a(5) == ((5L, "5,6,35", "(a,x5);(b,y5)", "t5")), a(5).toString)
    // pruning the array/map away exercises the O(1) sized-block SKIP
    val pruned = col.select("id", "tail")
    assert(isColumnar(pruned))
    assert(pruned.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == (0L until 500L).map(i => (i, s"t$i")))
  }
  test("general UNIONS (struct-of-branches, X111) ride the columnar lane: " +
      "the branch byte selects the member, other members null, both lanes equal") {
    import graft.avro._
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"u","type":[
        |  {"type":"record","name":"A","fields":[
        |    {"name":"x","type":"long"},{"name":"tag","type":"string"}]},
        |  "null",
        |  "string",
        |  {"type":"array","items":"long"}]},
        |{"name":"tail","type":"string"}]}""".stripMargin)
    val aRec = schema.asInstanceOf[ARecord].fields(1).schema
      .asInstanceOf[AUnion].branches.head.asInstanceOf[ARecord]
    val rows = (0L until 800L).map { i =>
      val u: Any = (i % 4) match {
        case 0 => AvroRecord(aRec, Array[Any](i * 3, s"a$i"))
        case 1 => null
        case 2 => s"s$i"
        case _ => Seq[Any](i, i + 1)
      }
      AvroRecord(schema.asInstanceOf[ARecord], Array[Any](i, u, s"t$i"))
    }
    val dir = tempDir("graft-col-union")
    java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath,
      Ocf.writeAll(schema, rows))
    val col = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(isColumnar(col), col.queryExecution.executedPlan.toString)
    def canon(df: DataFrame) = df.selectExpr("id",
        "u.member0.x AS ax", "u.member0.tag AS atag",
        "u.member1 AS s", "u.member2 AS xs", "u IS NULL AS unull", "tail")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)).getOrElse("<n>"),
        Option(r.getString(3)).getOrElse("<n>"),
        if (r.isNullAt(4)) "<n>" else r.getSeq[Long](4).mkString(","),
        r.getBoolean(5), r.getString(6))).sortBy(_._1).toSeq
    val a = canon(col)
    assert(a == canon(ScanOracle.fromAvro(spark, dir.getAbsolutePath,
      AvroSchemaParser.toJson(schema))))
    assert(a(0) == ((0L, 0L, "a0", "<n>", "<n>", false, "t0")), a(0).toString)
    assert(a(1) == ((1L, -1L, "<n>", "<n>", "<n>", true, "t1")), a(1).toString)
    assert(a(2) == ((2L, -1L, "<n>", "s2", "<n>", false, "t2")), a(2).toString)
    assert(a(3) == ((3L, -1L, "<n>", "<n>", "3,4", false, "t3")), a(3).toString)
    // pruning the union away type-skips it (branch byte + branch value)
    val pruned = col.select("id", "tail")
    assert(isColumnar(pruned))
    assert(pruned.count() == 800L)
  }
  test("the scan follows the resolver's plan: a branch it moves to another " +
      "member, a shadowed alias and a null default read as from_avro reads them") {
    import graft.avro._
    def parse(json: String) = AvroSchemaParser.parse(json).asInstanceOf[ARecord]
    def write(writer: ARecord, datums: Seq[AvroRecord]): java.io.File = {
      val dir = tempDir("graft-col-admit")
      java.nio.file.Files.write(new java.io.File(dir, "x.avro").toPath, Ocf.writeAll(writer, datums))
      dir
    }
    def rd(dir: java.io.File, readerJson: String) = {
      val df = spark.read.format("graft-ocf")
        .option("readerSchema", readerJson).load(dir.getAbsolutePath)
      assert(isColumnar(df), df.queryExecution.executedPlan.toString)
      df
    }

    // a general union whose string branch the resolver reads into the
    // reader's bytes member (the first branch it matches), not the member
    // at its own position: the scan reads the member from_avro reads
    val unionWriterJson =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},
        |{"name":"u","type":["null","string","bytes"]}]}""".stripMargin
    val unionReaderJson =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},
        |{"name":"u","type":["null","bytes","string"]}]}""".stripMargin
    val unionWriter = parse(unionWriterJson)
    val unionDir = write(unionWriter, (0L until 30L).map { i =>
      val u: Any = (i % 3) match {
        case 0 => s"s$i"
        case 1 => s"b$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case _ => null
      }
      AvroRecord(unionWriter, Array[Any](i, u))
    })
    def members(df: DataFrame) = df.selectExpr("id",
        "CAST(u.member0 AS STRING) AS b", "u.member1 AS s", "u IS NULL AS unull")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("<n>"),
        Option(r.getString(2)).getOrElse("<n>"), r.getBoolean(3))).sortBy(_._1).toSeq
    val unionCol = members(rd(unionDir, unionReaderJson))
    assert(unionCol == members(ScanOracle.fromAvro(spark, unionDir.getAbsolutePath, unionReaderJson)))
    assert(unionCol.take(3) == Seq((0L, "s0", "<n>", false), (1L, "b1", "<n>", false),
      (2L, "<n>", "<n>", true)), unionCol.take(3).toString)

    // a writer carrying both a reader field's name and one of its aliases:
    // the name wins the slot and the aliased field is skipped
    val aliasWriter = parse(
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},
        |{"name":"old_x","type":"long"},{"name":"x","type":"long"}]}""".stripMargin)
    val aliasReaderJson =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},
        |{"name":"x","type":"long","aliases":["old_x"]}]}""".stripMargin
    val (aliasCol, aliasOracle) = readWithOracle(aliasWriter,
      (0L until 20L).map(i => AvroRecord(aliasWriter, Array[Any](i, -i, i * 10))), aliasReaderJson)
    assert(aliasCol == aliasOracle)
    assert(aliasCol.head == "{0;0}" && aliasCol.contains("{7;70}"), aliasCol.take(3).toString)

    // a JSON null default on a [T, "null"] field, which Avro does not allow
    // (a union's default belongs to its first branch): the scan fills what
    // from_avro fills
    val plainWriter = parse(
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}""")
    val nullDefaultReaderJson =
      """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},
        |{"name":"n","type":["long","null"],"default":null}]}""".stripMargin
    val plainDir = write(plainWriter, (0L until 10L).map(i => AvroRecord(plainWriter, Array[Any](i))))
    assert(ScanOracle.rows(rd(plainDir, nullDefaultReaderJson)) == ScanOracle.rows(
      ScanOracle.fromAvro(spark, plainDir.getAbsolutePath, nullDefaultReaderJson)))
  }

  test("union slot reuse under equality deletes (X111+X105): a rejected " +
      "row's nulled members cannot leak into the surviving reuser; " +
      "cross-kind union-vs-record plans refuse") {
    import graft.avro._
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"u","type":[
        |  {"type":"record","name":"A","fields":[{"name":"x","type":"long"}]},
        |  "null",
        |  "string"]}]}""".stripMargin)
    val aRec = schema.asInstanceOf[ARecord].fields(1).schema
      .asInstanceOf[AUnion].branches.head.asInstanceOf[ARecord]
    // id i takes member (i%4): 0 -> A(x=i*3), 1 -> string (KILLED),
    // 2 -> A, 3 -> null. Killing every string-taker makes each killed
    // slot — whose member0 was explicitly nulled — get reused DIRECTLY by
    // the next A-taker, whose member0 must not inherit the stale null.
    val rows = (0L until 120L).map { i =>
      val u: Any = (i % 4) match {
        case 0 | 2 => AvroRecord(aRec, Array[Any](i * 3))
        case 1 => s"s$i"
        case _ => null
      }
      AvroRecord(schema.asInstanceOf[ARecord], Array[Any](i, u))
    }
    val dir = tempDir("graft-col-union-eq")
    java.nio.file.Files.write(new java.io.File(dir, "d.avro").toPath,
      Ocf.writeAll(schema, rows))
    val keySchema = AvroSchemaParser.parse(
      """{"type":"record","name":"k","fields":[{"name":"id","type":"long"}]}"""
    ).asInstanceOf[ARecord]
    java.nio.file.Files.write(new java.io.File(dir, "k.avro").toPath,
      Ocf.writeAll(keySchema, (0L until 120L).filter(_ % 4 == 1)
        .map(i => AvroRecord(keySchema, Array[Any](i)))))
    val conf = spark.sessionState.newHadoopConf()
    val metas = OcfDataSource.fetchMetas(conf, OcfDataSource.list(conf,
      Seq(dir.getAbsolutePath), None, recursive = false)).sortBy(_.path)
    val dataMeta = metas.find(_.path.endsWith("d.avro")).get
    val keyMeta = metas.find(_.path.endsWith("k.avro")).get
    val readerJson = dataMeta.writerSchemaJson
    val r = new OcfColumnarSplitReader(dataMeta, 0L, dataMeta.len, readerJson, conf,
      eqDeleteFiles = Seq(keyMeta))
    val got = Seq.newBuilder[(Long, Long, String)]
    try while (r.next()) {
      val b = r.get()
      var i = 0
      while (i < b.numRows()) {
        val row = b.getRow(i)
        val u = row.getStruct(1, 2)
        got += ((row.getLong(0),
          if (u == null || u.isNullAt(0) || u.getStruct(0, 1).isNullAt(0)) -1L
          else u.getStruct(0, 1).getLong(0),
          if (u == null || u.isNullAt(1)) "<n>" else u.getUTF8String(1).toString))
        i += 1
      }
    } finally r.close()
    val a = got.result().sortBy(_._1)
    val expected = (0L until 120L).filter(_ % 4 != 1).map { i =>
      if (i % 4 == 0 || i % 4 == 2) (i, i * 3, "<n>") else (i, -1L, "<n>")
    }
    assert(a == expected, a.take(8).toString)
    // cross-kind: a reader that declares u as the member-STRUCT over this
    // union-writing file reads no branch: the resolver fails each datum
    val cross = new OcfColumnarSplitReader(dataMeta, 0L, dataMeta.len,
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"u","type":{"type":"record","name":"U","fields":[
        |  {"name":"member0","type":["null",{"type":"record","name":"A2",
        |    "fields":[{"name":"x","type":"long"}]}]},
        |  {"name":"member1","type":["null","string"]}]}}]}""".stripMargin, conf)
    val e = try intercept[AvroResolutionException](cross.next()) finally cross.close()
    assert(e.getMessage == "writer union branch record not readable as record", e.getMessage)
  }
}
