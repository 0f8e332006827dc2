package graft

import graft.avro.Ocf
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 WRITE path (`df.write.format("graft-ocf")` and
  * `writeStream.format("graft-ocf")`) — the sink mirror of the splittable
  * reader (reference producer: python-udf/avro/datafile.py:140-289). */
class OcfWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-ocfwrite-spec")
    .getOrCreate()

  private def tempDir(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d
  }

  private def visibleFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.filter(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  // partition directories, skipping `_`/`.`-prefixed names (the snapshot
  // manifests' `_graft_snapshots`) exactly as the reader's listing does
  private def partitionDirs(dir: java.io.File): Seq[String] =
    dir.listFiles().toSeq.filter(f =>
      f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).sorted

  // read the scan from the OPTIMIZED plan: pushdown runs there, and AQE
  // hides BatchScanExec from executedPlan.collect until execution
  private def scanOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.head

  private def readBack(dir: java.io.File): DataFrame =
    spark.read.format("graft-ocf").load(dir.getAbsolutePath)

  test("batch write/read roundtrip preserves values, fans out per partition, leaves no temps") {
    import spark.implicits._
    val dir = tempDir("graft-w-roundtrip")
    val df = (0L until 1000L).map(i => (i, s"name_$i", i.toDouble / 7.0))
      .toDF("id", "name", "score").repartition(3)
    df.write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)

    val files = visibleFiles(dir)
    assert(files.size == 3, s"one file per non-empty partition; got ${files.map(_.getName)}")
    assert(files.forall(_.getName.matches("part-\\d{5}-.*\\.avro")), files.map(_.getName).toString)
    assert(dir.listFiles().forall(f => !f.getName.endsWith(".tmp")), "temp files must be renamed away")

    val got = readBack(dir).as[(Long, String, Double)].collect().sorted
    assert(got.length == 1000)
    assert(got.toSeq == (0L until 1000L).map(i => (i, s"name_$i", i.toDouble / 7.0)))
  }

  test("empty partitions write no file") {
    import spark.implicits._
    val dir = tempDir("graft-w-empty")
    // 3 rows through 8 partitions: only the non-empty ones may produce files
    Seq(1L, 2L, 3L).toDF("id").repartition(8)
      .write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    val files = visibleFiles(dir)
    assert(files.nonEmpty && files.size <= 3,
      s"expected at most one file per non-empty partition, got ${files.size}")
    assert(readBack(dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("overwrite mode replaces prior contents; append mode accumulates") {
    import spark.implicits._
    val dir = tempDir("graft-w-modes")
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    Seq(3L).toDF("id").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    assert(readBack(dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    Seq(9L).toDF("id").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Overwrite).save(dir.getAbsolutePath)
    assert(readBack(dir).as[Long].collect().toSeq == Seq(9L))
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size == 1)
    // the replaced files stay on disk as snapshot history until expiry
    graft.sources.OcfMaintenance.expireSnapshots(spark, dir.getAbsolutePath, keepLast = 1)
    assert(visibleFiles(dir).size == 1)
    assert(readBack(dir).as[Long].collect().toSeq == Seq(9L))
  }

  test("subdirectory, pathGlobFilter and multi-path reads of a path table plan from its manifest") {
    import spark.implicits._
    val dir = tempDir("graft-w-scope")
    val path = dir.getAbsolutePath
    def write(ids: Seq[Long], mode: SaveMode): Unit =
      ids.map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "p")
        .repartition(2).write.format("graft-ocf").partitionBy("p")
        .mode(mode).save(path)
    def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().sorted.toSeq
    write(0L until 10L, SaveMode.Append)
    write(100L until 110L, SaveMode.Overwrite)
    // the replaced generation is still on disk beside the current one
    assert(new java.io.File(dir, "p=a").listFiles()
      .count(_.getName.endsWith(".avro")) >= 2)
    val now = 100L until 110L
    assert(ids(spark.read.format("graft-ocf").load(s"$path/p=a")) == now.filter(_ % 2 == 0))
    assert(ids(spark.read.format("graft-ocf").option("pathGlobFilter", "*.avro")
      .load(path)) == now)
    assert(ids(spark.read.format("graft-ocf").load(s"$path/p=a", s"$path/p=b")) == now)
    // a read mixing the table with another directory is refused
    val other = tempDir("graft-w-scope-other")
    Seq(1L).toDF("id").write.format("graft-ocf").mode(SaveMode.Append)
      .save(other.getAbsolutePath)
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft-ocf").load(s"$path/p=a", other.getAbsolutePath).collect())
    assert(e.getMessage.contains("read each table on its own"), e.getMessage)
  }

  test("a complete-mode path sink keeps one generation on disk") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft-w-complete")
    val ckpt = tempDir("graft-w-complete-ckpt")
    val stream = MemoryStream[Long]
    val q = stream.toDF().groupBy(($"value" % 3).as("k")).count()
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("complete")
      .start(dir.getAbsolutePath)
    try {
      for (batch <- 1 to 3) {
        stream.addData((0L until 30L).map(_ + 100L * batch): _*)
        q.processAllAvailable()
        val got = readBack(dir).as[(Long, Long)].collect().sorted.toSeq
        assert(got == Seq((0L, 10L * batch), (1L, 10L * batch), (2L, 10L * batch)))
        val fs = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val root = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
        val manifested = graft.sources.OcfSnapshots.latest(fs, root).get.files.size
        assert(graft.sources.OcfSnapshots.versions(fs, root).size == 1)
        assert(visibleFiles(dir).size == manifested,
          s"epoch $batch: ${visibleFiles(dir).map(_.getName)}")
      }
    } finally q.stop()
  }

  test("codec option shapes the container; blocks verify on read") {
    import spark.implicits._
    val dir = tempDir("graft-w-codec")
    val rows = (0L until 5000L).map(i => (i, "x" * 50))
    rows.toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append)
      .option("codec", "deflate").save(dir.getAbsolutePath)
    val bytes = java.nio.file.Files.readAllBytes(visibleFiles(dir).head.toPath)
    val (header, blocks) = Ocf.blockIterator(bytes)
    assert(header.codecName == "deflate")
    assert(blocks.map(_.datumCount).sum == 5000L, "block framing must account for every row")
    assert(readBack(dir).count() == 5000L)
  }

  test("explicit avroSchema pins the writer schema and matches columns BY NAME") {
    import spark.implicits._
    val dir = tempDir("graft-w-schema")
    val avsc =
      """{"type":"record","name":"Pinned","fields":[
        |{"name":"b","type":"string"},{"name":"a","type":"long"}]}""".stripMargin
    // DataFrame column order (a, b) differs from Avro field order (b, a)
    Seq((1L, "one"), (2L, "two")).toDF("a", "b").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append)
      .option("avroSchema", avsc).save(dir.getAbsolutePath)
    val back = readBack(dir)
    assert(back.schema.fieldNames.toSeq == Seq("b", "a"), "Avro field order wins on read")
    assert(back.schema.fields.forall(!_.nullable), "pinned non-null schema survives the roundtrip")
    assert(back.as[(String, Long)].collect().sorted.toSeq == Seq(("one", 1L), ("two", 2L)))
  }

  test("null values roundtrip through nullable unions in the V2 writer") {
    val dir = tempDir("graft-w-nulls")
    val df = spark.sql(
      """SELECT id,
        |  CASE WHEN id % 2 = 0 THEN concat('s', id) END AS s,
        |  CASE WHEN id % 3 = 0 THEN id * 1.5 END AS d,
        |  CASE WHEN id % 5 = 0 THEN named_struct('a', id, 'b', concat('n', id)) END AS st,
        |  CASE WHEN id % 4 = 0 THEN array(id, id + 1) END AS xs
        |FROM range(100)""".stripMargin)
    df.coalesce(2).write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    val back = readBack(dir)
    assert(back.schema.fields.filter(_.name != "id").forall(_.nullable),
      "nullable columns become [null, T] unions and read back nullable")
    val exp = df.collect().map(_.toString).sorted
    val got = back.collect().map(_.toString).sorted
    assert(got.toSeq == exp.toSeq)
    // null density survives: exactly the planted nulls, no more, no fewer
    assert(back.where(col("s").isNull).count() == 50)
    assert(back.where(col("st").isNull).count() == 80)
  }

  test("nested/temporal/decimal types roundtrip through the V2 writer") {
    val dir = tempDir("graft-w-types")
    import spark.implicits._
    val df = spark.sql(
      """SELECT id,
        |  named_struct('x', id * 2, 'y', concat('p', id)) AS pt,
        |  array(id, id + 1) AS xs,
        |  map('k', id) AS m,
        |  date_add(date'2024-01-01', cast(id AS int)) AS d,
        |  timestamp'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts,
        |  cast(id AS decimal(12,3)) / 8 AS dec
        |FROM range(200)""".stripMargin)
    df.coalesce(1).write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    val back = readBack(dir)
    val exp = df.collect().map(_.toString).sorted
    val got = back.collect().map(_.toString).sorted
    assert(got.toSeq == exp.toSeq)
  }

  test("maxBytesPerFile rolls one partition's output into bounded chunk files") {
    import spark.implicits._
    val dir = tempDir("graft-w-roll")
    val rows = (0L until 20000L).map(i => (i, "x" * 60))
    rows.toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append)
      .option("maxBytesPerFile", (256 * 1024).toString)
      .save(dir.getAbsolutePath)
    val files = visibleFiles(dir)
    assert(files.size > 2, s"~1.3 MB at a 256 KB bound must roll; got ${files.size} file(s)")
    // the chunk suffix is exactly "-cNNN.avro"; a bare "-c" can legitimately
    // appear inside the job UUID, so match the tail pattern
    assert(files.count(!_.getName.matches(".*-c\\d{3}\\.avro")) == 1,
      s"chunk 0 keeps the plain name: ${files.map(_.getName)}")
    assert(files.forall(_.length <= 256 * 1024 + 70 * 1024),
      s"each file is bounded (+ one block of overshoot); got ${files.map(_.length)}")
    // every chunk is a standalone valid container and no row is lost or duped
    val got = readBack(dir).as[(Long, String)].collect().sorted
    assert(got.length == 20000 && got.toSeq == rows)
  }

  test("plan-time failures: unknown codec, missing column, non-record schema") {
    import spark.implicits._
    val dir = tempDir("graft-w-fail")
    val df = Seq(1L).toDF("id")
    intercept[Exception] {
      df.write.format("graft-ocf").mode(SaveMode.Append)
        .option("codec", "lzo").save(dir.getAbsolutePath)
    }
    intercept[Exception] {
      df.write.format("graft-ocf").mode(SaveMode.Append)
        .option("avroSchema",
          """{"type":"record","name":"R","fields":[{"name":"nope","type":"long"}]}""")
        .save(dir.getAbsolutePath)
    }
    intercept[Exception] {
      df.write.format("graft-ocf").mode(SaveMode.Append)
        .option("avroSchema", """"long"""").save(dir.getAbsolutePath)
    }
    assert(!dir.exists() || visibleFiles(dir).isEmpty, "failed plans must publish nothing")
  }

  test("readerSchema=auto and compatCheck=backward ask the resolver: a " +
      "decimal(bytes) writer beside a plain-bytes writer") {
    import spark.implicits._
    val dir = tempDir("graft-w-decimal")
    def schema(d: String) = s"""{"type":"record","name":"R","fields":[
      {"name":"id","type":"long"},{"name":"d","type":$d}]}"""
    Seq((1L, Array[Byte](0x30, 0x39))).toDF("id", "d").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append)
      .option("avroSchema", schema("\"bytes\"")).save(dir.getAbsolutePath)
    val dec = Seq((2L, BigDecimal("67.89"))).toDF("id", "d")
      .select($"id", $"d".cast("decimal(10,2)").as("d")).coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append).option("avroSchema",
        schema("""{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}"""))
    // the reference checker compares physical types only and admits the
    // pair; a plain-bytes reader cannot decode a decimal writer
    val before = visibleFiles(dir).map(_.getName).toSet
    val err = intercept[IllegalArgumentException] {
      dec.option("compatCheck", "backward").save(dir.getAbsolutePath)
    }
    assert(err.getMessage.contains("cannot resolve writer decimal against reader bytes"),
      err.getMessage)
    assert(visibleFiles(dir).map(_.getName).toSet == before)
    // without the gate the directory holds both; auto picks the schema
    // whose plans compile against both files, and reads them
    dec.option("compatCheck", "none").save(dir.getAbsolutePath)
    val auto = spark.read.format("graft-ocf").option("readerSchema", "auto")
      .load(dir.getAbsolutePath)
    assert(auto.schema("d").dataType == org.apache.spark.sql.types.DecimalType(10, 2))
    assert(auto.orderBy("id").collect().map(r => (r.getLong(0), r.getDecimal(1))).toSeq ==
      Seq((1L, new java.math.BigDecimal("123.45")), (2L, new java.math.BigDecimal("67.89"))))
  }

  test("compatCheck=backward gates appends on what existing readers can resolve") {
    import spark.implicits._
    val dir = tempDir("graft-w-compat")
    val base = Seq((1L, "a")).toDF("k", "v").coalesce(1)
    base.write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)

    // adding a field WITH a default stays readable by the original schema
    val okJson =
      """{"type":"record","name":"topLevelRecord","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":"string"},
        |{"name":"extra","type":"long","default":0}]}""".stripMargin
    Seq((2L, "b", 7L)).toDF("k", "v", "extra").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append)
      .option("avroSchema", okJson).option("compatCheck", "backward")
      .save(dir.getAbsolutePath)
    // readers on the original schema still read the whole directory
    assert(spark.read.format("graft-ocf")
      .option("readerSchema",
        """{"type":"record","name":"topLevelRecord","fields":[
          |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin)
      .load(dir.getAbsolutePath).count() == 2)

    // an incompatible type change fails AT PLAN TIME and publishes nothing
    val before = visibleFiles(dir).map(_.getName).toSet
    val err = intercept[IllegalArgumentException] {
      Seq(("x", "b")).toDF("k", "v").coalesce(1)
        .write.format("graft-ocf").mode(SaveMode.Append)
        .option("compatCheck", "backward").save(dir.getAbsolutePath)
    }
    assert(err.getMessage.contains("compatCheck=backward"))
    assert(visibleFiles(dir).map(_.getName).toSet == before)
    // unknown mode is rejected
    intercept[Exception] {
      base.write.format("graft-ocf").mode(SaveMode.Append)
        .option("compatCheck", "sideways").save(dir.getAbsolutePath)
    }

    // OVERWRITE replaces every file the gate protects, so an intentionally
    // incompatible rewrite passes even with the gate on
    Seq(("x", "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Overwrite)
      .option("compatCheck", "backward").save(dir.getAbsolutePath)
    assert(readBack(dir).count() == 1, "gated overwrite rewrites the directory")
  }

  test("compact folds many small files into bounded ones, values and codec intact") {
    import graft.sources.OcfMaintenance
    import spark.implicits._
    val in = tempDir("graft-w-compact-in")
    val outD = tempDir("graft-w-compact-out").getAbsolutePath + "/packed"
    // 16 small files from 16 partitions
    (0L until 4000L).map(i => (i, s"doc_$i")).toDF("k", "v").repartition(16)
      .write.format("graft-ocf").mode(SaveMode.Append).save(in.getAbsolutePath)
    assert(visibleFiles(in).size == 16)

    OcfMaintenance.compact(spark, in.getAbsolutePath, outD,
      codec = "deflate", targetBytes = 1L << 20)
    val packed = new java.io.File(outD).listFiles
      .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq
    assert(packed.size < 16, s"compaction must reduce file count, got ${packed.size}")
    val bytes = java.nio.file.Files.readAllBytes(packed.head.toPath)
    assert(Ocf.blockIterator(bytes)._1.codecName == "deflate")
    val got = spark.read.format("graft-ocf").load(outD).as[(Long, String)].collect().sorted
    assert(got.length == 4000 && got.toSeq == (0L until 4000L).map(i => (i, s"doc_$i")))
  }

  test("compact preserves nested stats stamps (dotted statsColumns)") {
    import graft.sources.OcfMaintenance
    val in = tempDir("graft-w-compactnest-in")
    val outD = tempDir("graft-w-compactnest-out").getAbsolutePath + "/packed"
    spark.range(400).select(col("id"), struct(col("id").as("score")).as("info"))
      .repartition(4)
      .write.format("graft-ocf").option("statsColumns", "info.score")
      .mode(SaveMode.Append).save(in.getAbsolutePath)
    OcfMaintenance.compact(spark, in.getAbsolutePath, outD, targetBytes = 1L << 20)
    // the compacted files re-stamp the nested leaf: a nested MIN/MAX still
    // answers header-only after maintenance
    val df = spark.read.format("graft-ocf").load(outD)
    val agg = df.agg(min(col("info.score")).as("mn"), max(col("info.score")).as("mx"))
    assert(scanOf(agg).description().contains("MIN(info.score)"),
      s"compaction must carry the nested stamp forward: ${scanOf(agg).description()}")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 399L)))
  }

  test("compact preserves a uniformly certified sort order (re-sorted, re-certified)") {
    import graft.sources.OcfMaintenance
    import spark.implicits._
    val in = tempDir("graft-w-compactsort-in")
    val outD = tempDir("graft-w-compactsort-out").getAbsolutePath + "/packed"
    (0L until 4000L).map(i => ((i * 7919L) % 4000L, i)).toDF("k", "payload")
      .repartition(8)
      .write.format("graft-ocf").option("sortColumns", "k")
      .mode(SaveMode.Append).save(in.getAbsolutePath)
    OcfMaintenance.compact(spark, in.getAbsolutePath, outD, targetBytes = 1L << 20)
    // the compacted directory still answers TopN from the stamp: coalesced
    // interleaving was re-sorted by the sink and re-certified per file
    val df = spark.read.format("graft-ocf").load(outD)
    val top = df.orderBy("k").limit(5)
    assert(scanOf(top).description().contains("PushedTopN: ORDER BY k LIMIT 5"),
      s"compaction must carry the certified sort forward: ${scanOf(top).description()}")
    assert(top.select("k").as[Long].collect().toSeq == (0L until 5L))
    // a mixed directory (one unsorted file) must NOT re-sort or stamp
    val in2 = tempDir("graft-w-compactsort-mixed")
    val out2 = tempDir("graft-w-compactsort-mixed-out").getAbsolutePath + "/packed"
    (0L until 100L).map(i => (i, i)).toDF("k", "payload").coalesce(1)
      .write.format("graft-ocf").option("sortColumns", "k")
      .mode(SaveMode.Append).save(in2.getAbsolutePath)
    (0L until 100L).map(i => (100L - i, i)).toDF("k", "payload").coalesce(1)
      .write.format("graft-ocf")
      .mode(SaveMode.Append).save(in2.getAbsolutePath)
    OcfMaintenance.compact(spark, in2.getAbsolutePath, out2, targetBytes = 1L << 20)
    val mixed = spark.read.format("graft-ocf").load(out2)
    assert(!scanOf(mixed.orderBy("k").limit(5)).description().contains("PushedTopN"),
      "a mixed directory must not invent a sort certification")
    assert(mixed.count() == 200L)
  }

  test("compact preserves a hive-partitioned layout instead of flattening it") {
    import graft.sources.OcfMaintenance
    import spark.implicits._
    val in = tempDir("graft-w-compactpart-in")
    val outD = tempDir("graft-w-compactpart-out").getAbsolutePath + "/packed"
    (0L until 600L).map(i => (i, s"p${i % 2}")).toDF("id", "p").repartition(6)
      .write.format("graft-ocf").partitionBy("p")
      .mode(SaveMode.Append).save(in.getAbsolutePath)
    OcfMaintenance.compact(spark, in.getAbsolutePath, outD, targetBytes = 1L << 20)
    val outDirs = partitionDirs(new java.io.File(outD))
    assert(outDirs == Seq("p=p0", "p=p1"),
      s"compaction must keep the partition layout; got ${outDirs.toSeq}")
    val got = spark.read.format("graft-ocf").load(outD).select("id", "p")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == (0L until 600L).map(i => (i, s"p${i % 2}")))
  }

  test("compact preserves bloom stamps under a statsColumns override and drops promoted-ineligible ones") {
    import graft.sources.OcfMaintenance
    import spark.implicits._
    val in = tempDir("graft-w-compactbloom-in")
    val outD = tempDir("graft-w-compactbloom-out").getAbsolutePath + "/packed"
    (0L until 400L).map(i => (i, s"doc_$i")).toDF("k", "v").repartition(4)
      .write.format("graft-ocf")
      .option("statsColumns", "k").option("bloomColumns", "k,v")
      .option("blockIndex", "true").option("blockBytes", "1024")
      .mode(SaveMode.Append).save(in.getAbsolutePath)
    // an explicit statsColumns override replaces the STATS set only — the
    // input's bloom stamps must survive into the compacted output
    OcfMaintenance.compact(spark, in.getAbsolutePath, outD,
      targetBytes = 1L << 20, statsColumns = Some(Seq("k")))
    val packed = new java.io.File(outD).listFiles
      .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq
    assert(packed.nonEmpty)
    packed.foreach { f =>
      val (hdr, _) = Ocf.blockIterator(java.nio.file.Files.readAllBytes(f.toPath))
      val bloom = hdr.meta.get("graft.bloom").map(b => new String(b, "UTF-8"))
      assert(bloom.isDefined, s"${f.getName} lost its bloom stamp")
      assert(bloom.get.contains("\"k\"") && bloom.get.contains("\"v\""), bloom.get)
      // the block index is re-derived over the compacted blocks, not lost
      assert(hdr.meta.contains("graft.blockIndex"),
        s"${f.getName} lost its block index")
    }
    // a readerSchema promoting a bloom column to double must not crash the
    // maintenance job: 'k' silently drops from the stamp (ineligible type),
    // 'v' stays
    val outD2 = tempDir("graft-w-compactbloom-out2").getAbsolutePath + "/packed"
    val promoted =
      """{"type":"record","name":"r","fields":[
        |{"name":"k","type":"double"},{"name":"v","type":"string"}]}""".stripMargin
    OcfMaintenance.compact(spark, in.getAbsolutePath, outD2,
      targetBytes = 1L << 20, readerSchemaJson = Some(promoted))
    val packed2 = new java.io.File(outD2).listFiles
      .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq
    assert(packed2.nonEmpty)
    packed2.foreach { f =>
      val (hdr, _) = Ocf.blockIterator(java.nio.file.Files.readAllBytes(f.toPath))
      val bloom = hdr.meta.get("graft.bloom").map(b => new String(b, "UTF-8"))
      // probe at the top level: the filter payloads themselves contain a
      // "k" field (probe count), so substring checks must anchor on "col":{
      assert(bloom.isDefined && bloom.get.contains("\"v\":{") && !bloom.get.contains("\"k\":{"),
        s"promoted column must drop from the bloom stamp, kept: $bloom")
    }
  }

  test("compact re-stamps input stats and matches the read path's listing") {
    import graft.sources.OcfMaintenance
    import spark.implicits._
    val in = tempDir("graft-w-compactstats-in")
    val outD = tempDir("graft-w-compactstats-out").getAbsolutePath + "/packed"
    (0L until 800L).map(i => (i, s"doc_$i")).toDF("k", "v").repartition(8)
      .write.format("graft-ocf").option("statsColumns", "k,v")
      .mode(SaveMode.Append).save(in.getAbsolutePath)
    OcfMaintenance.compact(spark, in.getAbsolutePath, outD, targetBytes = 1L << 20)
    // the compacted files must carry graft.stats for the same columns —
    // the maintenance job must not silently destroy file skipping
    val packed = new java.io.File(outD).listFiles
      .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq
    assert(packed.nonEmpty)
    packed.foreach { f =>
      val (hdr, _) = Ocf.blockIterator(java.nio.file.Files.readAllBytes(f.toPath))
      val stats = hdr.meta.get("graft.stats").map(b => new String(b, "UTF-8"))
      assert(stats.isDefined, s"${f.getName} lost its stats stamp")
      assert(stats.get.contains("\"k\"") && stats.get.contains("\"v\""), stats.get)
    }
    // min/max pushdown still answers header-only on the compacted dir
    val agged = spark.read.format("graft-ocf").load(outD).agg(min("k"), max("k"))
    assert(agged.head.getLong(0) == 0L && agged.head.getLong(1) == 799L)

    // MIXED directory: root-level data files plus an unrelated subdir of
    // files. The read path lists non-recursively (root is non-empty), so
    // compact must size and compact exactly the root files, not throw on
    // the nested layout or count bytes the read never scans.
    val mixed = tempDir("graft-w-compactmixed-in")
    val mixedOut = tempDir("graft-w-compactmixed-out").getAbsolutePath + "/packed"
    (0L until 100L).map(i => (i, s"r$i")).toDF("k", "v").repartition(4)
      .write.format("graft-ocf").mode(SaveMode.Append).save(mixed.getAbsolutePath)
    (0L until 50L).map(i => (i, s"n$i")).toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append)
      .save(new java.io.File(mixed, "nested").getAbsolutePath)
    OcfMaintenance.compact(spark, mixed.getAbsolutePath, mixedOut, targetBytes = 1L << 20)
    val gotMixed = spark.read.format("graft-ocf").load(mixedOut)
      .as[(Long, String)].collect().sorted
    assert(gotMixed.toSeq == (0L until 100L).map(i => (i, s"r$i")),
      "compact must cover exactly what the read path lists (root files only)")
  }

  test("statsColumns=auto stamps every eligible data column") {
    import spark.implicits._
    val dir = tempDir("graft-w-statsauto")
    (0L until 40L).map(i => (i, s"s$i", i.toDouble / 2, Array[Byte](i.toByte), s"g${i % 2}"))
      .toDF("id", "name", "score", "blob", "grp").coalesce(1)
      .write.format("graft-ocf").partitionBy("grp")
      .option("statsColumns", "auto")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    val f = new java.io.File(dir, "grp=g0").listFiles()
      .filter(x => x.isFile && !x.getName.startsWith(".")).head
    val (hdr, _) = Ocf.blockIterator(java.nio.file.Files.readAllBytes(f.toPath))
    val stats = graft.sources.OcfPartitions.parseStats(
      new String(hdr.meta("graft.stats"), "UTF-8"))
    // id/name/score eligible; blob (binary) and grp (partition) are not
    assert(stats.keySet == Set("id", "name", "score"), stats.keySet.toString)
  }

  test("vacuumTemps removes only ORPHANED old writer temps") {
    import graft.sources.OcfMaintenance
    val dir = tempDir("graft-w-vacuum")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.format("graft-ocf").mode(SaveMode.Append).save(dir.getAbsolutePath)
    // plant: an old orphan temp, a fresh temp (live concurrent job), junk
    val orphan = new java.io.File(dir, ".part-9-dead.avro.tmp")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    orphan.setLastModified(System.currentTimeMillis() - 3 * 60 * 60 * 1000)
    val fresh = new java.io.File(dir, ".part-8-live.avro.tmp")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](4))

    val removed = OcfMaintenance.vacuumTemps(spark, dir.getAbsolutePath,
      minAgeMs = 60 * 60 * 1000)
    assert(removed == 1, s"only the hour-old orphan goes; removed $removed")
    assert(!orphan.exists() && fresh.exists())
    // committed data and its readability are untouched
    assert(readBack(dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(OcfMaintenance.vacuumTemps(spark, "/nonexistent/graft", 0) == 0L)
  }

  test("streaming source feeds streaming sink: one OCF-to-OCF pipeline, exactly once") {
    import spark.implicits._
    val in = tempDir("graft-w-pipe-in")
    val outD = tempDir("graft-w-pipe-out")
    val ckpt = tempDir("graft-w-pipe-ckpt")
    val schemaJson =
      """{"type":"record","name":"KV","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin

    def land(batch: Int, rows: Seq[(Long, String)]): Unit = {
      val payloads = graft.spark.OcfSink.payloads(
        rows.toDF("k", "v").coalesce(1), schemaJson, "deflate", rows.size)
      graft.spark.OcfFiles.writePayloadFiles(
        payloads, in.getAbsolutePath, s"batch$batch")
    }

    land(0, (0L until 50L).map(i => (i, s"v$i")))
    val q = graft.streaming.StreamingIngest
      .ocfSplitFileStream(spark, in.getAbsolutePath)
      .withColumn("v", upper(col("v")))
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .start(outD.getAbsolutePath)
    try {
      q.processAllAvailable()
      land(1, (50L until 80L).map(i => (i, s"v$i")))
      q.processAllAvailable()
    } finally q.stop()

    // decode side re-reads through the BATCH scan: the written containers
    // must be valid OCF with the transform applied, each input row once
    val back = spark.read.format("graft-ocf").load(outD.getAbsolutePath)
      .as[(Long, String)].collect().sorted
    assert(back.length == 80)
    assert(back.toSeq == (0L until 80L).map(i => (i, s"V$i".toUpperCase)))
  }

  test("streaming sink: epochs land as deterministic files, contents exactly once") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft-w-stream")
    val ckpt = tempDir("graft-w-stream-ckpt")
    val stream = MemoryStream[Long]
    val q = stream.toDF().withColumnRenamed("value", "id")
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .start(dir.getAbsolutePath)
    try {
      stream.addData(1L, 2L, 3L)
      q.processAllAvailable()
      stream.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()

    val files = visibleFiles(dir)
    // the `e` infix keeps epoch names disjoint from batch `part-<pid>-<job>`
    // names, so epoch-replay cleanup can never match a batch file
    assert(files.forall(_.getName.matches("part-e\\d{5}-\\d{5}\\.avro")),
      s"deterministic epoch-partition names required, got ${files.map(_.getName)}")
    // two epochs → file name prefixes for two distinct epoch ids
    assert(files.map(_.getName.split("-")(1)).distinct.size == 2)
    assert(readBack(dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(dir.listFiles().forall(f => !f.getName.endsWith(".tmp")))
  }

  test("streaming sink refuses to commit over legacy-named epoch files") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft-w-legacy")
    val ckpt = tempDir("graft-w-legacy-ckpt")
    // a committed epoch file from the pre-'e' naming era: the new naming's
    // replay cleanup can never match it (epochDoomed is deliberately
    // new-prefix-only), so an upgraded stream replaying that epoch would
    // silently duplicate its rows — the commit must refuse loudly instead
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000-00001.avro").toPath,
      "legacy epoch data".getBytes("UTF-8"))
    val stream = MemoryStream[Long]
    val q = stream.toDF().withColumnRenamed("value", "id")
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .start(dir.getAbsolutePath)
    val e = intercept[Exception] {
      try { stream.addData(1L, 2L); q.processAllAvailable() } finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(
        x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("legacy-named epoch file")),
      s"expected the legacy-epoch refusal, got: ${chain(e).mkString(" | ")}")
    // nothing committed: the legacy file is untouched and no epoch landed
    assert(new java.io.File(dir, "part-00000-00001.avro").exists())
    assert(!dir.listFiles().exists(_.getName.matches("part-e\\d{5}-.*\\.avro")),
      "no new epoch file may become visible after the refused commit")
  }

  test("partitionBy writes hive-style dirs, drops values from files, reads back") {
    import spark.implicits._
    val dir = tempDir("graft-w-part")
    val df = (0L until 300L).map(i => (i, s"lang${i % 3}", s"doc $i"))
      .toDF("id", "lang", "text").repartition(4)
    df.write.format("graft-ocf").partitionBy("lang")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)

    val subdirs = partitionDirs(dir)
    assert(subdirs == Seq("lang=lang0", "lang=lang1", "lang=lang2"),
      s"hive-style partition dirs required, got $subdirs")
    assert(visibleFiles(dir).isEmpty, "no data files at the partitioned root")
    // the files store only (id, text): lang lives in the directory name
    val oneFile = new java.io.File(dir, "lang=lang1").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).head
    val hex = java.nio.file.Files.readAllBytes(oneFile.toPath)
    val (hdr, _) = Ocf.blockIterator(hex)
    assert(!hdr.schemaJson.contains("\"lang\""),
      "partition column must not appear in the file's writer schema")

    val back = readBack(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "text", "lang"),
      s"data fields then partition columns; got ${back.schema.fieldNames.toSeq}")
    val got = back.select("id", "lang", "text").as[(Long, String, String)]
      .collect().sorted
    assert(got.toSeq == (0L until 300L).map(i => (i, s"lang${i % 3}", s"doc $i")))
  }

  test("partitioned roundtrip survives null values and escaped characters") {
    import spark.implicits._
    val dir = tempDir("graft-w-part-esc")
    val rows = Seq((1L, "a/b=c%d", "x"), (2L, null, "y"), (3L, "plain", "z"))
    rows.toDF("id", "key", "text").coalesce(1)
      .write.format("graft-ocf").partitionBy("key")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    val names = dir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(names.contains("key=__HIVE_DEFAULT_PARTITION__"), names.toString)
    assert(names.exists(n => n.startsWith("key=a%2Fb%3Dc%25d")), names.toString)
    val got = readBack(dir).select("id", "key", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(got.toSeq == rows)
  }

  test("partitioned overwrite clears subdirectories recursively") {
    import spark.implicits._
    val dir = tempDir("graft-w-part-ovw")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").coalesce(1)
      .write.format("graft-ocf").partitionBy("p")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    Seq((9L, "a")).toDF("id", "p").coalesce(1)
      .write.format("graft-ocf").partitionBy("p")
      .mode(SaveMode.Overwrite).save(dir.getAbsolutePath)
    val got = readBack(dir).select("id", "p")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((9L, "a")), s"overwrite must clear old partitions; got $got")
  }

  test("streaming sink partitions epochs via the partitionBy option") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft-w-streampart")
    val ckpt = tempDir("graft-w-streampart-ckpt")
    val stream = MemoryStream[(Long, String)]
    // DataStreamWriter.partitionBy is silently dropped for V2 tables, so the
    // sink takes it as an option — the landing pattern "stream in,
    // partitioned layout out" must work end to end
    val q = stream.toDF.toDF("id", "grp")
      .writeStream.format("graft-ocf")
      .option("partitionBy", "grp")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .start(dir.getAbsolutePath)
    try {
      stream.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
      stream.addData((4L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    val dirs = partitionDirs(dir)
    assert(dirs == Seq("grp=a", "grp=b"), s"epochs must land partitioned; got $dirs")
    assert(visibleFiles(dir).isEmpty, "no files at the partitioned root")
    val back = readBack(dir).select("id", "grp")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(back.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b")))
  }

  test("sink files are byte-identical to Apache Avro's writer, flat and nested") {
    // the whole FILE — header, block framing, datum bytes, sync markers — is
    // byte-for-byte what an independent encoder produces: every row converted
    // to an Apache Avro 1.12 GenericRecord, encoded by its GenericDatumWriter
    // and assembled by the kernel block writer. Flat primitives, nullable
    // and not, plus nested shapes (struct, array and map of scalars, array of
    // structs, map of nullable structs, a general union, ["null", T] items),
    // under the null and deflate codecs.
    import graft.spark.{AvroRuntime, SchemaConverters}
    import org.apache.avro.{Conversions, LogicalTypes, Schema => ASchema}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("sh", ShortType, nullable = true),
      StructField("by", ByteType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("dec", DecimalType(10, 2), nullable = true),
      StructField("dt", DateType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("arr", ArrayType(LongType, containsNull = false), nullable = true),
      StructField("m", MapType(StringType, LongType, valueContainsNull = false), nullable = true),
      StructField("st", StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("bb", StringType, nullable = true))), nullable = true),
      StructField("as", ArrayType(StructType(Seq(
        StructField("a", LongType, nullable = true),
        StructField("b", StringType, nullable = true))), containsNull = false), nullable = true),
      StructField("ms", MapType(StringType, StructType(Seq(
        StructField("x", IntegerType, nullable = true))), valueContainsNull = true), nullable = true),
      StructField("u", StructType(Seq(
        StructField("member0", LongType, nullable = true),
        StructField("member1", StringType, nullable = true))), nullable = true),
      StructField("an", ArrayType(LongType, containsNull = true), nullable = true)))
    val rows = (0 until 500).map { k =>
      def n[T](v: T): Any = if (k % 7 == 3) null else v
      Row(k.toLong, n(k * 2), n((k % 100).toShort), n((k % 50).toByte),
        n(k % 2 == 0), n(k.toFloat / 3.0f), n(k.toDouble / 7.0),
        n(if (k % 11 == 0) "" else s"row $k é中"),
        n(Array.tabulate(k % 5)(_.toByte)),
        n(new java.math.BigDecimal(s"$k.25")),
        n(java.sql.Date.valueOf("2024-01-01")),
        n(java.sql.Timestamp.valueOf("2024-01-01 12:34:56.789")),
        n(Seq(k.toLong, k + 1L)),
        n(Map(s"k$k" -> k.toLong)),
        n(Row(n(k.toLong), n(s"inner$k"))),
        n(if (k % 5 == 0) Seq.empty else Seq(Row(n(k.toLong), n(s"a$k")), Row(k + 1L, null))),
        n(Map(s"m$k" -> Row(n(k)), "z" -> null)),
        n(k % 3 match {
          case 0 => Row(k.toLong, null)
          case 1 => Row(null, s"u$k")
          case _ => Row(null, null) // no member set: the null branch
        }),
        n(Seq(k.toLong, null, k + 2L)))
    }
    // the general union is no Catalyst type: pin it in an explicit schema
    val derived = SchemaConverters.toAvroType(schema).asInstanceOf[graft.avro.ARecord]
    val avroJson = graft.avro.AvroSchemaParser.toJson(derived.copy(fields = derived.fields.map {
      case f if f.name == "u" =>
        f.copy(schema = graft.avro.AUnion(Seq(graft.avro.ANull, graft.avro.ALong, graft.avro.AString)))
      case f => f
    }))
    val apache = new ASchema.Parser().parse(avroJson)
    val decimals = new Conversions.DecimalConversion()
    def toApache(v: Any, s: ASchema): Any = if (v == null) null else s.getType match {
      case ASchema.Type.UNION =>
        val branches = s.getTypes.asScala.filter(_.getType != ASchema.Type.NULL).toSeq
        if (branches.length == 1) toApache(v, branches.head)
        else {
          val r = v.asInstanceOf[Row]
          (0 until r.length).find(!r.isNullAt(_))
            .map(m => toApache(r.get(m), branches(m))).orNull
        }
      case ASchema.Type.RECORD =>
        val r = v.asInstanceOf[Row]
        val g = new GenericData.Record(s)
        s.getFields.asScala.foreach(f => g.put(f.pos, toApache(r.get(r.fieldIndex(f.name)), f.schema)))
        g
      case ASchema.Type.ARRAY =>
        v.asInstanceOf[scala.collection.Seq[Any]].map(toApache(_, s.getElementType)).asJava
      case ASchema.Type.MAP =>
        val out = new java.util.LinkedHashMap[String, Any]()
        v.asInstanceOf[scala.collection.Map[String, Any]].foreach { case (key, x) =>
          out.put(key, toApache(x, s.getValueType))
        }
        out
      case ASchema.Type.BYTES => v match {
        case d: java.math.BigDecimal =>
          val l = s.getLogicalType.asInstanceOf[LogicalTypes.Decimal]
          decimals.toBytes(d.setScale(l.getScale), s, l)
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      }
      case ASchema.Type.INT => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case x: Short => x.toInt
        case x: Byte => x.toInt
        case x => x
      }
      case ASchema.Type.LONG => v match {
        case t: java.sql.Timestamp =>
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        case x => x
      }
      case _ => v
    }
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).sortWithinPartitions("id")
    val writer = new GenericDatumWriter[Any](apache)
    val datums = df.collect().toSeq.map { r =>
      val bos = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(bos, null)
      writer.write(toApache(r, apache), enc)
      enc.flush()
      bos.toByteArray
    }
    for (codec <- Seq("null", "deflate")) {
      val dir = tempDir(s"graft-w-byteid-$codec")
      df.write.format("graft-ocf").option("codec", codec).option("avroSchema", avroJson)
        .mode(SaveMode.Append).save(dir.getAbsolutePath)
      val got = java.nio.file.Files.readAllBytes(visibleFiles(dir).head.toPath)
      val want = Ocf.writePreEncoded(
        AvroRuntime.parse(avroJson).physical.asInstanceOf[graft.avro.ARecord],
        datums.iterator, codec)
      assert(got.length == want.length,
        s"[$codec] file length ${got.length} != reference ${want.length}")
      assert(java.util.Arrays.equals(got, want),
        s"[$codec] sink file bytes differ from Apache Avro's")
    }
  }

  test("statsColumns stamps per-file min/max into the header") {
    import spark.implicits._
    val dir = tempDir("graft-w-stats")
    (0L until 100L).map(i => (i, s"s$i")).toDF("id", "name")
      .coalesce(1)
      .write.format("graft-ocf").option("statsColumns", "id,name")
      .mode(SaveMode.Append).save(dir.getAbsolutePath)
    val f = visibleFiles(dir).head
    val (hdr, blocks) = Ocf.blockIterator(java.nio.file.Files.readAllBytes(f.toPath))
    val statsJson = new String(hdr.meta("graft.stats"), "UTF-8")
    val stats = graft.sources.OcfPartitions.parseStats(statsJson)
    assert(stats("id").min.get.asLong == 0L && stats("id").max.get.asLong == 99L)
    assert(stats("name").min.get.asText == "s0" && stats("name").max.get.asText == "s99")
    assert(!stats("id").hasNull && !stats("id").allNull)
    assert(blocks.map(_.datumCount).sum == 100L, "block section must survive the stamp")
    assert(readBack(dir).count() == 100L)
  }
}
