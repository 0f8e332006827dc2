package graft

import graft.spark.{OcfFiles, OcfSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The splittable DataSource V2 OCF reader (`format("graft-ocf")`):
  * intra-file sync-marker splits, pruning pushdown, per-file schema/codec
  * resolution (reference datafile.py:39, 380-394). */
class OcfDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-ocfsource-spec")
    .getOrCreate()

  private val schemaJson =
    """{"type":"record","name":"KV","fields":[
      |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin

  private def tempDir(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d
  }

  // partition directories, skipping `_`/`.`-prefixed names (the snapshot
  // manifests' `_graft_snapshots`) exactly as the reader's listing does
  private def partitionDirs(dir: java.io.File): Seq[String] =
    dir.listFiles().toSeq.filter(f =>
      f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).sorted

  /** One big OCF file of `n` rows (many 64 KB blocks) under a fresh dir. */
  private def bigFile(n: Long, codec: String): (java.io.File, Seq[(Long, String)]) = {
    import spark.implicits._
    val rows = (0L until n).map(i => (i, s"value_${i}_${"x" * 40}"))
    val payloads = OcfSink.payloads(
      rows.toDF("k", "v").coalesce(1), schemaJson, codec, datumsPerPayload = n.toInt)
    val dir = tempDir(s"graft-dsv2-$codec")
    assert(OcfFiles.writePayloadFiles(payloads, dir.getAbsolutePath) == 1L)
    (dir, rows)
  }

  private def read(dir: java.io.File, splitSize: Long, more: (String, String)*): DataFrame = {
    val r = spark.read.format("graft-ocf").option("splitSize", splitSize.toString)
    more.foldLeft(r)((b, kv) => b.option(kv._1, kv._2)).load(dir.getAbsolutePath)
  }

  private def collectKV(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("readerSchema=auto resolves an evolved directory to its widest schema") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-auto")
    // v1 files: (k, v); v2 files: (k, v, extra with default) — v2 reads v1
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode("append").save(dir.getAbsolutePath)
    val v2 =
      """{"type":"record","name":"topLevelRecord","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":["null","string"]},
        |{"name":"extra","type":"long","default":-1}]}""".stripMargin
    Seq((3L, "c", 30L)).toDF("k", "v", "extra").coalesce(1)
      .write.format("graft-ocf").mode("append")
      .option("avroSchema", v2).save(dir.getAbsolutePath)

    val auto = spark.read.format("graft-ocf").option("readerSchema", "AUTO")
      .load(dir.getAbsolutePath) // option VALUES are case-insensitive like keys
    assert(auto.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    val got = auto.as[(Long, String, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)),
      "old files materialize the default, new files keep their value")

    // incompatible fork: auto refuses instead of guessing
    val fork = tempDir("graft-dsv2-auto-fork")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode("append").save(fork.getAbsolutePath)
    Seq(("x", 1L)).toDF("k", "v").coalesce(1) // k:string vs k:long
      .write.format("graft-ocf").mode("append").save(fork.getAbsolutePath)
    val err = intercept[Exception] {
      spark.read.format("graft-ocf").option("readerSchema", "auto")
        .load(fork.getAbsolutePath).collect()
    }
    assert(err.getMessage.contains("auto"), err.getMessage)
  }

  test("one file fans out into many splits and every split size agrees") {
    val (dir, rows) = bigFile(12000, "deflate")
    val whole = read(dir, 1L << 26)
    assert(whole.rdd.getNumPartitions == 1)
    val fine = read(dir, 4096)
    assert(fine.rdd.getNumPartitions > 10,
      s"expected many intra-file splits, got ${fine.rdd.getNumPartitions}")
    val sorted = rows.sorted
    assert(collectKV(whole) == sorted)
    assert(collectKV(fine) == sorted)
    // pathological: splits smaller than a sync marker still tile exactly
    assert(read(dir, 700).count() == 12000)
  }

  test("splits decode correctly under every block codec") {
    for (codec <- Seq("null", "snappy", "zstandard", "bzip2")) {
      val (dir, rows) = bigFile(3000, codec)
      assert(collectKV(read(dir, 8192)) == rows.sorted, s"codec $codec")
    }
  }

  // read the scan from the OPTIMIZED plan: pushdown runs there, and AQE
  // hides BatchScanExec from executedPlan.collect until execution
  private def scanOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head

  test("column pruning reaches the decoder as a reader-schema projection") {
    val (dir, rows) = bigFile(2000, "deflate")
    val df = read(dir, 16384).select("v")
    assert(scanOf(df).readSchema().fieldNames.toSeq == Seq("v"),
      "pruned scan must read only the requested field")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == rows.map(_._2).sorted)
    // count(*) goes further than pruning every field: the aggregate itself
    // is pushed and the scan's output is the per-split partial count
    val cnt = read(dir, 16384).count()
    assert(cnt == 2000)
    assert(scanOf(read(dir, 16384).groupBy().count())
      .readSchema().fieldNames.toSeq == Seq("count"))
  }

  test("nested pruning reaches the decoder: select(info.b) narrows the subtree") {
    val nestedJson =
      """{"type":"record","name":"Outer","fields":[
        |{"name":"id","type":"long"},
        |{"name":"info","type":{"type":"record","name":"Info","fields":[
        |  {"name":"a","type":"string"},
        |  {"name":"b","type":"long"},
        |  {"name":"c","type":"string"}]}}]}""".stripMargin
    import spark.implicits._
    val df0 = (0L until 1500L).toDF("id").select(col("id"), struct(
      concat(lit("a_"), col("id"), lit("p" * 30)).as("a"),
      (col("id") * 2).as("b"),
      concat(lit("c"), col("id")).as("c")).as("info")).coalesce(1)
    val payloads = OcfSink.payloads(df0, nestedJson, "deflate", datumsPerPayload = 1500)
    val dir = tempDir("graft-dsv2-nested")
    OcfFiles.writePayloadFiles(payloads, dir.getAbsolutePath)

    val q = read(dir, 8192).select(col("info.b").as("b"))
    val reader = scanOf(q).readSchema() // forces pushdown → build()
    val built = graft.sources.OcfDataSource.lastBuiltReaderJson.get()
    // the decoder's reader schema must contain ONLY the requested subtree:
    // info.b survives, sibling leaves a/c (and top-level id) become skips
    assert(built.contains("\"b\""), s"pruned reader schema lost b: $built")
    assert(!built.contains("\"a\"") && !built.contains("\"c\"") && !built.contains("\"id\""),
      s"nested prune did not narrow the reader schema: $built")
    val infoField = reader(reader.fieldIndex("info")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(infoField.fieldNames.toSeq == Seq("b"),
      s"readSchema must be nested-pruned, got $reader")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1500L).map(_ * 2))

    // a top-level-only prune still narrows (regression for the old path)
    val top = read(dir, 8192).select("id")
    assert(scanOf(top).readSchema().fieldNames.toSeq == Seq("id"))
    assert(top.count() == 1500)

    // full-width read after a pruned one: lastBuiltReaderJson reflects it
    val whole = read(dir, 8192)
    assert(scanOf(whole).readSchema().fieldNames.toSeq == Seq("id", "info"))
    assert(graft.sources.OcfDataSource.lastBuiltReaderJson.get().contains("\"a\""))
  }

  test("pruneAvro falls back, never silently drops, on an unmatched field") {
    import org.apache.spark.sql.types._
    val rec = graft.avro.AvroSchemaParser.parse(schemaJson)
      .asInstanceOf[graft.avro.ARecord]
    // case-insensitive unique match resolves (Spark default analysis)
    val ci = graft.sources.OcfDataSource.pruneAvro(
      rec, StructType(Seq(StructField("K", LongType))))
      .asInstanceOf[graft.avro.ARecord]
    assert(ci.fields.map(_.name) == Seq("k"))
    // no match at all must throw, not drop
    intercept[graft.sources.OcfDataSource.PruneMismatch] {
      graft.sources.OcfDataSource.pruneAvro(
        rec, StructType(Seq(StructField("nope", LongType))))
    }
  }

  test("reader schema option: reorder, drop, add-with-default, promote") {
    val (dir, _) = bigFile(500, "null")
    val reader =
      """{"type":"record","name":"KV","fields":[
        |{"name":"v","type":"string"},
        |{"name":"k","type":"double"},
        |{"name":"tag","type":"string","default":"none"}]}""".stripMargin
    val df = read(dir, 4096, "readerSchema" -> reader)
    assert(df.schema.fieldNames.toSeq == Seq("v", "k", "tag"))
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    assert(got.length == 500)
    assert(got.forall { case (v, k, t) => v.startsWith(s"value_${k.toLong}_") && t == "none" })
  }

  test("directory scan: many files, glob filter, recursion, paths varargs") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-many")
    val sub = new java.io.File(dir, "nested"); sub.mkdirs()
    val rows = (0L until 900L).map(i => (i, s"m$i"))
    val payloads = OcfSink.payloads(
      rows.toDF("k", "v").repartition(3), schemaJson, "deflate", datumsPerPayload = 100)
    OcfFiles.writePayloadFiles(payloads, dir.getAbsolutePath)
    OcfFiles.writePayloadFiles(
      OcfSink.payloads(Seq((1000L, "sub")).toDF("k", "v"), schemaJson), sub.getAbsolutePath)
    java.nio.file.Files.write(
      new java.io.File(dir, "decoy.txt").toPath, Array[Byte](1, 2, 3))

    val flat = read(dir, 1L << 20, "pathGlobFilter" -> "*.avro")
    assert(collectKV(flat) == rows.sorted)
    val rec = read(dir, 1L << 20,
      "pathGlobFilter" -> "*.avro", "recursiveFileLookup" -> "true")
    assert(rec.count() == 901)
    val two = spark.read.format("graft-ocf").option("pathGlobFilter", "*.avro")
      .load(dir.getAbsolutePath, sub.getAbsolutePath)
    // load(dir, sub): dir non-recursively (900 rows) plus sub (1 row)
    assert(two.count() == 901)
  }

  test("headers are resolved once per file at planning, not per split") {
    val (dir, _) = bigFile(6000, "deflate")
    val before = graft.sources.OcfDataSource.headerReads.get()
    val df = read(dir, 1024)
    assert(df.rdd.getNumPartitions > 10, "want many splits sharing one header")
    assert(df.count() == 6000)
    assert(read(dir, 1024).count() == 6000) // second read of the same dir
    val reads = graft.sources.OcfDataSource.headerReads.get() - before
    // one read per `load()` (the two reads above), zero per split
    assert(reads <= 2, s"expected at most one header read per load, got $reads")
  }

  test("reader-construction failure closes the opened stream (no fd leak)") {
    import org.apache.hadoop.fs.Path
    val (dir, _) = bigFile(300, "null")
    val file = dir.listFiles().filter(_.getName.endsWith(".avro")).head
    val conf = spark.sessionState.newHadoopConf()
    val hp = new Path(file.getAbsolutePath)
    val in = hp.getFileSystem(conf).open(hp)
    val (h, headerEnd) =
      try graft.sources.OcfDataSource.readHeaderAt(in, file.length()) finally in.close()
    def fds(): Int = new java.io.File("/proc/self/fd").listFiles().count { l =>
      try java.nio.file.Files.readSymbolicLink(l.toPath).toString == file.getAbsolutePath
      catch { case _: Exception => false }
    }
    // no-default field absent from the writer: resolution fails in the ctor
    val badReader =
      """{"type":"record","name":"KV","fields":[{"name":"nope","type":"string"}]}"""
    val before = fds()
    intercept[Exception] {
      new graft.sources.OcfColumnarSplitReader(
        graft.sources.OcfDataSource.OcfFileMeta(file.getAbsolutePath, file.length(),
          h.schemaJson, h.codecName, h.sync, headerEnd),
        0L, file.length(), badReader, conf)
    }
    assert(fds() == before, "constructor failure must not leak the input stream")
    // unknown codec takes the same guarded path
    intercept[Exception] {
      new graft.sources.OcfColumnarSplitReader(
        graft.sources.OcfDataSource.OcfFileMeta(file.getAbsolutePath, file.length(),
          h.schemaJson, "lzo", h.sync, headerEnd),
        0L, file.length(), h.schemaJson, conf)
    }
    assert(fds() == before)
  }

  test("split metadata is O(1): partition size independent of schema JSON size") {
    def serializedSize(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.size()
    }
    // a grotesquely wide schema (~60 KB of JSON) vs the 2-field one: the
    // planned InputPartitions must not grow with it — the header meta rides
    // the reader FACTORY (one per stage), not each split
    val wideJson = {
      val fields = (0 until 1000).map(i =>
        s"""{"name":"pad_field_with_a_long_name_$i","type":"string"}""")
      s"""{"type":"record","name":"Wide","fields":[${fields.mkString(",")}]}"""
    }
    assert(wideJson.length > 50000)
    def partsOf(schemaJson: String): Array[org.apache.spark.sql.connector.read.InputPartition] = {
      val meta = graft.sources.OcfDataSource.OcfFileMeta(
        "/x/f.avro", 1L << 30, schemaJson, "null", new Array[Byte](16), 100L)
      graft.sources.OcfScan(Seq(meta), schemaJson,
        new org.apache.spark.sql.types.StructType(),
        new graft.sources.SerializableHadoopConf(spark.sessionState.newHadoopConf()),
        64L * 1024L).planInputPartitions()
    }
    val small = partsOf(schemaJson)
    val wide = partsOf(wideJson)
    assert(wide.length == (1L << 30) / (64L * 1024L))
    val sSmall = serializedSize(small.head)
    val sWide = serializedSize(wide.head)
    assert(sWide == sSmall, s"split metadata must not scale with schema: $sSmall vs $sWide")
    assert(sWide < 512, s"split metadata should be tiny, got $sWide bytes")
  }

  test("count(*) pushdown walks block headers only: exact over corrupt bodies") {
    import org.apache.hadoop.fs.Path
    val (dir, _) = bigFile(12000, "deflate")
    val file = dir.listFiles().filter(_.getName.endsWith(".avro")).head
    val conf = spark.sessionState.newHadoopConf()
    val hp = new Path(file.getAbsolutePath)
    val in = hp.getFileSystem(conf).open(hp)
    val (h, headerEnd) =
      try graft.sources.OcfDataSource.readHeaderAt(in, file.length()) finally in.close()
    // overwrite the FIRST block's entire compressed body with a constant —
    // framing (count/size varints, sync markers) stays intact, so the
    // header walk is unaffected while any body decompression fails
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val hr = new graft.avro.AvroBinaryReader(bytes, headerEnd.toInt, bytes.length)
    hr.readLong() // block row count
    val size = hr.readLong()
    java.util.Arrays.fill(bytes, hr.pos, hr.pos + size.toInt, 0x55.toByte)
    java.nio.file.Files.write(file.toPath, bytes)

    // pushed: plan advertises the aggregate, result is exact, bodies unread
    val pushed = read(dir, 16384).groupBy().count()
    assert(scanOf(pushed).description().contains("PushedAggregation: [COUNT(*)]"))
    assert(pushed.head.getLong(0) == 12000)
    // same result when the count is a single whole-file split
    assert(read(dir, 1L << 26).count() == 12000)
    // a decoding read of the same files fails loudly on the trashed body
    intercept[org.apache.spark.SparkException] {
      read(dir, 16384).agg(max("k")).head
    }
    // grouped counts are NOT pushed (the source only takes bare COUNT(*))
    assert(!scanOf(read(dir, 16384).groupBy("k").count())
      .description().contains("PushedAggregation"))
  }

  test("limit pushdown caps per-split decode and keeps results exact") {
    val (dir, rows) = bigFile(3000, "deflate")
    val df = read(dir, 16384).limit(7)
    assert(scanOf(df).description().contains("PushedLimit: LIMIT 7"),
      s"limit must reach the scan: ${scanOf(df).description()}")
    val got = df.collect()
    assert(got.length == 7)
    assert(got.forall(r => rows.contains((r.getLong(0), r.getString(1)))))

    // reader-level contract: a split with thousands of anchored rows stops
    // emitting (and loading blocks) at the pushed limit
    import org.apache.hadoop.fs.Path
    val file = dir.listFiles().filter(_.getName.endsWith(".avro")).head
    val conf = spark.sessionState.newHadoopConf()
    val hp = new Path(file.getAbsolutePath)
    val in = hp.getFileSystem(conf).open(hp)
    val (h, headerEnd) =
      try graft.sources.OcfDataSource.readHeaderAt(in, file.length()) finally in.close()
    val r = new graft.sources.OcfColumnarSplitReader(
      graft.sources.OcfDataSource.OcfFileMeta(file.getAbsolutePath, file.length(),
        h.schemaJson, h.codecName, h.sync, headerEnd),
      0L, file.length(), h.schemaJson, conf, limit = 3L)
    try {
      var n = 0
      while (r.next()) n += r.get().numRows()
      assert(n == 3, s"pushed limit 3 must cap the reader, emitted $n")
    } finally r.close()
  }

  test("a missing root path surfaces FileNotFound directly, not a retry wrapper") {
    val e = intercept[java.io.FileNotFoundException] {
      spark.read.format("graft-ocf").load("/definitely/not/here-graft-xyz")
    }
    assert(e.getMessage.contains("here-graft-xyz"))
  }

  test("a truncated header fails the plan, not a mid-job task") {
    val dir = tempDir("graft-dsv2-trunc")
    java.nio.file.Files.write(new java.io.File(dir, "bad.avro").toPath,
      Array[Byte]('O', 'b', 'j', 1, 2))
    intercept[Exception] { read(dir, 4096) } // load() itself throws
  }

  test("header-only file (zero blocks) and empty splits yield zero rows") {
    val dir = tempDir("graft-dsv2-empty")
    val bytes = graft.avro.Ocf.writeAll(
      graft.avro.AvroSchemaParser.parse(schemaJson), Seq.empty)
    java.nio.file.Files.write(new java.io.File(dir, "empty.avro").toPath, bytes)
    assert(read(dir, 64).count() == 0)
  }

  test("min/max pushdown answers from header stamps: exact over corrupt bodies") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft-dsv2-minmax")
    (0L until 500L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartition(2)
      .write.format("graft-ocf").option("statsColumns", "id,name")
      .mode("append").save(dir.getAbsolutePath)
    // trash EVERY file's first block body — framing stays intact, so any
    // answer that survives proves no data byte was decoded
    val conf = spark.sessionState.newHadoopConf()
    dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".avro")).foreach { file =>
      val hp = new Path(file.getAbsolutePath)
      val in = hp.getFileSystem(conf).open(hp)
      val (_, headerEnd) =
        try graft.sources.OcfDataSource.readHeaderAt(in, file.length()) finally in.close()
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val hr = new graft.avro.AvroBinaryReader(bytes, headerEnd.toInt, bytes.length)
      hr.readLong()
      val size = hr.readLong()
      java.util.Arrays.fill(bytes, hr.pos, hr.pos + size.toInt, 0x55.toByte)
      java.nio.file.Files.write(file.toPath, bytes)
    }
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    val agged = df.agg(min("id"), max("id"), min("name"), max("name"), count(lit(1)))
    assert(scanOf(agged).description().contains(
      "PushedAggregation: [MIN(id), MAX(id), MIN(name), MAX(name), COUNT(*)]"),
      scanOf(agged).description())
    val r = agged.head
    assert((r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)) ==
      (0L, 499L, "name_0", "name_99", 500L))
    // min/max WITHOUT count: fully plan-time — one task emits the per-file
    // constants, no file is ever opened (still exact over the trashed bodies)
    val mmOnly = df.agg(min("id"), max("name"))
    assert(mmOnly.rdd.getNumPartitions == 1,
      "min/max-only pushdown must not schedule a task per file")
    val r2 = mmOnly.head
    assert((r2.getLong(0), r2.getString(1)) == (0L, "name_99"))
    // a directory WITHOUT stats falls back to a normal (here: failing) scan —
    // the pushdown must never fabricate an answer it cannot prove
    val dir2 = tempDir("graft-dsv2-minmax-nostats")
    (0L until 10L).map(i => (i, "x")).toDF("id", "name").coalesce(1)
      .write.format("graft-ocf").mode("append").save(dir2.getAbsolutePath)
    val unstamped = spark.read.format("graft-ocf").load(dir2.getAbsolutePath).agg(min("id"))
    assert(!scanOf(unstamped).description().contains("MIN(id)"))
    assert(unstamped.head.getLong(0) == 0L)
  }

  test("top-k pushdown over sort-stamped files; ordering reported to the planner") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-topn")
    // unsorted input, TWO tasks: the sink's own sortColumns request orders
    // each task's rows and its tracker certifies each sealed file
    (0L until 400L).map(i => ((i * 7919L) % 400L, i)).toDF("k", "payload")
      .repartition(2)
      .write.format("graft-ocf").option("sortColumns", "k")
      .mode("append").save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)

    val top = df.orderBy("k").limit(5)
    assert(scanOf(top).description().contains("PushedTopN: ORDER BY k LIMIT 5"),
      scanOf(top).description())
    // (i*7919) % 400 is a permutation of 0..399 (7919 coprime to 400):
    // the global top-5 is exactly 0..4 — Spark's kept sort merges the
    // per-split <=5-row partials correctly
    assert(top.select("k").as[Long].collect().toSeq == (0L until 5L))

    // descending, non-stamped column, and unstamped directory all refuse
    assert(!scanOf(df.orderBy(col("k").desc).limit(5)).description()
      .contains("PushedTopN"))
    assert(!scanOf(df.orderBy("payload").limit(5)).description()
      .contains("PushedTopN"))
    val plainDir = tempDir("graft-dsv2-topn-plain")
    (0L until 40L).map(i => (i, i)).toDF("k", "payload").coalesce(1)
      .write.format("graft-ocf").mode("append").save(plainDir.getAbsolutePath)
    val plain = spark.read.format("graft-ocf").load(plainDir.getAbsolutePath)
    assert(!scanOf(plain.orderBy("k").limit(5)).description().contains("PushedTopN"))

    // SupportsReportOrdering: a local sort on the certified column is
    // ELIMINATED (the scan already delivers each partition ordered)...
    val swp = df.sortWithinPartitions("k")
    val swpPlan = swp.queryExecution.executedPlan.toString
    assert(!swpPlan.contains("Sort ["), s"layout-satisfied sort must vanish:\n$swpPlan")
    assert(swp.count() == 400L)
    // ...while the unstamped directory still plans a real Sort
    val plainPlan = plain.sortWithinPartitions("k")
      .queryExecution.executedPlan.toString
    assert(plainPlan.contains("Sort ["), s"unstamped dir must keep its sort:\n$plainPlan")
  }

  test("SUM/COUNT(col) pushdown answers from header stamps: exact over corrupt bodies") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft-dsv2-sumcount")
    // v is null on multiples of 5: COUNT(v) and SUM(v) must reflect nulls
    (0L until 500L).map(i => (i, if (i % 5 == 0) None else Some(i), i / 2.0))
      .toDF("id", "v", "d")
      .repartition(2)
      .write.format("graft-ocf").option("statsColumns", "id,v,d")
      .mode("append").save(dir.getAbsolutePath)
    // trash every file's first block body (framing intact): a surviving
    // answer proves the aggregation never decoded a data byte
    val conf = spark.sessionState.newHadoopConf()
    dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".avro")).foreach { file =>
      val hp = new Path(file.getAbsolutePath)
      val in = hp.getFileSystem(conf).open(hp)
      val (_, headerEnd) =
        try graft.sources.OcfDataSource.readHeaderAt(in, file.length()) finally in.close()
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val hr = new graft.avro.AvroBinaryReader(bytes, headerEnd.toInt, bytes.length)
      hr.readLong()
      val size = hr.readLong()
      java.util.Arrays.fill(bytes, hr.pos, hr.pos + size.toInt, 0x55.toByte)
      java.nio.file.Files.write(file.toPath, bytes)
    }
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // count over NON-nullable id is canonicalized to COUNT(*) by Catalyst,
    // so the COUNT(col) path is exercised via the nullable v
    val agged = df.agg(sum("id"), sum("v"), count($"v"))
    assert(scanOf(agged).description().contains(
      "PushedAggregation: [SUM(id), SUM(v), COUNT(v)]"),
      scanOf(agged).description())
    // stats-only (no COUNT(*)): fully plan-time, one constants task
    assert(agged.rdd.getNumPartitions == 1,
      "sum/count(col) pushdown must not schedule a task per file")
    val r = agged.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (124750L, 100000L, 400L))
    // mixing in COUNT(*) keeps the push (block-header walk for the star)
    val mixed = df.agg(sum("v"), count(lit(1)))
    assert(scanOf(mixed).description().contains(
      "PushedAggregation: [SUM(v), COUNT(*)]"), scanOf(mixed).description())
    val m = mixed.head
    assert((m.getLong(0), m.getLong(1)) == (100000L, 500L))
    // SUM over a floating column is NEVER pushed (order-dependent), so this
    // one must fall back to a real scan — which fails on the trashed bodies,
    // proving the refusal is real
    val dSum = df.agg(sum("d"))
    assert(!scanOf(dSum).description().contains("PushedAggregation"),
      scanOf(dSum).description())
    // stamps written before nn/sum existed refuse the push: simulate with a
    // fresh unstamped directory
    val dir2 = tempDir("graft-dsv2-sumcount-nostats")
    (0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft-ocf").mode("append").save(dir2.getAbsolutePath)
    val unstamped = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
      .agg(sum("id"))
    assert(!scanOf(unstamped).description().contains("PushedAggregation"))
    assert(unstamped.head.getLong(0) == 45L)
  }

  test("block index: range predicates prune splits INSIDE a file, block-aligned") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-blockidx")
    // ONE file, sorted ids, tiny blocks -> many index entries
    (0L until 4000L).map(i => (i, s"name_$i")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("graft-ocf")
      .option("statsColumns", "id").option("blockIndex", "true")
      .option("blockBytes", "2048")
      .mode("append").save(dir.getAbsolutePath)
    val file = dir.listFiles.filter(f => f.isFile && f.getName.endsWith(".avro")).head
    val (hdr, _) = graft.avro.Ocf.blockIterator(java.nio.file.Files.readAllBytes(file.toPath))
    val idxJson = hdr.meta.get("graft.blockIndex").map(b => new String(b, "UTF-8"))
    assert(idxJson.isDefined, "blockIndex=true must stamp graft.blockIndex")
    val nBlocks = graft.sources.OcfPartitions.parseBlockIndex(idxJson.get).length
    assert(nBlocks > 10, s"expected many small blocks, got $nBlocks")

    def planned(df: DataFrame): Array[org.apache.spark.sql.connector.read.InputPartition] =
      scanOf(df).toBatch.planInputPartitions()

    // selective tail predicate: few aligned splits covering a small slice
    val tail = read(dir, 1 << 20).where(col("id") >= 3900L)
    val tailSplits = planned(tail)
    assert(tailSplits.length >= 1 && tailSplits.length < nBlocks / 2,
      s"tail query must prune most blocks; planned ${tailSplits.length} of $nBlocks")
    val covered = tailSplits.collect {
      case s: graft.sources.OcfInputPartition => assert(s.aligned); s.end - s.start
    }.sum
    assert(covered < file.length() / 4,
      s"pruned splits must cover a fraction of the file: $covered of ${file.length()}")
    assert(tail.select("id").as[Long].collect().sorted.toSeq == (3900L until 4000L))

    // a middle range: interior blocks only
    val mid = read(dir, 1 << 20).where(col("id") >= 2000L && col("id") < 2050L)
    assert(mid.select("id").as[Long].collect().sorted.toSeq == (2000L until 2050L))

    // unfiltered scan over aligned splits chunked at a small splitSize:
    // multiple aligned splits, zero sync scans, no row lost or doubled
    val full = read(dir, 8192)
    val fullSplits = planned(full)
    assert(fullSplits.length > 1, "small splitSize must chunk the aligned runs")
    assert(full.select("id").as[Long].collect().sorted.toSeq == (0L until 4000L))

    // COUNT(*) pushdown over aligned splits: the block walk must anchor at
    // the split's exact offset (a sync scan from an aligned start would
    // skip the first owned block) and stop exactly at end (the +16 grace
    // would double-count across adjacent aligned splits)
    assert(read(dir, 1 << 20).count() == 4000L, "single aligned split count")
    assert(read(dir, 8192).count() == 4000L, "chunked aligned split count")
    // grouped count over a partitioned + block-indexed layout (agg reader)
    val gdir = tempDir("graft-dsv2-blockidx-grp")
    (0L until 300L).map(i => (i, s"p${i % 3}")).toDF("id", "p").coalesce(1)
      .write.format("graft-ocf").partitionBy("p")
      .option("statsColumns", "id").option("blockIndex", "true")
      .option("blockBytes", "512")
      .mode("append").save(gdir.getAbsolutePath)
    val gcounts = spark.read.format("graft-ocf").load(gdir.getAbsolutePath)
      .groupBy("p").count()
    assert(gcounts.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("p0", 100L), ("p1", 100L), ("p2", 100L)))

    // decisive skip proof: trash the bodies of the FIRST half of the blocks
    // (sorted file -> small ids live there); the tail query still answers
    // exactly because those blocks are never decoded
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val entries = graft.sources.OcfPartitions.parseBlockIndex(idxJson.get)
    val headerEnd = {
      val hp = new org.apache.hadoop.fs.Path(file.getAbsolutePath)
      val in = hp.getFileSystem(spark.sessionState.newHadoopConf()).open(hp)
      try graft.sources.OcfDataSource.readHeaderAt(in, file.length())._2 finally in.close()
    }
    entries.take(entries.length / 2).foreach { e =>
      // zero the block BODY (skip the two varints, keep the trailing sync)
      val bodyStart = {
        val r = new graft.avro.AvroBinaryReader(bytes, (headerEnd + e.offset).toInt, bytes.length)
        r.readLong(); r.readLong(); r.pos
      }
      val bodyEnd = (headerEnd + e.offset + e.len).toInt - 16
      java.util.Arrays.fill(bytes, bodyStart, bodyEnd, 0x55.toByte)
    }
    java.nio.file.Files.write(file.toPath, bytes)
    assert(read(dir, 1 << 20).where(col("id") >= 3900L)
      .select("id").as[Long].collect().sorted.toSeq == (3900L until 4000L),
      "tail query must never touch the trashed early blocks")
  }

  test("partition-exact filters are consumed: no post-scan Filter, aggregates compose") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-consume")
    (0L until 300L).map(i => (i, s"p${i % 3}")).toDF("id", "p").repartition(2)
      .write.format("graft-ocf").partitionBy("p")
      .option("statsColumns", "id")
      .mode("append").save(dir.getAbsolutePath)
    def load() = spark.read.format("graft-ocf").load(dir.getAbsolutePath)

    // a pure partition predicate leaves NO post-scan Filter (consumed)
    val sel = load().where(col("p") === "p1")
    assert(sel.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, s"partition-exact filter must be consumed:\n${sel.queryExecution.optimizedPlan}")
    assert(sel.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 300L).filter(_ % 3 == 1))

    // ...which lets COUNT(*) push down THROUGH the filter: header-only
    // count of exactly the matching partition
    val cnt = load().where(col("p") =!= "p0").count()
    assert(cnt == 200L)
    val cntDf = load().where(col("p") =!= "p0").groupBy().count()
    assert(scanOf(cntDf).description().contains("PushedAggregation: [COUNT(*)]"),
      scanOf(cntDf).description())

    // grouped + filtered: per-partition partials of the selected partitions
    val grouped = load().where(col("p").isin("p1", "p2")).groupBy("p").count()
    assert(scanOf(grouped).description().contains("PushedGroupBy: [p]"))
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("p1", 100L), ("p2", 100L)))

    // min/max + filter: bounds come only from the matching partition's files
    val mm = load().where(col("p") === "p2").agg(min("id"), max("id"))
    assert(scanOf(mm).description().contains("PushedAggregation: [MIN(id), MAX(id)]"),
      scanOf(mm).description())
    assert((mm.head.getLong(0), mm.head.getLong(1)) == (2L, 299L))

    // string-range partition predicate is consumed too (UTF-8 order = Spark's)
    val rng = load().where(col("p") > "p0")
    assert(rng.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty)
    assert(rng.count() == 200L)

    // a MIXED predicate keeps the data half residual and stays exact
    val mixed = load().where(col("p") === "p1" && col("id") < 100L)
    assert(mixed.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty, "the data predicate must remain residual")
    assert(mixed.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 100L).filter(_ % 3 == 1))
  }

  test("sortColumns: the sink's requested sort makes block indexes effective on unsorted input") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-sortcols")
    // DELIBERATELY shuffled input: without the sink-side sort every block's
    // [min,max] would span the whole domain and nothing could prune
    val shuffled = new scala.util.Random(7).shuffle((0L until 4000L).toVector)
    shuffled.map(i => (i, s"name_$i")).toDF("id", "name")
      .coalesce(1)
      .write.format("graft-ocf")
      .option("statsColumns", "id").option("blockIndex", "true")
      .option("blockBytes", "2048").option("sortColumns", "id")
      .mode("append").save(dir.getAbsolutePath)
    val df = read(dir, 1 << 20).where(col("id") >= 3900L)
    val splits = scanOf(df).toBatch.planInputPartitions()
    val file = dir.listFiles.filter(f => f.isFile && f.getName.endsWith(".avro")).head
    val covered = splits.collect {
      case s: graft.sources.OcfInputPartition => assert(s.aligned); s.end - s.start
    }.sum
    assert(covered < file.length() / 4,
      s"sink-sorted blocks must prune the tail query: covered $covered of ${file.length()}")
    assert(df.select("id").as[Long].collect().sorted.toSeq == (3900L until 4000L))

    // unknown / partition sort columns fail the plan
    intercept[Exception] {
      Seq((1L, "a")).toDF("id", "p").write.format("graft-ocf")
        .option("sortColumns", "nope").mode("append")
        .save(tempDir("graft-dsv2-sortbad").getAbsolutePath)
    }
    intercept[Exception] {
      Seq((1L, "a")).toDF("id", "p").write.format("graft-ocf")
        .partitionBy("p").option("sortColumns", "p").mode("append")
        .save(tempDir("graft-dsv2-sortbad2").getAbsolutePath)
    }
  }

  test("grouped aggregate pushdown: GROUP BY partition column answered without data reads") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft-dsv2-groupagg")
    (0L until 600L).map(i => (i, s"p${i % 3}")).toDF("id", "p").repartition(4)
      .write.format("graft-ocf").partitionBy("p").option("statsColumns", "id")
      .mode("append").save(dir.getAbsolutePath)
    // trash every block BODY (framing intact): any surviving answer proves
    // counts came from block headers and min/max from header stamps
    val conf = spark.sessionState.newHadoopConf()
    def allFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) allFiles(f)
        else if (f.isFile && f.getName.endsWith(".avro")) Seq(f) else Nil)
    allFiles(dir).foreach { file =>
      val hp = new Path(file.getAbsolutePath)
      val in = hp.getFileSystem(conf).open(hp)
      val (_, headerEnd) =
        try graft.sources.OcfDataSource.readHeaderAt(in, file.length()) finally in.close()
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val hr = new graft.avro.AvroBinaryReader(bytes, headerEnd.toInt, bytes.length)
      hr.readLong()
      val size = hr.readLong()
      java.util.Arrays.fill(bytes, hr.pos, hr.pos + size.toInt, 0x55.toByte)
      java.nio.file.Files.write(file.toPath, bytes)
    }
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)

    // grouped COUNT(*): block-header walk per file, group values from paths
    val counts = df.groupBy("p").count()
    val cDesc = scanOf(counts).description()
    assert(cDesc.contains("PushedAggregation: [COUNT(*)]") &&
      cDesc.contains("PushedGroupBy: [p]"), cDesc)
    assert(counts.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("p0", 200L), ("p1", 200L), ("p2", 200L)))

    // grouped MIN/MAX (no count): answered entirely from plan-time header
    // stamps — the single constants task, zero file I/O
    val mm = df.groupBy("p").agg(min("id").as("mn"), max("id").as("mx"))
    assert(scanOf(mm).description().contains("PushedAggregation: [MIN(id), MAX(id)]"),
      scanOf(mm).description())
    assert(mm.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      Seq(("p0", 0L, 597L), ("p1", 1L, 598L), ("p2", 2L, 599L)))

    // mixed count + min/max in one grouped aggregation
    val mixed = df.groupBy("p").agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(mixed.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      Seq(("p0", 200L, 597L), ("p1", 200L, 598L), ("p2", 200L, 599L)))

    // grouping on a DATA column must not push (normal scan path)
    val dir2 = tempDir("graft-dsv2-groupagg-data")
    (0L until 60L).map(i => (i, s"g${i % 2}", s"p${i % 3}")).toDF("id", "g", "p")
      .coalesce(1).write.format("graft-ocf").partitionBy("p")
      .mode("append").save(dir2.getAbsolutePath)
    val byData = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
      .groupBy("g").count()
    assert(!scanOf(byData).description().contains("PushedAggregation"),
      scanOf(byData).description())
    assert(byData.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("g0", 30L), ("g1", 30L)))
  }

  test("partition pruning: unselected partitions' headers are never read") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-prune")
    (0L until 90L).map(i => (i, s"p${i % 3}")).toDF("id", "p").coalesce(1)
      .write.format("graft-ocf").partitionBy("p").mode("append")
      .save(dir.getAbsolutePath)
    // 3 partition dirs, one file each
    assert(partitionDirs(dir).size == 3)

    val before = graft.sources.OcfDataSource.headerReads.get()
    val got = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .where(col("p") === "p1").select("id").as[Long].collect().sorted
    assert(got.toSeq == (0L until 90L).filter(_ % 3 == 1))
    val reads = graft.sources.OcfDataSource.headerReads.get() - before
    // resolve reads ONE header for the schema; the two pruned files' headers
    // are never fetched (1 for schema + ≤1 for the surviving file's plan)
    assert(reads <= 2, s"partition pruning must skip pruned files' headers; got $reads reads")
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.size == 1 && planned.head.contains("p=p1"),
      s"only the selected partition may be planned; got $planned")
  }

  test("stats skipping: files outside the predicate range never plan splits") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-skip")
    // 4 files with disjoint id ranges via range partitioning + statsColumns
    (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.format("graft-ocf").option("statsColumns", "id")
      .mode("append").save(dir.getAbsolutePath)
    val files = dir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(files.length == 4, s"expected 4 range files, got ${files.length}")

    val got = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .where(col("id") >= 350L).select("id").as[Long].collect().sorted
    assert(got.toSeq == (350L until 400L))
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.size == 1,
      s"min/max stats must exclude 3 of 4 files from the plan; planned $planned")

    // an unstamped directory never skips (stats are opt-in, absence = keep)
    val dir2 = tempDir("graft-dsv2-noskip")
    (0L until 40L).map(i => (i, "x")).toDF("id", "v").coalesce(1)
      .write.format("graft-ocf").mode("append").save(dir2.getAbsolutePath)
    assert(spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
      .where(col("id") < 0).count() == 0)
  }

  test("timestamp/date stats: range skipping and MIN/MAX pushdown on time columns") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-tskip")
    // 4 files with disjoint timestamp ranges; ts = epoch seconds 0..399
    (0L until 400L).map(i => (i, new java.sql.Timestamp(i * 1000L),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i))))
      .toDF("id", "ts", "d")
      .repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts")
      .write.format("graft-ocf").option("statsColumns", "ts,d")
      .option("sortColumns", "ts")
      .mode("append").save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)

    // range predicate on the timestamp keeps ONE of four files
    val cut = new java.sql.Timestamp(350L * 1000L)
    val got = df.where(col("ts") >= cut).select("id").as[Long].collect().sorted
    assert(got.toSeq == (350L until 400L))
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.size == 1,
      s"timestamp stats must exclude 3 of 4 files; planned $planned")

    // date predicate skips too
    val dcut = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(350L))
    assert(df.where(col("d") >= dcut).count() == 50L)
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size == 1,
      "date stats must exclude 3 of 4 files")

    // MIN/MAX over the timestamp answered header-only
    val mm = df.agg(min("ts"), max("ts"))
    assert(scanOf(mm).description().contains("PushedAggregation: [MIN(ts), MAX(ts)]"),
      scanOf(mm).description())
    val r = mm.head
    assert(r.getTimestamp(0) == new java.sql.Timestamp(0L) &&
      r.getTimestamp(1) == new java.sql.Timestamp(399L * 1000L))

    // SUM over a timestamp is never stamped, so a sum pushdown cannot
    // engage even if a plan ever asked for one: the stamp simply lacks it
    val stats = {
      val f = dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".avro")).head
      val conf = spark.sessionState.newHadoopConf()
      val hp = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
      val in = hp.getFileSystem(conf).open(hp)
      val (h, _) =
        try graft.sources.OcfDataSource.readHeaderAt(in, f.length()) finally in.close()
      graft.sources.OcfPartitions.parseStats(new String(h.meta("graft.stats"), "UTF-8"))
    }
    assert(stats("ts").sum.isEmpty, "no sum stamp on a timestamp column")
    assert(stats("ts").min.isDefined && stats("ts").nonNull.isDefined)

    // the sort stamp certifies the timestamp order: TopN pushes
    val top = df.orderBy("ts").limit(3)
    assert(scanOf(top).description().contains("PushedTopN: ORDER BY ts LIMIT 3"),
      scanOf(top).description())
    assert(top.select("id").as[Long].collect().toSeq == Seq(0L, 1L, 2L))
  }

  test("partition-only projection prunes the decode to a zero-field record") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-partonly")
    (0L until 50L).map(i => (i, s"text $i " * 10, s"g${i % 5}"))
      .toDF("id", "body", "grp").coalesce(1)
      .write.format("graft-ocf").partitionBy("grp").mode("append")
      .save(dir.getAbsolutePath)
    // NOTE: groupBy(grp).count() no longer exercises this path — it pushes
    // as a grouped aggregate (block-header walk, no datum iteration at
    // all). A plain partition-column projection still decodes row-by-row
    // and must prune to the zero-field record.
    val vals = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .select("grp").collect().map(_.getString(0))
    assert(vals.groupBy(identity).view.mapValues(_.length).toMap ==
      (0 until 5).map(g => s"g$g" -> 10).toMap)
    // the effective reader schema decodes NO data fields: id and body
    // wire-skip; the rows carry only the path-derived partition value
    val reader = graft.sources.OcfDataSource.lastBuiltReaderJson.get()
    assert(reader.contains("\"fields\":[]") || reader.contains("\"fields\": []"),
      s"partition-only query must prune to an empty record; got $reader")
  }

  test("double stats: NaN and -0.0 files are never skipped incorrectly") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-nan")
    // file contains small values plus NaN: a naive max would refute x > 1e9,
    // but Spark orders NaN greater than everything, so the NaN row matches
    Seq(1.0, 2.0, Double.NaN, -0.0).zipWithIndex.map(_.swap)
      .toDF("id", "x").coalesce(1)
      .write.format("graft-ocf").option("statsColumns", "x")
      .mode("append").save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(df.where(col("x") > 1e9).count() == 1, "the NaN row matches x > 1e9")
    assert(df.where(col("x") === 0.0).count() == 1, "-0.0 equals 0.0 in Spark")
    assert(df.where(col("x") < 1.5).count() == 2, "1.0 and -0.0")
  }

  test("float/double partition columns are rejected at plan time") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-fpart")
    val e = intercept[Exception] {
      Seq((1L, 0.5)).toDF("id", "score").coalesce(1)
        .write.format("graft-ocf").partitionBy("score")
        .mode("append").save(dir.getAbsolutePath)
    }
    assert(e.getMessage.contains("score") || e.getCause != null)
  }

  test("runtime filtering prunes partitions delivered by a broadcast join (DPP)") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-dpp")
    (0L until 90L).map(i => (i, s"p${i % 3}")).toDF("id", "p").coalesce(1)
      .write.format("graft-ocf").partitionBy("p").mode("append")
      .save(dir.getAbsolutePath)
    val fact = spark.read.format("graft-ocf").load(dir.getAbsolutePath)

    // direct contract: filter() drops non-matching files, keeps supersets
    val scan = scanOf(fact.select("id", "p"))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("p"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("p", Array[Any]("p2"))))
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size == 1,
      s"runtime In(p2) must keep one file; got ${graft.sources.OcfDataSource.lastPlannedFiles.get()}")

    // Spark's REAL call order: BatchScanExec forces the reader factory
    // during plan preparation (columnar-support checks), BEFORE the DPP
    // subquery delivers filter(); input partitions are planned AFTER.
    // Splits must land on the right files through that pre-built factory —
    // i.e. indices must be stable against the unfiltered file table.
    val scan2 = scanOf(fact.select("id", "p"))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    val batch = scan2.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    val preFactory = batch.createReaderFactory() // cached pre-filter, like Spark
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("p", Array[Any]("p2"))))
    val rows = batch.planInputPartitions().flatMap { part =>
      val r = preFactory.createColumnarReader(part)
      val b = Seq.newBuilder[(Long, String)]
      try while (r.next()) {
        val it = r.get().rowIterator()
        while (it.hasNext) {
          val row = it.next()
          b += ((row.getLong(0), row.getUTF8String(1).toString))
        }
      } finally r.close()
      b.result()
    }
    assert(rows.forall(_._2 == "p2"),
      s"pre-filter factory must read only p2 files; got ${rows.map(_._2).distinct.toSeq}")
    assert(rows.map(_._1).sorted.toSeq == (0L until 90L).filter(_ % 3 == 2),
      "runtime-pruned read through a pre-filter factory lost or swapped rows")

    // end-to-end: a broadcast join keyed on the partition column stays
    // correct with runtime filtering in play (DPP fires when Spark decides;
    // correctness must hold either way)
    val dim = Seq("p1").toDF("p")
    val joined = fact.join(broadcast(dim), "p").select("id").as[Long].collect().sorted
    assert(joined.toSeq == (0L until 90L).filter(_ % 3 == 1))
  }

  test("runtime filtering skips files on stats/bloom-stamped DATA columns") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-rtdata")
    // ids round-robined: every file's [min,max] spans the domain (range
    // stats useless) — only the bloom can prune a runtime key set
    (0L until 400L).map(i => (i, s"body_$i")).toDF("doc_id", "body")
      .repartition(4)
      .write.format("graft-ocf").mode("append")
      .option("bloomColumns", "doc_id")
      .save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    val scan = scanOf(df.select("doc_id", "body"))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    // the bloom-stamped data column is advertised for runtime filtering
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("doc_id"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array[Any](5L, 17L))))
    val kept = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(kept.nonEmpty && kept.size < 4,
      s"runtime In(5,17) must bloom-skip non-containing files; kept $kept")

    // stats-stamped range-clustered column: the runtime key set prunes on
    // header min/max even without a bloom
    val dir2 = tempDir("graft-dsv2-rtstats")
    (0L until 400L).map(i => (i, i % 7)).toDF("doc_id", "x")
      .repartitionByRange(4, col("doc_id"))
      .write.format("graft-ocf").mode("append")
      .option("statsColumns", "doc_id")
      .save(dir2.getAbsolutePath)
    val df2 = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
    val scan2 = scanOf(df2.select("doc_id", "x"))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(scan2.filterAttributes().map(_.describe()).toSeq == Seq("doc_id"))
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array[Any](5L, 17L))))
    val kept2 = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(kept2.size == 1,
      s"runtime In over range-clustered stats must keep 1 of 4 files; kept $kept2")

    // an unstamped layout advertises nothing beyond partition columns
    val dir3 = tempDir("graft-dsv2-rtnone")
    Seq((1L, "a")).toDF("doc_id", "body").coalesce(1)
      .write.format("graft-ocf").mode("append").save(dir3.getAbsolutePath)
    val scan3 = scanOf(spark.read.format("graft-ocf").load(dir3.getAbsolutePath))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(scan3.filterAttributes().isEmpty)

    // end-to-end: a broadcast join keyed on the stamped data column stays
    // correct with runtime filtering in play (injection is Spark's call;
    // correctness must hold either way)
    val dim = Seq(5L, 17L).toDF("doc_id")
    val joined = df.join(broadcast(dim), "doc_id").select("body")
      .as[String].collect().sorted
    assert(joined.toSeq == Seq("body_17", "body_5"))
  }

  test("runtime filters prune blocks inside surviving files (block index)") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-rtblocks")
    // one sorted block-indexed file: a runtime key set should plan only the
    // blocks whose stamped ranges may contain the keys
    (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("graft-ocf").mode("append")
      .option("statsColumns", "id")
      .option("blockIndex", "true").option("blockBytes", "2048")
      .save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    val scan = scanOf(df.select("id", "name"))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    def extent(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Long =
      parts.map { case s: graft.sources.OcfSplit => s.end - s.start }.sum
    val before = extent(batch.planInputPartitions())
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array[Any](10L, 3990L))))
    val after = batch.planInputPartitions()
    // two needle keys in a sorted block-indexed file: the planned byte
    // extent collapses to the two containing blocks
    assert(extent(after) < before / 4,
      s"runtime In(10, 3990) must drop refuted blocks: $before -> ${extent(after)} bytes")
    // and the runtime-pruned splits still read exactly the matching rows
    val factory = batch.createReaderFactory()
    val rows = after.flatMap { part =>
      val r = factory.createColumnarReader(part)
      val b = Seq.newBuilder[Long]
      try while (r.next()) {
        val it = r.get().rowIterator()
        while (it.hasNext) b += it.next().getLong(0)
      } finally r.close()
      b.result()
    }
    assert(Seq(10L, 3990L).forall(rows.contains),
      s"block-pruned read must retain the matching rows; got ${rows.length} rows")
  }

  test("bloom skipping: point lookups plan only files that might contain the key") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-bloom")
    // 4 files with DISJOINT id ranges but overlapping min/max can't happen
    // with ranges — so shuffle ids round-robin: every file's [min,max] spans
    // the whole domain and range stats are useless, the bloom's exact case
    (0L until 4000L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartition(4)
      .write.format("graft-ocf")
      .option("statsColumns", "id").option("bloomColumns", "id,name")
      .mode("append").save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)

    // a present key: exactly the containing file(s) plan splits, result exact
    val hit = df.where(col("id") === 1234L).collect()
    assert(hit.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1234L, "name_1234")))
    val plannedHit = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(plannedHit.size < 4 && plannedHit.nonEmpty,
      s"bloom must skip files without the key (min/max can't): planned ${plannedHit.size}")

    // an absent key: no file plans (subject to fpp; deterministic data+hash)
    assert(df.where(col("id") === 999999L).collect().isEmpty)
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().isEmpty,
      "absent key must prune every file")

    // string column, IN-list: union of containing files
    assert(df.where(col("name").isin("name_7", "name_3999")).count() == 2)
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size < 4)

    // soundness: EVERY present key must be found (no false negatives), even
    // probing one by one across files
    val probes = Seq(0L, 1L, 999L, 2048L, 3999L)
    probes.foreach { k =>
      assert(df.where(col("id") === k).count() == 1, s"bloom lost key $k")
    }

    // non-equality predicates and untracked columns stay conservative
    assert(df.where(col("id") > 3990L).count() == 9)
    assert(df.where(length(col("name")) === lit(6)).count() == 10) // name_0..name_9
  }

  test("bloom skipping: all-null and overflowed columns never skip incorrectly") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-bloomnull")
    Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "name").coalesce(1)
      .write.format("graft-ocf").option("bloomColumns", "id,name")
      .mode("append").save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // all-null name: empty bloom proves no value matches -> file skipped
    assert(df.where(col("name") === "x").collect().isEmpty)
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().isEmpty)
    // IS NULL must still find the rows (bloom ignores null predicates)
    assert(df.where(col("name").isNull).count() == 2)

    // overflow: a tiny bloomMaxItems drops the stamp -> file always kept
    val dir2 = tempDir("graft-dsv2-bloomovf")
    (0L until 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
      .write.format("graft-ocf")
      .option("bloomColumns", "id").option("bloomMaxItems", "10")
      .mode("append").save(dir2.getAbsolutePath)
    val df2 = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
    assert(df2.where(col("id") === 999999L).collect().isEmpty)
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size == 1,
      "overflowed bloom must keep the file (conservative)")
  }

  test("reportPartitioning: group-by and same-layout join plan without an Exchange") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val dirA = tempDir("graft-dsv2-spj-a")
      val dirB = tempDir("graft-dsv2-spj-b")
      (0L until 120L).map(i => (i, s"p${i % 3}")).toDF("id", "p").repartition(4)
        .write.format("graft-ocf").partitionBy("p").mode("append")
        .save(dirA.getAbsolutePath)
      (0L until 60L).map(i => (i * 10, s"p${i % 3}")).toDF("id2", "p").repartition(2)
        .write.format("graft-ocf").partitionBy("p").mode("append")
        .save(dirB.getAbsolutePath)

      def reported(dir: java.io.File) = spark.read.format("graft-ocf")
        .option("reportPartitioning", "true").load(dir.getAbsolutePath)

      // group-by on the partition column: no shuffle, exact result. SUM is
      // used (not COUNT) because grouped COUNT/MIN/MAX now push down as
      // header-only aggregates — a different (cheaper) path than the
      // storage-partitioned data aggregation proven here.
      val expA = (0L until 120L).groupBy(i => s"p${i % 3}").view.mapValues(_.sum).toMap
      val expB = (0L until 60L).map(_ * 10).groupBy(i => s"p${(i / 10) % 3}").view
        .mapValues(_.sum).toMap
      val agg = reported(dirA).groupBy("p").agg(sum("id").as("s"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        s"key-grouped scan must satisfy the group-by without an Exchange:\n${agg.queryExecution.executedPlan}")
      assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expA)

      // same-layout aggregate join: storage-partitioned, no shuffle
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      try {
        val j = reported(dirA).groupBy("p").agg(sum("id").as("s"))
          .join(reported(dirB).groupBy("p").agg(sum("id2").as("s2")), "p")
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
          s"same-layout join must be storage-partitioned:\n${j.queryExecution.executedPlan}")
        assert(j.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
          expA.keys.toSeq.sorted.map(p => (p, expA(p), expB(p))))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)

      // WITHOUT the option the scan stays split-parallel and shuffles as before
      val plain = spark.read.format("graft-ocf").load(dirA.getAbsolutePath)
        .groupBy("p").agg(sum("id").as("s"))
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"),
        "reportPartitioning must stay opt-in")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("two-level partitioning: inference order, pruning on either level") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-part2")
    (0L until 120L).map(i => (i, s"y${i % 2}", s"m${i % 3}"))
      .toDF("id", "year", "month").coalesce(1)
      .write.format("graft-ocf").partitionBy("year", "month").mode("append")
      .save(dir.getAbsolutePath)
    // layout: year=*/month=*/file — 2 x 3 = 6 leaf dirs
    val leaves = dir.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.isDirectory).map(_.getName).distinct.sorted
    assert(leaves.toSeq == Seq("month=m0", "month=m1", "month=m2"))
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "year", "month"))
    // prune on the SECOND level alone: 2 of 6 leaf files planned
    val got = df.where(col("month") === "m1").select("id").as[Long].collect().sorted
    assert(got.toSeq == (0L until 120L).filter(_ % 3 == 1))
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size == 2,
      s"month=m1 lives in 2 of 6 leaves; planned ${graft.sources.OcfDataSource.lastPlannedFiles.get()}")
    // conjunction across levels: 1 of 6
    val both = df.where(col("year") === "y0" && col("month") === "m2")
      .select("id").as[Long].collect().sorted
    assert(both.toSeq == (0L until 120L).filter(i => i % 2 == 0 && i % 3 == 2))
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().size == 1)
  }

  test("partitioned dir round-trips through SQL with pruning in the plan description") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-partsql")
    (0L until 60L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par").coalesce(1)
      .write.format("graft-ocf").partitionBy("par").mode("append")
      .save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // partition column participates in grouping like any column
    val counts = df.groupBy("par").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("even" -> 30L, "odd" -> 30L))
    // and filters on it still return correct rows when combined with data filters
    val both = df.where(col("par") === "odd" && col("id") < 10)
      .select("id").as[Long].collect().sorted
    assert(both.toSeq == Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("AVG pushdown: Spark decomposes to header-only SUM+COUNT; unstamped refuses") {
    val dir = tempDir("graft-dsv2-avg")
    spark.range(1000).select(col("id"), (col("id") % 7).as("x"))
      .coalesce(2).write.format("graft-ocf")
      .option("statsColumns", "x").mode("append").save(dir.getAbsolutePath)
    val a = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .agg(avg(col("x")).as("a"))
    val desc = scanOf(a).description()
    assert(desc.contains("SUM(x)") && desc.contains("COUNT(x)"),
      s"AVG must ride the SUM+COUNT stamps: $desc")
    assert(a.collect().head.getDouble(0) ==
      (0L until 1000L).map(_ % 7).sum.toDouble / 1000.0)

    // grouped AVG over a partitioned stamped layout: per-partition header
    // constants, no data read
    val dir2 = tempDir("graft-dsv2-avg2")
    spark.range(300).select(col("id"),
        expr("concat('p', id % 3)").as("p"), (col("id") % 11).as("x"))
      .repartition(2).write.format("graft-ocf").partitionBy("p")
      .option("statsColumns", "x").mode("append").save(dir2.getAbsolutePath)
    val g = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
      .groupBy("p").agg(avg(col("x")).as("a"))
    assert(scanOf(g).description().contains("PushedGroupBy: [p]"),
      scanOf(g).description())
    val exp = (0L until 300L).groupBy(i => s"p${i % 3}").view
      .mapValues(s => s.map(_ % 11).sum.toDouble / s.size).toMap
    assert(g.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == exp)

    // no stamps: the push is refused and the plain scan still answers right
    val dir3 = tempDir("graft-dsv2-avg3")
    spark.range(100).select(col("id"), (col("id") % 5).as("x"))
      .coalesce(1).write.format("graft-ocf").mode("append")
      .save(dir3.getAbsolutePath)
    val u = spark.read.format("graft-ocf").load(dir3.getAbsolutePath)
      .agg(avg(col("x")).as("a"))
    assert(!scanOf(u).description().contains("PushedAggregation"),
      scanOf(u).description())
    assert(u.collect().head.getDouble(0) ==
      (0 until 100).map(_ % 5).sum.toDouble / 100.0)
  }

  test("nested-field stats: statsColumns=a.b skips files and answers nested MIN/MAX") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-neststats")
    spark.range(400).select(col("id"),
        struct(col("id").as("score"), concat(lit("s"), col("id")).as("tag")).as("info"))
      .repartitionByRange(4, col("id"))
      .write.format("graft-ocf").mode("append")
      .option("statsColumns", "info.score")
      .save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // a nested range predicate skips non-matching files header-only
    val sel = df.where(col("info.score") >= 300L).select("id")
    assert(sel.as[Long].collect().sorted.toSeq == (300L until 400L))
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.size == 1,
      s"info.score >= 300 must keep 1 of 4 range-clustered files; planned $planned")
    // nested MIN/MAX answer from the dotted-path header stamps
    val agg = df.agg(min(col("info.score")).as("mn"), max(col("info.score")).as("mx"))
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 399L)))
    assert(scanOf(agg).description().contains("MIN(info.score)"),
      s"nested MIN must push down: ${scanOf(agg).description()}")

    // a null PARENT struct is a null leaf: COUNT(info.score) stays exact
    val dir2 = tempDir("graft-dsv2-nestnull")
    spark.range(10).select(col("id"),
        when(col("id") % 2 === 0, struct(col("id").as("score"))).as("info"))
      .coalesce(1)
      .write.format("graft-ocf").mode("append")
      .option("statsColumns", "info.score")
      .save(dir2.getAbsolutePath)
    val df2 = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
    val cnt = df2.agg(count(col("info.score")).as("c"))
    assert(cnt.collect().head.getLong(0) == 5L)
    assert(scanOf(cnt).description().contains("COUNT(info.score)"),
      s"nested COUNT must push down: ${scanOf(cnt).description()}")

    // a stats path into a non-struct or missing field fails the WRITE plan
    val e = intercept[Exception] {
      spark.range(3).select(col("id"))
        .write.format("graft-ocf").option("statsColumns", "id.sub")
        .mode("append").save(tempDir("graft-dsv2-nestbad").getAbsolutePath)
    }
    assert(e.getMessage.contains("statsColumns"), e.getMessage)
  }

  test("nested-field blooms: bloomColumns=a.b skips files on nested point lookups") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-nestbloom")
    // ids round-robined so every file's range spans the domain — only the
    // nested bloom can prune the equality probe
    spark.range(4000).select(col("id"),
        struct(col("id").as("key"), concat(lit("n"), col("id")).as("nm")).as("info"))
      .repartition(4)
      .write.format("graft-ocf").mode("append")
      .option("bloomColumns", "info.key")
      .save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // present key: found, and fewer than all files planned
    val hit = df.where(col("info.key") === 1234L).select("id").as[Long].collect()
    assert(hit.toSeq == Seq(1234L))
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.nonEmpty && planned.size < 4,
      s"nested bloom must skip non-containing files; planned ${planned.size}")
    // absent key: every file refuted
    assert(df.where(col("info.key") === 999999L).collect().isEmpty)
    assert(graft.sources.OcfDataSource.lastPlannedFiles.get().isEmpty,
      "absent nested key must prune every file")
    // soundness across several present keys
    Seq(0L, 1L, 1999L, 3999L).foreach { k =>
      assert(df.where(col("info.key") === k).count() == 1L, s"bloom lost nested key $k")
    }
  }

  test("typed partition columns: int inference, numeric pruning, schema round-trip") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-typedpart")
    // year values 9/10/11: lexical string order would decide 10 < 9
    (0L until 90L).map(i => (i, 9 + (i % 3).toInt)).toDF("id", "year")
      .repartition(2)
      .write.format("graft-ocf").partitionBy("year").mode("append")
      .save(dir.getAbsolutePath)
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    // round-trip: the read schema carries the written INT type
    assert(df.schema("year").dataType == org.apache.spark.sql.types.IntegerType,
      df.schema.treeString)
    // the "10" < "9" trap: a CONSUMED range filter must decide numerically
    val sel = df.where(col("year") > 9)
    assert(sel.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, s"typed partition range filter must be consumed:\n${sel.queryExecution.optimizedPlan}")
    assert(sel.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 90L).filter(i => 9 + (i % 3) > 9))
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.forall(p => p.contains("year=10") || p.contains("year=11")),
      s"year > 9 must prune year=9 files; planned $planned")
    // equality + grouped aggregate pushdown emit typed values
    assert(df.where(col("year") === 10).count() == 30L)
    val grouped = df.groupBy("year").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(grouped == Map(9 -> 30L, 10 -> 30L, 11 -> 30L))
    // runtime (DPP-style) filtering with a typed key set
    val scan = scanOf(df.select("id", "year"))
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("year", Array[Any](11))))
    val kept = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(kept.nonEmpty && kept.forall(_.contains("year=11")),
      s"runtime In(11) must keep only year=11 files; got $kept")

    // declared partitionSchema wins over inference; inferPartitionTypes=false
    // reverts to strings (the pre-typed behavior)
    val declared = spark.read.format("graft-ocf")
      .option("partitionSchema", "year LONG").load(dir.getAbsolutePath)
    assert(declared.schema("year").dataType == org.apache.spark.sql.types.LongType)
    assert(declared.where(col("year") > 9L).select("id").as[Long].collect().sorted.toSeq ==
      (0L until 90L).filter(i => 9 + (i % 3) > 9))
    val strings = spark.read.format("graft-ocf")
      .option("inferPartitionTypes", "false").load(dir.getAbsolutePath)
    assert(strings.schema("year").dataType == org.apache.spark.sql.types.StringType)
    assert(strings.where(col("year") === "10").count() == 30L)
    // a declared type the directory values don't parse as fails the PLAN
    val bad = intercept[Exception] {
      spark.read.format("graft-ocf")
        .option("partitionSchema", "year DATE").load(dir.getAbsolutePath).count()
    }
    assert(bad.getMessage.contains("does not parse"), bad.getMessage)
  }

  test("typed partition columns: date round-trip and non-canonical values stay strings") {
    import spark.implicits._
    val dir = tempDir("graft-dsv2-datepart")
    val days = Seq("2024-01-30", "2024-01-31", "2024-02-01").map(java.sql.Date.valueOf)
    days.zipWithIndex.flatMap { case (d, k) => (0 until 10).map(i => (k * 10L + i, d)) }
      .toDF("id", "day").coalesce(1)
      .write.format("graft-ocf").partitionBy("day").mode("append")
      .save(dir.getAbsolutePath)
    // directories are ISO-rendered, not internal day counts
    assert(partitionDirs(dir) == Seq("day=2024-01-30", "day=2024-01-31", "day=2024-02-01"))
    val df = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
    assert(df.schema("day").dataType == org.apache.spark.sql.types.DateType)
    // consumed date range predicate prunes to the matching directories
    val sel = df.where(col("day") >= lit("2024-01-31").cast("date"))
    assert(sel.select("id").as[Long].collect().sorted.toSeq == (10L until 30L))
    val planned = graft.sources.OcfDataSource.lastPlannedFiles.get()
    assert(planned.forall(p => !p.contains("2024-01-30")),
      s"day >= 2024-01-31 must prune the 01-30 directory; planned $planned")
    assert(df.groupBy("day").count().collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap ==
      days.map(d => d.toString -> 10L).toMap)

    // non-canonical numerics stay strings: "007" parses as 7 but would
    // render back "7", so inference must refuse int-ness for the column
    val dir2 = tempDir("graft-dsv2-noncanon")
    Seq((1L, "007"), (2L, "008")).toDF("id", "code").coalesce(1)
      .write.format("graft-ocf").partitionBy("code").mode("append")
      .save(dir2.getAbsolutePath)
    val df2 = spark.read.format("graft-ocf").load(dir2.getAbsolutePath)
    assert(df2.schema("code").dataType == org.apache.spark.sql.types.StringType)
    assert(df2.where(col("code") === "007").count() == 1L)
  }
}
