package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** S6: streaming decode-on-ingest — the reference's "Code example TBD" slot
  * (reference: README.md:54-58) filled with Structured Streaming. */
class StreamingIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-streaming-spec")
    .getOrCreate()

  /** Did the query's last micro-batch decode its graft-ocf splits into
    * column batches? */
  private def columnarScan(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => s.supportsColumnar
      }.contains(true)

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("OCF files stream through decode and land as parquet (golden fixture)") {
    val in = Files.createTempDirectory("graft-stream-in")
    val out = Files.createTempDirectory("graft-stream-out")
    val ckpt = Files.createTempDirectory("graft-stream-ckpt")
    Files.write(in.resolve("payload-000.ocf"), unhex(SparkEntry.goldenOcfHex))

    val decoded = StreamingIngest.ocfFileStream(
      spark, in.toString, SparkEntry.userSchemaJson)
    assert(decoded.isStreaming)
    val q = StreamingIngest.landToParquet(decoded, out.toString, ckpt.toString)
    q.awaitTermination(60000)

    val landed = spark.read.parquet(out.toString).orderBy("name").collect()
    assert(landed.length == 2)
    assert(landed(0).getAs[String]("name") == "Alyssa")
    assert(landed(0).getAs[Int]("favorite_number") == 256)
    assert(landed(0).getAs[String]("favorite_color") == null)
    assert(landed(1).getAs[String]("name") == "Ben")
    assert(landed(1).getAs[String]("favorite_color") == "red")

    // a second identical run is a no-op: the checkpoint remembers the file
    // (exactly-once ingest, not at-least-once)
    val q2 = StreamingIngest.landToParquet(
      StreamingIngest.ocfFileStream(spark, in.toString, SparkEntry.userSchemaJson),
      out.toString, ckpt.toString)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out.toString).count() == 2)
  }

  test("graft-ocf split stream: exactly-once across micro-batches and restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ocfstream-in")
    val ckpt = Files.createTempDirectory("graft-ocfstream-ckpt")
    val schemaJson =
      """{"type":"record","name":"KV","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin
    def land(range: Range, tag: String): Unit = {
      val df = range.map(i => (i.toLong, s"$tag$i")).toDF("k", "v").coalesce(1)
      val payloads = graft.spark.OcfSink.payloads(
        df, schemaJson, "deflate", datumsPerPayload = range.size)
      graft.spark.OcfFiles.writePayloadFiles(payloads, in.toString, prefix = tag)
    }
    land(0 until 500, "a")

    val decoded = StreamingIngest.ocfSplitFileStream(
      spark, in.toString, splitSize = Some(4096))
    assert(decoded.isStreaming)
    val q = decoded.writeStream.format("memory").queryName("ocf_split_stream")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ocf_split_stream").count() == 500)
      // micro-batch 2: a newly landed file decodes exactly once, the old
      // file is not re-read
      land(500 until 800, "b")
      q.processAllAvailable()
      val ks = spark.table("ocf_split_stream").select("k").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until 800L), s"every row exactly once; got ${ks.size} rows")
    } finally q.stop()

    // restart from the same checkpoint (parquet sink — memory sinks refuse
    // recovery): only files landed after the committed offset decode, via
    // the persisted discovery log
    val out = Files.createTempDirectory("graft-ocfstream-out")
    val ckptP = Files.createTempDirectory("graft-ocfstream-ckpt-p")
    val p1 = StreamingIngest.landToParquet(
      StreamingIngest.ocfSplitFileStream(spark, in.toString, splitSize = Some(4096)),
      out.toString, ckptP.toString)
    p1.awaitTermination(60000)
    assert(spark.read.parquet(out.toString).count() == 800)
    land(800 until 900, "c")
    val p2 = StreamingIngest.landToParquet(
      StreamingIngest.ocfSplitFileStream(spark, in.toString, splitSize = Some(4096)),
      out.toString, ckptP.toString)
    p2.awaitTermination(60000)
    val ks2 = spark.read.parquet(out.toString).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ks2 == (0L until 900L),
      "restart must decode exactly the files landed after the checkpointed offset")
  }

  test("graft-ocf streams plan a columnar MicroBatchScanExec: the split-file " +
      "stream and readStream.table over a managed table") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ocfstream-col-in")
    (0L until 300L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
      .write.format("graft-ocf").mode("append").save(in.toString)
    val split = StreamingIngest.ocfSplitFileStream(spark, in.toString, splitSize = Some(4096))
      .writeStream.format("memory").queryName("ocf_split_columnar")
      .option("checkpointLocation", Files.createTempDirectory("graft-ocfstream-col-ckpt").toString)
      .start()
    try {
      split.processAllAvailable()
      assert(columnarScan(split), split.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString)
      assert(spark.table("ocf_split_columnar").as[(Long, String)].collect().sorted.toSeq ==
        (0L until 300L).map(i => (i, s"v$i")))
    } finally split.stop()

    spark.conf.set("spark.sql.catalog.gsi", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsi.warehouse",
      Files.createTempDirectory("graft-ocfstream-col-wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsi.ns")
    spark.sql("CREATE TABLE gsi.ns.land (id BIGINT, v STRING) USING `graft-ocf`")
    (0L until 40L).map(i => (i, s"t$i")).toDF("id", "v").writeTo("gsi.ns.land").append()
    val table = spark.readStream.table("gsi.ns.land")
      .writeStream.format("memory").queryName("ocf_table_columnar")
      .option("checkpointLocation", Files.createTempDirectory("graft-ocfstream-tbl-ckpt").toString)
      .start()
    try {
      table.processAllAvailable()
      assert(columnarScan(table), "a managed-table stream must decode columnar")
      assert(spark.table("ocf_table_columnar").as[(Long, String)].collect().sorted.toSeq ==
        (0L until 40L).map(i => (i, s"t$i")))
    } finally table.stop()
  }

  test("graft-ocf split stream: admission control drains a backlog over bounded triggers") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ocfadmit-in")
    val schemaJson =
      """{"type":"record","name":"KV","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin
    // pre-seed SIX files before the stream starts — the "start a stream on
    // an existing directory" case the cap exists for
    (0 until 6).foreach { f =>
      val df = (f * 100 until (f + 1) * 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
      val payloads = graft.spark.OcfSink.payloads(df, schemaJson, "null", datumsPerPayload = 100)
      graft.spark.OcfFiles.writePayloadFiles(payloads, in.toString, prefix = f"f$f%02d")
    }

    // parquet sink so the same checkpoint can restart mid-backlog
    val out = Files.createTempDirectory("graft-ocfadmit-out")
    val ckpt = Files.createTempDirectory("graft-ocfadmit-ckpt")
    def run(): Seq[Long] = {
      val q = StreamingIngest.ocfSplitFileStream(spark, in.toString,
          maxFilesPerTrigger = Some(2))
        .writeStream.format("parquet")
        .option("path", out.toString).option("checkpointLocation", ckpt.toString)
        .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(batches.forall(_.numInputRows <= 200),
        s"each micro-batch admits at most 2 files (200 rows); got ${batches.map(_.numInputRows).toList}")
      batches.map(_.numInputRows)
    }
    val b1 = run()
    assert(b1.length == 3, s"6 files / cap 2 = 3 non-empty batches; got $b1")
    val ks = spark.read.parquet(out.toString).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ks == (0L until 600L), "backlog drains exactly-once across bounded batches")

    // land 3 more files; a RESTART from the same checkpoint picks up only
    // the new backlog, still under the cap (2 batches: 2 files + 1 file)
    (6 until 9).foreach { f =>
      val df = (f * 100 until (f + 1) * 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
      val payloads = graft.spark.OcfSink.payloads(df, schemaJson, "null", datumsPerPayload = 100)
      graft.spark.OcfFiles.writePayloadFiles(payloads, in.toString, prefix = f"f$f%02d")
    }
    val b2 = run()
    assert(b2.length == 2, s"3 new files / cap 2 = 2 non-empty batches; got $b2")
    val ks2 = spark.read.parquet(out.toString).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ks2 == (0L until 900L),
      "restart admits only files landed after the checkpointed offset, exactly once")
  }

  test("graft-ocf split stream: maxBytesPerTrigger admits at least one file per batch") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ocfbytes-in")
    val schemaJson =
      """{"type":"record","name":"KV","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin
    (0 until 3).foreach { f =>
      val df = (f * 50 until (f + 1) * 50).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
      val payloads = graft.spark.OcfSink.payloads(df, schemaJson, "null", datumsPerPayload = 50)
      graft.spark.OcfFiles.writePayloadFiles(payloads, in.toString, prefix = f"f$f%02d")
    }
    val ckpt = Files.createTempDirectory("graft-ocfbytes-ckpt")
    // 1-byte cap: smaller than any file, so progress REQUIRES the
    // at-least-one-file rule — one file per batch, 3 batches
    val q = StreamingIngest.ocfSplitFileStream(spark, in.toString,
        maxBytesPerTrigger = Some(1L))
      .writeStream.format("memory").queryName("ocf_bytes_admit")
      .option("checkpointLocation", ckpt.toString).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000)
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"sub-file byte cap must admit exactly one file per batch; got ${batches.map(_.numInputRows).toList}")
      val ks = spark.table("ocf_bytes_admit").select("k").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until 150L))
    } finally q.stop()
  }

  test("graft-ocf split stream over a partitioned directory carries partition columns") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ocfpartstream-in")
    val ckpt = Files.createTempDirectory("graft-ocfpartstream-ckpt")
    // pre-seed a hive-partitioned layout through the V2 sink
    (0L until 60L).map(i => (i, s"p${i % 2}")).toDF("id", "par").coalesce(1)
      .write.format("graft-ocf").partitionBy("par").mode("append")
      .save(in.toString)
    val df = spark.readStream.format("graft-ocf").load(in.toString)
    assert(df.schema.fieldNames.toSeq == Seq("id", "par"),
      s"partition column must ride the streaming schema; got ${df.schema.fieldNames.toSeq}")
    val q = df.writeStream.format("memory").queryName("ocf_part_stream")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(columnarScan(q), "the partitioned stream must decode columnar")
      val got = spark.table("ocf_part_stream").select("id", "par")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(got.toSeq == (0L until 60L).map(i => (i, s"p${i % 2}")))
      // a NEW partitioned landing decodes exactly once with its path value
      (100L until 110L).map(i => (i, "p9")).toDF("id", "par").coalesce(1)
        .write.format("graft-ocf").partitionBy("par").mode("append")
        .save(in.toString)
      q.processAllAvailable()
      val got2 = spark.table("ocf_part_stream").where(col("par") === "p9")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got2.toSeq == (100L until 110L))
    } finally q.stop()
  }

  test("graft-ocf split stream: projected readerSchema narrows the decode") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-ocfprune-in")
    val ckpt = Files.createTempDirectory("graft-ocfprune-ckpt")
    val schemaJson =
      """{"type":"record","name":"KV","fields":[
        |{"name":"k","type":"long"},{"name":"v","type":"string"}]}""".stripMargin
    val payloads = graft.spark.OcfSink.payloads(
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      schemaJson, "null", datumsPerPayload = 100)
    graft.spark.OcfFiles.writePayloadFiles(payloads, in.toString)

    val kOnly = """{"type":"record","name":"KV","fields":[{"name":"k","type":"long"}]}"""
    val df = StreamingIngest.ocfSplitFileStream(spark, in.toString,
      readerSchemaJson = Some(kOnly))
    assert(df.schema.fieldNames.toSeq == Seq("k"),
      "projected reader schema must narrow the streaming decode")
    val q = df.writeStream.format("memory").queryName("ocf_pruned_stream")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      q.processAllAvailable()
      val ks = spark.table("ocf_pruned_stream").select("k").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until 100L))
    } finally q.stop()
  }

  test("Spring/KPL framed stream decodes with headers preserved") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schemaJson =
      """{"type":"record","name":"KV","fields":[{"name":"k","type":"string"}]}"""
    val schema = graft.avro.AvroSchemaParser.parse(schemaJson)
      .asInstanceOf[graft.avro.ARecord]
    val writer = new graft.avro.AvroDatumWriter(schema)
    def kpl(values: String*): Array[Byte] =
      graft.framing.KplDeaggregator.encode(graft.framing.KplDeaggregator.Aggregated(
        Seq("pk"), Nil, values.map { v =>
          val body = writer.toBytes(graft.avro.AvroRecord(schema, Array[Any](v)))
          graft.framing.KplDeaggregator.KplRecord(0, None,
            graft.framing.SpringHeaders.frame(
              Seq("contentType" -> "application/vnd.kv.v1+avro"), body))
        }))
    val stream = MemoryStream[Array[Byte]]
    stream.addData(kpl("a", "b"), kpl("c"))
    val decoded = StreamingIngest.decodeSpringKpl(
      stream.toDF().withColumnRenamed("value", "payload"), "payload", schemaJson)
    val q = decoded.writeStream.format("memory").queryName("spring_rows")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT headers['contentType'] AS ct, record.k AS k FROM spring_rows ORDER BY k").collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
      assert(rows.forall(_.getString(0) == "application/vnd.kv.v1+avro"))
    } finally q.stop()
  }

  test("sessionization closes sessions on gap splits and watermark timeouts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000L * 1000L // epoch millis
    def ts(offsetSec: Long) = new java.sql.Timestamp(base + offsetSec * 1000L)

    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = StreamingIngest.sessionize(
      stream.toDF().toDF("k", "ts"), "k", "ts",
      gapMs = 120000L, watermarkDelay = "60 seconds")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1: one k1 session (2 events), one k2 singleton
      stream.addData(("k1", ts(0)), ("k1", ts(10)), ("k2", ts(0)))
      q.processAllAvailable()
      // batch 2: k1 jumps past the 120 s gap → session [0,10] closes inline
      stream.addData(("k1", ts(600)))
      q.processAllAvailable()
      // batches 3-4: k2 far ahead advances the watermark past k1's horizon,
      // so the [600,600] session times out without any further k1 event
      stream.addData(("k2", ts(1200)))
      q.processAllAvailable()
      stream.addData(("k2", ts(2400)))
      q.processAllAvailable()

      val rows = spark.sql(
        "SELECT key, n_events, CAST(start_ts AS LONG) AS s, CAST(end_ts AS LONG) AS e " +
          "FROM sessions ORDER BY key, s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2) - base / 1000L,
          r.getLong(3) - base / 1000L))
      val k1 = rows.filter(_._1 == "k1").toSeq
      assert(k1 == Seq(("k1", 2L, 0L, 10L), ("k1", 1L, 600L, 600L)),
        s"got $k1 (all rows: ${rows.toSeq})")
      // k2's first singleton must have closed by timeout as well
      assert(rows.contains(("k2", 1L, 0L, 0L)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup drops same-digest rows within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000L * 1000L
    def ts(offsetSec: Long) = new java.sql.Timestamp(base + offsetSec * 1000L)

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = StreamingIngest.dedupStream(
      stream.toDF().toDF("id", "text", "ts"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: two distinct texts, one in-batch duplicate
      stream.addData((1L, "alpha beta", ts(0)), (2L, "gamma", ts(5)),
        (3L, "alpha beta", ts(10)))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate inside the horizon + one new text
      stream.addData((4L, "gamma", ts(60)), (5L, "delta", ts(70)))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM dedup_stream").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(texts == Seq("alpha beta", "delta", "gamma"),
        s"exactly one row per distinct text within the horizon; got $texts")
      // the emitted row for a duplicated text is the FIRST seen
      val alpha = spark.sql("SELECT id FROM dedup_stream WHERE text = 'alpha beta'")
        .collect().map(_.getLong(0)).toSeq
      assert(alpha == Seq(1L), s"got $alpha")
    } finally q.stop()
  }

  test("streaming near-dup flags banded MinHash collisions across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val aNear = a.replace("lazy", "sleepy") // one-word edit: near-duplicate
    val c = "completely different content about distributed query engines and avro"

    val stream = MemoryStream[(Long, String)]
    val verdicts = StreamingIngest.dedupNearStream(
      stream.toDF().toDF("id", "text"), "id", "text",
      numHashes = 64, numBands = 16, shingleSize = 3)
    val q = verdicts.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      stream.addData((1L, a), (2L, c))
      q.processAllAvailable()
      // batch 2: a near-duplicate of doc 1, an exact duplicate of doc 2,
      // and a fresh document
      stream.addData((3L, aNear), (4L, c), (5L, "novel text never seen before today"))
      q.processAllAvailable()
      val out = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(out.size == 5, s"one verdict per doc; got $out")
      assert(!out(1L) && !out(2L), s"first arrivals are not duplicates: $out")
      assert(out(3L), s"near-duplicate of doc 1 must flag: $out")
      assert(out(4L), s"exact duplicate of doc 2 must flag: $out")
      assert(!out(5L), s"fresh document must not flag: $out")
    } finally q.stop()
  }

  test("bare-datum memory stream decodes with watermarked windowed counts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val schemaJson =
      """{"type":"record","name":"Evt","fields":[
        |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
        |{"name":"what","type":"string"}]}""".stripMargin

    // build three bare-datum payloads via the engine's own encoder
    val enc = new graft.avro.AvroDatumWriter(
      graft.avro.AvroSchemaParser.parse(schemaJson).asInstanceOf[graft.avro.ARecord])
    def payload(epochMicros: Long, what: String): Array[Byte] =
      enc.toBytes(graft.avro.AvroRecord(
        graft.avro.AvroSchemaParser.parse(schemaJson).asInstanceOf[graft.avro.ARecord],
        Array[Any](java.time.Instant.ofEpochSecond(epochMicros / 1000000L,
          (epochMicros % 1000000L) * 1000L), what)))

    val base = 1700000000L * 1000000L // stable epoch micros
    val stream = MemoryStream[Array[Byte]]
    stream.addData(
      payload(base, "a"),
      payload(base + 30L * 1000000L, "b"),            // same minute
      payload(base + 90L * 1000000L, "c"))            // next minute

    val decoded = StreamingIngest
      .decodeBareDatums(stream.toDF().withColumnRenamed("value", "payload"),
        "payload", schemaJson)
      .select(col("record.ts").as("ts"), col("record.what").as("what"))
    val counts = StreamingIngest.windowedCounts(decoded, "ts", "10 minutes", "1 minute")

    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win_counts ORDER BY window_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_events") == 2L)
      assert(rows(1).getAs[Long]("n_events") == 1L)
    } finally q.stop()
  }

  test("stream-stream interval join matches right events within the window only") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val impressions = MemoryStream[(String, java.sql.Timestamp)]
    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val joined = StreamingIngest.intervalJoin(
      impressions.toDF.toDF("ad", "its"),
      clicks.toDF.toDF("ad", "cts"),
      keyCol = "ad", leftTsCol = "its", rightTsCol = "cts",
      withinMs = 10000L)
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      impressions.addData(("a", ts(100)), ("b", ts(100)), ("a", ts(200)))
      // a@103: within 10s of a@100 only; b@150: outside b@100's window;
      // a@205: within a@200's window; c@100: no impression at all
      clicks.addData(("a", ts(103)), ("b", ts(150)), ("a", ts(205)), ("c", ts(100)))
      q.processAllAvailable()
      val got = spark.sql("SELECT ad, left_its, right_cts FROM ij").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000))
        .toSet
      assert(got == Set(("a", 100L, 103L), ("a", 200L, 205L)), s"got $got")
    } finally q.stop()
  }
}
