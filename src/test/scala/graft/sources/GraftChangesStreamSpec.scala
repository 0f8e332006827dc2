package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming change-data-feed (X95): the batch feed as a micro-batch
  * source whose offset is the table version — exact delete+insert rows per
  * commit, checkpoint-resumable, exact-or-refuse on rewrites. */
class GraftChangesStreamSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-cs-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-changes-stream-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gcs", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcs.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcs.ns")
    s
  }

  private def loc(t: String): String =
    new Path(warehouse.getAbsolutePath, s"ns/$t").toString

  test("the feed streams inserts, MoR deletes, and upsert generations") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gcs.ns.cdc (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gcs.ns.cdc SELECT id, concat('v', id) FROM range(20)") // v1

    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-ck").toString
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0").load(loc("cdc"))
      .writeStream.format("memory").queryName("cdc_feed")
      .option("checkpointLocation", ckpt).start()
    def feed(): Set[(Long, String, String, Long)] = {
      q.processAllAvailable()
      spark.table("cdc_feed").collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    }

    // batch 1: genesis backfill = v1's inserts
    val f1 = feed()
    assert(f1.size == 20 && f1.forall(t => t._3 == "insert" && t._4 == 1L), f1.take(5))

    // v2: MoR DELETE — the stream emits the lost rows as deletes
    spark.sql("DELETE FROM gcs.ns.cdc WHERE id IN (3, 7)")
    val f2 = feed()
    assert(f2.diff(f1) == Set((3L, "v3", "delete", 2L), (7L, "v7", "delete", 2L)),
      f2.diff(f1))

    // v3: a second MoR DELETE re-deleting a dead row plus a fresh one —
    // only the NEWLY dead ordinal is a change
    spark.sql("DELETE FROM gcs.ns.cdc WHERE id IN (3, 8)")
    val f3 = feed()
    assert(f3.diff(f2) == Set((8L, "v8", "delete", 3L)), f3.diff(f2))

    // v4: equality upsert — old generations out, new rows in
    Seq((5L, "u5"), (100L, "new100")).toDF("id", "v")
      .writeTo("gcs.ns.cdc").option("upsertKeys", "id").append()
    val f4 = feed()
    assert(f4.diff(f3) == Set((5L, "v5", "delete", 4L),
      (5L, "u5", "insert", 4L), (100L, "new100", "insert", 4L)), f4.diff(f3))

    // v5: a second upsert kills v4's generation, not the long-dead ones
    Seq((5L, "w5")).toDF("id", "v")
      .writeTo("gcs.ns.cdc").option("upsertKeys", "id").append()
    val f5 = feed()
    assert(f5.diff(f4) == Set((5L, "u5", "delete", 5L),
      (5L, "w5", "insert", 5L)), f5.diff(f4))
    q.stop()

    // the feed replays the whole table's life: applying it reconstructs
    // the current state exactly
    val net = f5.groupBy(t => (t._1, t._2)).view.mapValues(ts =>
      ts.count(_._3 == "insert") - ts.count(_._3 == "delete")).toMap
    val live = net.filter(_._2 > 0).keySet.map(_._1)
    val table = spark.table("gcs.ns.cdc").collect().map(_.getLong(0)).toSet
    assert(live == table)
  }

  test("checkpoint resume continues at the committed version") {
    // the memory sink cannot recover a checkpoint; a FILE sink can — the
    // output parquet accumulates each batch exactly once across restarts
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-ck2").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cs-out").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-ocf-changes")
        .option("startingVersion", "4").load(loc("cdc"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    val got1 = spark.read.parquet(outDir).count() // v5's two rows
    assert(got1 == 2L, s"got $got1") // v5: u5 delete + w5 insert
    // a commit while the stream is down...
    spark.sql("INSERT INTO gcs.ns.cdc SELECT 200, 'x'") // v6
    // ...surfaces on restart from the SAME checkpoint, without re-emitting
    run()
    val all = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version")))
    assert(all.count(_._3 == 6L) == 1 && all.exists(_ == ((200L, "insert", 6L))),
      all.toSeq.sortBy(_._3))
    assert(all.count(_._3 == 5L) == 2, "v5 rows must not re-emit")
  }

  test("rewriting commits refuse; row-preserving folds emit nothing") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gcs.ns.rw (id BIGINT)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gcs.ns.rw SELECT id FROM range(10)")  // v1
    spark.sql("DELETE FROM gcs.ns.rw WHERE id = 4")              // v2
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-ck3").toString
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0").load(loc("rw"))
      .writeStream.format("memory").queryName("rw_feed")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    assert(spark.table("rw_feed").count() == 11L) // 10 inserts + 1 delete
    // the fold is row-preserving: nothing new
    spark.sql("CALL gcs.system.rewrite_position_deletes(table => 'ns.rw')") // v3
    q.processAllAvailable()
    assert(spark.table("rw_feed").count() == 11L)
    // a CoW UPDATE replaces files: the trigger refuses loudly
    spark.sql("UPDATE gcs.ns.rw SET id = id + 50 WHERE id = 6")  // v4 (CoW)
    val e = intercept[Exception] { q.processAllAvailable() }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("cannot represent rewrites")),
      chain(e).mkString(" | "))
    q.stop()
  }

  test("admission control bounds each trigger; AvailableNow drains and stops") {
    spark.sql("CREATE TABLE gcs.ns.adm (id BIGINT) USING `graft-ocf`")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO gcs.ns.adm SELECT id + ${i * 10} FROM range(0, 3, 1, 1)")
    } // v1..v4, one data file each (single-partition range)
    // maxVersionsPerTrigger=1: the genesis backfill takes one COMMIT per
    // micro-batch instead of one giant batch
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-adm").toString
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(loc("adm"))
      .writeStream.format("memory").queryName("adm_feed")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    assert(spark.table("adm_feed").count() == 12L)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 4, // one commit per trigger
      q.recentProgress.map(p => p.batchId -> p.numInputRows).toSeq)
    assert(batches.forall(_.numInputRows == 3L),
      batches.map(_.numInputRows).toSeq)
    q.stop()

    // maxFilesPerTrigger=2: two one-file commits per trigger
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-cs-adm2").toString
    val q2 = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0")
      .option("maxFilesPerTrigger", "2")
      .load(loc("adm"))
      .writeStream.format("memory").queryName("adm_feed2")
      .option("checkpointLocation", ckpt2).start()
    q2.processAllAvailable()
    assert(spark.table("adm_feed2").count() == 12L)
    val batches2 = q2.recentProgress.filter(_.numInputRows > 0)
    assert(batches2.length == 2 && batches2.forall(_.numInputRows == 6L),
      batches2.map(_.numInputRows).toSeq)
    q2.stop()

    // Trigger.AvailableNow: drains the pinned head under the limit, then
    // the query terminates on its own
    val ckpt3 = java.nio.file.Files.createTempDirectory("graft-cs-adm3").toString
    val q3 = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(loc("adm"))
      .writeStream.format("memory").queryName("adm_feed3")
      .option("checkpointLocation", ckpt3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q3.awaitTermination(120000), "AvailableNow query must terminate")
    assert(spark.table("adm_feed3").count() == 12L)
  }

  test("position-free parts split: a tiny splitSize yields exact rows " +
      "across many splits of one file") {
    import spark.implicits._
    spark.sql("CREATE TABLE gcs.ns.spl (id BIGINT, v STRING) USING `graft-ocf`")
    // one file, many blocks (id 0..4999 at ~20 B/row spans many 4 KB blocks)
    spark.range(0, 5000).select($"id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("value-"), $"id").as("v"))
      .coalesce(1).writeTo("gcs.ns.spl").option("blockBytes", "4096").append() // v1
    Seq((42L, "upd")).toDF("id", "v")
      .writeTo("gcs.ns.spl").option("upsertKeys", "id").append() // v2
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-spl").toString
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0")
      .option("splitSize", "4096") // force many splits per insert/eq part
      .load(loc("spl"))
      .writeStream.format("memory").queryName("spl_feed")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    val rows = spark.table("spl_feed").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version")))
    q.stop()
    assert(rows.length == rows.distinct.length, "split tiling must not dupe")
    assert(rows.count(_._4 == 1L) == 5000, s"v1 inserts: ${rows.count(_._4 == 1L)}")
    assert(rows.filter(_._4 == 2L).toSet ==
      Set((42L, "value-42", "delete", 2L), (42L, "upd", "insert", 2L)),
      rows.filter(_._4 == 2L).toSeq)
  }

  test("identity-partitioned layouts stream with their partition columns") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gcs.ns.pcdc (id BIGINT, v STRING, p STRING)
        |USING `graft-ocf` PARTITIONED BY (p)
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql(
      """INSERT INTO gcs.ns.pcdc VALUES
        |(1, 'a1', 'x'), (2, 'a2', 'x'), (3, 'a3', 'y')""".stripMargin) // v1
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-part").toString
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0").load(loc("pcdc"))
      .writeStream.format("memory").queryName("pcdc_feed")
      .option("checkpointLocation", ckpt).start()
    def feed(): Set[(Long, String, String, String, Long)] = {
      q.processAllAvailable()
      spark.table("pcdc_feed").collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("p"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    }
    // inserts carry their directory's partition value
    val f1 = feed()
    assert(f1 == Set((1L, "a1", "x", "insert", 1L), (2L, "a2", "x", "insert", 1L),
      (3L, "a3", "y", "insert", 1L)), f1)
    // a MoR delete inside one partition emits the lost row WITH its value
    spark.sql("DELETE FROM gcs.ns.pcdc WHERE id = 2") // v2
    val f2 = feed()
    assert(f2.diff(f1) == Set((2L, "a2", "x", "delete", 2L)), f2.diff(f1))
    // an upsert's delete+insert pair keeps partition values on both sides
    Seq((3L, "b3", "y")).toDF("id", "v", "p")
      .writeTo("gcs.ns.pcdc").option("upsertKeys", "id").append() // v3
    val f3 = feed()
    assert(f3.diff(f2) == Set((3L, "a3", "y", "delete", 3L),
      (3L, "b3", "y", "insert", 3L)), f3.diff(f2))
    q.stop()
    // net-applying the feed reconstructs the table exactly
    val net = f3.groupBy(t => (t._1, t._2, t._3)).view.mapValues(ts =>
      ts.count(_._4 == "insert") - ts.count(_._4 == "delete")).toMap
    val live = net.filter(_._2 > 0).keySet
    val table = spark.table("gcs.ns.pcdc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(live == table, s"live=$live table=$table")
  }
  test("micro-batch triggers vectorize when clean (X110): the factory " +
      "offers columnar and the batch decode equals the row reader") {
    spark.sql(
      """CREATE TABLE gcs.ns.colstream (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql(
      "INSERT INTO gcs.ns.colstream SELECT id, concat('v', id) FROM range(40)")
    spark.sql("DELETE FROM gcs.ns.colstream WHERE id % 5 = 2")          // v2
    val conf = spark.sessionState.newHadoopConf()
    val stream = new GraftChangesMicroBatchStream(loc("colstream"),
      GraftCatalog.readerJsonWithDefaults(spark.table("gcs.ns.colstream").schema),
      new org.apache.spark.sql.types.StructType(), Some(0L), conf)
    val parts = stream.planInputPartitions(
      GraftChangesOffset(0L), GraftChangesOffset(2L))
    val factory = stream.createReaderFactory()
    assert(parts.nonEmpty && parts.forall(factory.supportColumnarReads),
      "a clean insert+position-delete trigger must offer columnar")
    def viaColumnar: Seq[(Long, String, String, Long)] = parts.toSeq.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val b = Seq.newBuilder[(Long, String, String, Long)]
      try while (r.next()) {
        val batch = r.get()
        var i = 0
        while (i < batch.numRows()) {
          val row = batch.getRow(i)
          b += ((row.getLong(0), row.getUTF8String(1).toString,
            row.getUTF8String(2).toString, row.getLong(3)))
          i += 1
        }
      } finally r.close()
      b.result()
    }
    // the log written: v1's inserts and v2's position deletes
    val written = ((0L until 40L).map(i => (i, s"v$i", "insert", 1L)) ++
      (0L until 40L).filter(_ % 5 == 2).map(i => (i, s"v$i", "delete", 2L))).sorted
    val col = viaColumnar.sorted
    assert(col == written, "columnar trigger decode diverged from the written log")
    assert(col.count(e => e._3 == "insert" && e._4 == 1L) == 40)
    assert(col.count(e => e._3 == "delete" && e._4 == 2L) == 8)
    assert(col.filter(_._3 == "delete").map(_._1).sorted ==
      (0L until 40L).filter(_ % 5 == 2))
    // a PAIRED stream vectorizes too (r22): the tag column flips to a
    // writable vector; position deletes never pair, so the log is unchanged
    val paired = new GraftChangesMicroBatchStream(loc("colstream"),
      GraftCatalog.readerJsonWithDefaults(spark.table("gcs.ns.colstream").schema),
      new org.apache.spark.sql.types.StructType(), Some(0L), conf,
      pairUpdates = true)
    val pparts = paired.planInputPartitions(
      GraftChangesOffset(0L), GraftChangesOffset(2L))
    val pfactory = paired.createReaderFactory()
    assert(pparts.forall(pfactory.supportColumnarReads),
      "paired stream triggers must vectorize")
    def pairedVia(read: org.apache.spark.sql.connector.read.InputPartition => Iterator[org.apache.spark.sql.catalyst.InternalRow])
        : Seq[(Long, String, String, Long)] =
      pparts.toSeq.flatMap(p => read(p).map(row =>
        (row.getLong(0), row.getUTF8String(1).toString,
          row.getUTF8String(2).toString, row.getLong(3))).toList)
    val pCol = pairedVia { p =>
      val r = pfactory.createColumnarReader(p)
      val b = Seq.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
      try while (r.next()) {
        val it = r.get().rowIterator()
        while (it.hasNext) b += it.next().copy()
      } finally r.close()
      b.result().iterator
    }.sorted
    assert(pCol == written, "paired columnar trigger decode diverged from the written log")
  }
}
