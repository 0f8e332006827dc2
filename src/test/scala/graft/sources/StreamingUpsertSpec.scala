package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming upsert sink (X96): `writeStream ... .option("upsertKeys", k)`
  * into a snapshot-managed table — each epoch commits its insert files PLUS
  * an equality-delete key file killing every OLDER generation of the
  * epoch's keys. The streaming half of X94: per-epoch CDC ingest with
  * O(epoch) write cost, no target scan, composing with the change feed
  * (X95) on the way out. */
class StreamingUpsertSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-su-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-streaming-upsert-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gsu", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gsu.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsu.ns")
    s
  }

  private def loc(t: String): String =
    new Path(warehouse.getAbsolutePath, s"ns/$t").toString

  test("each epoch's upsert replaces older generations of its keys") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql(
      """CREATE TABLE gsu.ns.docs (id BIGINT, v STRING)
        |USING `graft-ocf`""".stripMargin)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-su-ck").toString
    val q = in.toDF().toDF("id", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsertKeys", "id")
      .toTable("gsu.ns.docs")
    def read(): Map[Long, String] = {
      q.processAllAvailable()
      spark.table("gsu.ns.docs").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }

    in.addData((1L, "a1"), (2L, "a2"), (3L, "a3"))        // epoch 0
    assert(read() == Map(1L -> "a1", 2L -> "a2", 3L -> "a3"))

    in.addData((2L, "b2"), (4L, "b4"))                    // epoch 1
    assert(read() == Map(1L -> "a1", 2L -> "b2", 3L -> "a3", 4L -> "b4"))

    in.addData((2L, "c2"), (1L, "c1"))                    // epoch 2
    assert(read() == Map(1L -> "c1", 2L -> "c2", 3L -> "a3", 4L -> "b4"))
    q.stop()

    // the manifest carries one equality-delete key file per upsert epoch
    // EXCEPT the first (its keys burden nothing — the commit retires them
    // as orphans), epoch-named, burdening only OLDER files
    val files = spark.sql(
      "SELECT content, file FROM gsu.ns.docs.files").collect()
    val eq = files.filter(_.getString(0) == "equality-deletes")
    assert(eq.length == 2, files.toSeq.mkString("\n"))
    assert(eq.forall(_.getString(1).matches(".*part-e\\d{5}-.*\\.eqdel\\.avro")),
      eq.toSeq.mkString("\n"))
  }

  test("the change feed replays the streamed epochs as delete+insert") {
    // batch feed: changes AFTER startVersion (v1 is the baseline)
    val feed = GraftChanges.forTable(spark, "gsu.ns.docs", startVersion = 1L)
      .collect()
      .map(r => (r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"),
        r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    // v2: 1 delete (2,a2) + 2 inserts; v3: 2 deletes + 2 inserts
    assert(feed == Set(
      (2L, "delete", 2L, "a2"), (2L, "insert", 2L, "b2"), (2L, "insert", 4L, "b4"),
      (3L, "delete", 1L, "a1"), (3L, "delete", 2L, "b2"),
      (3L, "insert", 1L, "c1"), (3L, "insert", 2L, "c2")), feed)
  }

  test("fold retires the streamed key files; reads unchanged") {
    import spark.implicits._
    val before = spark.table("gsu.ns.docs").as[(Long, String)].collect().toSet
    val folded = spark.sql(
      "CALL gsu.system.rewrite_position_deletes(table => 'ns.docs')").collect()(0)
    assert(folded.getLong(1) > 0L) // delete files dropped
    val files = spark.sql("SELECT content FROM gsu.ns.docs.files").collect()
    assert(files.forall(_.getString(0) == "data"))
    assert(spark.table("gsu.ns.docs").as[(Long, String)].collect().toSet == before)
  }

  test("a crash-replayed epoch keeps its original sequence number") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql(
      """CREATE TABLE gsu.ns.replay (id BIGINT, v STRING)
        |USING `graft-ocf`""".stripMargin)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-su-ck2").toString
    val q1 = in.toDF().toDF("id", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsertKeys", "id").toTable("gsu.ns.replay")
    in.addData((1L, "a1"), (2L, "a2")) // epoch 0 -> v1
    q1.processAllAvailable()
    in.addData((2L, "b2"))             // epoch 1 -> v2
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination()
    // simulate "manifest committed, checkpoint lost" for epoch 1: wipe the
    // checkpoint's commit marker so restart replays epoch 1
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(last.delete())
    // ChecksumFs keeps a .crc sidecar; a stale one fails the replay's rename
    new java.io.File(commits, "." + last.getName + ".crc").delete()
    val dir = new Path(warehouse.getAbsolutePath, "ns/replay")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val seqBefore = OcfSnapshots.latest(fs, dir).get.files
      .map(f => f.path -> f.seq).toMap
    val q2 = in.toDF().toDF("id", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsertKeys", "id").toTable("gsu.ns.replay")
    q2.processAllAvailable()
    q2.stop()
    // the replay re-commits epoch 1's deterministic file names: every path
    // keeps its ORIGINAL birth version (no self-burdening, no double rows)
    val after = OcfSnapshots.latest(fs, dir).get
    val seqAfter = after.files.map(f => f.path -> f.seq).toMap
    assert(seqAfter == seqBefore,
      s"replay must inherit seq: before=$seqBefore after=$seqAfter")
    assert(spark.table("gsu.ns.replay").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b2")))
  }

  test("upsert streaming: complete mode refuses, bare paths upsert") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val agg = in.toDF().toDF("id", "v").groupBy("id")
      .agg(org.apache.spark.sql.functions.max("v").as("v"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-su-ck3").toString
    in.addData((9L, "z"))
    val e1 = intercept[Exception] {
      val q = agg.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .option("upsertKeys", "id").toTable("gsu.ns.docs")
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(
        x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e1).exists(m => m.contains("APPEND only") ||
      m.contains("Truncate")), chain(e1).mkString(" | "))

    // every epoch commits a manifest, so a bare directory's first epoch
    // lands its key file as an equality-delete entry, not as table data
    val bare = java.nio.file.Files.createTempDirectory("graft-su-bare").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-su-ck4").toString
    val in2 = MemoryStream[(Long, String)]
    val q = in2.toDF().toDF("id", "v")
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt2)
      .option("upsertKeys", "id").start(bare)
    try {
      in2.addData((1L, "x"))
      q.processAllAvailable()
      in2.addData((1L, "y"), (2L, "z"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.format("graft-ocf").load(bare).as[(Long, String)]
      .collect().toSet == Set((1L, "y"), (2L, "z")))
    val fs = new Path(bare).getFileSystem(spark.sessionState.newHadoopConf())
    assert(OcfSnapshots.latest(fs, new Path(bare)).get.files
      .exists(_.isEqualityDelete))
  }
}
