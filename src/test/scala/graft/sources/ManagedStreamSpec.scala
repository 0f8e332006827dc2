package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Incremental readers of a managed table across rewriting commits: a
  * stream and a batch `startingVersion` read both take what the commits in
  * a version range added ([[OcfSnapshots.appendedFiles]]). Compaction adds
  * nothing; copy-on-write DELETE, MERGE and INSERT OVERWRITE refuse, since
  * their changes are not appended rows. Every appended row arrives exactly
  * once. */
class ManagedStreamSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-ms-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-managed-stream-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gms", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gms.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gms.ns")
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(c => Option(c.getMessage)).toSeq

  private def insert(t: String, from: Int, until: Int): Unit =
    spark.sql(s"INSERT INTO gms.ns.$t SELECT id, concat('v', id) FROM range($from, $until)")

  private def merge(t: String): Unit =
    spark.sql(
      s"""MERGE INTO gms.ns.$t t
         |USING (SELECT CAST(col1 AS BIGINT) AS id, col2 AS v FROM VALUES
         |  (0, 'm0'), (900, 'm900')) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

  /** One AvailableNow run of a parquet-sink stream over `t` (resumable from
    * `ckpt`); the sink's ids, sorted with duplicates kept. */
  private def runStream(t: String, ckpt: String, out: String,
                        startingVersion: Option[Long] = None): Seq[Long] = {
    val r = spark.readStream
    startingVersion.foreach(v => r.option("startingVersion", v.toString))
    val q = r.table(s"gms.ns.$t").writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    } finally q.stop()
    sinkIds(out)
  }

  private def sinkIds(out: String): Seq[Long] =
    if (!new java.io.File(out).list().exists(_.endsWith(".parquet"))) Nil
    else spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** Lands one OCF file of ids [from, until) in `dir`, outside any commit. */
  private def landFile(dir: String, name: String, from: Long, until: Long): Unit = {
    import spark.implicits._
    val schemaJson = """{"type":"record","name":"R","fields":[""" +
      """{"name":"id","type":["null","long"]}]}"""
    graft.spark.OcfFiles.writePayloadFiles(graft.spark.OcfSink.payloads(
      (from until until).toDF("id").coalesce(1), schemaJson, "null",
      datumsPerPayload = 100), dir, prefix = name)
  }

  private def refusal(body: => Unit): Seq[String] = {
    val e = intercept[Exception](body)
    messages(e)
  }

  private def version(t: String): Long =
    spark.sql(s"SELECT max(version) FROM gms.ns.$t.history").head.getLong(0)

  test("a managed-table stream delivers every appended row exactly once: " +
      "compaction delivers nothing, CoW DELETE, MERGE and INSERT OVERWRITE " +
      "fail their trigger") {
    spark.sql("CREATE TABLE gms.ns.s (id BIGINT, v STRING) USING `graft-ocf`")
    insert("s", 0, 10)
    insert("s", 10, 20)
    val (ckpt, out) = (tmp("graft-ms-ck"), tmp("graft-ms-out"))
    assert(runStream("s", ckpt, out) == (0L until 20L))

    // compaction rewrites every row into new files: nothing to deliver
    spark.sql("CALL gms.system.compact(table => 'ns.s')").collect()
    insert("s", 20, 25)
    assert(runStream("s", ckpt, out) == (0L until 25L))
    assert(runStream("s", ckpt, out) == (0L until 25L), "an idle rerun adds nothing")

    // a copy-on-write DELETE replaces the files holding its survivors
    spark.sql("DELETE FROM gms.ns.s WHERE id = 3")
    val deleteV = version("s")
    val m1 = refusal(runStream("s", ckpt, out))
    assert(m1.exists(m => m.contains("rewriting commit") &&
      m.contains(s"version $deleteV") && m.contains("replace-rows")), m1.mkString(" | "))
    assert(sinkIds(out) == (0L until 25L), "a refused trigger delivers nothing")

    // a new stream starting at the rewrite streams what follows it
    insert("s", 25, 30)
    val (ckpt2, out2) = (tmp("graft-ms-ck2"), tmp("graft-ms-out2"))
    assert(runStream("s", ckpt2, out2, Some(deleteV)) == (25L until 30L))
    merge("s")
    val mergeV = version("s")
    val m2 = refusal(runStream("s", ckpt2, out2, Some(deleteV)))
    assert(m2.exists(m => m.contains("rewriting commit") &&
      m.contains(s"version $mergeV")), m2.mkString(" | "))
    assert(sinkIds(out2) == (25L until 30L))

    val (ckpt3, out3) = (tmp("graft-ms-ck3"), tmp("graft-ms-out3"))
    insert("s", 30, 35)
    assert(runStream("s", ckpt3, out3, Some(mergeV)) == (30L until 35L))
    spark.sql("INSERT OVERWRITE gms.ns.s SELECT id, 'o' FROM range(100, 103)")
    val overwriteV = version("s")
    val m3 = refusal(runStream("s", ckpt3, out3, Some(mergeV)))
    assert(m3.exists(m => m.contains("rewriting commit") &&
      m.contains(s"version $overwriteV") && m.contains("overwrite")), m3.mkString(" | "))
    assert(sinkIds(out3) == (30L until 35L))
  }

  test("batch startingVersion ranges: a compaction in range returns the " +
      "appended rows; CoW DELETE, MERGE and INSERT OVERWRITE refuse") {
    spark.sql("CREATE TABLE gms.ns.b (id BIGINT, v STRING) USING `graft-ocf`")
    insert("b", 0, 10)                                          // v1
    insert("b", 10, 20)                                         // v2
    spark.sql("CALL gms.system.compact(table => 'ns.b')").collect() // v3
    insert("b", 20, 25)                                         // v4
    spark.sql("DELETE FROM gms.ns.b WHERE id = 3")              // v5
    insert("b", 25, 30)                                         // v6
    merge("b")                                                  // v7
    insert("b", 30, 35)                                         // v8
    spark.sql("INSERT OVERWRITE gms.ns.b SELECT id, 'o' FROM range(100, 103)") // v9
    assert(version("b") == 9L)
    def ids(start: Long, end: Long): Seq[Long] =
      spark.read.option("startingVersion", start.toString)
        .option("endingVersion", end.toString).table("gms.ns.b")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(1, 4) == (10L until 25L))
    assert(ids(2, 3).isEmpty, "a compaction alone adds no rows")
    assert(ids(5, 6) == (25L until 30L))
    assert(ids(7, 8) == (30L until 35L))
    Seq(5L -> "replace-rows", 7L -> "replace-rows", 9L -> "overwrite").foreach { case (v, op) =>
      val m = refusal(ids(v - 2, v))
      assert(m.exists(x => x.contains("removed or replaced") &&
        x.contains(s"version $v") && x.contains(op)), m.mkString(" | "))
    }
  }

  test("a partition-subdirectory stream reads its partition, passes over " +
      "compaction and a rewrite of another partition") {
    spark.sql(
      """CREATE TABLE gms.ns.p (id BIGINT, v STRING, p STRING)
        |USING `graft-ocf` PARTITIONED BY (p)""".stripMargin)
    def put(p: String, from: Int, until: Int): Unit =
      spark.sql(s"INSERT INTO gms.ns.p SELECT id, 'x', '$p' FROM range($from, $until)")
    put("a", 0, 5)
    put("b", 100, 105)
    val sub = new Path(warehouse.getAbsolutePath, "ns/p/p=a").toString
    val (ckpt, out) = (tmp("graft-ms-pck"), tmp("graft-ms-pout"))
    def run(): Seq[Long] = {
      val q = spark.readStream.format("graft-ocf").load(sub)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination(120000)
        q.exception.foreach(throw _)
      } finally q.stop()
      sinkIds(out)
    }
    assert(run() == (0L until 5L))
    put("a", 5, 8)
    spark.sql("CALL gms.system.compact(table => 'ns.p')").collect()
    spark.sql("DELETE FROM gms.ns.p WHERE p = 'b' AND id = 101")
    put("a", 8, 10)
    put("b", 105, 107)
    assert(run() == (0L until 10L))
    // a rewrite inside the partition refuses
    spark.sql("DELETE FROM gms.ns.p WHERE p = 'a' AND id = 2")
    val m = refusal(run())
    assert(m.exists(_.contains("rewriting commit")), m.mkString(" | "))
  }

  test("a stream keeps the version it reached across expiry while idle, and " +
      "a stream whose version was expired fails with how to restart") {
    spark.sql("CREATE TABLE gms.ns.e (id BIGINT, v STRING) USING `graft-ocf`")
    insert("e", 0, 5)
    insert("e", 5, 8)
    val (ckpt, out) = (tmp("graft-ms-eck"), tmp("graft-ms-eout"))
    assert(runStream("e", ckpt, out) == (0L until 8L))
    def expire(): Unit =
      spark.sql("CALL gms.system.expire_snapshots(table => 'ns.e', keep_last => 1)").collect()
    // a compaction finds no new file but still moves the stream's version
    val before = version("e")
    spark.sql("CALL gms.system.compact(table => 'ns.e')").collect()
    assert(version("e") > before)
    assert(runStream("e", ckpt, out) == (0L until 8L))
    expire()
    insert("e", 8, 10)
    assert(runStream("e", ckpt, out) == (0L until 10L))

    // a commit, then an expiry that removes the version the stream read
    insert("e", 10, 12)
    expire()
    val m = refusal(runStream("e", ckpt, out))
    assert(m.exists(x => x.contains("expire_snapshots") &&
      x.contains("checkpointLocation") && !x.contains("startingVersion version")),
      m.mkString(" | "))
    assert(sinkIds(out) == (0L until 10L))
    // the restart it names loses no row
    val (ckpt2, out2) = (tmp("graft-ms-eck2"), tmp("graft-ms-eout2"))
    assert(runStream("e", ckpt2, out2) == (0L until 12L))
  }

  test("a stream over a directory that turns managed under it takes the " +
      "new files once and passes over a compaction") {
    spark.sql("CREATE TABLE gms.ns.land (id BIGINT) USING `graft-ocf`")
    val dir = new Path(warehouse.getAbsolutePath, "ns/land").toString
    landFile(dir, "f0", 0L, 3L) // landed before any graft-ocf write: no manifest
    val (ckpt, out) = (tmp("graft-ms-tck"), tmp("graft-ms-tout"))
    def query(trigger: Trigger) =
      spark.readStream.format("graft-ocf").load(dir).writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out).trigger(trigger).start()
    val q = query(Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      assert(sinkIds(out) == (0L until 3L))
      // the first write adopts the landed file into a manifest
      spark.sql("INSERT INTO gms.ns.land SELECT id FROM range(3, 6)")
      q.processAllAvailable()
      assert(sinkIds(out) == (0L until 6L))
      spark.sql("CALL gms.system.compact(table => 'ns.land')").collect()
      spark.sql("INSERT INTO gms.ns.land SELECT id FROM range(6, 8)")
      q.processAllAvailable()
      assert(sinkIds(out) == (0L until 8L))
    } finally q.stop()
    q.exception.foreach(throw _)
    // its checkpoint resumes after a restart
    spark.sql("INSERT INTO gms.ns.land SELECT id FROM range(8, 10)")
    val r = query(Trigger.AvailableNow())
    try {
      r.awaitTermination(120000)
      r.exception.foreach(throw _)
    } finally r.stop()
    assert(sinkIds(out) == (0L until 10L))
  }

  test("a managed-table checkpoint without a manifest version is refused with " +
      "how to restart; an unmanaged directory's resumes") {
    spark.sql("CREATE TABLE gms.ns.old (id BIGINT, v STRING) USING `graft-ocf`")
    insert("old", 0, 4)
    val (ckpt, out) = (tmp("graft-ms-ock"), tmp("graft-ms-oout"))
    assert(runStream("old", ckpt, out) == (0L until 4L))
    // rewrite the log in the format that held no version: bare-array
    // deltas and no version record
    def stripVersions(ckptDir: String): Unit = {
      val dir = new java.io.File(ckptDir, "sources/0/graft-ocf-files")
      new java.io.File(dir, "version").delete()
      val logs = dir.listFiles().filter(_.getName.forall(_.isDigit))
      assert(logs.nonEmpty)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      logs.foreach { f =>
        val root = om.readTree(f)
        om.writeValue(f, root.get("files"))
      }
    }
    stripVersions(ckpt)
    insert("old", 4, 6)
    val m = refusal(runStream("old", ckpt, out))
    assert(m.exists(x => x.contains("records no manifest version") &&
      x.contains("startingVersion") && x.contains("checkpointLocation")), m.mkString(" | "))
    assert(sinkIds(out) == (0L until 4L))

    // an unmanaged landing directory keeps listing from such a log
    val land = tmp("graft-ms-land")
    landFile(land, "f0", 0L, 3L)
    val (lck, lout) = (tmp("graft-ms-lck"), tmp("graft-ms-lout"))
    def runLanding(): Seq[Long] = {
      val q = spark.readStream.format("graft-ocf").load(land)
        .writeStream.format("parquet")
        .option("checkpointLocation", lck).option("path", lout)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination(120000)
        q.exception.foreach(throw _)
      } finally q.stop()
      sinkIds(lout)
    }
    assert(runLanding() == (0L until 3L))
    stripVersions(lck)
    landFile(land, "f1", 3L, 5L)
    assert(runLanding() == (0L until 5L))
  }
}
