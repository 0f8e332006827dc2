package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Apply-changes sink (X99): `option("changeColumn", c)` turns the upsert
  * sink into a CDC APPLY — insert/update rows take the normal upsert path
  * (data + equality-delete key), `delete` rows land ONLY their key, and
  * the change column itself is never stored. Composed with the change
  * feeds (X92 batch / X95 streaming) this replicates a table into a
  * mirror, deletes included, with per-commit batches (the in-batch
  * contract is Iceberg's: a delete only kills STRICTLY OLDER generations,
  * so replication must not collapse multiple source commits into one
  * apply epoch — `maxVersionsPerTrigger=1`). */
class ApplyChangesSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-apply-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-apply-changes-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gac", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gac.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gac.ns")
    s
  }

  private def tempDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def srcTableWithHistory(name: String): String = {
    import spark.implicits._
    spark.sql(
      s"""CREATE TABLE gac.ns.$name (id BIGINT, v STRING)
         |USING `graft-ocf`
         |OPTIONS (statsColumns 'id', `write.delete.mode` 'merge-on-read')
         |""".stripMargin)
    spark.range(0, 100).select($"id", concat(lit("v"), $"id").as("v"))
      .writeTo(s"gac.ns.$name").append()                               // v1
    Seq((7L, "UPD7"), (13L, "UPD13"), (500L, "NEW500"))
      .toDF("id", "v").writeTo(s"gac.ns.$name")
      .option("upsertKeys", "id").append()                            // v2
    spark.sql(s"DELETE FROM gac.ns.$name WHERE id % 10 = 3")           // v3
    Seq((13L, "RES13"), (44L, "UPD44")).toDF("id", "v")
      .writeTo(s"gac.ns.$name").option("upsertKeys", "id").append()    // v4
    new java.io.File(warehouse, s"ns/$name").getAbsolutePath
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] = {
    import spark.implicits._
    df.select($"id", $"v").as[(Long, String)].collect().toSeq.sorted
  }

  test("batch per-commit apply replicates inserts, upserts and deletes") {
    val srcDir = srcTableWithHistory("ac1")
    val mirror = tempDir("graft-apply-mirror1")
    val feed = GraftChanges.changes(spark, srcDir, 0L)
    val versions = feed.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted
    versions.foreach { v =>
      feed.where(col("_commit_version") === v)
        .select(col("id"), col("v"), col("_change_type"))
        .write.format("graft-ocf").mode("append")
        .option("upsertKeys", "id")
        .option("changeColumn", "_change_type")
        .save(mirror.getAbsolutePath)
    }
    val src = sortedRows(spark.table("gac.ns.ac1"))
    val got = sortedRows(spark.read.format("graft-ocf").load(mirror.getAbsolutePath))
    assert(got == src, s"mirror diverged: ${got.diff(src)} vs ${src.diff(got)}")
    // the change column is metadata, not data: the mirror's schema is (id, v)
    assert(spark.read.format("graft-ocf").load(mirror.getAbsolutePath)
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // resurrected key 13 reads its LAST value, not the deleted one
    assert(got.contains((13L, "RES13")))
    assert(!got.exists(_._1 == 3L))
  }

  test("streaming mirror: changes feed -> apply-changes sink, " +
      "one source commit per epoch") {
    val srcDir = srcTableWithHistory("ac2")
    val mirror = tempDir("graft-apply-mirror2")
    val ckpt = tempDir("graft-apply-ck2")
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(srcDir)
      .select(col("id"), col("v"), col("_change_type"))
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .option("upsertKeys", "id")
      .option("changeColumn", "_change_type")
      .outputMode("append")
      .start(mirror.getAbsolutePath)
    try q.processAllAvailable() finally q.stop()
    val src = sortedRows(spark.table("gac.ns.ac2"))
    val got = sortedRows(spark.read.format("graft-ocf").load(mirror.getAbsolutePath))
    assert(got == src, s"mirror diverged: ${got.diff(src)} vs ${src.diff(got)}")

    // the source keeps moving; the mirror catches up incrementally
    import spark.implicits._
    Seq((7L, "UPD7b"), (901L, "NEW901")).toDF("id", "v")
      .writeTo("gac.ns.ac2").option("upsertKeys", "id").append()
    spark.sql("DELETE FROM gac.ns.ac2 WHERE id = 44")
    val q2 = spark.readStream.format("graft-ocf-changes")
      .option("maxVersionsPerTrigger", "1")
      .load(srcDir)
      .select(col("id"), col("v"), col("_change_type"))
      .writeStream.format("graft-ocf")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .option("upsertKeys", "id")
      .option("changeColumn", "_change_type")
      .outputMode("append")
      .start(mirror.getAbsolutePath)
    try q2.processAllAvailable() finally q2.stop()
    assert(sortedRows(spark.read.format("graft-ocf")
      .load(mirror.getAbsolutePath)) == sortedRows(spark.table("gac.ns.ac2")))
  }

  test("a partitioned mirror routes inserts to partitions; deletes are " +
      "partition-free key files") {
    import spark.implicits._
    val mirror = tempDir("graft-apply-mirror3")
    def apply(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("id", "lang", "_change_type")
        .write.format("graft-ocf").mode("append")
        .option("partitionBy", "lang")
        .option("upsertKeys", "id")
        .option("changeColumn", "_change_type")
        .save(mirror.getAbsolutePath)
    apply(Seq((1L, "en", "insert"), (2L, "fr", "insert"), (3L, "en", "insert")))
    apply(Seq((3L, "en", "delete"), (4L, "de", "insert")))
    val got = spark.read.format("graft-ocf").load(mirror.getAbsolutePath)
      .as[(Long, String)].collect().toSeq.sorted
    assert(got == Seq((1L, "en"), (2L, "fr"), (4L, "de")), got.toString)
    // inserts landed under their lang= dirs; the delete epoch's only
    // partition dir is the new insert's
    val dirs = mirror.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.filter(_.startsWith("lang=")) == Set("lang=en", "lang=fr", "lang=de"),
      dirs.toString)
  }

  test("the CDC loop composes with partition-spec evolution: a mirror " +
      "of an evolved transform-partitioned source stays exact") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gac.ns.ac4 (id BIGINT, ts TIMESTAMP, v STRING)
        |USING `graft-ocf` PARTITIONED BY (days(ts))
        |OPTIONS (statsColumns 'id', `write.delete.mode` 'merge-on-read')
        |""".stripMargin)
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    Seq((1L, t("2024-03-01T10:00:00Z"), "a"), (2L, t("2024-03-02T10:00:00Z"), "b"))
      .toDF("id", "ts", "v").coalesce(1).writeTo("gac.ns.ac4").append()   // v1
    spark.sql("ALTER TABLE gac.ns.ac4 SET TBLPROPERTIES " +
      "('transformPartitions'='hours(ts)')")
    Seq((3L, t("2024-04-05T08:30:00Z"), "c")).toDF("id", "ts", "v")
      .coalesce(1).writeTo("gac.ns.ac4").append()                          // v2
    spark.sql("DELETE FROM gac.ns.ac4 WHERE id = 2")                       // v3
    Seq((1L, t("2024-03-01T10:00:00Z"), "A2")).toDF("id", "ts", "v")
      .writeTo("gac.ns.ac4").option("upsertKeys", "id").append()           // v4
    val srcDir = new java.io.File(warehouse, "ns/ac4").getAbsolutePath
    val mirror = tempDir("graft-apply-mirror4")
    val feed = GraftChanges.changes(spark, srcDir, 0L)
    val versions = feed.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted
    versions.foreach { v =>
      feed.where(col("_commit_version") === v)
        .select(col("id"), col("ts"), col("v"), col("_change_type"))
        .write.format("graft-ocf").mode("append")
        .option("upsertKeys", "id")
        .option("changeColumn", "_change_type")
        .save(mirror.getAbsolutePath)
    }
    val src = spark.table("gac.ns.ac4").select("id", "v")
      .as[(Long, String)].collect().toSeq.sorted
    val got = spark.read.format("graft-ocf").load(mirror.getAbsolutePath)
      .select("id", "v").as[(Long, String)].collect().toSeq.sorted
    assert(got == src && src == Seq((1L, "A2"), (3L, "c")), s"$got vs $src")
  }

  test("refusals: changeColumn needs upsertKeys; unknown change types fail") {
    import spark.implicits._
    val dir = tempDir("graft-apply-refuse")
    val df = Seq((1L, "a", "insert")).toDF("id", "v", "_change_type")
    val e1 = intercept[Exception] {
      df.write.format("graft-ocf").mode("append")
        .option("changeColumn", "_change_type")
        .save(dir.getAbsolutePath)
    }
    assert(e1.getMessage.contains("needs upsertKeys"), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq((1L, "a", "bogus")).toDF("id", "v", "_change_type")
        .write.format("graft-ocf").mode("append")
        .option("upsertKeys", "id")
        .option("changeColumn", "_change_type")
        .save(dir.getAbsolutePath)
    }
    assert(e2.getMessage != null)
  }

  test("a mirror built from the PAIRED feed (updateImages=true) is " +
      "row-identical to one built from the unpaired feed (X104)") {
    val srcDir = srcTableWithHistory("ac6")
    def mirrorOf(pair: Boolean): Seq[(Long, String)] = {
      val mirror = tempDir(s"graft-apply-mirror6-$pair")
      val ckpt = tempDir(s"graft-apply-ck6-$pair")
      val q = spark.readStream.format("graft-ocf-changes")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .option("updateImages", pair.toString)
        .load(srcDir)
        .select(col("id"), col("v"), col("_change_type"))
        .writeStream.format("graft-ocf")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .option("upsertKeys", "id")
        .option("changeColumn", "_change_type")
        .outputMode("append")
        .start(mirror.getAbsolutePath)
      try q.processAllAvailable() finally q.stop()
      sortedRows(spark.read.format("graft-ocf").load(mirror.getAbsolutePath))
    }
    val paired = mirrorOf(true)
    val plain = mirrorOf(false)
    val src = sortedRows(spark.table("gac.ns.ac6"))
    assert(paired == src, s"paired mirror diverged: ${paired.diff(src)}")
    assert(paired == plain)
    // the paired STREAM really carried image types (the sink consumed
    // preimage=no-op / postimage=upsert, not delete+insert)
    spark.catalog.dropTempView("gac_ac6_feed")
    val ckpt2 = tempDir("graft-apply-ck6-mem")
    val q2 = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0").option("updateImages", "true")
      .load(srcDir)
      .writeStream.format("memory").queryName("gac_ac6_feed")
      .option("checkpointLocation", ckpt2.getAbsolutePath).start()
    try q2.processAllAvailable() finally q2.stop()
    import spark.implicits._
    val types = spark.table("gac_ac6_feed").select("_change_type")
      .as[String].collect().toSet
    assert(types.contains("update_preimage") &&
      types.contains("update_postimage"), types.toString)
  }
}
