package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `.changes` metadata table (X101): the change-data-feed as a plain
  * batch TABLE — `SELECT * FROM g.ns.t.changes` replays the full log from
  * genesis (the Iceberg `t.changes` analog), and read options
  * `startingVersion`/`endingVersion` range it. Shares the streaming
  * feed's planner, so the exact-or-refuse contract is identical. */
class ChangesTableSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-ct-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-changes-table-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gct", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gct.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gct.ns")
    s
  }

  private def history(name: String): Unit = {
    import spark.implicits._
    spark.sql(
      s"""CREATE TABLE gct.ns.$name (id BIGINT, v STRING)
         |USING `graft-ocf`
         |OPTIONS (statsColumns 'id', `write.delete.mode` 'merge-on-read')
         |""".stripMargin)
    spark.range(0, 50).select($"id", concat(lit("v"), $"id").as("v"))
      .writeTo(s"gct.ns.$name").append()                              // v1
    spark.sql(s"DELETE FROM gct.ns.$name WHERE id % 10 = 3")          // v2
    Seq((7L, "UPD7"), (99L, "NEW99")).toDF("id", "v")
      .writeTo(s"gct.ns.$name").option("upsertKeys", "id").append()   // v3
  }

  test("SELECT * FROM t.changes replays the full log from genesis") {
    history("ct1")
    val feed = spark.sql(
      "SELECT _commit_version, _change_type, id, v FROM gct.ns.ct1.changes")
    val byVer = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVer((1L, "insert")) == 50L)
    assert(byVer((2L, "delete")) == 5L)
    assert(byVer((3L, "insert")) == 2L)
    assert(byVer((3L, "delete")) == 1L) // the older generation of key 7
    // the replayed log reconstructs the table: inserts minus deletes
    import spark.implicits._
    val replayed = feed.as[(Long, String, Long, String)].collect()
      .groupBy(_._3).toSeq.map { case (id, evs) =>
        val last = evs.maxBy(e => (e._1, e._2 == "insert"))
        (id, last)
      }.collect { case (id, (_, "insert", _, v)) => (id, v) }.sorted
    val table = spark.table("gct.ns.ct1").as[(Long, String)].collect().toSeq.sorted
    assert(replayed == table)
  }

  test("startingVersion / endingVersion range the log") {
    history("ct2")
    val ranged = spark.read
      .option("startingVersion", "1").option("endingVersion", "2")
      .table("gct.ns.ct2.changes")
    val types = ranged.select("_change_type", "_commit_version")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(types.nonEmpty && types.forall(_._2 == 2L))
    assert(types.count(_._1 == "delete") == 5)
    // bare format load works too (path-based batch CDF)
    val loc = new java.io.File(warehouse, "ns/ct2").getAbsolutePath
    val full = spark.read.format("graft-ocf-changes")
      .option("startingVersion", "0").load(loc)
    assert(full.count() ==
      spark.table("gct.ns.ct2.changes").count())
  }

  test("startingTag / endingTag range the log by named snapshots") {
    history("ct4")
    spark.sql("CALL gct.system.tag(table => 'ns.ct4', name => 'rel1', " +
      "version => 1)")
    spark.sql("CALL gct.system.tag(table => 'ns.ct4', name => 'rel2', " +
      "version => 2)")
    val ranged = spark.read
      .option("startingTag", "rel1").option("endingTag", "rel2")
      .table("gct.ns.ct4.changes")
    val got = ranged.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L), got.toString)
    val e = intercept[Exception] {
      spark.read.option("startingTag", "nope")
        .table("gct.ns.ct4.changes").collect()
    }
    assert(e.getMessage.contains("not a tag"), e.getMessage)
  }

  test("the changes table carries identity partition columns") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gct.ns.ct5 (id BIGINT, lang STRING)
        |USING `graft-ocf` PARTITIONED BY (lang)
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    Seq((1L, "en"), (2L, "fr"), (3L, "en")).toDF("id", "lang")
      .writeTo("gct.ns.ct5").append()
    spark.sql("DELETE FROM gct.ns.ct5 WHERE id = 3")
    val feed = spark.table("gct.ns.ct5.changes")
      .select("_commit_version", "_change_type", "id", "lang")
      .as[(Long, String, Long, String)].collect().toSeq.sorted
    assert(feed == Seq((1L, "insert", 1L, "en"), (1L, "insert", 2L, "fr"),
      (1L, "insert", 3L, "en"), (2L, "delete", 3L, "en")), feed.toString)
  }

  test("the change feed reads evolved schemas: pre-ADD-COLUMN commits " +
      "materialize the default") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gct.ns.ct6 (id BIGINT)
        |USING `graft-ocf`""".stripMargin)
    spark.sql("INSERT INTO gct.ns.ct6 SELECT id FROM range(3)")       // v1
    spark.sql("ALTER TABLE gct.ns.ct6 ADD COLUMN note STRING")
    spark.sql("INSERT INTO gct.ns.ct6 VALUES (10, 'tagged')")         // v2
    val feed = spark.table("gct.ns.ct6.changes")
      .select("_commit_version", "id", "note")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("<null>"))).toSeq.sorted
    assert(feed == Seq((1L, 0L, "<null>"), (1L, 1L, "<null>"),
      (1L, 2L, "<null>"), (2L, 10L, "tagged")), feed.toString)
  }

  test("readStream.table on the changes table streams the feed") {
    history("ct7")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ct7-ck").toFile
    spark.catalog.dropTempView("gct_ct7_feed")
    val q = spark.readStream
      .option("startingVersion", "0")
      .table("gct.ns.ct7.changes")
      .writeStream.format("memory").queryName("gct_ct7_feed")
      .option("checkpointLocation", ckpt.getAbsolutePath).start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("gct_ct7_feed").count()
    assert(n == spark.table("gct.ns.ct7.changes").count(), n.toString)
    assert(n == 58L, n.toString) // 50 inserts + 5 + (2 ins + 1 del) upsert
  }

  test("a CoW rewrite refuses — same contract as the stream") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gct.ns.ct3 (id BIGINT)
        |USING `graft-ocf`""".stripMargin)
    spark.sql("INSERT INTO gct.ns.ct3 SELECT id FROM range(10)")
    spark.sql("DELETE FROM gct.ns.ct3 WHERE id = 5") // CoW (default mode)
    val e = intercept[Exception] {
      spark.table("gct.ns.ct3.changes").collect()
    }
    assert(e.getMessage.contains("removed or replaced"), e.getMessage)
  }

  test("updateImages=true pairs an upsert's delete+insert sharing a key " +
      "as update_preimage/update_postimage (X104)") {
    import spark.implicits._
    history("ct8") // v1: 50 inserts; v2: 5 position deletes; v3: upsert 7+99
    // v4: a pure key-delete (apply-changes row, eq-delete with NO insert)
    val loc = new java.io.File(warehouse, "ns/ct8").getAbsolutePath
    Seq((12L, "x", "delete")).toDF("id", "v", "_ct").write
      .format("graft-ocf").mode("append")
      .option("upsertKeys", "id").option("changeColumn", "_ct").save(loc)
    val paired = spark.read.option("updateImages", "true")
      .table("gct.ns.ct8.changes")
      .select($"_commit_version", $"_change_type", $"id", $"v")
      .as[(Long, String, Long, String)].collect().toSeq
    val byVerType = paired.groupBy(e => (e._1, e._2)).view.mapValues(_.length)
    assert(byVerType((1L, "insert")) == 50)
    // v2 position deletes are NEVER paired (ordinals, not keys)
    assert(byVerType((2L, "delete")) == 5)
    assert(!byVerType.contains((2L, "update_preimage")))
    // v3: key 7 existed (one UPDATE pair); key 99 is fresh (plain insert)
    assert(paired.filter(_._1 == 3L).map(e => (e._2, e._3, e._4)).sorted ==
      Seq(("insert", 99L, "NEW99"), ("update_postimage", 7L, "UPD7"),
        ("update_preimage", 7L, "v7")))
    // v4: a killed key with no re-insert stays a plain delete
    assert(paired.filter(_._1 == 4L).map(e => (e._2, e._3)) ==
      Seq(("delete", 12L)))
    // the default read is unchanged: delete+insert, no image types
    val plain = spark.table("gct.ns.ct8.changes")
      .select("_change_type").as[String].collect().toSet
    assert(plain == Set("insert", "delete"), plain.toString)
    // and the paired feed is the same multiset of DATA rows — only the
    // tags differ (preimage<->delete, postimage<->insert)
    def normalized(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_change_type",
          when($"_change_type" === "update_preimage", "delete")
            .when($"_change_type" === "update_postimage", "insert")
            .otherwise($"_change_type"))
        .select("_commit_version", "_change_type", "id", "v")
        .as[(Long, String, Long, String)].collect().toSeq.sorted
    assert(normalized(spark.read.option("updateImages", "true")
        .table("gct.ns.ct8.changes")) ==
      normalized(spark.table("gct.ns.ct8.changes")))
    // pairing survives SPLIT insert parts — each split classifies against
    // the same cached key sets
    val split = spark.read.option("updateImages", "true")
      .option("splitSize", "8192").table("gct.ns.ct8.changes")
      .select($"_commit_version", $"_change_type", $"id", $"v")
      .as[(Long, String, Long, String)].collect().toSeq.sorted
    assert(split == paired.sorted, s"split pairing diverged")
  }

  test("no pushdown is ever offered on .changes reads — a header-only " +
      "COUNT over a PAIRED feed would count pre-pairing taxonomy (X104)") {
    import spark.implicits._
    history("ct9")
    // contract pin: the scan builder implements NO pushdown mixin — the
    // paired feed reclassifies rows at READ time (delete->update_preimage,
    // insert->update_postimage), so any header-only shortcut (agg, topN,
    // limit-before-classify) would answer from the pre-pairing taxonomy
    import org.apache.spark.sql.connector.read._
    val sb = new GraftChangesTable(
      new java.io.File(warehouse, "ns/ct9").getAbsolutePath,
      spark.table("gct.ns.ct9.changes").schema,
      GraftCatalog.readerJsonWithDefaults(spark.table("gct.ns.ct9").schema),
      new org.apache.spark.sql.types.StructType(), None)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("updateImages", "true")))
    assert(!sb.isInstanceOf[SupportsPushDownAggregates])
    assert(!sb.isInstanceOf[SupportsPushDownLimit])
    assert(!sb.isInstanceOf[SupportsPushDownTopN])
    assert(!sb.isInstanceOf[SupportsPushDownFilters])
    assert(!sb.isInstanceOf[SupportsPushDownV2Filters])
    assert(!sb.isInstanceOf[SupportsPushDownRequiredColumns])
    // and the aggregate executes AFTER classification: counts follow the
    // paired taxonomy, with a real Aggregate in the plan (nothing pushed)
    val agg = spark.read.option("updateImages", "true")
      .table("gct.ns.ct9.changes").groupBy("_change_type").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.toLowerCase.contains("pushedaggregat"), plan)
    val got = agg.as[(String, Long)].collect().toMap
    assert(got == Map("insert" -> 51L, "delete" -> 5L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), got.toString)
  }

  test("the batch change feed rides the columnar lane (X110): insert parts " +
      "batch-decode, delete parts skip-walk; identical to the row lane") {
    import spark.implicits._
    history("ct10") // 50 inserts; 5 position deletes; eq upsert (7 + 99)
    val col = spark.read.table("gct.ns.ct10.changes")
    assert(col.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      col.queryExecution.executedPlan.toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"_commit_version", $"_change_type", $"id", $"v")
      .as[(Long, String, Long, String)].collect().toSeq.sorted
    // the log `history` wrote: v1 inserts, v2's position deletes, and v3's
    // upsert (the old generation of key 7 deleted, two rows inserted)
    val written = (0L until 50L).map(i => (1L, "insert", i, s"v$i")) ++
      (0L until 50L).filter(_ % 10 == 3).map(i => (2L, "delete", i, s"v$i")) ++
      Seq((3L, "delete", 7L, "v7"), (3L, "insert", 7L, "UPD7"), (3L, "insert", 99L, "NEW99"))
    val a = canon(col)
    assert(a == written.sorted)
    assert(a.count(e => e._1 == 2L && e._2 == "delete") == 5)
    assert(a.contains((3L, "delete", 7L, "v7")) &&
      a.contains((3L, "insert", 7L, "UPD7")) &&
      a.contains((3L, "insert", 99L, "NEW99")), a.toString)
    // a PAIRED feed vectorizes too (r22): the decode stays batch-wide and
    // only the _change_type column switches to a writable vector filled by
    // the bound-extractor key probe — the upsert's shared-key delete+insert
    // reads as one UPDATE pair
    val pairedCol = spark.read.option("updateImages", "true").table("gct.ns.ct10.changes")
    assert(pairedCol.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      pairedCol.queryExecution.executedPlan.toString)
    val paired = written.map {
      case (3L, "delete", 7L, v) => (3L, "update_preimage", 7L, v)
      case (3L, "insert", 7L, v) => (3L, "update_postimage", 7L, v)
      case e => e
    }
    assert(canon(pairedCol) == paired.sorted,
      "the paired feed must equal the written log with the upsert paired")
    assert(pairedCol.count() == a.length)
    val tags = pairedCol.select($"_change_type")
      .as[String].collect().groupBy(identity).view.mapValues(_.length).toMap
    assert(tags.getOrElse("update_preimage", 0) == 1 &&
      tags.getOrElse("update_postimage", 0) == 1, tags.toString)
    // identity-partitioned feeds vectorize too: partition values are
    // per-part constants, exactly like a table scan
    spark.sql(
      """CREATE TABLE gct.ns.ct11 (id BIGINT, lang STRING)
        |USING `graft-ocf` PARTITIONED BY (lang)
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    Seq((1L, "en"), (2L, "fr"), (3L, "en")).toDF("id", "lang")
      .writeTo("gct.ns.ct11").append()
    spark.sql("DELETE FROM gct.ns.ct11 WHERE id = 3")
    val pf = spark.table("gct.ns.ct11.changes")
    assert(pf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      pf.queryExecution.executedPlan.toString)
    val feed = pf.select("_commit_version", "_change_type", "id", "lang")
      .as[(Long, String, Long, String)].collect().toSeq.sorted
    assert(feed == Seq((1L, "insert", 1L, "en"), (1L, "insert", 2L, "fr"),
      (1L, "insert", 3L, "en"), (2L, "delete", 3L, "en")), feed.toString)
  }

  test("updateImages pairs string keys whose old rows span more than one batch") {
    import spark.implicits._
    // 5,000 rows in one old file, all re-upserted: the insert part's
    // postimage classifier reads the old file's killed keys back in two
    // batches (4,096 rows each at most), and every key must still probe
    spark.sql(
      """CREATE TABLE gct.ns.ct12 (k STRING, v BIGINT)
        |USING `graft-ocf`
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    (0L until 5000L).map(i => (f"key-$i%05d", i)).toDF("k", "v")
      .coalesce(1).writeTo("gct.ns.ct12").append()                     // v1
    (0L until 5000L).map(i => (f"key-$i%05d", -i)).toDF("k", "v")
      .coalesce(1).writeTo("gct.ns.ct12").option("upsertKeys", "k").append() // v2
    val tags = spark.read.option("updateImages", "true")
      .option("startingVersion", "1").table("gct.ns.ct12.changes")
      .where($"_commit_version" === 2L)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(tags == Map("update_preimage" -> 5000L, "update_postimage" -> 5000L), tags.toString)
  }
}
