package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Change-data-feed reads (X92): inserts/deletes per commit recovered from
  * snapshot diffs and delete files (the `.changes` table's planner) or a
  * copy-on-write multiset diff; refusal on unrecoverable rewrites;
  * row-preserving maintenance emits nothing. */
class GraftChangesSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-cdc-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-cdc-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gc", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gc.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gc.ns")
    s
  }

  private def loc(t: String) = new java.io.File(warehouse, s"ns/$t").getAbsolutePath

  test("insert/delete/update commits emit the exact CDC rows") {
    spark.sql(
      """CREATE TABLE gc.ns.cdc (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (
        |  `write.delete.mode` 'merge-on-read',
        |  `write.update.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gc.ns.cdc SELECT id, concat('a', id) FROM range(10)")   // v1
    spark.sql("INSERT INTO gc.ns.cdc SELECT id, concat('b', id) FROM range(10, 16)") // v2
    spark.sql("DELETE FROM gc.ns.cdc WHERE id IN (3, 12)")                          // v3
    spark.sql("UPDATE gc.ns.cdc SET v = concat('u', id) WHERE id IN (5, 13)")       // v4

    val ch = GraftChanges.changes(spark, loc("cdc"), 1L)
      .select("_commit_version", "_change_type", "id", "v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    // v2: 6 inserts; v3: 2 deletes (original values); v4: delete+insert pairs
    assert(ch.filter(_._1 == 2L).toSeq ==
      (10L until 16L).map(i => (2L, "insert", i, s"b$i")))
    assert(ch.filter(_._1 == 3L).toSeq ==
      Seq((3L, "delete", 3L, "a3"), (3L, "delete", 12L, "b12")))
    assert(ch.filter(_._1 == 4L).toSeq == Seq(
      (4L, "delete", 5L, "a5"), (4L, "delete", 13L, "b13"),
      (4L, "insert", 5L, "u5"), (4L, "insert", 13L, "u13")))
    // bounded range: only v2
    val ch2 = GraftChanges.changes(spark, loc("cdc"), 1L, Some(2L))
    assert(ch2.count() == 6L)
    // applying the feed to the v1 snapshot reproduces the v4 snapshot
    val base = spark.sql("SELECT id, v FROM gc.ns.cdc VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val replayed = ch.foldLeft(base) {
      case (s, (_, "insert", id, v)) => s + ((id, v))
      case (s, (_, "delete", id, v)) => s - ((id, v))
      case (s, _) => s
    }
    val now = spark.table("gc.ns.cdc")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed == now, "replaying the feed must reproduce the head")
    // catalog-qualified convenience: same feed, schema from the catalog
    val viaCat = GraftChanges.forTable(spark, "gc.ns.cdc", 1L)
      .select("_commit_version", "_change_type", "id", "v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(viaCat.toSeq == ch.toSeq)
  }

  test("row-preserving rewrites emit nothing; CoW rewrites refuse") {
    spark.sql(
      """CREATE TABLE gc.ns.cdp (id BIGINT)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gc.ns.cdp SELECT id FROM range(10)")       // v1
    spark.sql("DELETE FROM gc.ns.cdp WHERE id = 4")                   // v2
    spark.sql("CALL gc.system.rewrite_position_deletes(table => 'ns.cdp')") // v3
    spark.sql("INSERT INTO gc.ns.cdp SELECT id FROM range(10, 12)")   // v4
    val ch = GraftChanges.changes(spark, loc("cdp"), 1L)
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the fold (v3) contributes nothing; v2's delete and v4's inserts do
    assert(ch.toSet == Set((2L, "delete", 4L),
      (4L, "insert", 10L), (4L, "insert", 11L)))

    // a copy-on-write UPDATE replaces files: the multiset diff of the
    // replaced vs replacement rows recovers the exact delete+insert pair
    spark.sql("UPDATE gc.ns.cdp SET id = id + 100 WHERE id = 5")      // v5 (CoW)
    val ch5 = GraftChanges.changes(spark, loc("cdp"), 4L, Some(5L))
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(ch5.toSet == Set((5L, "delete", 5L), (5L, "insert", 105L)), ch5.toSeq)
    // the full range unions the MoR and CoW recoveries
    val chAll = GraftChanges.changes(spark, loc("cdp"), 1L)
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(chAll.toSet == Set((2L, "delete", 4L),
      (4L, "insert", 10L), (4L, "insert", 11L),
      (5L, "delete", 5L), (5L, "insert", 105L)), chAll.toSeq)
    // a TRUE overwrite stays refused — its per-row changes are the whole
    // table, which is not an incremental answer
    spark.sql("INSERT OVERWRITE gc.ns.cdp SELECT id FROM range(3)")   // v6
    val e = intercept[Exception] {
      GraftChanges.changes(spark, loc("cdp"), 1L).collect()
    }
    assert(e.getMessage.contains("not recoverable"), e.getMessage)
    // starting after the rewriting commit works again
    spark.sql("INSERT INTO gc.ns.cdp SELECT id FROM range(20, 22)")   // v7
    val ch2 = GraftChanges.changes(spark, loc("cdp"), 6L)
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(ch2.toSet == Set((7L, "insert", 20L), (7L, "insert", 21L)))
  }

  test("updateImages=true pairs an upsert's delete+insert by key on the " +
      "programmatic surface too (X104)") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gc.ns.cdpair (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id',
        |  `write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gc.ns.cdpair SELECT id, concat('a', id) FROM range(20)") // v1
    // v2: upsert — ids 3,7 exist (update pairs), 100 is fresh (insert)
    Seq((3L, "u3"), (7L, "u7"), (100L, "fresh")).toDF("id", "v")
      .writeTo("gc.ns.cdpair").option("upsertKeys", "id").append()                  // v2
    // v3: MoR position delete — never paired, even under the option
    spark.sql("DELETE FROM gc.ns.cdpair WHERE id = 5")                              // v3
    val paired = GraftChanges.changes(spark, loc("cdpair"), 1L, updateImages = true)
      .select("_commit_version", "_change_type", "id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(paired.filter(_._1 == 2L).toSeq == Seq(
      (2L, "insert", 100L, "fresh"),
      (2L, "update_postimage", 3L, "u3"), (2L, "update_postimage", 7L, "u7"),
      (2L, "update_preimage", 3L, "a3"), (2L, "update_preimage", 7L, "a7")),
      paired.filter(_._1 == 2L).toSeq.toString)
    assert(paired.filter(_._1 == 3L).toSeq == Seq((3L, "delete", 5L, "a5")))
    // default stays delete+insert, same multiset of data rows
    val plain = GraftChanges.changes(spark, loc("cdpair"), 1L)
      .select("_commit_version", "_change_type", "id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(plain.count(_._2 == "insert") ==
      paired.count(t => t._2 == "insert" || t._2 == "update_postimage"))
    assert(plain.count(_._2 == "delete") ==
      paired.count(t => t._2 == "delete" || t._2 == "update_preimage"))
    assert(!plain.exists(t => t._2.startsWith("update_")))
    // forTable passes the flag through
    val viaCat = GraftChanges.forTable(spark, "gc.ns.cdpair", 1L, updateImages = true)
      .select("_change_type").collect().map(_.getString(0)).toSet
    assert(viaCat.contains("update_preimage") && viaCat.contains("update_postimage"))
  }

  test("CoW row-level commits pair by the declared upsertKeys (X104)") {
    // copy-on-write UPDATE: the multiset diff has no delete files to derive
    // keys from — the table's declared upsertKeys option names the row
    // identity, and forTable routes it into the pairing
    spark.sql(
      """CREATE TABLE gc.ns.cowpair (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (upsertKeys 'id')""".stripMargin)
    spark.sql("INSERT INTO gc.ns.cowpair SELECT id, concat('a', id) FROM range(12)") // v1
    spark.sql("UPDATE gc.ns.cowpair SET v = concat('u', id) WHERE id IN (2, 9)")     // v2 (CoW)
    val paired = GraftChanges.forTable(spark, "gc.ns.cowpair", 1L, updateImages = true)
      .select("_commit_version", "_change_type", "id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(paired.filter(_._1 == 2L).toSeq == Seq(
      (2L, "update_postimage", 2L, "u2"), (2L, "update_postimage", 9L, "u9"),
      (2L, "update_preimage", 2L, "a2"), (2L, "update_preimage", 9L, "a9")),
      paired.toSeq.toString)
    // the unpaired default is unchanged (delete+insert), and the path-based
    // call pairs only when the caller names the keys
    val plain = GraftChanges.changes(spark, loc("cowpair"), 1L)
      .select("_change_type").collect().map(_.getString(0)).toSet
    assert(plain == Set("insert", "delete"), plain.toString)
    val explicitKeys = GraftChanges.changes(spark, loc("cowpair"), 1L,
      updateImages = true, pairKeys = Seq("id"))
      .select("_change_type").collect().map(_.getString(0)).toSet
    assert(explicitKeys == Set("update_preimage", "update_postimage"),
      explicitKeys.toString)
    // a CoW DELETE (no re-insert of the key) stays a plain delete
    spark.sql("DELETE FROM gc.ns.cowpair WHERE id = 4")                              // v3
    val afterDel = GraftChanges.forTable(spark, "gc.ns.cowpair", 2L, updateImages = true)
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(afterDel.toSeq == Seq((3L, "delete", 4L)), afterDel.toSeq.toString)
  }

  test("one engine: a MoR DELETE/UPDATE, upsert, compact and CoW DELETE " +
      "range reads as literal rows, and its non-CoW prefix is the " +
      ".changes read") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gc.ns.onefeed (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id',
        |  `write.delete.mode` 'merge-on-read',
        |  `write.update.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gc.ns.onefeed SELECT id, concat('a', id) FROM range(6)") // v1
    spark.sql("DELETE FROM gc.ns.onefeed WHERE id = 1")                             // v2
    spark.sql("UPDATE gc.ns.onefeed SET v = concat('u', id) WHERE id = 2")          // v3
    Seq((3L, "p3"), (10L, "n10")).toDF("id", "v")
      .writeTo("gc.ns.onefeed").option("upsertKeys", "id").append()                 // v4
    spark.sql("CALL gc.system.compact(table => 'ns.onefeed')")                      // v5
    spark.sql("ALTER TABLE gc.ns.onefeed " +
      "SET TBLPROPERTIES ('write.delete.mode'='copy-on-write')")
    spark.sql("DELETE FROM gc.ns.onefeed WHERE id = 4")                             // v6 (CoW)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("_commit_version", "_change_type", "id", "v")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq.sorted
    val cow = Seq((6L, "delete", 4L, "a4"))
    val expected = Map(
      false -> (Seq((2L, "delete", 1L, "a1"),
        (3L, "delete", 2L, "a2"), (3L, "insert", 2L, "u2"),
        (4L, "delete", 3L, "a3"), (4L, "insert", 3L, "p3"),
        (4L, "insert", 10L, "n10")) ++ cow),
      // the upsert pairs by its key; the UPDATE's position deletes never do
      true -> (Seq((2L, "delete", 1L, "a1"),
        (3L, "delete", 2L, "a2"), (3L, "insert", 2L, "u2"),
        (4L, "insert", 10L, "n10"),
        (4L, "update_postimage", 3L, "p3"),
        (4L, "update_preimage", 3L, "a3")) ++ cow))
    Seq(false, true).foreach { images =>
      val feed = rows(GraftChanges.forTable(spark, "gc.ns.onefeed", 1L,
        updateImages = images))
      assert(feed == expected(images), s"updateImages=$images: $feed")
      assert(rows(GraftChanges.changes(spark, loc("onefeed"), 1L,
        updateImages = images)) == feed, s"updateImages=$images")
      val table = rows(spark.read.option("startingVersion", "1")
        .option("endingVersion", "5").option("updateImages", images.toString)
        .table("gc.ns.onefeed.changes"))
      assert(feed.filter(_._1 <= 5L) == table, s"updateImages=$images: $table")
    }
  }

  test("a range across expired versions reads files born inside the gap " +
      "as of the next retained version") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gc.ns.gap (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id',
        |  `write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gc.ns.gap SELECT id, concat('a', id) FROM range(3)")     // v1
    spark.sql("INSERT INTO gc.ns.gap SELECT id, concat('b', id) FROM range(10, 13)") // v2
    spark.sql("DELETE FROM gc.ns.gap WHERE id = 11")                                // v3
    Seq((12L, "c12")).toDF("id", "v")
      .writeTo("gc.ns.gap").option("upsertKeys", "id").append()                     // v4
    spark.sql("INSERT INTO gc.ns.gap SELECT 20, 'd20'")                             // v5
    spark.sql("CALL gc.system.tag(table => 'ns.gap', name => 'base', version => 1)")
    spark.sql("CALL gc.system.expire_snapshots(table => 'ns.gap', keep_last => 1)")
    // retained: 1 (tagged) and 5. Rows born and killed inside (1, 5] are
    // no change; the v2 file's survivors are
    val expected = Seq((5L, "insert", 10L, "b10"), (5L, "insert", 12L, "c12"),
      (5L, "insert", 20L, "d20"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("_commit_version", "_change_type", "id", "v")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq.sorted
    assert(rows(GraftChanges.forTable(spark, "gc.ns.gap", 1L)) == expected)
    assert(rows(spark.read.option("startingVersion", "1")
      .table("gc.ns.gap.changes")) == expected)
  }

  test("one CoW MERGE commit mixing updated keys and fresh inserts pairs " +
      "the updates and keeps the inserts plain (self-join disambiguation)") {
    // Both the insert and delete sides of a CoW commit's multiset diff
    // derive from the SAME plan — the pairing joins are self-joins. This
    // shape (some keys on both sides, some only on the insert side) is the
    // one a degenerate/ambiguous resolution would mis-tag.
    spark.sql(
      """CREATE TABLE gc.ns.cowmix (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (upsertKeys 'id')""".stripMargin)
    spark.sql(
      "INSERT INTO gc.ns.cowmix SELECT id, concat('a', id) FROM range(8)") // v1
    spark.sql(
      """MERGE INTO gc.ns.cowmix t
        |USING (SELECT CAST(col1 AS BIGINT) AS id, col2 AS v FROM VALUES
        |  (3, 'm3'), (6, 'm6'), (20, 'm20'), (21, 'm21')) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)                    // v2
    val feed = GraftChanges.forTable(spark, "gc.ns.cowmix", 1L,
        updateImages = true)
      .select("_change_type", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
    assert(feed == Seq(
      ("insert", 20L, "m20"), ("insert", 21L, "m21"),
      ("update_postimage", 3L, "m3"), ("update_postimage", 6L, "m6"),
      ("update_preimage", 3L, "a3"), ("update_preimage", 6L, "a6")),
      feed.toString)
  }
}
