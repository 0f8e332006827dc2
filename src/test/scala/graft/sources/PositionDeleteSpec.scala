package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read position deletes (X87): `write.delete.mode=merge-on-read`
  * makes DELETE write (file, pos) delete files instead of rewriting data
  * files; scans apply them; `rewrite_position_deletes` folds them back. */
class PositionDeleteSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-mor-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-mor-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gm", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gm.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gm.ns")
    s
  }

  private def fs = new Path(warehouse.getAbsolutePath)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def snapFiles(table: String) = {
    val root = new Path(warehouse.getAbsolutePath, s"ns/$table")
    OcfSnapshots.latest(fs, root).get.files
  }

  test("MoR DELETE writes delete files and rewrites zero data bytes") {
    spark.sql(
      """CREATE TABLE gm.ns.mor (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id',
        |  `write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gm.ns.mor SELECT id, concat('a', id) FROM range(100)")
    spark.sql("INSERT INTO gm.ns.mor SELECT id, concat('b', id) FROM range(100, 250)")
    val dataBefore = snapFiles("mor").filter(_.deleteOf.isEmpty)
      .map(f => f.path -> f.len).toMap
    assert(dataBefore.nonEmpty)

    spark.sql("DELETE FROM gm.ns.mor WHERE id % 10 = 3")

    // the data files are byte-identical survivors; only delete files landed
    val after = snapFiles("mor")
    val dataAfter = after.filter(_.deleteOf.isEmpty).map(f => f.path -> f.len).toMap
    assert(dataAfter == dataBefore, "MoR DELETE must not rewrite data files")
    val dels = after.filter(_.deleteOf.isDefined)
    assert(dels.nonEmpty, "DELETE must land position-delete files")
    dels.foreach(d => assert(dataBefore.contains(d.deleteOf.get),
      s"delete file targets unknown ${d.deleteOf}"))
    assert(dels.forall(_.path.startsWith("_delete-")),
      s"delete files are underscore-hidden, got ${dels.map(_.path)}")

    // read-side application: deleted ids gone, everything else intact
    val got = spark.table("gm.ns.mor").select("id")
      .collect().map(_.getLong(0)).sorted
    val expect = (0L until 250L).filterNot(_ % 10 == 3)
    assert(got.toSeq == expect, s"got ${got.length} rows")
    // count(*) (the agg-pushdown shape) must see deletes too
    assert(spark.sql("SELECT count(*) FROM gm.ns.mor").head.getLong(0)
      == expect.length.toLong)
    // predicate + projection still work on burdened files
    assert(spark.sql("SELECT v FROM gm.ns.mor WHERE id = 13").collect().isEmpty)
    assert(spark.sql("SELECT v FROM gm.ns.mor WHERE id = 14").head.getString(0) == "a14")

    // time travel: the pre-DELETE version still shows every row
    assert(spark.sql("SELECT count(*) FROM gm.ns.mor VERSION AS OF 2")
      .head.getLong(0) == 250L)

    // a second DELETE stacks (dedup + merge across delete files)
    spark.sql("DELETE FROM gm.ns.mor WHERE id % 10 = 7 OR id % 10 = 3")
    val got2 = spark.table("gm.ns.mor").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(got2.toSeq == (0L until 250L).filterNot(i => i % 10 == 3 || i % 10 == 7))
  }

  test(".files reports position-delete files with their targets") {
    val rows = spark.sql(
      "SELECT file, content, delete_of FROM gm.ns.mor.files").collect()
    val dataRows = rows.filter(_.getString(1) == "data")
    val delRows = rows.filter(_.getString(1) == "position-deletes")
    assert(dataRows.nonEmpty && delRows.nonEmpty)
    assert(delRows.forall(r => r.getString(2) != null))
    assert(dataRows.forall(r => r.getString(2) == null))
  }

  test("streaming read refuses while delete files are attached") {
    // the refusal surfaces when the stream plans its first batch
    val q = spark.readStream.table("gm.ns.mor")
      .writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mor-ck").toString)
      .start()
    val e = intercept[Exception] {
      try q.awaitTermination(60000) finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("rewrite_position_deletes")),
      chain(e).mkString(" | "))
  }

  test("rewrite_position_deletes folds deletes into clean files") {
    val before = spark.table("gm.ns.mor").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val untouched = snapFiles("mor").filter(f => f.deleteOf.isEmpty &&
      !snapFiles("mor").exists(_.deleteOf.contains(f.path))).map(_.path).toSet

    val res = spark.sql(
      "CALL gm.system.rewrite_position_deletes(table => 'ns.mor')").collect().head
    assert(res.getLong(0) > 0 && res.getLong(1) > 0)

    val after = snapFiles("mor")
    assert(!after.exists(_.deleteOf.isDefined), "all delete files folded")
    // files that carried no deletes survive as the same entries
    untouched.foreach(p => assert(after.exists(_.path == p), s"$p must survive"))
    // content identical after the fold
    val got = spark.table("gm.ns.mor").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == before.toSeq)
    // idempotent: nothing left to fold
    val res2 = spark.sql(
      "CALL gm.system.rewrite_position_deletes(table => 'ns.mor')").collect().head
    assert(res2.getLong(0) == 0 && res2.getLong(1) == 0)
    // streaming is allowed again
    val q = spark.readStream.table("gm.ns.mor")
      .writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mor-ck2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
  }

  test("copy-on-write UPDATE over a delete-burdened table applies deletes first") {
    spark.sql(
      """CREATE TABLE gm.ns.morup (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gm.ns.morup SELECT id, concat('x', id) FROM range(50)")
    spark.sql("DELETE FROM gm.ns.morup WHERE id = 7")
    assert(snapFiles("morup").exists(_.deleteOf.isDefined))
    // UPDATE stays CoW: it rewrites the burdened file with deletes applied,
    // and the commit drops the now-orphaned delete entry
    spark.sql("UPDATE gm.ns.morup SET v = 'updated' WHERE id = 8")
    val got = spark.table("gm.ns.morup").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!got.contains(7L), "deleted row must not resurrect through CoW")
    assert(got(8L) == "updated")
    assert(got(9L) == "x9")
    assert(!snapFiles("morup").exists(_.deleteOf.isDefined),
      "orphaned delete entries must drop with their rewritten target")
  }

  test("_pos metadata column: raw ordinals, unsplit plans") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pos").toFile
    (0L until 1000L).map(i => (i, s"d$i")).toDF("id", "v")
      .coalesce(1)
      .write.format("graft-ocf").mode("append").save(dir.getAbsolutePath)
    val rows = spark.read.format("graft-ocf")
      // tiny splitSize would split the file — _pos must force one task
      .option("splitSize", "1024")
      .load(dir.getAbsolutePath)
      .selectExpr("id", "_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 1000)
    rows.foreach { case (id, pos) => assert(id == pos, s"id $id at pos $pos") }
  }

  test("MoR delete + fold on a hidden-partitioned (days) table") {
    spark.sql(
      """CREATE TABLE gm.ns.mortf (ts TIMESTAMP, id BIGINT)
        |USING `graft-ocf` PARTITIONED BY (days(ts))
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql(
      """INSERT INTO gm.ns.mortf
        |SELECT timestamp'2024-07-01 00:00:00'
        |  + make_interval(0,0,0,0,0,0,id * 7200), id FROM range(0, 60)""".stripMargin)
    spark.sql("DELETE FROM gm.ns.mortf WHERE id % 5 = 2")
    val expect = (0L until 60L).filterNot(_ % 5 == 2)
    assert(spark.table("gm.ns.mortf").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    assert(snapFiles("mortf").exists(_.deleteOf.isDefined))
    // the fold rewrites only burdened files, back into their day dirs
    spark.sql("CALL gm.system.rewrite_position_deletes(table => 'ns.mortf')")
      .collect()
    assert(!snapFiles("mortf").exists(_.deleteOf.isDefined))
    assert(spark.table("gm.ns.mortf").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // raw-ts pruning still serves the rewritten layout
    assert(spark.sql(
      """SELECT count(*) FROM gm.ns.mortf
        |WHERE ts < timestamp'2024-07-02 00:00:00'""".stripMargin)
      .head.getLong(0) == expect.count(_ < 12))
  }

  test("merge-on-read UPDATE/MERGE: delete files + fresh data files, no rewrites") {
    spark.sql(
      """CREATE TABLE gm.ns.moru (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id',
        |  `write.delete.mode` 'merge-on-read',
        |  `write.update.mode` 'merge-on-read',
        |  `write.merge.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gm.ns.moru SELECT id, concat('a', id) FROM range(60)")
    spark.sql("INSERT INTO gm.ns.moru SELECT id, concat('b', id) FROM range(60, 100)")
    val dataBefore = snapFiles("moru").filter(_.deleteOf.isEmpty)
      .map(f => f.path -> f.len).toMap

    spark.sql("UPDATE gm.ns.moru SET v = concat('u', id) WHERE id % 10 = 4")

    val after = snapFiles("moru")
    // every pre-update data file survives byte-identical; the update added
    // delete files AND fresh data files holding the replacements
    dataBefore.foreach { case (p, len) =>
      assert(after.exists(f => f.path == p && f.len == len && f.deleteOf.isEmpty),
        s"$p must survive unreplaced") }
    assert(after.exists(_.deleteOf.isDefined), "update must land delete files")
    assert(after.count(_.deleteOf.isEmpty) > dataBefore.size,
      "update must land fresh data files for the replacements")

    val got = spark.table("gm.ns.moru").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 100)
    assert(got(4L) == "u4" && got(94L) == "u94")
    assert(got(5L) == "a5" && got(95L) == "b95")
    // pre-update snapshot intact
    assert(spark.sql(
      "SELECT v FROM gm.ns.moru VERSION AS OF 2 WHERE id = 4").head.getString(0) == "a4")

    // MERGE: matched rows update, unmatched insert — all merge-on-read
    spark.sql(
      """MERGE INTO gm.ns.moru t
        |USING (SELECT id, concat('m', id) AS v
        |       FROM range(95, 105)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got2 = spark.table("gm.ns.moru").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2.size == 105)
    assert(got2(95L) == "m95" && got2(99L) == "m99")
    assert(got2(100L) == "m100" && got2(104L) == "m104")
    assert(got2(94L) == "u94" && got2(5L) == "a5")

    // the fold restores a clean table with identical content
    spark.sql("CALL gm.system.rewrite_position_deletes(table => 'ns.moru')")
      .collect()
    assert(!snapFiles("moru").exists(_.deleteOf.isDefined))
    val got3 = spark.table("gm.ns.moru").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got3 == got2)
  }

  test("MoR MERGE/UPDATE over interleaved partitions: one data file per " +
      "(write task, partition), sorted delta plan, same rows as copy-on-write") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.WriteDeltaExec
    val mor = Seq("delete", "update", "merge")
      .map(c => s"`write.$c.mode` 'merge-on-read'").mkString(", ")
    Seq("pcow" -> "", "pmor" -> s", $mor").foreach { case (t, extra) =>
      spark.sql(
        s"""CREATE TABLE gm.ns.$t (k BIGINT, p INT, v BIGINT, s STRING)
           |USING `graft-ocf` PARTITIONED BY (p)
           |OPTIONS (statsColumns 'k', bloomColumns 'k'$extra)""".stripMargin)
      spark.sql(s"INSERT INTO gm.ns.$t (k, p, v, s) SELECT id, CAST(id % 4 AS INT), id, " +
        "concat('s', id) FROM range(400)")
    }
    // MoR MERGE/UPDATE write through WriteDeltaExec: capture its executed plan
    @volatile var deltaPlans = List.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.executedPlan.foreach {
        case w: WriteDeltaExec => deltaPlans ::= w
        case _ => ()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def dataFiles(t: String) = snapFiles(t).filter(_.deleteOf.isEmpty).map(_.path).toSet
    def run(t: String, stmt: String): Set[String] = {
      val before = dataFiles(t)
      spark.sql(stmt.replace("TBL", s"gm.ns.$t"))
      dataFiles(t) -- before
    }
    // 300 source rows whose partition changes on every row; keys 200..499
    // half match existing rows, half insert
    val merge =
      """MERGE INTO TBL t
        |USING (SELECT id AS k, CAST(id % 4 AS INT) AS p, id * 10 AS v,
        |              concat('m', id) AS s FROM range(200, 500)) src
        |ON t.k = src.k
        |WHEN MATCHED THEN UPDATE SET v = src.v, s = src.s
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    val update = "UPDATE TBL SET v = v + 1 WHERE k % 7 = 0"
    run("pcow", merge)
    run("pcow", update)
    spark.listenerManager.register(listener)
    val (mergeAdded, updateAdded) =
      try {
        val added = (run("pmor", merge), run("pmor", update))
        // listener events arrive asynchronously
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (deltaPlans.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
        added
      } finally spark.listenerManager.unregister(listener)

    assert(deltaPlans.size == 2, s"MERGE and UPDATE must write deltas: $deltaPlans")
    val helper = new AdaptiveSparkPlanHelper {}
    deltaPlans.foreach { w =>
      val sorts = helper.collect(w) {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.exists(_.sortOrder.headOption.exists(_.child.references
          .exists(_.name == "p"))),
        s"the delta write must sort on p below it:\n$w")
    }
    // (MERGE, UPDATE) with their write tasks: the partitions of the input
    Seq(mergeAdded, updateAdded).zip(deltaPlans.reverse).foreach { case (added, w) =>
      val tasks = helper.stripAQEPlan(w.children.head).execute().getNumPartitions
      assert(added.nonEmpty)
      // no `-cNNN` chunk rolled: at most one file per (task, partition)
      assert(!added.exists(_.matches(".*-c\\d{3}\\.avro")), added)
      val perPart = added.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      assert(perPart.keySet == (0 until 4).map(i => s"p=$i").toSet, perPart.keySet)
      perPart.values.foreach(fs => assert(fs.size <= tasks,
        s"${fs.size} files in one partition from $tasks write tasks: $fs"))
    }

    def agg(t: String) = spark.sql(
      s"SELECT count(*), sum(v), sum(k) FROM gm.ns.$t").head.toSeq
    def rows(t: String) = spark.table(s"gm.ns.$t").select("k", "p", "v", "s").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).sorted.toSeq
    assert(agg("pmor") == agg("pcow"))
    assert(agg("pmor").head == 500L)
    assert(rows("pmor") == rows("pcow"))
    assert(snapFiles("pmor").exists(_.deleteOf.isDefined), "MoR must land delete files")
  }

  test("expire_snapshots physically reclaims folded delete files") {
    spark.sql(
      """CREATE TABLE gm.ns.morx (id BIGINT)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gm.ns.morx SELECT id FROM range(30)")
    spark.sql("DELETE FROM gm.ns.morx WHERE id % 3 = 1")
    val root = new Path(warehouse.getAbsolutePath, "ns/morx")
    def deleteFilesOnDisk(): Seq[String] = {
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val n = it.next().getPath.getName
        if (n.startsWith("_delete-")) b += n
      }
      b.result()
    }
    assert(deleteFilesOnDisk().nonEmpty)
    spark.sql("CALL gm.system.rewrite_position_deletes(table => 'ns.morx')")
      .collect()
    // folded OUT of the manifest, but retained on disk for time travel
    assert(!snapFiles("morx").exists(_.deleteOf.isDefined))
    assert(deleteFilesOnDisk().nonEmpty, "history retains the delete files")
    assert(spark.sql("SELECT count(*) FROM gm.ns.morx VERSION AS OF 2")
      .head.getLong(0) == 20L, "pre-fold version still reads through them")
    spark.sql(
      "CALL gm.system.expire_snapshots(table => 'ns.morx', keep_last => 1)")
      .collect()
    assert(deleteFilesOnDisk().isEmpty,
      "expiry must reclaim delete files referenced only by expired history")
    assert(spark.table("gm.ns.morx").count() == 20L)
  }

  test("ALTER TABLE flips row-level modes; layout keys and bad values refuse") {
    spark.sql("CREATE TABLE gm.ns.morf (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gm.ns.morf SELECT id FROM range(20)")
    // default copy-on-write: DELETE rewrites, no delete files
    spark.sql("DELETE FROM gm.ns.morf WHERE id = 1")
    assert(!snapFiles("morf").exists(_.deleteOf.isDefined))
    // flip to merge-on-read: the NEXT delete lands position files
    spark.sql(
      "ALTER TABLE gm.ns.morf SET TBLPROPERTIES (`write.delete.mode` 'merge-on-read')")
    spark.sql("DELETE FROM gm.ns.morf WHERE id = 2")
    assert(snapFiles("morf").exists(_.deleteOf.isDefined))
    assert(spark.table("gm.ns.morf").count() == 18L)
    // a bad value fails AT ALTER, not at some future DELETE
    val e = intercept[Exception] {
      spark.sql(
        "ALTER TABLE gm.ns.morf SET TBLPROPERTIES (`write.delete.mode` 'sideways')")
    }
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
    // partition transforms ARE alterable (X100 spec evolution), but a bad
    // spec fails AT ALTER — days() over a bigint is not a transform
    val e2 = intercept[Exception] {
      spark.sql(
        "ALTER TABLE gm.ns.morf SET TBLPROPERTIES (transformPartitions 'days(id)')")
    }
    assert(e2.getMessage.contains("does not support type"), e2.getMessage)
    // the bucket spec stays immutable — ids are data-bearing layout
    val e3 = intercept[Exception] {
      spark.sql(
        "ALTER TABLE gm.ns.morf SET TBLPROPERTIES (numBuckets '8')")
    }
    assert(e3.getMessage.contains("layout"), e3.getMessage)
  }

  test("incremental read refuses a range containing a MoR delete") {
    spark.sql(
      """CREATE TABLE gm.ns.morinc (id BIGINT)
        |USING `graft-ocf` OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO gm.ns.morinc SELECT id FROM range(10)")
    spark.sql("INSERT INTO gm.ns.morinc SELECT id FROM range(10, 20)")
    spark.sql("DELETE FROM gm.ns.morinc WHERE id = 5")
    val e = intercept[Exception] {
      spark.read.option("startingVersion", "1").table("gm.ns.morinc").collect()
    }
    assert(e.getMessage.contains("position-delete"), e.getMessage)
  }

  test("compact's fold is pinned to its snapshot: a file appended after " +
      "the pin contributes NO rows to the compacted output") {
    // the CompactProcedure derives targetsData AND beforeRel from ONE
    // snapshot read and restricts the compact read to exactly targetsData
    // (onlyFiles) — so a concurrent append between pin and commit survives
    // untouched instead of having its rows silently DUPLICATED (folded
    // into the output while the original, absent from beforeRel, also
    // survives the commit). This pins the onlyFiles mechanism.
    spark.sql("CREATE TABLE gm.ns.cpin (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gm.ns.cpin SELECT id FROM range(10)")       // v1
    val pinned = snapFiles("cpin").filter(_.isData).map(_.path).toSet
    spark.sql("INSERT INTO gm.ns.cpin SELECT id FROM range(100, 110)") // v2: "concurrent" append
    val root = new Path(warehouse.getAbsolutePath, "ns/cpin")
    val staging = root.toString + ".compact-test"
    OcfMaintenance.compact(spark, root.toString, staging,
      onlyFiles = Some(pinned))
    val out = spark.read.format("graft-ocf")
      .option("recursiveFileLookup", "true").load(staging)
      .collect().map(_.getLong(0)).toSet
    assert(out == (0L until 10L).toSet,
      s"compacted output must hold ONLY the pinned files' rows, got $out")
    fs.delete(new Path(staging), true)
    // and the procedure end-to-end still converges to the right rows
    spark.sql("CALL gm.system.compact(table => 'ns.cpin')")
    assert(spark.table("gm.ns.cpin").collect().map(_.getLong(0)).toSet ==
      ((0L until 10L) ++ (100L until 110L)).toSet)
  }

  test("fold-stability guard: concurrent MoR deletes refuse the fold commit") {
    import GraftProcedures.requireFoldStable
    def d(path: String) = OcfSnapshots.SnapFile(path, 10L)
    def del(path: String, of: String) =
      OcfSnapshots.SnapFile(path, 8L, deleteOf = Some(of))
    val targets = Set("a.avro", "b.avro")
    val folded = Set("del-1.avro")
    val base = Seq(d("a.avro"), d("b.avro"), del("del-1.avro", "a.avro"))
    // unchanged inputs: commit proceeds
    requireFoldStable(base, targets, folded, "t")
    // a concurrent APPEND (new unrelated data file) is not a conflict
    requireFoldStable(base :+ d("c.avro"), targets, folded, "t")
    // a delete file on a NON-target is not a conflict either
    requireFoldStable(base ++ Seq(d("c.avro"), del("del-2.avro", "c.avro")),
      targets, folded, "t")
    // a MoR DELETE that landed on a target AFTER the fold read its inputs:
    // dropping it with the target would resurrect its deleted rows
    intercept[GraftProcedures.FoldConflictException] {
      requireFoldStable(base :+ del("del-2.avro", "b.avro"), targets, folded, "t")
    }
    // a folded delete file that VANISHED (another rewrite won): conflict
    intercept[GraftProcedures.FoldConflictException] {
      requireFoldStable(Seq(d("a.avro"), d("b.avro")), targets, folded, "t")
    }
    // a target replaced by a concurrent rewrite: replaying the fold output
    // would duplicate its rows
    intercept[GraftProcedures.FoldConflictException] {
      requireFoldStable(Seq(d("a.avro"), d("a2.avro"),
        del("del-1.avro", "a.avro")), targets, folded, "t")
    }
  }
}
