package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read equality deletes (X94): `upsertKeys` makes an append
  * commit additionally land key files that delete every OLDER row with the
  * batch's keys — CDC upsert with NO target scan. Scans filter burdened
  * files by key membership; `rewrite_position_deletes` folds the keys back
  * into clean files. */
class EqualityDeleteSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-eq-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-eq-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.ge", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.ge.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS ge.ns")
    s
  }

  private def fs = new Path(warehouse.getAbsolutePath)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def snapFiles(table: String) = {
    val root = new Path(warehouse.getAbsolutePath, s"ns/$table")
    OcfSnapshots.latest(fs, root).get.files
  }

  private def upsert(table: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.writeTo(s"ge.ns.$table").option("upsertKeys", "id").append()

  test("upsert commits equality deletes; older keyed rows vanish, no target scan") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE ge.ns.docs (id BIGINT, v STRING, n BIGINT)
        |USING `graft-ocf`""".stripMargin)
    spark.sql(
      "INSERT INTO ge.ns.docs SELECT id, concat('v', id), id * 10 FROM range(1000)")
    val dataBefore = snapFiles("docs").filter(_.isData).map(f => f.path -> f.len).toMap

    // CDC batch: keys 0..99 step 5 updated, 3 brand-new keys
    val batch = ((0L until 100L by 5).map(i => (i, s"upd$i", i * 100)) ++
      Seq((5000L, "new5000", 1L), (5001L, "new5001", 2L), (5002L, "new5002", 3L)))
      .toDF("id", "v", "n")
    upsert("docs", batch)

    // the original data files are byte-identical survivors (no target scan,
    // no rewrite); the commit added insert files + equality-delete files
    val after = snapFiles("docs")
    dataBefore.foreach { case (p, l) =>
      assert(after.exists(f => f.path == p && f.len == l && f.isData),
        s"upsert must not touch pre-existing data file $p")
    }
    val eqs = after.filter(_.isEqualityDelete)
    assert(eqs.nonEmpty, "upsert must land equality-delete files")
    assert(eqs.forall(_.equalityOf.contains(Seq("id"))))
    assert(eqs.forall(e => e.seq > 0L), "commit must stamp seq on eq files")
    // new data files are sequenced AT the eq file's commit — not burdened
    val newData = after.filter(f => f.isData && !dataBefore.contains(f.path))
    assert(newData.nonEmpty && newData.forall(f => eqs.forall(_.seq <= f.seq)))

    // read-side: updated keys show the NEW values exactly once
    val got = spark.table("ge.ns.docs").select("id", "v", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == 1003, s"got ${got.length}")
    val byId = got.groupBy(_._1)
    assert(byId.forall(_._2.length == 1), "each key exactly once")
    assert(byId(10L).head == ((10L, "upd10", 1000L)))
    assert(byId(11L).head == ((11L, "v11", 110L)))
    assert(byId(5000L).head == ((5000L, "new5000", 1L)))
    // count(*) must not answer from header stamps while keys are attached
    assert(spark.sql("SELECT count(*) FROM ge.ns.docs").head.getLong(0) == 1003L)
    // a projection that PRUNES the key column still filters correctly
    // (pruning keeps keys readable; Spark projects above the scan)
    val vs = spark.sql("SELECT v FROM ge.ns.docs").collect().map(_.getString(0))
    assert(vs.length == 1003 && vs.contains("upd45") && !vs.contains("v45"))
    // filters compose
    assert(spark.sql("SELECT n FROM ge.ns.docs WHERE id = 45").head.getLong(0) == 4500L)

    // a SECOND upsert stacks: only the newest generation of a key survives
    upsert("docs", Seq((10L, "upd2_10", 7L), (5000L, "upd2_5000", 8L))
      .toDF("id", "v", "n"))
    val got2 = spark.table("ge.ns.docs").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2.size == 1003)
    assert(got2(10L) == "upd2_10" && got2(5000L) == "upd2_5000")
    assert(got2(15L) == "upd15" && got2(11L) == "v11")
  }

  test(".files lists equality-delete files with their key columns") {
    val rows = spark.sql(
      "SELECT file, content, delete_of FROM ge.ns.docs.files").collect()
    val eqRows = rows.filter(_.getString(1) == "equality-deletes")
    assert(eqRows.nonEmpty)
    assert(eqRows.forall(_.getString(2) == "id"))
    assert(rows.exists(_.getString(1) == "data"))
  }

  test("change feed recovers upsert commits as delete + insert rows") {
    val changes = GraftChanges.forTable(spark, "ge.ns.docs", startVersion = 1)
    val byType = changes.collect().groupBy(_.getAs[String]("_change_type"))
    // inserts: the two upsert batches' rows
    assert(byType("insert").length == 23 + 2)
    // deletes: batch 1 kills the 20 pre-existing keyed rows; batch 2 kills
    // batch 1's id=10 and id=5000 generations (id=10's ORIGINAL row was
    // already dead at the before-read, so it is not double-counted)
    assert(byType("delete").length == 20 + 2)
    val delIds = byType("delete").map(_.getAs[Long]("id"))
    assert(delIds.count(_ == 10L) == 2) // deleted at batch1 AND batch2
  }

  test("rewrite_position_deletes folds equality deletes into clean files") {
    val r = spark.sql(
      "CALL ge.system.rewrite_position_deletes(table => 'ns.docs')").collect()(0)
    assert(r.getLong(1) > 0, "folded delete-file count")
    val after = snapFiles("docs")
    assert(after.forall(_.isData), s"fold must drop all delete entries")
    val got = spark.table("ge.ns.docs").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 1003)
    assert(got(10L) == "upd2_10" && got(11L) == "v11" && got(45L) == "upd45")
    // idempotent: nothing left to fold
    val r2 = spark.sql(
      "CALL ge.system.rewrite_position_deletes(table => 'ns.docs')").collect()(0)
    assert(r2.getLong(1) == 0L)
  }

  test("streaming read refuses while equality deletes are attached") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE ge.ns.sdocs (id BIGINT, v STRING)
        |USING `graft-ocf`""".stripMargin)
    spark.sql("INSERT INTO ge.ns.sdocs SELECT id, 'x' FROM range(10)")
    Seq((1L, "y")).toDF("id", "v")
      .writeTo("ge.ns.sdocs").option("upsertKeys", "id").append()
    val dir = new Path(warehouse.getAbsolutePath, "ns/sdocs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eq-ck").toString
    val e = intercept[Exception] {
      spark.readStream.format("graft-ocf").load(dir)
        .writeStream.format("memory").queryName("eq_refuse")
        .option("checkpointLocation", ckpt).start().processAllAvailable()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(
        x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("equality-delete")), chain(e).mkString(" | "))
  }

  test("upsert validation: non-data keys refuse, bare paths upsert") {
    import spark.implicits._
    // every path write commits a manifest, so the key file lands as an
    // equality-delete entry even in a directory that had none before
    val dir = java.nio.file.Files.createTempDirectory("graft-eq-bare").toString
    def put(rows: (Long, String)*): Unit =
      rows.toDF("id", "v").coalesce(1).write.format("graft-ocf")
        .option("upsertKeys", "id").mode("append").save(dir)
    put((1L, "a"))
    put((1L, "b"), (2L, "c"))
    assert(spark.read.format("graft-ocf").load(dir).as[(Long, String)]
      .collect().toSet == Set((1L, "b"), (2L, "c")))
    assert(OcfSnapshots.latest(fs, new Path(dir)).get.files
      .exists(_.isEqualityDelete))
    val e2 = intercept[Exception] {
      Seq((1L, "a")).toDF("id", "v")
        .writeTo("ge.ns.docs").option("upsertKeys", "nope").append()
    }
    assert(e2.getMessage.contains("not a data column"), e2.getMessage)
  }

  test("fold scoping: key-refuted files are NOT rewritten; an insert-only " +
      "upsert's delete retires with zero rewrites") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE ge.ns.fsc (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    spark.range(0, 100).select($"id", org.apache.spark.sql.functions.lit("a").as("v"))
      .coalesce(1).writeTo("ge.ns.fsc").append() // v1: ids 0..99
    spark.range(1000, 1100).select($"id", org.apache.spark.sql.functions.lit("b").as("v"))
      .coalesce(1).writeTo("ge.ns.fsc").append() // v2: ids 1000..1099
    val before = snapFiles("fsc").filter(_.isData).map(f => f.path -> f.len).toMap
    Seq((1050L, "upd")).toDF("id", "v")
      .writeTo("ge.ns.fsc").option("upsertKeys", "id").append() // v3: burdens v2's file only
    val fold1 = spark.sql(
      "CALL ge.system.rewrite_position_deletes(table => 'ns.fsc')").collect()(0)
    assert(fold1.getLong(0) == 1L,
      s"only the admitted file must be rewritten, got ${fold1.getLong(0)}")
    val after = snapFiles("fsc")
    assert(after.forall(!_.isEqualityDelete))
    // the refuted low-range file survives byte-identical
    val lowFile = before.keys.find(_ != before.keys.maxBy(before)).get
    assert(before.exists { case (p, l) =>
      after.exists(f => f.path == p && f.len == l) })
    assert(spark.table("ge.ns.fsc").count() == 200L)
    assert(spark.table("ge.ns.fsc").where($"id" === 1050L)
      .select("v").as[String].collect().toSeq == Seq("upd"))

    // an upsert of a BRAND-NEW key burdens nothing admitted: the fold
    // retires its key file with zero rewrites
    Seq((99999L, "new")).toDF("id", "v")
      .writeTo("ge.ns.fsc").option("upsertKeys", "id").append()
    assert(snapFiles("fsc").exists(_.isEqualityDelete))
    val dataBefore2 = snapFiles("fsc").filter(_.isData).map(f => f.path -> f.len).toSet
    val fold2 = spark.sql(
      "CALL ge.system.rewrite_position_deletes(table => 'ns.fsc')").collect()(0)
    assert(fold2.getLong(0) == 0L && fold2.getLong(1) == 1L, fold2.toString)
    assert(snapFiles("fsc").filter(_.isData).map(f => f.path -> f.len).toSet ==
      dataBefore2, "zero-rewrite fold must leave every data file untouched")
    assert(snapFiles("fsc").forall(!_.isEqualityDelete))
    assert(spark.table("ge.ns.fsc").count() == 201L)
  }

  test("in-batch duplicate keys: both rows survive (Iceberg equality-" +
      "delete semantics, pinned) — older generations still die") {
    import spark.implicits._
    spark.sql(
      "CREATE TABLE ge.ns.dup (id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql("INSERT INTO ge.ns.dup VALUES (1, 'old1'), (2, 'old2')")
    // one CDC batch carrying TWO events for key 1: the equality delete
    // kills only STRICTLY OLDER seqs, so both in-batch rows land live.
    // Feeds with several events per key per epoch must pre-collapse to
    // the last event before writing (documented on upsertKeys).
    Seq((1L, "e1"), (1L, "e2")).toDF("id", "v")
      .writeTo("ge.ns.dup").option("upsertKeys", "id").append()
    val got = spark.table("ge.ns.dup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == Seq((1L, "e1"), (1L, "e2"), (2L, "old2")), got)
  }

  test("a task's key dedup does not hold the writer's reused row: hash-colliding keys both delete") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import org.apache.spark.unsafe.types.UTF8String
    // two distinct keys of one length whose hashes collide: the dedup set
    // compares a later key against the earlier entry, which must hold the
    // earlier key's bytes, not the row buffer the writer's input reuses
    val seen = new java.util.HashMap[Int, String]()
    var pair: (String, String) = null
    var n = 0
    while (pair == null) {
      val k = f"key$n%08d"
      val prev = seen.put(UTF8String.fromString(k).hashCode, k)
      if (prev != null) pair = (prev, k)
      n += 1
    }
    val (x, y) = pair
    spark.sql("CREATE TABLE ge.ns.collide (k STRING, v BIGINT) USING `graft-ocf`")
    spark.sql(s"INSERT INTO ge.ns.collide VALUES ('$x', 1), ('$y', 1)")
    // one task, rows projected into one reused buffer: x, then y
    val batch = spark.range(2).coalesce(1)
      .select(when(col("id") === 0, lit(x)).otherwise(lit(y)).as("k"), lit(2L).as("v"))
    batch.writeTo("ge.ns.collide").option("upsertKeys", "k").append()
    val got = spark.table("ge.ns.collide").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((x, 2L), (y, 2L)), got)
  }
}
