package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot manifests + time travel (X71): every catalog-table commit
  * publishes a manifest ([[OcfSnapshots]]); reads plan from the manifest,
  * `VERSION AS OF` / `TIMESTAMP AS OF` pin history, `.history` reports the
  * commit log, and `expire_snapshots` reclaims unreferenced files. */
class OcfSnapshotsSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-snap-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-snapshots-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gs", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gs.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gs.ns")
    s
  }

  private def fs = new Path(warehouse.getAbsolutePath)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("each INSERT commits a manifest; VERSION AS OF pins history") {
    spark.sql(
      """CREATE TABLE gs.ns.t (id BIGINT, v STRING)
        |USING `graft-ocf`""".stripMargin)
    spark.sql("INSERT INTO gs.ns.t SELECT id, concat('a', id) FROM range(10)")
    spark.sql("INSERT INTO gs.ns.t SELECT id, concat('b', id) FROM range(10, 25)")
    spark.sql("INSERT INTO gs.ns.t SELECT id, concat('c', id) FROM range(25, 30)")

    val root = new Path(warehouse.getAbsolutePath, "ns/t")
    assert(OcfSnapshots.versions(fs, root) == Seq(1L, 2L, 3L))

    assert(spark.table("gs.ns.t").count() == 30L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.t VERSION AS OF 1").head.getLong(0) == 10L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.t VERSION AS OF 2").head.getLong(0) == 25L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.t VERSION AS OF 3").head.getLong(0) == 30L)

    // TIMESTAMP AS OF: pin to version 2's commit time
    val t2 = OcfSnapshots.read(fs, root, 2L).timestampMs
    val ts = java.time.Instant.ofEpochMilli(t2).toString.replace("T", " ").replace("Z", "")
    assert(spark.sql(
      s"SELECT count(*) FROM gs.ns.t TIMESTAMP AS OF '$ts'").head.getLong(0) == 25L)

    // unknown version refused with the available ones listed
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gs.ns.t VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("no snapshot version 99"), e.getMessage)
  }

  test(".history reports the commit log from manifests only") {
    val h = spark.sql(
      "SELECT version, operation, n_files FROM gs.ns.t.history ORDER BY version")
      .collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h.forall(_.getString(1) == "append"))
    assert(h.map(_.getLong(2)).toSeq == h.map(_.getLong(2)).toSeq.sorted,
      "visible file count must be non-decreasing across appends")
  }

  test("INSERT OVERWRITE keeps old versions readable; path reads see only the manifest") {
    spark.sql("INSERT OVERWRITE gs.ns.t SELECT id, concat('z', id) FROM range(7)")
    assert(spark.table("gs.ns.t").count() == 7L)
    // time travel back across the overwrite: the replaced files are retained
    assert(spark.sql("SELECT count(*) FROM gs.ns.t VERSION AS OF 3").head.getLong(0) == 30L)
    val h = spark.sql(
      "SELECT operation FROM gs.ns.t.history WHERE version = 4").head.getString(0)
    assert(h == "overwrite")
    // a bare path read of the table directory plans from the manifest too —
    // the 30 retained rows must NOT leak in
    val tableDir = new java.io.File(warehouse, "ns/t").getAbsolutePath
    assert(spark.read.format("graft-ocf").load(tableDir).count() == 7L)
    // .files reflects the manifest, not the directory
    assert(spark.sql("SELECT count(*) FROM gs.ns.t.files").head.getLong(0) ==
      OcfSnapshots.latest(fs, new Path(tableDir)).get.files.length.toLong)
  }

  test("metadata-only DELETE and row-level DELETE are snapshot commits") {
    spark.sql(
      """CREATE TABLE gs.ns.p (id BIGINT, lang STRING)
        |USING `graft-ocf` PARTITIONED BY (lang)
        |OPTIONS (statsColumns 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO gs.ns.p SELECT id,
        |CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END FROM range(40)""".stripMargin)
    // partition-exact → metadata-only path
    spark.sql("DELETE FROM gs.ns.p WHERE lang = 'fr'")
    assert(spark.table("gs.ns.p").count() == 20L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.p VERSION AS OF 1").head.getLong(0) == 40L)
    assert(spark.sql(
      "SELECT operation FROM gs.ns.p.history WHERE version = 2").head.getString(0)
      == "delete-where")
    // data-column predicate → copy-on-write path, another version
    spark.sql("DELETE FROM gs.ns.p WHERE id < 10")
    assert(spark.table("gs.ns.p").count() == 15L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.p VERSION AS OF 2").head.getLong(0) == 20L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.p VERSION AS OF 1").head.getLong(0) == 40L)
  }

  test("historical versions are read-only") {
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gs.ns.t VERSION AS OF 1 SELECT id, 'x' FROM range(3)")
    }
    // Spark may refuse time-travel DML itself or reach our guard — either
    // way the write must not happen
    assert(spark.sql("SELECT count(*) FROM gs.ns.t VERSION AS OF 1").head.getLong(0) == 10L)
  }

  test("expire_snapshots reclaims files referenced only by expired history") {
    val root = new Path(warehouse.getAbsolutePath, "ns/t")
    val beforeVersions = OcfSnapshots.versions(fs, root)
    assert(beforeVersions.length == 4)
    // files on disk > files in the latest manifest (retained generations)
    def dataFilesOnDisk: Int = {
      val it = fs.listFiles(root, true)
      var n = 0
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString
        if (st.isFile && !rel.contains("/_") && !rel.contains("/.")) n += 1
      }
      n
    }
    val latest = OcfSnapshots.latest(fs, root).get
    assert(dataFilesOnDisk > latest.files.length)

    val r = spark.sql(
      "CALL gs.system.expire_snapshots(`table` => 'ns.t', keep_last => 1)").head
    assert(r.getLong(0) == 3L, s"3 snapshots must expire, got $r")
    assert(r.getLong(1) > 0L, "retained-only files must be deleted")
    assert(OcfSnapshots.versions(fs, root) == Seq(4L))
    assert(dataFilesOnDisk == latest.files.length,
      "after expiry the directory holds exactly the live files")
    // current contents untouched; expired history gone
    assert(spark.table("gs.ns.t").count() == 7L)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gs.ns.t VERSION AS OF 2").collect()
    }
    assert(e.getMessage.contains("no snapshot version 2"), e.getMessage)
  }

  test("manifest metas: reads plan with zero header preads; bloom preads stay lazy") {
    spark.sql(
      """CREATE TABLE gs.ns.m (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id', bloomColumns 'id')""".stripMargin)
    spark.sql("INSERT INTO gs.ns.m SELECT id, concat('x', id) FROM range(100)")
    spark.sql("INSERT INTO gs.ns.m SELECT id, concat('x', id) FROM range(100, 200)")

    // a plain scan and a stats-range scan plan entirely from the manifest
    def preads[T](body: => T): Long = {
      val before = OcfDataSource.headerReads.get()
      body
      OcfDataSource.headerReads.get() - before
    }
    assert(preads(assert(spark.table("gs.ns.m").count() == 200L)) == 0L,
      "a manifest-meta scan must not read any file header at plan time")
    assert(preads(assert(spark.sql(
      "SELECT count(*) FROM gs.ns.m WHERE id >= 150").head.getLong(0) == 50L)) == 0L,
      "stats-range pruning must run from manifest-inline stats")
    // min/max/sum aggregate pushdown answers from manifest stats too
    assert(preads(assert(spark.sql(
      "SELECT min(id), max(id) FROM gs.ns.m").head.toSeq == Seq(0L, 199L))) == 0L,
      "header-constant aggregates must come from manifest-inline stats")

    // a point lookup NEEDS the bloom stamp: exactly the candidate files
    // (stats-survivors) get preads, and pruning still works
    val n = preads {
      assert(spark.sql("SELECT v FROM gs.ns.m WHERE id = 42")
        .head.getString(0) == "x42")
    }
    assert(n > 0L, "a bloom-eligible lookup pays lazy header preads")
    val planned = OcfDataSource.lastPlannedFiles.get()
    val total = OcfSnapshots.latest(fs,
      new Path(warehouse.getAbsolutePath, "ns/m")).get.files.length
    assert(planned.size < total,
      s"bloom refutation must prune: planned ${planned.size} of $total")
  }

  test("optimistic commit survives a racing writer") {
    val root = new Path(warehouse.getAbsolutePath, "ns/t")
    val v0 = OcfSnapshots.versions(fs, root).last
    // a "racing" commit lands first
    OcfSnapshots.commit(fs, root, "race")(prev => prev)
    val s = OcfSnapshots.commit(fs, root, "mine")(prev => prev)
    assert(s.version == v0 + 2, "the loser retries onto the next version")
  }

  /** Start `threads` threads at once, each making `perThread` calls of
    * `op`; call i of thread t gets the tag "t-i". Returns every call's tag
    * with its result or failure. */
  private def race[T](threads: Int, perThread: Int)(op: String => T)
      : Seq[(String, Either[Throwable, T])] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val calls = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(String, Either[Throwable, T])]] {
          override def call(): Seq[(String, Either[Throwable, T])] = {
            start.await()
            (0 until perThread).map { i =>
              val tag = s"$t-$i"
              tag -> (try Right(op(tag)) catch { case e: Exception => Left(e) })
            }
          }
        })
      }
      start.countDown()
      calls.flatMap(_.get())
    } finally pool.shutdownNow()
  }

  private def tempTable(prefix: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(prefix).toString)

  private def bytesAt(p: Path): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.toUri.getPath))

  private def tempsUnder(dir: Path): Seq[String] =
    fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".tmp")).toSeq

  /** What racing committers of one manifest sequence must leave: each
    * commit that returned added its file `<tag>.avro` and owns its own
    * version; the sequence holds exactly the versions `first..` those
    * commits returned, each manifest holding its committer's files; the
    * head holds `baseFiles` plus every returned commit's file; and no temp
    * is left in `dir`. A commit that gave up published nothing. */
  private def checkRaced(results: Seq[(String, Either[Throwable, OcfSnapshots.Snapshot])],
                         first: Long, versions: Seq[Long],
                         readAt: Long => OcfSnapshots.Snapshot,
                         head: OcfSnapshots.Snapshot, baseFiles: Set[String],
                         dir: Path): Unit = {
    val won = results.collect { case (tag, Right(s)) => tag -> s }
    info(s"${won.size} of ${results.size} commits returned, " +
      s"${results.size - won.size} gave up")
    results.collect { case (_, Left(e)) => e }.foreach(e =>
      assert(Option(e.getMessage).exists(_.contains("lost the commit race")), e.toString))
    assert(won.nonEmpty, "no commit returned")
    val headFiles = head.files.map(_.path).toSet
    val lost = won.map(_._1 + ".avro").filterNot(headFiles.contains)
    assert(lost.isEmpty,
      s"${lost.size} of ${won.size} returned commits are missing from the head")
    assert(headFiles == baseFiles ++ won.map(_._1 + ".avro"))
    assert(won.map(_._2.version).sorted == (first until first + won.size),
      "every returned commit owns its own version")
    assert(versions == (first until first + won.size))
    won.foreach { case (tag, s) =>
      assert(readAt(s.version).files.map(_.path) == s.files.map(_.path),
        s"version ${s.version} holds another commit than $tag's")
    }
    assert(tempsUnder(dir).isEmpty)
  }

  test("racing committers: every commit that returns is in the head, one manifest per version") {
    val root = tempTable("graft-snap-race")
    val results = race(4, 150) { tag =>
      OcfSnapshots.commit(fs, root, "append")(_ :+ OcfSnapshots.SnapFile(s"$tag.avro", 1L))
    }
    checkRaced(results, 1L, OcfSnapshots.versions(fs, root),
      OcfSnapshots.read(fs, root, _), OcfSnapshots.latest(fs, root).get, Set.empty,
      OcfSnapshots.snapshotsDir(root))
  }

  test("racing branch committers keep the same invariants") {
    val root = tempTable("graft-branch-race")
    OcfSnapshots.commit(fs, root, "append")(_ => Seq(OcfSnapshots.SnapFile("base.avro", 1L)))
    OcfSnapshots.createBranch(fs, root, "b", None)
    val results = race(4, 150) { tag =>
      OcfSnapshots.commitToBranch(fs, root, "b", "append", None)(
        _ :+ OcfSnapshots.SnapFile(s"$tag.avro", 1L))
    }
    checkRaced(results, 2L, OcfSnapshots.branchVersions(fs, root, "b"),
      OcfSnapshots.branchRead(fs, root, "b", _), OcfSnapshots.branchHead(fs, root, "b"),
      Set("base.avro"), OcfSnapshots.branchDir(root, "b"))
  }

  test("two racing fast_forwards of one branch publish it once") {
    (1 to 10).foreach { round =>
      val root = tempTable("graft-ff-race")
      OcfSnapshots.commit(fs, root, "append")(_ => Seq(OcfSnapshots.SnapFile("base.avro", 1L)))
      OcfSnapshots.createBranch(fs, root, "b", None)
      (1 to 20).foreach(i => OcfSnapshots.commitToBranch(fs, root, "b", "append", None)(
        _ :+ OcfSnapshots.SnapFile(s"$i.avro", 1L)))
      val bd = OcfSnapshots.branchDir(root, "b")
      val sdir = OcfSnapshots.snapshotsDir(root)
      val branchBytes = OcfSnapshots.branchVersions(fs, root, "b")
        .map(v => v -> bytesAt(new Path(bd, f"_v$v%012d.json")))
      val outcomes = race(2, 1)(_ => OcfSnapshots.fastForward(fs, root, "b")).map(_._2)
      // a publisher that finds the branch already retired by the other
      // reports it gone; none sees a foreign commit
      outcomes.foreach {
        case Right(r) => assert(r == ((1L, 21L)), s"round $round")
        case Left(e) => assert(e.getMessage.contains("no branch 'b'"), s"round $round: $e")
      }
      assert(outcomes.exists(_.isRight), s"round $round")
      assert(OcfSnapshots.versions(fs, root) == (1L to 21L), s"round $round")
      branchBytes.foreach { case (v, b) =>
        assert(java.util.Arrays.equals(bytesAt(new Path(sdir, f"_v$v%012d.json")), b),
          s"round $round: main's version $v differs from the branch's")
      }
      assert(OcfSnapshots.latest(fs, root).get.files.map(_.path) ==
        "base.avro" +: (1 to 20).map(i => s"$i.avro"), s"round $round")
      assert(!fs.exists(bd), s"round $round: the branch is retired")
      assert(tempsUnder(sdir).isEmpty, s"round $round")
    }
  }

  test("of racing create_branch calls exactly one wins, at its own base") {
    val root = tempTable("graft-create-race")
    (1 to 4).foreach(i => OcfSnapshots.commit(fs, root, "append")(
      _ :+ OcfSnapshots.SnapFile(s"$i.avro", 1L)))
    (1 to 10).foreach { round =>
      val name = s"r$round"
      // thread t branches from version t + 1
      val outcomes = race(4, 1)(tag =>
        OcfSnapshots.createBranch(fs, root, name, Some(tag.takeWhile(_ != '-').toLong + 1)))
      val winners = outcomes.collect { case (_, Right(base)) => base }
      assert(winners.size == 1, s"round $round: ${outcomes.map(_._2)}")
      assert(OcfSnapshots.branchBase(fs, root, name) == winners.head, s"round $round")
      outcomes.collect { case (_, Left(e)) =>
        assert(e.getMessage.contains("already exists"), s"round $round: $e")
      }
    }
    assert(OcfSnapshots.listBranches(fs, root) == (1 to 10).map(i => s"r$i").sorted)
  }

  test("compaction is a snapshot commit; fragmented generation expires cleanly") {
    spark.sql(
      """CREATE TABLE gs.ns.frag (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO gs.ns.frag SELECT id, concat('x', id) FROM range(${i * 10}, ${i * 10 + 10})"))
    val root = new Path(warehouse.getAbsolutePath, "ns/frag")
    assert(OcfSnapshots.latest(fs, root).get.files.length >= 4)
    val res = spark.sql("CALL gs.system.compact(`table` => 'ns.frag')").head
    assert(res.getLong(1) < res.getLong(0), s"compaction must shrink files: $res")
    assert(spark.table("gs.ns.frag").count() == 40L)
    assert(spark.sql(
      "SELECT operation FROM gs.ns.frag.history ORDER BY version DESC LIMIT 1")
      .head.getString(0) == "compact")
    // the pre-compaction version still reads (fragmented files retained)
    val preVersion = OcfSnapshots.versions(fs, root).takeRight(2).head
    assert(spark.sql(
      s"SELECT count(*) FROM gs.ns.frag VERSION AS OF $preVersion").head.getLong(0) == 40L)
    spark.sql("CALL gs.system.expire_snapshots(`table` => 'ns.frag', keep_last => 1)")
    assert(spark.table("gs.ns.frag").count() == 40L)
  }

  test("time travel shows the schema at commit time, not today's") {
    spark.sql("CREATE TABLE gs.ns.evo (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.evo SELECT id FROM range(4)")
    spark.sql("ALTER TABLE gs.ns.evo ADD COLUMN note STRING")
    spark.sql("INSERT INTO gs.ns.evo SELECT id, concat('n', id) FROM range(4, 7)")
    // current: evolved schema, old files null-fill
    assert(spark.table("gs.ns.evo").columns.toSeq == Seq("id", "note"))
    assert(spark.table("gs.ns.evo").count() == 7L)
    // pinned to v1: the PRE-ALTER schema — no 'note' column at all
    val v1 = spark.sql("SELECT * FROM gs.ns.evo VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id"),
      s"v1 predates the ADD COLUMN; got ${v1.columns.toSeq}")
    assert(v1.count() == 4L)
  }

  test("rollback restores an earlier snapshot as a new commit") {
    spark.sql("CREATE TABLE gs.ns.rb (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.rb SELECT id FROM range(10)")
    // a "bad" overwrite wipes the table
    spark.sql("INSERT OVERWRITE gs.ns.rb SELECT id FROM range(2)")
    assert(spark.table("gs.ns.rb").count() == 2L)
    val r = spark.sql(
      "CALL gs.system.rollback(`table` => 'ns.rb', version => 1)").head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L, s"got $r")
    assert(spark.table("gs.ns.rb").count() == 10L,
      "rollback must restore version 1's contents")
    // history preserved: the bad overwrite is still inspectable
    assert(spark.sql("SELECT operation FROM gs.ns.rb.history ORDER BY version")
      .collect().map(_.getString(0)).toSeq ==
      Seq("append", "overwrite", "rollback"))
    assert(spark.sql("SELECT count(*) FROM gs.ns.rb VERSION AS OF 2").head.getLong(0) == 2L)
    // unknown target refused
    val e = intercept[Exception] {
      spark.sql("CALL gs.system.rollback(`table` => 'ns.rb', version => 99)")
    }
    assert(e.getMessage.contains("no snapshot version 99"), e.getMessage)
  }

  test("streaming reads follow snapshot commits") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE gs.ns.str (id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.str SELECT id, concat('a', id) FROM range(5)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snap-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-snap-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("gs.ns.str")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      ()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 5L)
    // a new snapshot commit lands; the next trigger discovers ONLY its files
    spark.sql("INSERT INTO gs.ns.str SELECT id, concat('b', id) FROM range(5, 12)")
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 12L, "second commit's rows must arrive exactly once")
    assert(out.select("id").distinct().count() == 12L)
  }

  test("tags: named snapshots resolve, survive expiry, and drop on untag") {
    spark.sql("CREATE TABLE gs.ns.tg (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.tg SELECT id FROM range(5)")
    spark.sql("INSERT INTO gs.ns.tg SELECT id FROM range(5, 12)")
    spark.sql("INSERT INTO gs.ns.tg SELECT id FROM range(12, 20)")
    // tag an explicit version and the latest
    spark.sql("CALL gs.system.tag(`table` => 'ns.tg', name => 'first-five', version => 1)")
    val latest = spark.sql("CALL gs.system.tag(`table` => 'ns.tg', name => 'current')")
      .head.getLong(0)
    assert(latest == 3L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.tg VERSION AS OF 'first-five'")
      .head.getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.tg VERSION AS OF 'current'")
      .head.getLong(0) == 20L)
    // `.tags` metadata table lists every named snapshot
    assert(spark.sql("SELECT name, version FROM gs.ns.tg.tags ORDER BY name")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("current", 3L), ("first-five", 1L)))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gs.ns.tg VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("no snapshot tag or branch 'nope'"), e.getMessage)

    // expiry pins tagged versions: keep_last=1 would drop v1/v2, but
    // 'first-five' holds v1 (and its files) in place
    val r = spark.sql(
      "CALL gs.system.expire_snapshots(`table` => 'ns.tg', keep_last => 1)").head
    assert(r.getLong(0) == 1L, s"only the untagged v2 may expire: $r")
    assert(spark.sql("SELECT count(*) FROM gs.ns.tg VERSION AS OF 'first-five'")
      .head.getLong(0) == 5L, "tagged version must survive expiry intact")

    // untag releases it; the next expiry reclaims
    assert(spark.sql("CALL gs.system.untag(`table` => 'ns.tg', name => 'first-five')")
      .head.getBoolean(0))
    val r2 = spark.sql(
      "CALL gs.system.expire_snapshots(`table` => 'ns.tg', keep_last => 1)").head
    assert(r2.getLong(0) == 1L)
    intercept[Exception] {
      spark.sql("SELECT * FROM gs.ns.tg VERSION AS OF 'first-five'").collect()
    }
    assert(spark.table("gs.ns.tg").count() == 20L)
  }

  test(".partitions rollup and CBO column statistics from stamps") {
    spark.sql(
      """CREATE TABLE gs.ns.pstat (id BIGINT, v STRING, lang STRING)
        |USING `graft-ocf` PARTITIONED BY (lang)
        |OPTIONS (statsColumns 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO gs.ns.pstat SELECT id, concat('v', id),
        |CASE WHEN id < 30 THEN 'en' ELSE 'fr' END FROM range(50)""".stripMargin)

    // .partitions: per-tuple file/row/byte rollup, header-free
    val parts = spark.sql(
      "SELECT partition['lang'] AS lang, n_files, rows, size_bytes " +
        "FROM gs.ns.pstat.partitions ORDER BY lang").collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("en", "fr"))
    assert(parts.map(_.getLong(2)).toSeq == Seq(30L, 20L),
      s"stamped row rollup: ${parts.mkString(", ")}")
    assert(parts.forall(r => r.getLong(1) >= 1L && r.getLong(3) > 0L))

    // column statistics: the scan reports exact min/max/nullCount for the
    // stamped column, folded across files
    val scan = spark.table("gs.ns.pstat").queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 50L)
    val cs = stats.columnStats()
    val entry = {
      val it = cs.entrySet().iterator()
      var found: org.apache.spark.sql.connector.read.colstats.ColumnStatistics = null
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.fieldNames.toSeq == Seq("id")) found = e.getValue
      }
      found
    }
    assert(entry != null, s"no colStats for 'id': ${cs.keySet()}")
    assert(entry.min.get == 0L && entry.max.get == 49L,
      s"min=${entry.min} max=${entry.max}")
    assert(entry.nullCount.getAsLong == 0L)
    // NDV (X89): all-distinct ids → distinctCount ~= 50, clamped to rows
    assert(entry.distinctCount().isPresent, "id must report a distinct count")
    assert(entry.distinctCount().getAsLong == 50L,
      s"ndv=${entry.distinctCount()}")
  }

  test("NDV sketches union across overlapping files and feed CBO (X89)") {
    spark.sql(
      """CREATE TABLE gs.ns.ndv (k BIGINT, u BIGINT, s STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'k,u,s')""".stripMargin)
    // three commits whose k values OVERLAP completely: per-file NDV is 100
    // each, and a naive sum would claim 300 — the union must still say ~100
    (0 until 3).foreach(i => spark.sql(
      s"""INSERT INTO gs.ns.ndv
         |SELECT id % 100, id + ${i * 1000}, concat('s', id % 7)
         |FROM range(1000)""".stripMargin))
    def colStat(name: String) = {
      val scan = spark.table("gs.ns.ndv").queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
      val cs = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().columnStats()
      val it = cs.entrySet().iterator()
      var found: org.apache.spark.sql.connector.read.colstats.ColumnStatistics = null
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.fieldNames.toSeq == Seq(name)) found = e.getValue
      }
      assert(found != null, s"no colStats for '$name'")
      found
    }
    val k = colStat("k").distinctCount()
    // +-15%: the p=9 sketch's error for THIS value set (deterministic
    // hash, deterministic estimate — this is a fixed number, not a flake)
    assert(k.isPresent && math.abs(k.getAsLong - 100L) <= 15L,
      s"k NDV should be ~100 (union, not 300): $k")
    // u is all-distinct (3000 values): the sketch must land within ~10%
    val u = colStat("u").distinctCount()
    assert(u.isPresent && math.abs(u.getAsLong - 3000L) <= 300L,
      s"u NDV should be ~3000: $u")
    // s has 7 distinct strings — the linear-counting range is near-exact
    val s7 = colStat("s").distinctCount()
    assert(s7.isPresent && s7.getAsLong == 7L, s"s NDV should be 7: $s7")
    // with CBO on, the logical plan's attribute stats carry the NDV — the
    // join-cardinality input byte-size estimation cannot provide
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val attrStats = spark.table("gs.ns.ndv").where("k >= 0")
        .queryExecution.optimizedPlan.stats.attributeStats
      val kAttr = attrStats.find(_._1.name == "k").map(_._2)
      assert(kAttr.exists(_.distinctCount.exists(dc =>
          (dc.toLong - 100L).abs <= 15L)),
        s"CBO attribute stats must carry k's NDV; got $attrStats")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("CTAS and RTAS commit create/replace snapshots") {
    spark.sql(
      """CREATE TABLE gs.ns.c USING `graft-ocf` AS
        |SELECT id, concat('v', id) AS v FROM range(12)""".stripMargin)
    assert(spark.table("gs.ns.c").count() == 12L)
    assert(spark.sql("SELECT operation FROM gs.ns.c.history WHERE version = 1")
      .head.getString(0) == "create-table")
    spark.sql(
      """REPLACE TABLE gs.ns.c USING `graft-ocf` AS
        |SELECT id, concat('w', id) AS v FROM range(5)""".stripMargin)
    assert(spark.table("gs.ns.c").count() == 5L)
    assert(spark.sql("SELECT operation FROM gs.ns.c.history WHERE version = 2")
      .head.getString(0) == "replace-table")
    // same-schema replace: the replaced generation stays time-travelable
    assert(spark.sql("SELECT count(*) FROM gs.ns.c VERSION AS OF 1").head.getLong(0) == 12L)
  }

  test("incremental read (X78): startingVersion delivers exactly the appended rows") {
    spark.sql("CREATE TABLE gs.ns.inc (id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.inc SELECT id, concat('a', id) FROM range(10)")
    spark.sql("INSERT INTO gs.ns.inc SELECT id, concat('b', id) FROM range(10, 25)")
    spark.sql("INSERT INTO gs.ns.inc SELECT id, concat('c', id) FROM range(25, 30)")

    def inc(start: Long, end: Option[Long] = None) = {
      val r = spark.read.option("startingVersion", start.toString)
      end.foreach(e => r.option("endingVersion", e.toString))
      r.table("gs.ns.inc")
    }
    // (1, latest] = commits 2 and 3
    assert(inc(1).count() == 20L)
    assert(inc(1).agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).head.toSeq == Seq(10L, 29L))
    // (1, 2] = commit 2 only; (2, latest] = commit 3 only
    assert(inc(1, Some(2L)).count() == 15L)
    assert(inc(2).select("v").where("id = 27").head.getString(0) == "c27")
    // filters compose with the incremental file set
    assert(inc(1, Some(3L)).where("id >= 25").count() == 5L)
    // empty range: an empty frame with the table's schema, not an error
    assert(inc(3).count() == 0L)
    assert(inc(3).schema.fieldNames.toSeq == Seq("id", "v"))

    // a rewriting commit in range REFUSES (its changes are not appendable)
    spark.sql("DELETE FROM gs.ns.inc WHERE id = 12")
    val e = intercept[Exception] { inc(3).collect() }
    assert(e.getMessage.contains("removed or replaced"), e.getMessage)
    // ranges that END before the rewrite still read
    assert(inc(1, Some(3L)).count() == 20L)
    // and a range STARTING at the rewrite is clean again
    spark.sql("INSERT INTO gs.ns.inc SELECT id, concat('d', id) FROM range(100, 103)")
    assert(inc(4).count() == 3L)
    assert(inc(4).select("v").orderBy("id").head.getString(0) == "d100")

    // endingVersion alone is refused (that's VERSION AS OF's job)
    val e2 = intercept[Exception] {
      spark.read.option("endingVersion", "2").table("gs.ns.inc").collect()
    }
    assert(e2.getMessage.contains("endingVersion needs startingVersion"), e2.getMessage)
    // an expired (unknown) starting version is refused with the retained list
    val e3 = intercept[Exception] { inc(99).collect() }
    assert(e3.getMessage.contains("not a retained snapshot"), e3.getMessage)
  }

  test("incremental streaming: startingVersion excludes the pre-v backlog") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE gs.ns.istr (id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.istr SELECT id, concat('a', id) FROM range(6)")
    spark.sql("INSERT INTO gs.ns.istr SELECT id, concat('b', id) FROM range(6, 10)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-istr-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-istr-out").toString
    def runOnce(fromVersion: String): Unit = {
      val q = spark.readStream.option("startingVersion", fromVersion)
        .table("gs.ns.istr")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      ()
    }
    // the stream's world begins after version 1: commit 1's 6 rows never appear
    runOnce("1")
    assert(spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == (6L until 10L))
    // later commits flow normally (and exactly once)
    spark.sql("INSERT INTO gs.ns.istr SELECT id, concat('c', id) FROM range(10, 13)")
    runOnce("1")
    assert(spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == (6L until 13L))

    // a stream started AT the latest version has an empty backlog — it
    // waits for the next commit instead of failing
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-istr-ck2").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft-istr-out2").toString
    def runLatest(): Unit = {
      val q = spark.readStream.option("startingVersion", "3")
        .table("gs.ns.istr")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt2)
        .option("path", out2)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      ()
    }
    runLatest() // nothing yet
    spark.sql("INSERT INTO gs.ns.istr SELECT id, concat('d', id) FROM range(100, 104)")
    runLatest()
    assert(spark.read.parquet(out2).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == (100L until 104L))
  }

  test("remove_orphan_files deletes only unreferenced, aged data files") {
    spark.sql("CREATE TABLE gs.ns.orph (id BIGINT) USING `graft-ocf`")
    // an EMPTY table has no manifests yet — refused (nothing can be orphaned)
    val e0 = intercept[Exception] {
      spark.sql("CALL gs.system.remove_orphan_files(table => 'ns.orph')").collect()
    }
    assert(e0.getMessage.contains("not snapshot-managed"), e0.getMessage)

    spark.sql("INSERT INTO gs.ns.orph SELECT id FROM range(10)")
    spark.sql("INSERT INTO gs.ns.orph SELECT id FROM range(10, 25)")
    val root = new Path(warehouse.getAbsolutePath, "ns/orph")
    val visibleBefore = OcfSnapshots.latest(fs, root).get.files.map(_.path).toSet

    // plant two orphans with data-file-shaped names: one aged 2 h (eligible),
    // one fresh (inside any live commit's land-then-commit window)
    def plant(name: String, ageMs: Long): Path = {
      val p = new Path(root, name)
      val out = fs.create(p, true)
      out.write("not a referenced file".getBytes("UTF-8")); out.close()
      val t = System.currentTimeMillis() - ageMs
      fs.setTimes(p, t, t)
      p
    }
    val aged = plant("orphan-aged.avro", 2L * 3600 * 1000)
    val fresh = plant("orphan-fresh.avro", 0L)

    val res = spark.sql(
      "CALL gs.system.remove_orphan_files(table => 'ns.orph', min_age_ms => 3600000)")
      .collect().head
    assert(!fs.exists(aged), "aged orphan must be deleted")
    assert(fs.exists(fresh), "fresh orphan must survive the age gate")
    assert(res.getLong(1) == 1L, s"orphans_deleted=${res.getLong(1)}")
    assert(res.getLong(2) > 0L)

    // every referenced file survives; reads and time travel are intact
    visibleBefore.foreach(rel => assert(fs.exists(new Path(root, rel)), rel))
    assert(spark.table("gs.ns.orph").count() == 25L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.orph VERSION AS OF 1")
      .head.getLong(0) == 10L)

    // min_age safety floor: a sub-floor min_age could collect files of an
    // in-flight commit (landed but not yet manifest-referenced) — refused
    // unless force => true declares the table provably quiesced
    val e1 = intercept[Exception] {
      spark.sql(
        "CALL gs.system.remove_orphan_files(table => 'ns.orph', min_age_ms => 1000)")
        .collect()
    }
    assert(e1.getMessage.contains("safety floor"), e1.getMessage)
    spark.sql(
      "CALL gs.system.remove_orphan_files(table => 'ns.orph', min_age_ms => 1, force => true)")
      .collect()
    assert(!fs.exists(fresh), "forced sub-floor sweep collects the fresh orphan")
    visibleBefore.foreach(rel => assert(fs.exists(new Path(root, rel)), rel))
  }

  test("incremental reads keep stats-based file skipping and filter pushdown") {
    spark.sql(
      """CREATE TABLE gs.ns.incs (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    spark.sql("INSERT INTO gs.ns.incs SELECT id, 'a' FROM range(100)")
    // commit 2: four range-contiguous files (one per task partition)
    spark.sql("INSERT INTO gs.ns.incs SELECT id, 'b' FROM range(1000, 1400)")
    val inc = spark.read.option("startingVersion", "1").table("gs.ns.incs")
      .where("id >= 1300")
    assert(inc.count() == 100L)
    // the diff admitted only commit 2's files, and the manifest-embedded
    // min/max stats then skipped every file below 1300 — one file planned
    val planned = OcfDataSource.lastPlannedFiles.get()
    assert(planned.size == 1, s"planned ${planned.size} files: $planned")
  }

  test("expire_snapshots older_than_ms retains young snapshots under keep_last") {
    spark.sql("CREATE TABLE gs.ns.exp2 (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.exp2 SELECT id FROM range(3)")
    spark.sql("INSERT INTO gs.ns.exp2 SELECT id FROM range(3, 7)")
    spark.sql("INSERT INTO gs.ns.exp2 SELECT id FROM range(7, 12)")
    val root = new Path(warehouse.getAbsolutePath, "ns/exp2")
    // every commit is younger than a 1-hour bound: keep_last=1 expires NOTHING
    val r1 = spark.sql(
      s"CALL gs.system.expire_snapshots(table => 'ns.exp2', keep_last => 1, " +
        s"older_than_ms => ${System.currentTimeMillis() - 3600000L})").head
    assert(r1.getLong(0) == 0L, r1.toString)
    assert(OcfSnapshots.versions(fs, root) == Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT count(*) FROM gs.ns.exp2 VERSION AS OF 1").head.getLong(0) == 3L)
    // a future bound releases them: count-based retention applies again
    val r2 = spark.sql(
      s"CALL gs.system.expire_snapshots(table => 'ns.exp2', keep_last => 1, " +
        s"older_than_ms => ${System.currentTimeMillis() + 3600000L})").head
    assert(r2.getLong(0) == 2L, r2.toString)
    assert(OcfSnapshots.versions(fs, root) == Seq(3L))
    assert(spark.table("gs.ns.exp2").count() == 12L)
  }

  test("branches (X83): write-audit-publish with fast_forward, divergence refused") {
    spark.sql("CREATE TABLE gs.ns.wap (id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.wap SELECT id, concat('a', id) FROM range(5)")

    // open a branch at the latest main version
    val created = spark.sql(
      "CALL gs.system.create_branch(table => 'ns.wap', name => 'audit')").head
    assert(created.getString(0) == "audit" && created.getLong(1) == 1L)

    // write INTO the branch: main must not see it, the branch must
    import spark.implicits._
    (5L until 12L).map(i => (i, s"b$i")).toDF("id", "v")
      .writeTo("gs.ns.wap").option("branch", "audit").append()
    assert(spark.table("gs.ns.wap").count() == 5L, "main sees nothing pre-publish")
    val branchRead = spark.read.option("branch", "audit").table("gs.ns.wap")
    assert(branchRead.count() == 12L)
    assert(branchRead.where("id >= 5").count() == 7L)

    // a branch before any commit reads as its base
    spark.sql("CALL gs.system.create_branch(table => 'ns.wap', name => 'idle')")
    assert(spark.read.option("branch", "idle").table("gs.ns.wap").count() == 5L)

    // SQL surface: VERSION AS OF '<branch>' reads the branch head
    assert(spark.sql("SELECT count(*) FROM gs.ns.wap VERSION AS OF 'audit'")
      .head.getLong(0) == 12L)

    // `.branches` metadata table: one row per in-flight branch
    val br = spark.sql(
      """SELECT name, base_version, head_version, n_commits
        |FROM gs.ns.wap.branches ORDER BY name""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(br == Seq(("audit", 1L, 2L, 1L), ("idle", 1L, 1L, 0L)), br.toString)

    // publish: main fast-forwards to the branch head
    val ff = spark.sql(
      "CALL gs.system.fast_forward(table => 'ns.wap', name => 'audit')").head
    assert(ff.getLong(0) == 1L && ff.getLong(1) == 2L, ff.toString)
    assert(spark.table("gs.ns.wap").count() == 12L)
    // the published history is normal main history
    assert(spark.sql("SELECT count(*) FROM gs.ns.wap VERSION AS OF 2")
      .head.getLong(0) == 12L)
    // the branch is gone after publishing
    val e0 = intercept[Exception] {
      spark.read.option("branch", "audit").table("gs.ns.wap").collect() }
    assert(e0.getMessage.contains("no branch"), e0.getMessage)

    // divergence: main advanced past 'idle''s base -> fast_forward refuses
    val e1 = intercept[Exception] {
      spark.sql("CALL gs.system.fast_forward(table => 'ns.wap', name => 'idle')").collect() }
    assert(e1.getMessage.contains("diverged"), e1.getMessage)

    // an unpublished branch's files are NOT orphans; after drop they are
    spark.sql("CALL gs.system.create_branch(table => 'ns.wap', name => 'tmp')")
    Seq((100L, "x")).toDF("id", "v")
      .writeTo("gs.ns.wap").option("branch", "tmp").append()
    val root = new Path(warehouse.getAbsolutePath, "ns/wap")
    // age every file so only reference-tracking protects them
    def ageAll(): Unit = {
      val it = fs.listFiles(root, true)
      val t = System.currentTimeMillis() - 2L * 3600 * 1000
      while (it.hasNext) { val st = it.next(); if (st.isFile) fs.setTimes(st.getPath, t, t) }
    }
    ageAll()
    val kept = spark.sql(
      "CALL gs.system.remove_orphan_files(table => 'ns.wap', min_age_ms => 3600000)")
      .collect().head
    assert(kept.getLong(1) == 0L, s"branch files must not be orphans: $kept")
    assert(spark.read.option("branch", "tmp").table("gs.ns.wap").count() == 13L)
    spark.sql("CALL gs.system.drop_branch(table => 'ns.wap', name => 'tmp')")
    ageAll()
    val swept = spark.sql(
      "CALL gs.system.remove_orphan_files(table => 'ns.wap', min_age_ms => 3600000)")
      .collect().head
    assert(swept.getLong(1) == 1L, s"dropped branch's file should sweep: $swept")
    assert(spark.table("gs.ns.wap").count() == 12L)

    // duplicate branch name refused; unknown branch read refused
    intercept[Exception] {
      spark.sql("CALL gs.system.create_branch(table => 'ns.wap', name => 'idle')").collect() }
    val e2 = intercept[Exception] {
      spark.read.option("branch", "nope").table("gs.ns.wap").collect() }
    assert(e2.getMessage.contains("no branch"), e2.getMessage)
  }

  test("fast_forward resumes a partial publish; creation debris is invisible") {
    import spark.implicits._
    spark.sql("CREATE TABLE gs.ns.ffr (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.ffr SELECT id FROM range(3)")
    spark.sql("CALL gs.system.create_branch(table => 'ns.ffr', name => 'b')")
    Seq(10L, 11L).toDF("id").writeTo("gs.ns.ffr").option("branch", "b").append()
    Seq(20L).toDF("id").writeTo("gs.ns.ffr").option("branch", "b").append()
    val root = new Path(warehouse.getAbsolutePath, "ns/ffr")
    // simulate a publish that crashed after copying the FIRST branch
    // manifest (v2) into main
    val bd = OcfSnapshots.branchDir(root, "b")
    val src = new Path(bd, "_v000000000002.json")
    val dst = new Path(new Path(root, OcfSnapshots.Dir), "_v000000000002.json")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sessionState.newHadoopConf())
    assert(OcfSnapshots.versions(fs, root) == Seq(1L, 2L))
    // retrying finishes the job instead of refusing "diverged"
    val ff = spark.sql(
      "CALL gs.system.fast_forward(table => 'ns.ffr', name => 'b')").head
    assert(ff.getLong(1) == 3L, ff.toString)
    assert(spark.table("gs.ns.ffr").count() == 6L)
    assert(OcfSnapshots.listBranches(fs, root).isEmpty)

    // a half-created branch dir (no base marker) is invisible and swept
    val debris = OcfSnapshots.branchDir(root, "ghost")
    fs.mkdirs(debris)
    assert(OcfSnapshots.listBranches(fs, root).isEmpty)
    assert(spark.sql("SELECT count(*) FROM gs.ns.ffr.branches").head.getLong(0) == 0L)
    spark.sql("CALL gs.system.create_branch(table => 'ns.ffr', name => 'ghost')")
    assert(OcfSnapshots.listBranches(fs, root) == Seq("ghost"))

    // traversal-shaped and numeric branch names refuse before touching paths
    val eTrav = intercept[Exception] {
      spark.sql("CALL gs.system.drop_branch(table => 'ns.ffr', name => '../..')").collect() }
    assert(eTrav.getMessage.contains("invalid branch name"), eTrav.getMessage)
    assert(fs.exists(new Path(root, OcfSnapshots.Dir)), "manifests must survive")
    val eNum = intercept[Exception] {
      spark.sql("CALL gs.system.create_branch(table => 'ns.ffr', name => '7')").collect() }
    assert(eNum.getMessage.contains("numeric"), eNum.getMessage)
  }

  test("incremental streams refuse endingVersion and mid-stream rewrites") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE gs.ns.istr2 (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.istr2 SELECT id FROM range(4)")
    spark.sql("INSERT INTO gs.ns.istr2 SELECT id FROM range(4, 9)")
    // endingVersion on a stream refuses loudly (batch-only bound)
    val out0 = java.nio.file.Files.createTempDirectory("graft-istr2-o0").toString
    val e0 = intercept[Exception] {
      val q = spark.readStream.option("startingVersion", "1")
        .option("endingVersion", "2").table("gs.ns.istr2")
        .writeStream.format("parquet")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-istr2-c0").toString)
        .option("path", out0).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.exception.foreach(throw _)
    }
    assert(e0.getMessage.contains("batch-only") ||
      Option(e0.getCause).exists(_.getMessage.contains("batch-only")), e0.getMessage)

    // compaction mid-stream adds no rows: the next trigger delivers nothing;
    // a rewriting commit fails the next trigger instead of re-delivering
    // its survivors as duplicates
    val ckpt = java.nio.file.Files.createTempDirectory("graft-istr2-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-istr2-out").toString
    def run(): Unit = {
      val q = spark.readStream.option("startingVersion", "1").table("gs.ns.istr2")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.exception.foreach(throw _)
    }
    run()
    assert(spark.read.parquet(outDir).count() == 5L)
    spark.sql("CALL gs.system.compact(table => 'ns.istr2')").collect()
    run()
    assert(spark.read.parquet(outDir).count() == 5L)
    spark.sql("DELETE FROM gs.ns.istr2 WHERE id = 6")
    val e1 = intercept[Exception] { run() }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(6)
        .flatMap(c => Option(c.getMessage)).toSeq
    assert(msgs(e1).exists(_.contains("rewriting commit")), msgs(e1).mkString(" | "))
  }

  test("epoch-0 streaming append never clobbers batch partition-0 files") {
    import org.apache.spark.sql.streaming.Trigger
    // regression: epoch 0's replay-cleanup prefix used to be `part-00000-`,
    // which ALSO matched the batch INSERT's partition-0 file name — the
    // first streamed epoch silently dropped those rows from the manifest
    spark.sql("CREATE TABLE gs.ns.mix (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.mix SELECT id FROM range(5)")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mix-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mix-ck").toString
    spark.range(100, 108).toDF("id").coalesce(1).write.parquet(srcDir + "/p1")
    val q = spark.readStream.schema("id LONG").parquet(srcDir + "/*")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("gs.ns.mix")
    q.awaitTermination(60000)
    assert(spark.table("gs.ns.mix").count() == 13L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.mix VERSION AS OF 1")
      .head.getLong(0) == 5L)
  }

  test("streaming writes commit into a branch; main blind until publish") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE gs.ns.swap (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.swap SELECT id FROM range(5)")
    spark.sql("CALL gs.system.create_branch(table => 'ns.swap', name => 'stream')")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-swap-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-swap-ck").toString
    spark.range(100, 108).toDF("id").coalesce(1).write.parquet(srcDir + "/p1")
    val q = spark.readStream.schema("id LONG").parquet(srcDir + "/*")
      .writeStream.option("checkpointLocation", ckpt)
      .option("branch", "stream")
      .trigger(Trigger.AvailableNow())
      .toTable("gs.ns.swap")
    q.awaitTermination(60000)
    assert(spark.table("gs.ns.swap").count() == 5L, "main blind to branch epochs")
    assert(spark.read.option("branch", "stream").table("gs.ns.swap").count() == 13L)
    spark.sql("CALL gs.system.fast_forward(table => 'ns.swap', name => 'stream')")
    assert(spark.table("gs.ns.swap").count() == 13L)
  }

  test("streaming refuses branch and version-pinned reads, naming alternatives") {
    spark.sql("CREATE TABLE gs.ns.sg (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.sg SELECT id FROM range(5)")
    spark.sql("CALL gs.system.create_branch(table => 'ns.sg', name => 'aud')")
    def refusal(start: => org.apache.spark.sql.streaming.StreamingQuery): Seq[String] = {
      val q = start
      val e = intercept[Exception] { try q.awaitTermination(60000) finally q.stop() }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    }
    def ck() = java.nio.file.Files.createTempDirectory("graft-sg-ck").toString
    val m1 = refusal(spark.readStream.option("branch", "aud").table("gs.ns.sg")
      .writeStream.format("noop").option("checkpointLocation", ck()).start())
    assert(m1.exists(s => s.contains("branch reads are batch-only") &&
      s.contains("fast_forward")), m1.mkString(" | "))
    val root = new Path(warehouse.getAbsolutePath, "ns/sg")
    val m2 = refusal(spark.readStream.format("graft-ocf")
      .option("graft.snapshot.version", "1")
      .load(root.toString)
      .writeStream.format("noop").option("checkpointLocation", ck()).start())
    assert(m2.exists(s => s.contains("batch-only") &&
      s.contains("startingVersion")), m2.mkString(" | "))
  }

  test("commits write O(delta) bytes; checkpoints bound the chain; reads resolve") {
    val root = new Path(warehouse.getAbsolutePath, "ns/delta-unit")
    fs.mkdirs(root)
    def manifestLen(v: Long): Long =
      fs.getFileStatus(new Path(root,
        f"${OcfSnapshots.Dir}/_v$v%012d.json")).getLen
    // commit 1: a big base table (2,000 files) — the FIRST commit is a full
    // manifest by construction
    val base = (0 until 2000).map(i => OcfSnapshots.SnapFile(f"part-$i%05d.avro", 1000L + i))
    OcfSnapshots.commit(fs, root, "append")(_ => base)
    val fullLen = manifestLen(1L)
    // commit 2: append TWO files — the manifest must be O(delta), not
    // O(table): orders of magnitude smaller than the full base manifest
    val twoMore = Seq(OcfSnapshots.SnapFile("extra-a.avro", 7L),
      OcfSnapshots.SnapFile("extra-b.avro", 8L))
    OcfSnapshots.commit(fs, root, "append")(prev => prev ++ twoMore)
    val deltaLen = manifestLen(2L)
    assert(deltaLen * 50 < fullLen,
      s"append-2 manifest ($deltaLen B) must be tiny next to the " +
        s"2000-file full manifest ($fullLen B)")
    // commit 3: remove one + add one — still O(delta)
    OcfSnapshots.commit(fs, root, "replace-rows")(prev =>
      prev.filterNot(_.path == "part-00000.avro") :+
        OcfSnapshots.SnapFile("rewritten.avro", 9L))
    assert(manifestLen(3L) * 50 < fullLen)
    // resolution: exact content and order (survivors in base order, adds
    // appended)
    val resolved = OcfSnapshots.read(fs, root, 3L).files.map(_.path)
    assert(resolved.length == 2002)
    assert(resolved.head == "part-00001.avro")
    assert(resolved.takeRight(3) == Seq("extra-a.avro", "extra-b.avro", "rewritten.avro"))
    assert(OcfSnapshots.read(fs, root, 2L).files.map(_.path).length == 2002)
    assert(OcfSnapshots.read(fs, root, 1L).files.map(_.path).length == 2000)
    // a long run of small commits: every CheckpointEvery-th write is a full
    // manifest (bounding any read's chain walk), the rest stay O(delta)
    (0 until OcfSnapshots.CheckpointEvery + 3).foreach { i =>
      OcfSnapshots.commit(fs, root, "append")(prev =>
        prev :+ OcfSnapshots.SnapFile(s"tail-$i.avro", 10L + i))
    }
    val head = OcfSnapshots.versions(fs, root).last
    val lens = (2L to head).map(manifestLen)
    val fulls = lens.count(_ > fullLen / 2)
    val deltas = lens.count(_ * 50 < fullLen)
    assert(fulls >= 1, s"a checkpoint full manifest must appear in $lens")
    assert(fulls <= 2, s"checkpoints must be periodic, not frequent: $lens")
    assert(fulls + deltas == lens.length, s"every manifest is full or tiny: $lens")
    // the resolved head is exact after crossing the checkpoint
    val headFiles = OcfSnapshots.read(fs, root, head).files
    assert(headFiles.length == 2002 + OcfSnapshots.CheckpointEvery + 3)
    assert(headFiles.last.path == s"tail-${OcfSnapshots.CheckpointEvery + 2}.avro")
    // every delta stamps its chain's checkpoint version, enabling the
    // concurrent chain prefetch (readers never walk base pointers one
    // round trip at a time on an object store)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    (2L to head).foreach { v =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        root.toUri.getPath, OcfSnapshots.Dir, f"_v$v%012d.json"))
      val node = om.readTree(bytes)
      if (node.has("base")) {
        assert(node.has("ckpt"), s"delta v$v must stamp its checkpoint")
        val ck = node.get("ckpt").asLong
        assert(ck >= 1L && ck < v, s"v$v ckpt=$ck")
        // the stamped version IS a full manifest
        val ckNode = om.readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root.toUri.getPath, OcfSnapshots.Dir,
            f"_v$ck%012d.json")))
        assert(!ckNode.has("base"), s"v$v ckpt=$ck must name a FULL manifest")
      }
    }
  }

  test("rewrite_manifests checkpoints the head in place, idempotently") {
    spark.sql("CREATE TABLE gs.ns.rwm (id BIGINT) USING `graft-ocf`")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO gs.ns.rwm SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val root = new Path(warehouse.getAbsolutePath, "ns/rwm")
    def headJson() = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        root.toUri.getPath, OcfSnapshots.Dir, "_v000000000004.json")))
    assert(headJson().has("base"), "head starts as a delta")
    val r1 = spark.sql("CALL gs.system.rewrite_manifests(table => 'ns.rwm')")
      .collect().head
    assert(r1.getLong(0) == 4L && r1.getBoolean(1))
    assert(!headJson().has("base"), "head is now a full checkpoint")
    assert(spark.table("gs.ns.rwm").count() == 40L)
    assert(spark.sql("SELECT count(*) FROM gs.ns.rwm VERSION AS OF 2")
      .head.getLong(0) == 20L)
    // idempotent; the next commit deltas against the fresh checkpoint
    val r2 = spark.sql("CALL gs.system.rewrite_manifests(table => 'ns.rwm')")
      .collect().head
    assert(r2.getLong(0) == 4L && !r2.getBoolean(1))
    spark.sql("INSERT INTO gs.ns.rwm SELECT id FROM range(40, 45)")
    assert(spark.table("gs.ns.rwm").count() == 45L)
  }

  test(".manifests reports the delta/checkpoint shape of the commit layer") {
    val rows = spark.sql(
      """SELECT version, kind, size_bytes, entries, removes, checkpoint
        |FROM gs.ns.rwm.manifests ORDER BY version""".stripMargin).collect()
    // rwm (previous test): v1 full, v2-v4 deltas until rewrite_manifests
    // checkpointed v4 in place, then v5 deltas against it
    assert(rows.map(_.getLong(0)).toSeq == (1L to 5L))
    val kinds = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kinds(1L) == "full" && kinds(2L) == "delta" && kinds(3L) == "delta")
    assert(kinds(4L) == "full", "rewrite_manifests checkpointed the head")
    assert(kinds(5L) == "delta")
    // the delta commits stayed O(delta): each carries few entries, and its
    // checkpoint stamp names a full manifest
    rows.filter(_.getString(1) == "delta").foreach { r =>
      assert(r.getLong(3) <= 8L, s"delta v${r.getLong(0)} entries=${r.getLong(3)}")
      assert(!r.isNullAt(5) && kinds(r.getLong(5)) == "full",
        s"delta v${r.getLong(0)} checkpoint=${r.get(5)}")
    }
    assert(rows.forall(_.getLong(2) > 0L))
  }

  test("expire_snapshots checkpoints retained deltas before dropping their chain") {
    spark.sql("CREATE TABLE gs.ns.expchain (id BIGINT) USING `graft-ocf`")
    (0 until 6).foreach(i =>
      spark.sql(s"INSERT INTO gs.ns.expchain SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val root = new Path(warehouse.getAbsolutePath, "ns/expchain")
    assert(OcfSnapshots.versions(fs, root) == (1L to 6L))
    // versions 2..6 are deltas chained down to the full v1 — expiring
    // 1..4 must leave v5 (now the oldest retained) readable: the procedure
    // checkpoints it before deleting its chain
    spark.sql(
      "CALL gs.system.expire_snapshots(table => 'ns.expchain', keep_last => 2)")
      .collect()
    assert(OcfSnapshots.versions(fs, root) == Seq(5L, 6L))
    assert(spark.sql("SELECT count(*) FROM gs.ns.expchain VERSION AS OF 5")
      .head.getLong(0) == 50L)
    assert(spark.table("gs.ns.expchain").count() == 60L)
    // and the table still commits + reads normally afterwards
    spark.sql("INSERT INTO gs.ns.expchain SELECT id FROM range(60, 70)")
    assert(spark.table("gs.ns.expchain").count() == 70L)
  }

  test("resolved snapshots cache by (path, len, mtime): repeat reads " +
      "walk no chains; a recreated table re-resolves") {
    spark.sql("CREATE TABLE gs.ns.scache (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.scache SELECT id FROM range(10)")
    spark.sql("INSERT INTO gs.ns.scache SELECT id FROM range(10, 25)")
    val root = new org.apache.hadoop.fs.Path(warehouse.getAbsolutePath, "ns/scache")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val first = OcfSnapshots.latest(fs, root).get
    val before = OcfSnapshots.chainResolves.get()
    // repeat reads of an immutable version are pure cache hits
    (1 to 5).foreach(_ => assert(
      OcfSnapshots.read(fs, root, first.version).files == first.files))
    assert(OcfSnapshots.chainResolves.get() == before,
      "repeat reads of the same version must not re-walk the chain")
    // a dropped-and-recreated table at the SAME path must NOT serve the
    // old content: the fresh manifest's (len, mtime) differs
    spark.sql("DROP TABLE gs.ns.scache")
    spark.sql("CREATE TABLE gs.ns.scache (id BIGINT) USING `graft-ocf`")
    spark.sql("INSERT INTO gs.ns.scache SELECT id FROM range(3)")
    assert(spark.table("gs.ns.scache").count() == 3L)
  }
}
