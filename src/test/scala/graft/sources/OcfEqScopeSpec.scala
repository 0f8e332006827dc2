package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Equality-delete burden SCOPING ([[OcfEqScope]]): an upsert commit's
  * delete files attach only to data files whose manifest-inline key
  * bounds ADMIT at least one of the commit's keys — without this, every
  * upsert burdens the whole pre-commit table (per-row probes on every
  * scan, whole-table re-reads in both change feeds). */
class OcfEqScopeSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-eqscope-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-eqscope-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gsc", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gsc.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsc.ns")
    s
  }

  private def conf = spark.sessionState.newHadoopConf()
  private def fs = new Path(warehouse.getAbsolutePath).getFileSystem(conf)
  private def root(t: String) = new Path(warehouse.getAbsolutePath, s"ns/$t")
  private def snapFiles(t: String) = OcfSnapshots.latest(fs, root(t)).get.files

  private def statsJson(col: String, t: String, mn: String, mx: String,
                        hasNull: Boolean = false, allNull: Boolean = false): String = {
    val bounds = if (allNull) "" else s""""min":$mn,"max":$mx,"""
    s"""{"$col":{"t":"$t",$bounds"hasNull":$hasNull,"allNull":$allNull}}"""
  }

  test("mayBurden: per-key min/max admission over long and string domains") {
    import OcfEqScope._
    def lk(hasNull: Boolean, vs: Long*) =
      Some(KeySummary(Seq("id" -> LongKeys(vs.sorted.toArray, hasNull))))
    val in = statsJson("id", "long", "10", "20")
    // a key inside the bounds admits; all keys outside refute
    assert(mayBurden(Some(in), lk(false, 15L)))
    assert(mayBurden(Some(in), lk(false, 10L))) // inclusive low
    assert(mayBurden(Some(in), lk(false, 20L))) // inclusive high
    assert(!mayBurden(Some(in), lk(false, 9L, 21L))) // straddling, none inside
    assert(!mayBurden(Some(in), lk(false, 5L)))
    assert(!mayBurden(Some(in), lk(false)))           // no keys at all
    // null keys: admitted only when the file has nulls
    assert(!mayBurden(Some(in), lk(true, 5L)))
    assert(mayBurden(Some(statsJson("id", "long", "10", "20", hasNull = true)),
      lk(true, 5L)))
    // all-null file: only a null key can match
    val an = statsJson("id", "long", "0", "0", hasNull = true, allNull = true)
    assert(!mayBurden(Some(an), lk(false, 15L)))
    assert(mayBurden(Some(an), lk(true, 15L)))
    // strings compare in UTF8 binary order
    def sk(vs: String*) = Some(KeySummary(Seq("k" -> StringKeys(
      vs.map(UTF8String.fromString).sortBy(identity)(
        Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)).toArray, false))))
    val sin = Some(statsJson("k", "string", "\"bb\"", "\"dd\""))
    assert(mayBurden(sin, sk("cc")))
    assert(!mayBurden(sin, sk("aa", "ee")))
    // conservatism: no stats, no summary, unstamped column, opaque type,
    // domain mismatch — all admit
    assert(mayBurden(None, lk(false, 5L)))
    assert(mayBurden(Some(in), None))
    assert(mayBurden(Some(in),
      Some(KeySummary(Seq("other" -> LongKeys(Array(5L), false))))))
    assert(mayBurden(Some(in), Some(KeySummary(Seq("id" -> OpaqueKeys(false))))))
    assert(mayBurden(Some(statsJson("id", "string", "\"a\"", "\"b\"")),
      lk(false, 5L)))
    // multi-column keys: EVERY key column must admit
    val two = """{"a":{"t":"long","min":0,"max":9,"hasNull":false,"allNull":false},
                 |"b":{"t":"long","min":100,"max":200,"hasNull":false,"allNull":false}}"""
      .stripMargin.replace("\n", "")
    def two2(a: Long, b: Long) = Some(KeySummary(Seq(
      "a" -> LongKeys(Array(a), false), "b" -> LongKeys(Array(b), false))))
    assert(mayBurden(Some(two), two2(5L, 150L)))
    assert(!mayBurden(Some(two), two2(5L, 50L)))
  }

  test("upsert auto-stamps key stats; resolve attaches deletes only to admitted files") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gsc.ns.scoped (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    // two commits with DISJOINT key ranges (coalesce(1): one file each)
    spark.range(0, 1000).select($"id", org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("a"), $"id").as("v"))
      .coalesce(1).writeTo("gsc.ns.scoped").append() // v1: ids 0..999
    spark.range(100000, 101000).select($"id", org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("b"), $"id").as("v"))
      .coalesce(1).writeTo("gsc.ns.scoped").append() // v2: ids 100000..100999
    // upsert a key only the SECOND commit's range admits
    Seq((100500L, "upd")).toDF("id", "v")
      .writeTo("gsc.ns.scoped").option("upsertKeys", "id").append() // v3

    // upsert-written INSERT files auto-carry key stats (the delete file's
    // keys are read directly by the scoper, no stamp needed there)
    val files = snapFiles("scoped")
    val eq = files.filter(_.isEqualityDelete)
    assert(eq.nonEmpty)
    val newData = files.filter(f => f.isData && f.seq == eq.head.seq)
    assert(newData.forall(_.meta.exists(m => m.statsJson.exists(_.contains("\"id\"")))),
      "upsert insert files must auto-stamp key stats")

    // resolve: the delete burdens ONLY the second commit's file
    val resolved = OcfDataSource.resolve(new CaseInsensitiveStringMap(
      java.util.Map.of("path", root("scoped").toString)))
    val burdened = resolved.eqDeletes.keySet
    assert(burdened.size == 1, s"want exactly one burdened file, got $burdened")
    val oldFiles = files.filter(f => f.isData && f.seq < eq.head.seq)
    assert(oldFiles.size == 2)
    val admitted = oldFiles.filter(f => OcfPartitions
      .parseStats(f.meta.get.statsJson.get)("id").max.exists(_.asLong >= 100500L))
    assert(admitted.size == 1)
    assert(burdened.head.endsWith(admitted.head.path.split('/').last))

    // and the read is still exactly right
    val got = spark.table("gsc.ns.scoped").where($"id" === 100500L)
      .select("v").as[String].collect().toSeq
    assert(got == Seq("upd"))
    assert(spark.table("gsc.ns.scoped").count() == 2000L)
  }

  test("bloom stamps refute a point upsert whose key is inside every " +
      "file's min/max range but present in only one file") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gsc.ns.bloomed (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id', bloomColumns 'id')""".stripMargin)
    // interleaved key ranges: min/max admits BOTH files for any key
    spark.range(0, 1000).select(($"id" * 2).as("id"),
      org.apache.spark.sql.functions.lit("even").as("v"))
      .coalesce(1).writeTo("gsc.ns.bloomed").append() // v1: evens 0..1998
    spark.range(0, 1000).select(($"id" * 2 + 1).as("id"),
      org.apache.spark.sql.functions.lit("odd").as("v"))
      .coalesce(1).writeTo("gsc.ns.bloomed").append() // v2: odds 1..1999
    Seq((500L, "upd")).toDF("id", "v")
      .writeTo("gsc.ns.bloomed").option("upsertKeys", "id").append() // v3
    val resolved = OcfDataSource.resolve(new CaseInsensitiveStringMap(
      java.util.Map.of("path", root("bloomed").toString)))
    // min/max admits both old files; the odd file's bloom proves 500 absent
    assert(resolved.eqDeletes.size == 1,
      s"bloom must refute the odd-keys file: ${resolved.eqDeletes.keySet}")
    val got = spark.table("gsc.ns.bloomed").where($"id" === 500L)
      .select("v").as[String].collect().toSeq
    assert(got == Seq("upd"))
    assert(spark.table("gsc.ns.bloomed").count() == 2000L)
  }

  test("files without key stats stay conservatively burdened") {
    import spark.implicits._
    // no statsColumns option and the FIRST commit predates any upsert, so
    // its files carry no id stats -> must remain burdened
    spark.sql(
      "CREATE TABLE gsc.ns.nostats (id BIGINT, v STRING) USING `graft-ocf`")
    spark.range(0, 100).select($"id",
      org.apache.spark.sql.functions.lit("x").as("v"))
      .coalesce(1).writeTo("gsc.ns.nostats").append()
    Seq((999999L, "y")).toDF("id", "v")
      .writeTo("gsc.ns.nostats").option("upsertKeys", "id").append()
    val resolved = OcfDataSource.resolve(new CaseInsensitiveStringMap(
      java.util.Map.of("path", root("nostats").toString)))
    assert(resolved.eqDeletes.size == 1,
      s"unstamped file must stay burdened: ${resolved.eqDeletes.keySet}")
    assert(spark.table("gsc.ns.nostats").count() == 101L)
  }

  test("upsertKeys resolve case-insensitively and canonicalize") {
    import spark.implicits._
    spark.sql(
      "CREATE TABLE gsc.ns.ci (doc_id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql("INSERT INTO gsc.ns.ci VALUES (1, 'a'), (2, 'b')")
    Seq((2L, "b2")).toDF("doc_id", "v")
      .writeTo("gsc.ns.ci").option("upsertKeys", "DOC_ID").append()
    // the manifest entry carries the schema's exact spelling
    val eq = snapFiles("ci").filter(_.isEqualityDelete)
    assert(eq.nonEmpty && eq.forall(_.equalityOf.contains(Seq("doc_id"))))
    val got = spark.table("gsc.ns.ci").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2")))
  }

  test("batch changes(): scoped upsert range still yields exact deltas, " +
      "and a row-preserving-only range is an empty frame") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gsc.ns.feed (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    spark.range(0, 50).select($"id",
      org.apache.spark.sql.functions.lit("x").as("v"))
      .coalesce(1).writeTo("gsc.ns.feed").append() // v1
    spark.range(1000, 1050).select($"id",
      org.apache.spark.sql.functions.lit("y").as("v"))
      .coalesce(1).writeTo("gsc.ns.feed").append() // v2
    Seq((1010L, "z")).toDF("id", "v")
      .writeTo("gsc.ns.feed").option("upsertKeys", "id").append() // v3
    val d = GraftChanges.forTable(spark, "gsc.ns.feed", 2L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_change_type"))).toSet
    assert(d == Set((1010L, "y", "delete"), (1010L, "z", "insert")), d)

    // v4: compact (row-preserving) -> (3,4] holds zero row changes
    spark.sql("CALL gsc.system.compact(table => 'ns.feed')")
    val empty = GraftChanges.forTable(spark, "gsc.ns.feed", 3L)
    assert(empty.isEmpty)
    assert(empty.columns.contains("_change_type") &&
      empty.columns.contains("_commit_version") && empty.columns.contains("id"))
  }

  test("streaming CDF: a position delete of an already-equality-deleted " +
      "row is not a change (hand-built manifest)") {
    import spark.implicits._
    spark.sql(
      "CREATE TABLE gsc.ns.posafter (id BIGINT, v STRING) USING `graft-ocf`")
    spark.range(0, 10).select($"id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v"), $"id").as("v"))
      .coalesce(1).orderBy("id").writeTo("gsc.ns.posafter").append() // v1
    Seq((3L, "u3")).toDF("id", "v")
      .writeTo("gsc.ns.posafter").option("upsertKeys", "id").append() // v2

    // v3, hand-built: a position-delete file naming ordinals 3 (id=3,
    // ALREADY equality-deleted by v2) and 5 (live). Internal writers never
    // produce this shape (the MoR delete scan applies eq filters), but the
    // feed must match the batch feed's exact anti-join on it.
    val r = root("posafter")
    val target = snapFiles("posafter").filter(_.isData).minBy(_.seq)
    val bytes = OcfPositionDeleteWriter.render(Array(3L, 5L), target.path)
    val delName = "_delete-hand.avro"
    val out = fs.create(new Path(r, delName), false)
    try out.write(bytes) finally out.close()
    OcfSnapshots.commit(fs, r, "delete", None) { prev =>
      prev :+ OcfSnapshots.SnapFile(delName, bytes.length.toLong,
        deleteOf = Some(target.path))
    }

    val ckpt = java.nio.file.Files.createTempDirectory("graft-eqscope-ck").toString
    val q = spark.readStream.format("graft-ocf-changes")
      .option("startingVersion", "0").load(r.toString)
      .writeStream.format("memory").queryName("posafter_feed")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    val rows = spark.table("posafter_feed").collect().map(r0 =>
      (r0.getLong(0), r0.getString(1), r0.getAs[String]("_change_type"),
        r0.getAs[Long]("_commit_version"))).toSet
    q.stop()
    val v3 = rows.filter(_._4 == 3L)
    assert(v3 == Set((5L, "v5", "delete", 3L)),
      s"only the LIVE ordinal is a change; got $v3")
    // and the batch feed agrees
    val b = GraftChanges.changes(spark, r.toString, 2L)
      .collect().map(r0 => (r0.getLong(0), r0.getAs[String]("_change_type"))).toSet
    assert(b == Set((5L, "delete")), b)
  }

  test("a row one commit deletes both by position and by key is ONE " +
      "change (hand-built manifest)") {
    import spark.implicits._
    spark.sql(
      "CREATE TABLE gsc.ns.mixed (id BIGINT, v STRING) USING `graft-ocf`")
    spark.sql(
      "CREATE TABLE gsc.ns.mixedkeys (id BIGINT, v STRING) USING `graft-ocf`")
    spark.range(0, 10).select($"id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v"), $"id").as("v"))
      .coalesce(1).orderBy("id").writeTo("gsc.ns.mixed").append() // v1
    // an upsert elsewhere yields an equality-delete file of key id=3
    spark.sql("INSERT INTO gsc.ns.mixedkeys VALUES (3, 'w')")
    Seq((3L, "x")).toDF("id", "v")
      .writeTo("gsc.ns.mixedkeys").option("upsertKeys", "id").append()
    val keyFile = snapFiles("mixedkeys").filter(_.isEqualityDelete).head
    val eqBytes = {
      val in = fs.open(new Path(root("mixedkeys"), keyFile.path))
      try in.readAllBytes() finally in.close()
    }

    // v2, hand-built: ordinal 3 (id=3) deleted by position AND by key in
    // one commit. Internal writers never produce this shape; the feed must
    // still emit the row once, as the head lost it once.
    val r = root("mixed")
    val target = snapFiles("mixed").filter(_.isData).head
    val posBytes = OcfPositionDeleteWriter.render(Array(3L), target.path)
    Seq("_delete-hand.avro" -> posBytes, "_eq-hand.avro" -> eqBytes).foreach {
      case (name, bytes) =>
        val out = fs.create(new Path(r, name), false)
        try out.write(bytes) finally out.close()
    }
    OcfSnapshots.commit(fs, r, "delete", None) { prev =>
      prev :+ OcfSnapshots.SnapFile("_delete-hand.avro",
        posBytes.length.toLong, deleteOf = Some(target.path)) :+
        OcfSnapshots.SnapFile("_eq-hand.avro", eqBytes.length.toLong,
          equalityOf = Some(Seq("id")))
    }
    assert(spark.table("gsc.ns.mixed").count() == 9L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("_change_type", "id", "v").collect()
        .map(r0 => (r0.getString(0), r0.getLong(1), r0.getString(2))).toSeq
    assert(rows(GraftChanges.changes(spark, r.toString, 1L)) ==
      Seq(("delete", 3L, "v3")))
    assert(rows(spark.read.option("startingVersion", "1")
      .table("gsc.ns.mixed.changes")) == Seq(("delete", 3L, "v3")))
  }

  test("caches are WEIGHT-bounded: eviction by held values, newest entry " +
      "always survives, reads stay correct") {
    import OcfEqScope._
    // unit semantics of the weighted LRU
    val c = new WeightedLru[String, Array[Byte]](10, 100, _.length.toLong)
    c.put("a", new Array[Byte](40)); c.put("b", new Array[Byte](40))
    assert(c.entryCount == 2 && c.totalWeight == 80)
    c.put("c", new Array[Byte](40)) // 120 > 100: evict eldest "a"
    assert(c.entryCount == 2 && c.totalWeight == 80)
    assert(c.get("a").isEmpty && c.get("b").isDefined && c.get("c").isDefined)
    // access order: touching "b" re-ranks it, so "c" is next out
    c.get("b")
    c.put("d", new Array[Byte](40))
    assert(c.get("c").isEmpty && c.get("b").isDefined && c.get("d").isDefined)
    // an over-weight single entry survives ALONE (degrades to no-reuse,
    // never to a failure) and is evicted by the next put
    c.put("giant", new Array[Byte](150))
    assert(c.entryCount == 1 && c.totalWeight == 150)
    c.put("e", new Array[Byte](40))
    assert(c.entryCount == 1 && c.get("giant").isEmpty && c.get("e").isDefined)
    // re-putting a key replaces its weight (no double count)
    c.put("e", new Array[Byte](60))
    assert(c.totalWeight == 60)
    // the entry-count bound still applies independently of weight
    val c2 = new WeightedLru[Int, String](3, 1000000L, _ => 1L)
    (0 until 10).foreach(i => c2.put(i, "x"))
    assert(c2.entryCount == 3)

    // integration: real upsert key files load through the JVM-wide key-set
    // cache; its weight is exactly the held tuples and a second read of the
    // same file shares the SAME instance (no re-read, no re-hash)
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gsc.ns.wboun (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    spark.range(0, 300).select($"id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x"), $"id").as("v"))
      .coalesce(1).writeTo("gsc.ns.wboun").append()
    (0 until 3).foreach { k =>
      (0 until 5).map(i => ((k * 100 + i).toLong, s"u$k-$i")).toDF("id", "v")
        .coalesce(1).writeTo("gsc.ns.wboun")
        .option("upsertKeys", "id").append()
    }
    val eqFiles = snapFiles("wboun").filter(_.isEqualityDelete)
    assert(eqFiles.size == 3)
    keySets.clear()
    val base = fs.makeQualified(root("wboun"))
    val types = Array[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType)
    val loaded = eqFiles.map { sf =>
      val m = metaOfSnap(base, sf, conf)
      keySet(m, m.writerSchemaJson, types, conf)
    }
    assert(loaded.forall(_.size == 5))
    assert(keySets.entryCount == 3)
    assert(keySets.totalWeight == 15L,
      s"weight must equal held tuples, got ${keySets.totalWeight}")
    // a re-load is a cache HIT: same instance, weight unchanged
    val again = eqFiles.map { sf =>
      val m = metaOfSnap(base, sf, conf)
      keySet(m, m.writerSchemaJson, types, conf)
    }
    assert(again.zip(loaded).forall { case (x, y) => x eq y })
    assert(keySets.totalWeight == 15L)
    // and the table still reads exactly right through the same cache
    assert(spark.table("gsc.ns.wboun").count() == 300L)
    assert(spark.table("gsc.ns.wboun").where($"id" === 104L)
      .select("v").as[String].collect().toSeq == Seq("u1-4"))
  }
}
