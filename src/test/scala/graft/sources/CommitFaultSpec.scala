package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `faulty://` scheme that fails the Nth
  * `rename` once [[FaultyFileSystem.failRename]] arms it: a
  * [[FilterFileSystem]] over a [[RawLocalFileSystem]] that reports the
  * `faulty` URI. [[GraftIO]] keeps its java.nio fast path for `file:` only,
  * so every commit rename on this scheme reaches `rename` here. */
class FaultyFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = FaultyFileSystem.Uri
  // the raw statuses load permissions lazily through java.io.File, which
  // accepts `file:` URIs only; plain copies carry what readers use
  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
    s.isDirectory, 1, s.getBlockSize, s.getModificationTime, s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
}) {
  override def getScheme: String = FaultyFileSystem.Uri.getScheme
  override def rename(src: Path, dst: Path): Boolean = {
    if (FaultyFileSystem.renamesLeft.getAndDecrement() == 1)
      throw new java.io.IOException(s"injected fault: rename $src -> $dst")
    super.rename(src, dst)
  }
}

object FaultyFileSystem {
  val Uri: java.net.URI = java.net.URI.create("faulty:///")
  // renames left until the injected failure; <= 0 means disarmed
  private val renamesLeft = new AtomicInteger(0)
  def failRename(nth: Int): Unit = renamesLeft.set(nth)
  def disarm(): Unit = renamesLeft.set(0)
}

/** Commits stay crash-consistent when a rename fails mid-commit: every
  * write lands its files behind a manifest (a bare directory's existing
  * files are adopted first) and only then commits ONE manifest, so a
  * failed rename leaves the previous version fully readable. */
class CommitFaultSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-fault-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-commit-fault-spec")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.faulty.impl",
      classOf[FaultyFileSystem].getName)
    s.conf.set("spark.sql.catalog.gf", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gf.warehouse", "faulty://" + warehouse.getAbsolutePath)
    s
  }

  /** Run `body` with the `nth` rename from now on failing; it must fail
    * with the injected fault. */
  private def failingRename(nth: Int)(body: => Any): Unit = {
    FaultyFileSystem.failRename(nth)
    val e = try intercept[Exception](body) finally FaultyFileSystem.disarm()
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("injected fault")), chain.mkString(" | "))
  }

  test("a path-API overwrite whose rename fails keeps the previous rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fault-ovw").toFile
    val faulty = "faulty://" + dir.getAbsolutePath
    def ids(): Seq[Long] = spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .as[Long].collect().sorted.toSeq
    (0L until 20L).toDF("id").repartition(2)
      .write.format("graft-ocf").mode("append").save(faulty)
    assert(ids() == (0L until 20L))
    // the first rename fails before anything lands; the second fails with
    // one new file already renamed into place
    for (nth <- 1 to 2) {
      failingRename(nth) {
        (100L until 110L).toDF("id").repartition(2)
          .write.format("graft-ocf").mode("overwrite").save(faulty)
      }
      assert(ids() == (0L until 20L), s"overwrite failing rename #$nth")
    }
    (100L until 110L).toDF("id").repartition(2)
      .write.format("graft-ocf").mode("overwrite").save(faulty)
    assert(ids() == (100L until 110L))
  }

  /** A directory of graft-ocf files and no manifest, as an older engine or
    * another writer leaves it. */
  private def bareDir(ids: Seq[Long]): java.io.File = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fault-bare").toFile
    ids.toDF("id").repartition(2)
      .write.format("graft-ocf").mode("append").save(dir.getAbsolutePath)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir, OcfSnapshots.Dir))
    dir
  }

  private def avroFiles(dir: java.io.File): Seq[String] = {
    import scala.jdk.CollectionConverters._
    org.apache.commons.io.FileUtils.listFiles(dir, Array("avro"), true).asScala
      .map(_.getPath).toSeq.sorted
  }

  private def idsIn(dir: java.io.File): Seq[Long] = {
    import spark.implicits._
    spark.read.format("graft-ocf").load(dir.getAbsolutePath)
      .as[Long].collect().sorted.toSeq
  }

  test("an overwrite of a bare directory whose rename fails keeps the listed rows") {
    import spark.implicits._
    // rename #1 is the adoption manifest's, #2 and #3 the new files' (the
    // third fails with one new file already in place)
    for (nth <- 1 to 3) {
      val dir = bareDir(0L until 20L)
      val before = avroFiles(dir)
      failingRename(nth) {
        (100L until 110L).toDF("id").repartition(2)
          .write.format("graft-ocf").mode("overwrite").save("faulty://" + dir.getAbsolutePath)
      }
      assert(idsIn(dir) == (0L until 20L), s"overwrite failing rename #$nth")
      // the abort removed the file that had already landed
      assert(avroFiles(dir) == before, s"overwrite failing rename #$nth")
    }
  }

  test("a failed first write into an empty directory leaves no file behind") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fault-empty").toFile
    failingRename(2) {
      (0L until 10L).toDF("id").repartition(2)
        .write.format("graft-ocf").mode("append").save("faulty://" + dir.getAbsolutePath)
    }
    assert(avroFiles(dir).isEmpty)
  }

  test("a write into a missing branch of a bare directory lands nothing") {
    import spark.implicits._
    val dir = bareDir(0L until 20L)
    val before = avroFiles(dir)
    val e = intercept[Exception] {
      (100L until 110L).toDF("id").repartition(2)
        .write.format("graft-ocf").mode("append").option("branch", "audit")
        .save(dir.getAbsolutePath)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("no branch 'audit'")), chain.mkString(" | "))
    assert(idsIn(dir) == (0L until 20L))
    assert(avroFiles(dir) == before)
  }

  test("a manifest publish whose rename fails leaves no temp and keeps the previous version") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fault-publish").toFile
    val root = new Path("faulty://" + dir.getAbsolutePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    (0L until 20L).toDF("id").repartition(2)
      .write.format("graft-ocf").mode("append").save(root.toString)
    val before = OcfSnapshots.versions(fs, root)
    // the commit's only rename is its manifest publish
    failingRename(1) {
      OcfSnapshots.commit(fs, root, "append")(_ :+ OcfSnapshots.SnapFile("x.avro", 1L))
    }
    val snaps = new java.io.File(dir, OcfSnapshots.Dir)
    assert(snaps.list().filter(_.endsWith(".tmp")).isEmpty, snaps.list().toSeq)
    assert(OcfSnapshots.versions(fs, root) == before)
    assert(idsIn(dir) == (0L until 20L))
  }

  test("a copy-on-write DELETE whose rename fails keeps every row") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gf.ns")
    spark.sql(
      """CREATE TABLE gf.ns.t (id BIGINT, lang STRING)
        |USING `graft-ocf` PARTITIONED BY (lang)""".stripMargin)
    spark.sql(
      """INSERT INTO gf.ns.t
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END
        |FROM range(40)""".stripMargin)
    def ids(): Seq[Long] =
      spark.table("gf.ns.t").select("id").collect().map(_.getLong(0)).sorted.toSeq
    failingRename(1)(spark.sql("DELETE FROM gf.ns.t WHERE id = 3"))
    assert(ids() == (0L until 40L))
    spark.sql("DELETE FROM gf.ns.t WHERE id = 3")
    assert(ids() == (0L until 40L).filter(_ != 3L))
  }
}
