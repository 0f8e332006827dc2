package graft.sources

import java.io.File

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `noperm:` scheme whose statuses refuse to
  * say who owns them: `getPermission`, `getOwner` and `getGroup` throw.
  * Without the native Hadoop library those are the reads that start an
  * `ls -ld` process per entry on the local filesystem, so a listing that
  * walks through this filesystem is one that starts none. */
class NoPermFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = NoPermFileSystem.Uri
  override def getFileStatus(f: Path): FileStatus =
    NoPermFileSystem.blind(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(NoPermFileSystem.blind)
}) {
  override def getScheme: String = NoPermFileSystem.Uri.getScheme
}

object NoPermFileSystem {
  val Uri: java.net.URI = java.net.URI.create("noperm:///")

  final class BlindStatus(s: FileStatus) extends FileStatus(s.getLen,
      s.isDirectory, 1, s.getBlockSize, s.getModificationTime, s.getPath) {
    private def refuse(what: String): Nothing =
      throw new IllegalStateException(s"listing read the $what of $getPath")
    override def getPermission: org.apache.hadoop.fs.permission.FsPermission =
      refuse("permission")
    override def getOwner: String = refuse("owner")
    override def getGroup: String = refuse("group")
  }

  def blind(s: FileStatus): FileStatus = s match {
    case b: BlindStatus => b
    case _ => new BlindStatus(s)
  }
}

/** Every directory listing graft-ocf makes — scan planning
  * ([[OcfDataSource.list]]), a first commit's adoption
  * ([[OcfSnapshots.listingAsFiles]]), [[OcfMaintenance.vacuumTemps]] and
  * `remove_orphan_files` — reads only path, kind, length and mtime, and
  * returns through [[NoPermFileSystem]] exactly what it returns through the
  * plain local filesystem. */
class ListingPermissionSpec extends AnyFunSuite {

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-noperm-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-listing-permission-spec")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.noperm.impl",
      classOf[NoPermFileSystem].getName)
    s.conf.set("spark.sql.catalog.np", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.np.warehouse", "noperm://" + warehouse.getAbsolutePath)
    s
  }

  private def conf = spark.sessionState.newHadoopConf()
  private def noperm(f: File): Path = new Path("noperm://" + f.getAbsolutePath)
  private def local(f: File): Path = new Path(f.toURI)
  /** A listed path without its scheme, so both filesystems' answers compare. */
  private def bare(p: String): String = new Path(p).toUri.getPath

  private def plant(f: File, ageMs: Long): File = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, "planted".getBytes("UTF-8"))
    f.setLastModified(System.currentTimeMillis() - ageMs)
    f
  }

  test("listing never reads permissions: list, listingAsFiles, vacuumTemps and " +
    "remove_orphan_files walk a filesystem whose statuses refuse them") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS np.ns")
    spark.sql("CREATE TABLE np.ns.t (id BIGINT, p STRING) USING `graft-ocf` " +
      "PARTITIONED BY (p)")
    // the first commit adopts the directory's listing; the second plans a
    // write over the first
    spark.sql("INSERT INTO np.ns.t SELECT id, CAST(id % 2 AS STRING) FROM range(10)")
    spark.sql("INSERT INTO np.ns.t SELECT id, CAST(id % 3 AS STRING) FROM range(10, 25)")
    assert(spark.table("np.ns.t").count() == 25L)

    val root = new File(warehouse, "ns/t")
    val hour = 3600L * 1000
    val agedTemp = plant(new File(root, "p=0/.part-dead.avro.tmp"), 2 * hour)
    val freshTemp = plant(new File(root, "p=1/.part-live.avro.tmp"), 0L)
    val agedStaged = plant(new File(root, "_staged-dead/part-0.avro"), 2 * hour)
      .getParentFile
    agedStaged.setLastModified(System.currentTimeMillis() - 2 * hour)
    val agedOrphan = plant(new File(root, "p=2/orphan-aged.avro"), 2 * hour)
    val freshOrphan = plant(new File(root, "orphan-fresh.avro"), 0L)

    // scan-planning listings, recursive and not, with and without a glob
    for (recursive <- Seq(true, false); glob <- Seq(None, Some("*.avro"))) {
      def listed(p: Path) = OcfDataSource.list(conf, Seq(p.toString), glob, recursive)
        .map(f => bare(f.path) -> f.len)
      val expected = listed(local(root))
      assert(expected.nonEmpty)
      assert(listed(noperm(root)) == expected, s"recursive=$recursive glob=$glob")
    }
    // a first commit's adoption listing
    def asFiles(p: Path) = OcfSnapshots.listingAsFiles(p.getFileSystem(conf), p)
    assert(asFiles(noperm(root)) == asFiles(local(root)))

    // writer temps and staged directories past the age gate
    assert(OcfMaintenance.vacuumTemps(spark, noperm(root).toString, hour) == 2L)
    assert(!agedTemp.exists() && !agedStaged.exists())
    assert(freshTemp.exists())

    val fs = local(root).getFileSystem(conf)
    val referenced = OcfSnapshots.latest(fs, local(root)).get.files.size
    val res = spark.sql(
      "CALL np.system.remove_orphan_files(table => 'ns.t', min_age_ms => 3600000)")
      .collect().head
    // scanned: the referenced data files plus both planted orphans
    assert(res.getLong(0) == referenced + 2L, res)
    assert(res.getLong(1) == 1L, res)
    assert(res.getLong(2) == "planted".length.toLong, res)
    assert(!agedOrphan.exists() && freshOrphan.exists())
    assert(spark.table("np.ns.t").count() == 25L)
  }
}
