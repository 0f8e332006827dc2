package graft.sources

import graft.avro.{AvroBinaryReader, AvroRecord, AvroSchemaParser, ARecord, Ocf}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Every block a graft-ocf scan reads ends in the file's sync marker, and a
  * marker that does not match fails the query loudly: in the data file on
  * both decode lanes, and in the position-delete and equality-delete files
  * a merge-on-read scan loads before it decodes a row. */
class OcfBlockBoundarySpec extends AnyFunSuite {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft-boundary-wh").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-block-boundary-spec")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gbb", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gbb.warehouse", warehouse.getAbsolutePath)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gbb.ns")
    s
  }

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  /** Flip one bit of the sync marker that ends the first block of `file`;
    * the block's count, size and body stay intact. */
  private def flipFirstBlockSync(file: java.io.File): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val r = new AvroBinaryReader(bytes)
    val sync = Ocf.readHeader(r).sync
    r.readLong() // the block's row count
    val size = r.readLong().toInt
    val at = r.pos + size
    assert(bytes.slice(at, at + Ocf.SyncSize).sameElements(sync),
      s"no sync marker after the first block of $file")
    bytes(at + Ocf.SyncSize - 1) = (bytes(at + Ocf.SyncSize - 1) ^ 0x01).toByte
    java.nio.file.Files.write(file.toPath, bytes)
  }

  /** Both lanes fail the read with the cursor's marker check. */
  private def bothLanesFail(read: Boolean => DataFrame): Unit =
    Seq(true, false).foreach { columnar =>
      val df = read(columnar)
      assert(isColumnar(df) == columnar, df.queryExecution.executedPlan.toString)
      val e = intercept[Exception](df.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(chain.contains("OCF sync marker mismatch"),
        s"columnar=$columnar: $chain")
    }

  private def tableFiles(table: String): Seq[OcfSnapshots.SnapFile] = {
    val root = new Path(warehouse.getAbsolutePath, s"ns/$table")
    OcfSnapshots.latest(root.getFileSystem(spark.sessionState.newHadoopConf()),
      root).get.files
  }

  private def tableFile(table: String, f: OcfSnapshots.SnapFile): java.io.File =
    new java.io.File(new java.io.File(warehouse, s"ns/$table"), f.path)

  test("a flipped sync marker in the data file fails both decode lanes") {
    val schema = AvroSchemaParser.parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},{"name":"v","type":"string"}]}""".stripMargin)
      .asInstanceOf[ARecord]
    val dir = java.nio.file.Files.createTempDirectory("graft-boundary-data").toFile
    val file = new java.io.File(dir, "d.avro")
    java.nio.file.Files.write(file.toPath, Ocf.writeAll(schema,
      (0L until 500L).map(i => AvroRecord(schema, Array[Any](i, s"v$i")))))
    def read(columnar: Boolean) = spark.read.format("graft-ocf")
      .option("columnar", columnar.toString).load(dir.getAbsolutePath)
    assert(read(columnar = true).count() == 500L)
    flipFirstBlockSync(file)
    bothLanesFail(read)
  }

  test("a flipped sync marker in a position-delete file fails both lanes") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gbb.ns.pos (id BIGINT, v STRING)
        |USING `graft-ocf`
        |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
    (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .writeTo("gbb.ns.pos").append()
    spark.sql("DELETE FROM gbb.ns.pos WHERE id % 7 = 2")
    val deletes = tableFiles("pos").filter(_.deleteOf.isDefined)
    assert(deletes.nonEmpty, "DELETE must land a position-delete file")
    def read(columnar: Boolean) =
      spark.read.option("columnar", columnar.toString).table("gbb.ns.pos")
    assert(read(columnar = true).count() == (0L until 2000L).count(_ % 7 != 2))
    deletes.foreach(d => flipFirstBlockSync(tableFile("pos", d)))
    bothLanesFail(read)
  }

  test("a flipped sync marker in an equality-delete file fails both lanes") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE gbb.ns.eq (id BIGINT, v STRING)
        |USING `graft-ocf` OPTIONS (statsColumns 'id')""".stripMargin)
    (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .writeTo("gbb.ns.eq").append()
    (0L until 2000L by 3).map(i => (i, s"upd$i")).toDF("id", "v").coalesce(1)
      .writeTo("gbb.ns.eq").option("upsertKeys", "id").append()
    val keyFiles = tableFiles("eq").filter(_.isEqualityDelete)
    assert(keyFiles.nonEmpty, "an upsert must land an equality-delete file")
    def read(columnar: Boolean) =
      spark.read.option("columnar", columnar.toString).table("gbb.ns.eq")
    assert(read(columnar = true).count() == 2000L)
    keyFiles.foreach(k => flipFirstBlockSync(tableFile("eq", k)))
    // decoded key sets are cached per (file, length, reader schema), and
    // flipping a bit keeps the length: drop what the first read cached
    OcfEqScope.keySets.clear()
    OcfEqScope.summaries.clear()
    bothLanesFail(read)
  }
}
