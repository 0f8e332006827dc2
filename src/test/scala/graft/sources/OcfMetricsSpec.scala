package graft.sources

import graft.avro.{AvroBinaryWriter, AvroSchemaParser, OcfStreamWriter}
import graft.spark.SchemaConverters
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Custom V2 metrics for the OCF scan and write paths, driven at the
  * task-component level (the UI/listener plumbing is Spark's; what is OURS
  * is that the counters tell the truth). */
class OcfMetricsSpec extends AnyFunSuite {

  private val conf = new Configuration()

  test("write-side task metrics count rows, rolled files, and flushed bytes") {
    val dir = java.nio.file.Files.createTempDirectory("ocf-metrics-w").toFile
    dir.deleteOnExit()
    val sql = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val avroJson = AvroSchemaParser.toJson(SchemaConverters.toAvroType(sql))
    val cfg = OcfWriteConfig(dir.getAbsolutePath, sql, avroJson,
      OcfWrite.fieldOrdinals(sql, avroJson), "null", blockBytes = 1024,
      new SerializableHadoopConf(conf), "job1", maxBytesPerFile = 4096)
    val w = new OcfDataWriter(cfg, "part-0.avro", ".part-0.avro.tmp")
    assert(w.currentMetricsValues().forall(_.value == 0L), "all counters start at zero")

    (0 until 500).foreach { i =>
      w.write(new GenericInternalRow(Array[Any](i.toLong, UTF8String.fromString("v" * 20))))
    }
    val m = w.currentMetricsValues().map(x => x.name -> x.value).toMap
    assert(m("ocfRowsWritten") == 500L, s"got $m")
    assert(m("ocfFilesWritten") >= 2L, s"500 x ~24 B at a 4 KB bound must roll: $m")
    assert(m("ocfBytesWritten") > 4096L, s"got $m")

    val msg = w.commit().asInstanceOf[OcfCommitMessage]
    assert(msg.rows == 500L)
    assert(msg.files.size == w.currentMetricsValues()
      .find(_.name == "ocfFilesWritten").get.value)
  }

  test("merge-on-read delta writer reports inserted files, rows, bytes plus its delete files") {
    val dir = java.nio.file.Files.createTempDirectory("ocf-metrics-mor").toFile
    dir.deleteOnExit()
    val sql = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val avroJson = AvroSchemaParser.toJson(SchemaConverters.toAvroType(sql))
    val cfg = OcfWriteConfig(dir.getAbsolutePath, sql, avroJson,
      OcfWrite.fieldOrdinals(sql, avroJson), "null", blockBytes = 1024,
      new SerializableHadoopConf(conf), "job-mor")
    val w = new OcfPositionDeleteWriter(conf, dir.getAbsolutePath, fileOrd = 0, posOrd = 1,
      partitionId = 0, taskId = 7L, insertCfg = Some(cfg))
    def metrics = w.currentMetricsValues().map(x => x.name -> x.value).toMap
    assert(metrics == Map("ocfFilesWritten" -> 0L, "ocfRowsWritten" -> 0L,
      "ocfBytesWritten" -> 0L))

    (0 until 40).foreach { i =>
      w.insert(new GenericInternalRow(Array[Any](i.toLong, UTF8String.fromString("v" * 20))))
    }
    val root = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
    val qualRoot = root.getFileSystem(conf).makeQualified(root).toString
    Seq("a.avro", "b.avro").foreach { f =>
      (0L until 5L).foreach(pos => w.delete(null,
        new GenericInternalRow(Array[Any](UTF8String.fromString(s"$qualRoot/$f"), pos))))
    }
    val open = metrics
    assert(open("ocfRowsWritten") == 40L && open("ocfFilesWritten") == 1L, s"got $open")

    val msg = w.commit().asInstanceOf[OcfMorDeltaMessage]
    val m = metrics
    def len(p: String) = new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath).length()
    val deleteBytes = msg.deletes.map(e => len(e.tmp)).sum
    // no stats/bloom stamps: the sealed temp is the file the counter measured
    val dataBytes = msg.data.get.asInstanceOf[OcfCommitMessage].files.map(f => len(f.tmp)).sum
    assert(msg.deletes.size == 2 && deleteBytes > 0L && dataBytes > 0L)
    assert(m("ocfFilesWritten") == 3L, s"one data file + two delete files: $m")
    assert(m("ocfRowsWritten") == 40L, s"inserted rows only, not delete ordinals: $m")
    assert(m("ocfBytesWritten") == dataBytes + deleteBytes, s"got $m")
    w.close()
  }

  test("scan-side task metrics: decode reader counts bodies, count reader stays header-only") {
    // one file, several blocks of long datums
    val schemaJson = """{"type":"record","name":"K","fields":[{"name":"k","type":"long"}]}"""
    val schema = AvroSchemaParser.parse(schemaJson)
    val f = java.io.File.createTempFile("ocf-metrics-r", ".avro")
    f.deleteOnExit()
    val fos = new java.io.FileOutputStream(f)
    val sw = new OcfStreamWriter(fos, schema, "null", blockBytes = 256)
    (0L until 1000L).foreach { k =>
      val b = new AvroBinaryWriter(); b.writeLong(k); sw.append(b.toByteArray)
    }
    sw.finish(); fos.close()

    val meta = OcfDataSource.fetchMetas(conf,
      Seq(OcfDataSource.FileSlice(f.getAbsolutePath, f.length()))).head

    val r = new OcfSplitReader(meta, 0, f.length(), schemaJson, wrap = false, conf)
    var n = 0
    while (r.next()) n += 1
    r.close()
    assert(n == 1000)
    val rm = r.currentMetricsValues().map(x => x.name -> x.value).toMap
    assert(rm("ocfBlocksRead") > 2L, s"256 B blocks over 1000 longs: $rm")
    assert(rm("ocfBytesRead") > f.length() / 2, s"decode fetches the bodies: $rm")

    // COUNT(*) is the aggregate reader with one COUNT slot over a null template
    val c = new OcfAggReader(meta, 0, f.length(), conf, Array(0), Array[Any](null))
    assert(c.next())
    assert(c.get().getLong(0) == 1000L)
    c.close()
    val cm = c.currentMetricsValues().map(x => x.name -> x.value).toMap
    assert(cm("ocfBlocksRead") == rm("ocfBlocksRead"), "same block walk")
    assert(cm("ocfBytesRead") == cm("ocfBlocksRead") * 20L,
      s"count(*) fetches ~20 B per block, never a body: $cm")
    assert(cm("ocfBytesRead") < f.length() / 10,
      s"the header walk must read a small fraction of the file: $cm vs ${f.length()}")
  }

  test("a mid-file split counts the bytes its sync scan reads") {
    val schemaJson = """{"type":"record","name":"K","fields":[{"name":"k","type":"long"}]}"""
    val f = java.io.File.createTempFile("ocf-metrics-mid", ".avro")
    f.deleteOnExit()
    val fos = new java.io.FileOutputStream(f)
    val sw = new OcfStreamWriter(fos, AvroSchemaParser.parse(schemaJson), "null", blockBytes = 256)
    (0L until 1000L).foreach { k =>
      val b = new AvroBinaryWriter(); b.writeLong(k); sw.append(b.toByteArray)
    }
    sw.finish(); fos.close()
    val meta = OcfDataSource.fetchMetas(conf,
      Seq(OcfDataSource.FileSlice(f.getAbsolutePath, f.length()))).head
    // the split owns every block whose introducing marker starts at or past
    // `start`; its anchor is found by one chunked scan from `start`, which
    // reads the rest of this small file
    val start = f.length() / 2 + 1
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val walk = new graft.avro.AvroBinaryReader(bytes)
    graft.avro.Ocf.readHeader(walk)
    var ownedRows, ownedBytes = 0L
    while (!walk.atEnd) {
      val blockStart = walk.pos
      val count = walk.readLong()
      val size = walk.readLong()
      if (blockStart - graft.avro.Ocf.SyncSize >= start) {
        ownedRows += count
        ownedBytes += 20L + size + graft.avro.Ocf.SyncSize // header pread + body and marker
      }
      walk.skip(size + graft.avro.Ocf.SyncSize)
    }
    assert(ownedRows > 0L && ownedRows < 1000L, s"the split must start mid-file: $ownedRows")
    val r = new OcfSplitReader(meta, start, f.length(), schemaJson, wrap = false, conf)
    var n = 0L
    while (r.next()) n += 1
    r.close()
    assert(n == ownedRows)
    val rm = r.currentMetricsValues().map(x => x.name -> x.value).toMap
    assert(rm("ocfBytesRead") == (f.length() - start) + ownedBytes,
      s"sync scan ${f.length() - start} B + blocks $ownedBytes B: $rm")
  }

  test("sort tracker certifies only truly ordered streams (stamp is verified, not assumed)") {
    val sql = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val avroJson = AvroSchemaParser.toJson(SchemaConverters.toAvroType(sql))
    def cfg(sortCols: Array[String]) = OcfWriteConfig("/tmp/unused", sql, avroJson,
      OcfWrite.fieldOrdinals(sql, avroJson), "null", blockBytes = 1024,
      new SerializableHadoopConf(conf), "job-sort", sortNames = sortCols)
    def row(k: Any, v: String) =
      new GenericInternalRow(Array[Any](k, if (v == null) null else UTF8String.fromString(v)))

    // ascending with a duplicate and nulls FIRST: certified
    val ok = new OcfSortTracker(cfg(Array("k")))
    ok.reset()
    Seq(row(null, "a"), row(1L, "b"), row(1L, "c"), row(5L, "d")).foreach(ok.update)
    assert(ok.sortedByJsonOpt.contains("""["k"]"""))

    // one inversion anywhere: stamp dropped
    val bad = new OcfSortTracker(cfg(Array("k")))
    bad.reset()
    Seq(row(1L, "a"), row(5L, "b"), row(4L, "c")).foreach(bad.update)
    assert(bad.sortedByJsonOpt.isEmpty)

    // a null AFTER non-null values violates NULLS FIRST: stamp dropped
    val lateNull = new OcfSortTracker(cfg(Array("k")))
    lateNull.reset()
    Seq(row(1L, "a"), row(null, "b")).foreach(lateNull.update)
    assert(lateNull.sortedByJsonOpt.isEmpty)

    // lexicographic two-column order: ties on k defer to v
    val two = new OcfSortTracker(cfg(Array("k", "v")))
    two.reset()
    Seq(row(1L, "a"), row(1L, "b"), row(2L, "a")).foreach(two.update)
    assert(two.sortedByJsonOpt.contains("""["k","v"]"""))
    val twoBad = new OcfSortTracker(cfg(Array("k", "v")))
    twoBad.reset()
    Seq(row(1L, "b"), row(1L, "a")).foreach(twoBad.update)
    assert(twoBad.sortedByJsonOpt.isEmpty)

    // reset() forgives: a new file starts its own certification
    bad.reset()
    Seq(row(7L, "x"), row(9L, "y")).foreach(bad.update)
    assert(bad.sortedByJsonOpt.contains("""["k"]"""))
  }

  test("sort tracker certifies date/timestamp columns (int/long-backed ordering)") {
    import org.apache.spark.sql.types.{DateType, TimestampType, TimestampNTZType}
    val sql = StructType(Seq(
      StructField("d", DateType), StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType)))
    val avroJson = AvroSchemaParser.toJson(SchemaConverters.toAvroType(sql))
    def cfg(cols: Array[String]) = OcfWriteConfig("/tmp/unused", sql, avroJson,
      OcfWrite.fieldOrdinals(sql, avroJson), "null", blockBytes = 1024,
      new SerializableHadoopConf(conf), "job-sort-ts", sortNames = cols)
    def row(d: Int, ts: Long, tsn: Long) =
      new GenericInternalRow(Array[Any](d, ts, tsn))

    val trk = new OcfSortTracker(cfg(Array("ts")))
    assert(trk.supported, "TimestampType sort column must be trackable")
    trk.reset()
    Seq(row(1, 10L, 0L), row(2, 10L, 1L), row(0, 999L, 2L)).foreach(trk.update)
    assert(trk.sortedByJsonOpt.contains("""["ts"]"""))

    val bad = new OcfSortTracker(cfg(Array("ts")))
    bad.reset()
    Seq(row(1, 10L, 0L), row(2, 9L, 1L)).foreach(bad.update)
    assert(bad.sortedByJsonOpt.isEmpty, "a descending timestamp drops the stamp")

    val multi = new OcfSortTracker(cfg(Array("d", "tsn")))
    assert(multi.supported, "Date + TimestampNTZ must be trackable")
    multi.reset()
    Seq(row(1, 0L, 5L), row(1, 0L, 7L), row(3, 0L, 2L)).foreach(multi.update)
    assert(multi.sortedByJsonOpt.contains("""["d","tsn"]"""))
  }

  test("malformed graft.sortedBy stamps parse to None (absent = no ordering claim)") {
    assert(OcfPartitions.parseSortedBy("""["a","b"]""").contains(Seq("a", "b")))
    assert(OcfPartitions.parseSortedBy("""{"not":"an array"}""").isEmpty)
    assert(OcfPartitions.parseSortedBy("not json at all").isEmpty)
    assert(OcfPartitions.parseSortedBy("").isEmpty)
  }
}
