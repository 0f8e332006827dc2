package graft.sources

import graft.avro.AvroCodecs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** `readStream.format("graft-ocf")` — the splittable OCF source as a
  * Structured Streaming micro-batch source over a GROWING directory or a
  * managed table: the reference's "decode in-flight before landing" slot
  * (reference: README.md:54-58), on the same header-at-plan / split-on-sync
  * decode path as the batch scan. Spark applies no column-pruning pushdown
  * to streaming V2 relations, so narrowing the decode is done with an
  * explicit `readerSchema` option (the decoder wire-skips the rest, like
  * the batch scan's pushed prune).
  *
  * Offset model: the offset is a COUNT into an append-only discovery log of
  * files, ordered first-seen. Each `latestOffset()` discovers NEW files,
  * resolves their headers (one pread per file, ever), appends them to the
  * log, and persists the DELTA to `<checkpoint>/graft-ocf-files/<count>`
  * (total log bytes stay O(files) over the stream's lifetime; reconstruction
  * concatenates deltas in offset order) — so a `(start, end)` batch replayed
  * after a restart maps to the exact same file slice even if the directory
  * has since grown or lost files. A file is therefore decoded in EXACTLY ONE
  * micro-batch (exactly-once with a replayable sink).
  *
  * Discovery re-lists an unmanaged directory (path-sorted; files must be
  * landed atomically, write-then-rename). A managed table instead walks its
  * manifest versions ([[OcfSnapshots.appendedFiles]]) from the version the
  * last discovery reached, which the log records ([[walk]]).
  *
  * Scale notes: per-trigger driver work is one directory listing (a
  * managed table: its manifest directory's, plus the walk when it
  * committed) and one header pread per NEW file; decode fans out over
  * `splitSize` splits like the batch scan, so one huge landed file does not
  * serialize a trigger. State is the file log (a name + header meta per
  * file, no content).
  */
private[graft] final class OcfMicroBatchStream(scan: OcfScan, checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import OcfDataSource.{FileSlice, OcfFileMeta}

  private val conf = scan.conf.value
  private val logDir = new Path(checkpointLocation, "graft-ocf-files")
  private val fs = logDir.getFileSystem(conf)
  GraftIO.mkdirs(fs, logDir)

  // the discovery log: files in first-seen order, and (managed tables) the
  // manifest version discovery reached; guarded by `this` (Spark calls the
  // stream from its single streaming-query thread, but restore on
  // replanning can race a listing in theory)
  private val known = new scala.collection.mutable.LinkedHashMap[String, OcfFileMeta]
  private var reached: Option[Long] = None
  // a delta persisted before versions were recorded (a bare JSON array)
  private var legacyLog = false
  restoreLatest()

  override def initialOffset(): Offset = OcfStreamOffset(0)
  override def deserializeOffset(json: String): Offset = OcfStreamOffset.fromJson(json)

  // for re-deriving partition values of newly landed files (partitioned
  // streaming reads re-list per trigger; a file outside the layout fails
  // the trigger loudly rather than reading as null partitions)
  private lazy val qualifiedRoots = scan.paths.map { p =>
    val hp = new Path(p); hp.getFileSystem(conf).makeQualified(hp).toString
  }

  /** Discover and append every NEW file to the discovery
    * log. Discovery is always exhaustive — ADMISSION (how much of the
    * backlog one micro-batch may take) is bounded separately, so the log's
    * delta-persistence and first-seen order are identical with and without
    * a read limit. Returns the discovered-file count. */
  private def discover(): Int = {
    // re-resolved per discovery: a landing directory turns managed on its
    // first graft-ocf write
    val walked = OcfDataSource.managedScope(conf, scan.paths, scan.glob).map(walk)
    val version = walked.map(_._2).orElse(reached)
    val freshRaw = walked.map(_._1)
      .getOrElse(OcfDataSource.list(conf, scan.paths, scan.glob, scan.recursive))
      .filterNot(f => known.contains(f.path))
    if (freshRaw.nonEmpty) {
      val fresh =
        if (scan.partCols.isEmpty) freshRaw
        else {
          val (cols, annotated) = OcfPartitions.infer(qualifiedRoots, freshRaw)
          // a bucketed layout carries one synthetic trailing bucket level
          // (any era name, X103); the scan's partCols exclude it by design
          val ok =
            if (scan.bucketEras.nonEmpty)
              cols.length == scan.partCols.length + 1 &&
                cols.take(scan.partCols.length) == scan.partCols &&
                OcfBucket.isLevel(cols.last)
            else cols == scan.partCols
          require(ok,
            s"graft-ocf stream: newly landed files have partition layout " +
              s"[${cols.mkString(",")}] but the stream resolved " +
              s"[${scan.partCols.mkString(",")}" +
              (if (scan.bucketEras.nonEmpty) " + a bucket level" else "") + "]")
          annotated
        }
      val metas = OcfDataSource.fetchMetas(conf, fresh)
      // an undecodable codec fails the TRIGGER, not a mid-batch task
      metas.foreach { m => AvroCodecs(m.codecName); known += (m.path -> m) }
      persist(known.size, metas)
    }
    if (version != reached) {
      version.foreach(persistReached)
      reached = version
    }
    known.size
  }

  /** A managed table's files new since the version discovery reached, and
    * the head version they reach. `startingVersion=v` starts at v. With no
    * version yet (a plain stream's first discovery, or a directory that
    * turned managed under a running stream) it takes the head snapshot's
    * data files, which [[discover]] narrows to those not yet in the log.
    * The reached version must still be retained. */
  private def walk(s: OcfDataSource.ManagedScope): (Seq[FileSlice], Long) = {
    require(reached.isDefined || !legacyLog,
      s"graft-ocf stream: the file log at $logDir records no manifest version " +
        s"of ${s.root}. Restart with a new checkpointLocation and startingVersion " +
        "= the table version its last batch read (see the table's history).")
    val fs = s.root.getFileSystem(conf)
    val vs = OcfSnapshots.versions(fs, s.root)
    val head = vs.last
    reached.foreach(r => require(vs.contains(r),
      s"graft-ocf stream: version $r of ${s.root}, the last one this stream " +
        s"read, was removed by expire_snapshots (retained: ${vs.mkString(", ")}), " +
        "so the rows committed since then cannot be told from rewritten ones. " +
        "Restart with a new checkpointLocation and no startingVersion to re-read " +
        "the current snapshot whole (rows already delivered arrive again, none " +
        "is lost). To keep a stream running, have expire_snapshots retain the " +
        "last version it read (keep_last, older_than_ms)."))
    val files = reached.orElse(scan.startingVersion) match {
      case Some(v) if v == head => Nil
      case Some(v) => OcfSnapshots.appendedFiles(fs, s.root, v, head, s.selects)
      case None =>
        val all = OcfSnapshots.read(fs, s.root, head).files
        require(all.forall(_.isData),
          s"graft-ocf: streaming read of ${s.root} refused — a position- or " +
            "equality-delete file was committed (merge-on-read DELETE/" +
            "upsert); a stream cannot retract already-emitted rows. CALL " +
            "<cat>.system.rewrite_position_deletes to fold the deletes, " +
            "then restart the stream.")
        all.filter(f => s.selects(f.path))
    }
    (OcfSnapshots.toFileSlices(fs, s.root, files), head)
  }

  override def latestOffset(): Offset = synchronized { OcfStreamOffset(discover()) }

  /** Admission control: the first trigger of a stream started over a YEAR of
    * landed files must not decode the whole backlog in one micro-batch
    * (reference slot README.md:54-58 — in-flight decode at a controlled
    * rate). `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each batch;
    * the backlog drains over successive triggers in first-seen order, each
    * file still in exactly one batch. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = (scan.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      scan.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq).toArray
    limits.length match {
      case 0 => ReadLimit.allAvailable()
      case 1 => limits(0)
      case _ => ReadLimit.compositeLimit(limits)
    }
  }

  /** `Trigger.AvailableNow`: the backlog is FROZEN at prepare time; batches
    * then drain `[start, target)` under the read limit and the query stops
    * at the target. Without this, Spark's wrapper would ignore the read
    * limit entirely and decode the whole backlog in one batch — the exact
    * failure admission control exists to prevent. */
  private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowTarget = Some(discover())
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val s = start.asInstanceOf[OcfStreamOffset].fileCount
    val end = availableNowTarget match {
      case Some(t) => math.min(admit(s, limit), t) // frozen listing, no re-discovery
      case None    => discover(); admit(s, limit)
    }
    OcfStreamOffset(end)
  }

  /** For streaming progress: the true end of the discovered log, so the UI
    * shows the backlog an admission-limited batch has not yet taken. */
  override def reportLatestOffset(): Offset = synchronized { OcfStreamOffset(known.size) }

  /** End offset for a batch starting at file `from` under `limit`. A bytes
    * limit always admits at least one file (a single file larger than the
    * cap must still make progress); a composite limit is the strictest of
    * its parts. Row-based limits are not meaningful pre-decode (an OCF
    * file's row count is not in its header) and admit everything. */
  private def admit(from: Int, limit: ReadLimit): Int = limit match {
    case _: ReadAllAvailable => known.size
    case f: ReadMaxFiles => math.min(known.size, from + f.maxFiles)
    case b: ReadMaxBytes =>
      var end = from
      var bytes = 0L
      val it = known.values.iterator.drop(from)
      var full = false
      while (!full && it.hasNext) {
        val m = it.next()
        if (end == from || bytes + m.len <= b.maxBytes) { bytes += m.len; end += 1 }
        else full = true
      }
      end
    case c: CompositeReadLimit => c.getReadLimits.map(l => admit(from, l)).min
    case _ => known.size
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[OcfStreamOffset].fileCount
    val e = end.asInstanceOf[OcfStreamOffset].fileCount
    if (known.size < e) restoreLatest() // replay after restart: reload the frozen listing
    require(known.size >= e,
      s"graft-ocf stream: offset $e exceeds the ${known.size}-file discovery log " +
        s"and no persisted listing exists at $logDir/$e")
    val files = known.values.slice(s, e)
    OcfColumnar.compilePlans(files.iterator.map(_.writerSchemaJson), scan.readerJson)
    files.flatMap { f =>
      (0L until math.max(1L, (f.len + scan.splitSize - 1) / scan.splitSize)).map { k =>
        OcfStreamInputPartition(f, k * scan.splitSize,
          math.min((k + 1) * scan.splitSize, f.len))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    OcfStreamReaderFactory(scan.readerJson, scan.conf, scan.partIdx, scan.partTypes)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- the persisted discovery log -----------------------------------------

  private def logPath(count: Int): Path = new Path(logDir, count.toString)

  /** Persist the files DISCOVERED AT offset `count` (a delta, not the
    * cumulative listing — total log bytes stay O(files), not O(files²) over
    * a long-running stream), atomically (temp + exclusive publish) so a
    * crashed write never leaves a torn log. Reconstruction concatenates
    * deltas in offset order. */
  private def persist(count: Int, delta: Seq[OcfFileMeta]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val arr = root.putArray("files")
    delta.foreach { m =>
      val o = arr.addObject()
      o.put("path", m.path); o.put("len", m.len)
      o.put("schema", m.writerSchemaJson); o.put("codec", m.codecName)
      o.put("sync", java.util.Base64.getEncoder.encodeToString(m.sync))
      o.put("headerEnd", m.headerEnd)
      if (m.partitionValues.nonEmpty) {
        val pa = o.putArray("parts")
        m.partitionValues.foreach(v => if (v == null) pa.addNull() else pa.add(v))
      }
      m.statsJson.foreach(s => o.put("stats", s))
      ()
    }
    val tmp = new Path(logDir, s".${count}.tmp")
    val out = GraftIO.create(fs, tmp, true)
    try out.write(om.writeValueAsBytes(root)) finally out.close()
    // keep-first: a log entry already at this offset stays as written
    if (!GraftIO.publishExclusive(fs, tmp, logPath(count))) fs.delete(tmp, false)
  }

  /** The manifest version discovery reached, recorded beside the deltas
    * (after them, atomically replacing the last record) whenever it
    * advances, also when no new file was found: a stream idle while the
    * table commits must not stay tied to a version expire_snapshots may
    * remove. A crash before the record leaves the older version, from
    * which the walk re-finds only files the log already holds. */
  private def persistReached(v: Long): Unit = {
    val tmp = new Path(logDir, ".version.tmp")
    val out = GraftIO.create(fs, tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    GraftIO.renameOverwrite(fs, conf, tmp, reachedPath)
  }

  private def reachedPath: Path = new Path(logDir, "version")

  private def bytesOf(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** One persisted delta: its files, and whether it is a bare array
    * (written before versions were recorded). */
  private def load(p: Path): (Seq[OcfFileMeta], Boolean) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytesOf(p))
    val arr = if (root.isArray) root else root.get("files")
    val files = (0 until arr.size).map { i =>
      val o = arr.get(i)
      val parts = Option(o.get("parts")).map { pa =>
        (0 until pa.size).map(j =>
          if (pa.get(j).isNull) null else pa.get(j).asText).toArray
      }.getOrElse(Array.empty[String])
      OcfFileMeta(o.get("path").asText, o.get("len").asLong,
        o.get("schema").asText, o.get("codec").asText,
        java.util.Base64.getDecoder.decode(o.get("sync").asText),
        o.get("headerEnd").asLong, parts,
        Option(o.get("stats")).map(_.asText))
    }
    (files, root.isArray)
  }

  private def persistedCounts(): Seq[Int] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).iterator
      .flatMap(st => scala.util.Try(st.getPath.getName.toInt).toOption)
      .toSeq.sorted

  /** Rebuild the COMPLETE discovery log (and the version it reached) from
    * the persisted deltas (ascending offset order reproduces first-seen
    * order exactly). Always whole — deltas are keyed by the cumulative discovered count at persist
    * time, which under admission control exceeds committed end offsets, and
    * a partially loaded log would let the next [[discover]] re-append (and
    * re-persist) files that live in the unloaded tail. Extra entries past a
    * replayed batch's end are harmless: slices are bounded by the offsets. */
  private def restoreLatest(): Unit = {
    val counts = persistedCounts()
    if (counts.nonEmpty) {
      known.clear()
      counts.foreach { c =>
        val (files, legacy) = load(logPath(c))
        files.foreach(m => known += (m.path -> m))
        legacyLog ||= legacy
      }
    }
    if (fs.exists(reachedPath))
      reached = Some(new String(bytesOf(reachedPath), "UTF-8").trim.toLong)
  }
}

/** Streaming offset: a count into the append-only file-discovery log. */
private[graft] final case class OcfStreamOffset(fileCount: Int) extends Offset {
  override def json(): String = s"""{"fileCount":$fileCount}"""
}

private[graft] object OcfStreamOffset {
  def fromJson(json: String): OcfStreamOffset = OcfStreamOffset(
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get("fileCount").asInt)
}

/** A streaming split carries its file's header meta directly: a micro-batch
  * covers only the trigger's NEW files, so the batch scan's
  * factory-interning optimization buys little here and the partition must
  * stay self-contained across the factory's per-batch lifecycle. */
private[graft] final case class OcfStreamInputPartition(
    meta: OcfDataSource.OcfFileMeta, start: Long, end: Long) extends InputPartition

private[graft] final case class OcfStreamReaderFactory(
    readerJson: String, conf: SerializableHadoopConf,
    partIdx: Array[Int] = Array.empty,
    partTypes: Seq[org.apache.spark.sql.types.DataType] = Nil)
    extends OcfColumnar.ColumnarReaderFactory {
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[OcfStreamInputPartition]
    new OcfColumnarSplitReader(p.meta, p.start, p.end, readerJson, conf.value,
      appended = OcfColumnarSplitReader.appendedValues(p.meta, partIdx, partTypes))
  }
}
