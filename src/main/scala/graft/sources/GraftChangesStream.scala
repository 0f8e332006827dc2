package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING change-data-feed (X95): `readStream.format("graft-ocf-changes")
  * .option("startingVersion", v).load(tableDir)` — the batch change feed
  * (X92) as a micro-batch source. The offset IS the table version, so a
  * checkpointed stream resumes exactly at its last committed commit; each
  * micro-batch covers the newly committed versions and emits their rows
  * tagged `_change_type` ('insert'|'delete'; with `updateImages=true` an
  * upsert's paired rows re-tag 'update_preimage'/'update_postimage', X104)
  * and `_commit_version`.
  *
  * The same exact-or-refuse contract as the batch feed, enforced at the
  * trigger that first observes the offending commit:
  *  - appends and upsert inserts → their files read as of the commit,
  *    as inserts;
  *  - merge-on-read position-delete commits → the target file re-read in
  *    the reader's CHANGES mode, emitting ONLY the newly deleted ordinals
  *    (new delete files minus the previously dead set);
  *  - equality-delete commits (X94 upserts) → every burdened older file
  *    re-read emitting ONLY rows that survive the pre-commit delete state
  *    AND match the commit's new keys;
  *  - row-preserving rewrites (compact, rewrite_position_deletes) emit
  *    nothing; any commit that removed/replaced data files (CoW row-level
  *    ops, overwrites) REFUSES — a stream cannot multiset-diff
  *    replaced-vs-replacement files incrementally;
  *  - an expired (no longer retained) version inside the pending range
  *    refuses rather than skipping commits.
  *
  * Unlike the file-discovery ingest source (S6), deletes here are DATA
  * (change-log rows), so delete commits are representable, not refused.
  * Identity-partitioned layouts stream with their partition columns: the
  * columns are re-inferred from the manifest's file paths at source
  * creation and each change part carries its file's values as per-row
  * constants (hidden-transform and bucket levels keep source columns in
  * the files and are never surfaced). */
final class GraftChangesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ocf-changes"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftChangesSource.resolveSchema(GraftChangesSource.pathOf(options))._1

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = GraftChangesSource.pathOf(opts)
    val (out, readerJson, partSchema) = GraftChangesSource.resolveSchema(dir)
    new GraftChangesTable(dir, out, readerJson, partSchema,
      Option(opts.get("startingVersion")).map(_.toLong),
      Option(opts.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(opts.get("maxFilesPerTrigger")).map(_.toInt),
      Option(opts.get("splitSize")).map(_.toLong),
      updateImages = Option(opts.get("updateImages")).exists(_.toBoolean))
  }
}

private[sources] object GraftChangesSource {
  val ChangeCols: Seq[StructField] = Seq(
    StructField(GraftChanges.ChangeTypeCol, StringType, nullable = false),
    StructField(GraftChanges.CommitVersionCol, LongType, nullable = false))

  def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-ocf-changes: no 'path' specified"))

  /** (output schema, reader Avro JSON, identity partition schema) of the
    * change feed over table directory `dir`. Identity-partitioned layouts: the
    * partition columns are re-inferred from the manifest's file paths
    * (the same `k=v` segment rules as the batch scan), typed by the
    * committed table schema when one exists, else by value inference —
    * their values ride each change part as per-file constants. Hidden
    * transform (`_p_*`) and bucket levels keep their source values in
    * the data columns and are never surfaced. */
  def resolveSchema(dir: String): (StructType, String, StructType) = {
    val root = new Path(dir)
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    require(OcfSnapshots.enabled(fs, root),
      s"graft-ocf-changes: $dir is not snapshot-managed — the change feed " +
        "derives from commit history")
    val snap = OcfSnapshots.latest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-ocf-changes: $dir has no snapshots yet"))
    val dataFiles = snap.files.filter(_.isData)
    // identity partition columns, in DIRECTORY order; infer() enforces
    // that every file agrees on the layout (loud on a half-partitioned
    // tree). Transform/bucket levels are engine-owned, not columns.
    val qualRoot = fs.makeQualified(root).toString
    val (allCols, _) = OcfPartitions.infer(Seq(qualRoot),
      dataFiles.map(f => OcfDataSource.FileSlice(
        new Path(qualRoot, f.path).toString, f.len)),
      // mixed-era synthetic levels (X100 spec evolution) union instead of
      // refusing — the feed only surfaces identity columns anyway
      unionSynthetic = true)
    val partCols = allCols.filter(c =>
      !OcfBucket.isLevel(c) && !c.startsWith("_p_"))
    val committed: Option[StructType] = snap.tableSchemaJson
      .map(js => DataType.fromJson(js).asInstanceOf[StructType])
    val dataSchema: StructType = committed match {
      case Some(st) => StructType(st.fields.filterNot(f =>
        partCols.exists(_.equalsIgnoreCase(f.name))))
      case None =>
        val first = dataFiles.headOption.getOrElse(
          throw new IllegalArgumentException(
            s"graft-ocf-changes: $dir holds no data files"))
        val qp = new Path(fs.makeQualified(root), first.path).toString
        val m = first.meta.getOrElse(OcfDataSource.fetchMetas(conf,
          Seq(OcfDataSource.FileSlice(qp, first.len))).head)
        OcfDataSource.sqlShape(m.writerSchemaJson)._1
    }
    val partSchema = StructType(partCols.map { c =>
      val dt = committed.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
        .map(_.dataType).getOrElse(OcfPartitions.inferColumnType(
          dataFiles.iterator.map(f => partValueOf(f.path, c))))
      StructField(c, dt, nullable = true)
    })
    val readerJson = GraftCatalog.readerJsonWithDefaults(dataSchema)
    (StructType(dataSchema.fields ++ partSchema.fields ++ ChangeCols),
      readerJson, partSchema)
  }

  /** The raw (unescaped, null-decoded) value of one identity partition
    * column in a table-relative file path, or null when absent. */
  def partValueOf(relPath: String, col: String): String = {
    val segs = relPath.split('/').dropRight(1)
    segs.collectFirst {
      case s if s.length > col.length && s.startsWith(col) &&
          s.charAt(col.length) == '=' =>
        val v = s.substring(col.length + 1)
        if (v == OcfPartitions.NullDir) null else OcfPartitions.unescape(v)
    }.orNull
  }
}

private[sources] final class GraftChangesTable(
    dir: String, out: StructType, readerJson: String,
    partSchema: StructType,
    startingVersion: Option[Long],
    maxVersionsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    splitSizeOpt: Option[Long] = None,
    tableName: Option[String] = None,
    updateImages: Boolean = false)
    extends Table with SupportsRead {
  require(maxVersionsPerTrigger.forall(_ > 0),
    "graft-ocf-changes: maxVersionsPerTrigger must be positive")
  require(maxFilesPerTrigger.forall(_ > 0),
    "graft-ocf-changes: maxFilesPerTrigger must be positive")
  override def name(): String = tableName.getOrElse(s"graft-ocf-changes $dir")
  override def schema(): StructType = out
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan
          with org.apache.spark.sql.connector.read.Batch {
        override def readSchema(): StructType = out
        override def description(): String = name()
        // scan-level options override the table-level ones, so
        // `readStream.option("startingVersion", v).table("g.ns.t.changes")`
        // works — a catalog metadata table has no table-level options
        // `updateImages=true` (X104) pairs an upsert commit's delete+insert
        // rows sharing a key into update_preimage/update_postimage
        private def pairUpdates: Boolean =
          Option(options.get("updateImages")).map(_.toBoolean)
            .getOrElse(updateImages)

        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftChangesMicroBatchStream(dir, readerJson, partSchema,
            Option(options.get("startingVersion")).map(_.toLong)
              .orElse(startingVersion),
            org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf(),
            Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
              .orElse(maxVersionsPerTrigger),
            Option(options.get("maxFilesPerTrigger")).map(_.toInt)
              .orElse(maxFilesPerTrigger),
            Option(options.get("splitSize")).map(_.toLong)
              .orElse(splitSizeOpt),
            pairUpdates = pairUpdates)

        // BATCH read (X101, the `.changes` metadata table / a batch
        // format load): one planner walk over [startingVersion, ending].
        // Batch defaults to GENESIS (the full change log) where the
        // stream defaults to latest — a bounded query wants history, an
        // unbounded one wants the tail. Scan-level options override the
        // table-level ones, so `spark.read.option("startingVersion", v)
        // .table("g.ns.t.changes")` ranges the log.
        override def toBatch: org.apache.spark.sql.connector.read.Batch = this
        private def conf =
          org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
        // one planning walk regardless of planInputPartitions /
        // createReaderFactory call order — the factory needs the plan's
        // per-commit pairing maps (X104)
        @transient private lazy val planned: GraftChangesPlanner.Planned = {
          val c = conf
          val root = new Path(dir)
          val fs = root.getFileSystem(c)
          // `startingTag`/`endingTag` (X74 named snapshots) resolve to the
          // tagged versions — "what changed between release tags" as one
          // ranged read; version options win when both are given
          def tagVersion(opt: String): Option[Long] =
            Option(options.get(opt)).map { t =>
              OcfSnapshots.readTags(fs, root).getOrElse(t,
                throw new IllegalArgumentException(
                  s"graft-ocf-changes: $opt '$t' is not a tag of $dir"))
            }
          val sv = Option(options.get("startingVersion")).map(_.toLong)
            .orElse(tagVersion("startingTag"))
            .orElse(startingVersion).getOrElse(0L)
          val ev = Option(options.get("endingVersion")).map(_.toLong)
            .orElse(tagVersion("endingTag"))
            .getOrElse(OcfSnapshots.versions(fs, root).lastOption.getOrElse(0L))
          val splitSize = Option(options.get("splitSize")).map(_.toLong)
            .orElse(splitSizeOpt).getOrElse(
              org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                org.apache.spark.sql.SparkSession.active.conf
                  .get("spark.sql.files.maxPartitionBytes", "128MB")))
          GraftChangesPlanner.plan(root, c, partSchema, splitSize, sv, ev,
            pairUpdates = pairUpdates)
        }
        override def planInputPartitions(): Array[InputPartition] = {
          OcfColumnar.compilePlans(planned.writerJsons, readerJson)
          planned.parts
        }
        override def createReaderFactory(): PartitionReaderFactory =
          GraftChangesReaderFactory(readerJson, partSchema,
            new SerializableHadoopConf(conf),
            pairNewByVersion = planned.pairNewByVersion,
            pairOldByVersion = planned.pairOldByVersion)
      }
    }
}

private[graft] final case class GraftChangesOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}
private[graft] object GraftChangesOffset {
  def fromJson(json: String): GraftChangesOffset = GraftChangesOffset(
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get("version").asLong)
}

/** One change part: ONE file read whole, rows tagged (changeType, version).
  * Delete parts carry the pre-commit delete state (skips) and the commit's
  * new delete files (the emit-only set). Header metas ride the partition —
  * a batch covers only the trigger's commits, so factory interning buys
  * nothing. */
private[sources] final case class GraftChangesPartition(
    meta: OcfDataSource.OcfFileMeta, changeType: String, version: Long,
    skipPos: Seq[OcfDataSource.OcfFileMeta] = Nil,
    skipEq: Seq[OcfDataSource.OcfFileMeta] = Nil,
    emitPos: Seq[OcfDataSource.OcfFileMeta] = Nil,
    emitEq: Seq[OcfDataSource.OcfFileMeta] = Nil,
    // identity partition values (raw path strings, aligned with the
    // source's partition schema) — per-file constants, like any scan
    partValues: Array[String] = Array.empty,
    // byte range of the file this part owns (end < 0 = whole file).
    // Parts without POSITION semantics (inserts; equality-only deletes,
    // whose filters are stateless per row) split like any batch scan —
    // a commit landing one huge file must not serialize on one task.
    start: Long = 0L, end: Long = -1L,
    // X104 integrity stamp: true iff the PLANNER computed pairing inputs
    // for this part's commit. The factory's pairing maps travel separately
    // (through the stream's planned slot) — if plan/factory calls ever
    // interleave across micro-batches, a stamped part whose version is
    // absent from the factory's maps must FAIL, not silently degrade to
    // unpaired tags (a postimage without its preimage corrupts the feed).
    pairPlanned: Boolean = false) extends InputPartition

/** UPDATE pairing (X104) state rides the FACTORY, not the partitions: the
  * pairing inputs are per-COMMIT constants (the commit's new data files for
  * preimage probes; its burdened old files + skip state for postimage
  * probes), and the factory serializes ONCE into the stage's broadcast
  * task binary — per-partition copies would ship O(burdened × splits)
  * metas through every task. Empty maps = pairing off. */
private[sources] final case class GraftChangesReaderFactory(
    readerJson: String, partSchema: StructType, conf: SerializableHadoopConf,
    pairNewByVersion: Map[Long, Seq[OcfDataSource.OcfFileMeta]] = Map.empty,
    pairOldByVersion: Map[Long, Seq[GraftPairOldFile]] = Map.empty)
    extends OcfColumnar.ColumnarReaderFactory {

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftChangesPartition]
    // UPDATE pairing (X104): the per-commit key groups, probed per decoded
    // row through the vectors' bound extractors; the `_change_type`
    // appended column flips from a per-split constant to a writable vector.
    val pairGroups = pairGroupsFor(p)
    new OcfColumnarSplitReader(p.meta, p.start,
      if (p.end < 0L) p.meta.len else p.end,
      readerJson, conf.value, appended = appended(p),
      deleteFiles = p.skipPos, eqDeleteFiles = p.skipEq,
      emitPosFiles = p.emitPos, emitEqFiles = p.emitEq,
      pairGroups = pairGroups,
      pairTagAt = if (pairGroups.isEmpty) -1 else partSchema.fields.length,
      pairBase = UTF8String.fromString(p.changeType),
      pairAlt = UTF8String.fromString(
        if (p.changeType == "delete") GraftChangePairing.PreImage
        else GraftChangePairing.PostImage))
  }
  // appended per-row CONSTANTS: identity partition values (cast through
  // the scan's single materialization point), then the change tag and
  // commit version — the column order the feed schema declares
  private def appended(p: GraftChangesPartition): Array[(DataType, Any)] =
    partSchema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType -> (if (i >= p.partValues.length || p.partValues(i) == null) null
        else OcfPartitions.castPartValue(p.partValues(i), f.dataType))
    } ++ Array(StringType -> UTF8String.fromString(p.changeType), LongType -> p.version)

  /** UPDATE pairing (X104): the per-commit key groups a part's per-row
    * classifier probes — eq-driven delete parts probe the commit's new-data
    * keys, insert parts probe the killed visible-old keys, position parts
    * never pair. */
  private def pairGroupsFor(p: GraftChangesPartition): Array[OcfColumnarSplitReader.EqGroup] = {
    def staleFactory(map: String): Nothing = throw new IllegalStateException(
      s"graft-ocf-changes: partition for version ${p.version} was planned " +
        s"with UPDATE pairing but the reader factory's $map has no entry " +
        "for it — plan/factory calls interleaved across micro-batches " +
        "(recovery/retry); refusing to emit unpaired tags for a paired plan")
    if (p.changeType == "delete" && p.emitEq.nonEmpty)
      pairNewByVersion.get(p.version) match {
        case Some(newData) => GraftChangePairing.newDataKeyGroups(
          p.emitEq, newData, readerJson, conf.value)
        case None if p.pairPlanned => staleFactory("pairNewByVersion")
        case None => Array.empty[OcfColumnarSplitReader.EqGroup]
      }
    else if (p.changeType == "insert")
      pairOldByVersion.get(p.version) match {
        case Some(po) if po.nonEmpty =>
          GraftChangePairing.oldKeyGroups(po, readerJson, conf.value)
        case None if p.pairPlanned => staleFactory("pairOldByVersion")
        case _ => Array.empty[OcfColumnarSplitReader.EqGroup]
      }
    else Array.empty
  }
}

private[graft] final class GraftChangesMicroBatchStream(
    dir: String, readerJson: String, partSchema: StructType,
    startingVersion: Option[Long],
    conf: Configuration,
    maxVersionsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    splitSizeOpt: Option[Long] = None,
    pairUpdates: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val root = new Path(dir)
  private val fs = root.getFileSystem(conf)
  private val qualRoot = fs.makeQualified(root)

  // split sizing for the splittable part shapes — the batch scan's default
  private val splitSize: Long = splitSizeOpt.getOrElse(
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.files.maxPartitionBytes", "128MB")))
  require(splitSize > 0,
    s"graft-ocf-changes: splitSize must be positive, got $splitSize")

  /** Admission control: a backfill from genesis must NOT land in one giant
    * micro-batch — at scale a table's whole history is unboundedly larger
    * than any single trigger should be. `maxVersionsPerTrigger` rides
    * ReadMaxRows (rows = commit versions, the offset unit);
    * `maxFilesPerTrigger` bounds the batch by its commits' own NEW file
    * counts (a version's changes are never split, so a single huge commit
    * still admits alone). */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = (maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong)).toSeq ++
      maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq).toArray
    limits.length match {
      case 0 => ReadLimit.allAvailable()
      case 1 => limits.head
      case _ => ReadLimit.compositeLimit(limits)
    }
  }

  // Trigger.AvailableNow: pin the head at prepare time; every trigger
  // admits against this frozen target, then the query stops
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(OcfSnapshots.versions(fs, root).lastOption.getOrElse(0L))

  override def reportLatestOffset(): Offset =
    GraftChangesOffset(OcfSnapshots.versions(fs, root).lastOption.getOrElse(0L))

  /** New files (data + delete) a commit added over its predecessor — the
    * unit `maxFilesPerTrigger` counts. Chain reads are prefetched and
    * bounded by the admitted window. */
  private def newFileCount(prevPaths: Set[String], v: Long): (Int, Set[String]) = {
    val cur = OcfSnapshots.read(fs, root, v)
    val paths = cur.files.map(_.path).toSet
    (cur.files.count(f => !prevPaths.contains(f.path)), paths)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val sv = start.asInstanceOf[GraftChangesOffset].version
    val head = availableNowTarget.getOrElse(
      OcfSnapshots.versions(fs, root).lastOption.getOrElse(0L))
    if (head <= sv) return GraftChangesOffset(sv)
    val pending = OcfSnapshots.versions(fs, root)
      .filter(v => v > sv && v <= head)
    GraftChangesOffset(admit(sv, pending, limit))
  }

  /** The last version admitted into this trigger (at least one — progress
    * must be possible even when a single commit exceeds the file budget). */
  private def admit(sv: Long, pending: Seq[Long], limit: ReadLimit): Long =
    limit match {
      case _: ReadAllAvailable => pending.lastOption.getOrElse(sv)
      case r: ReadMaxRows => // rows = versions
        pending.take(math.min(r.maxRows(), Int.MaxValue.toLong).toInt)
          .lastOption.getOrElse(sv)
      case f: ReadMaxFiles =>
        var prevPaths =
          if (sv == 0L) Set.empty[String]
          else OcfSnapshots.read(fs, root, sv).files.map(_.path).toSet
        var admitted = sv
        var files = 0
        val it = pending.iterator
        var full = false
        while (it.hasNext && !full) {
          val v = it.next()
          val (n, paths) = newFileCount(prevPaths, v)
          if (admitted == sv || files + n <= f.maxFiles()) {
            files += n; admitted = v; prevPaths = paths
            if (files >= f.maxFiles()) full = true
          } else full = true
        }
        admitted
      case c: CompositeReadLimit =>
        c.getReadLimits.map(l => admit(sv, pending, l)).min
      case other => throw new UnsupportedOperationException(
        s"graft-ocf-changes: unsupported read limit $other")
    }

  override def initialOffset(): Offset = {
    val vs = OcfSnapshots.versions(fs, root)
    // default: changes from NOW on (the Kafka-latest analog); 0 = genesis
    val sv = startingVersion.getOrElse(vs.lastOption.getOrElse(0L))
    require(sv == 0L || vs.contains(sv) || vs.isEmpty,
      s"graft-ocf-changes: startingVersion $sv is not a retained snapshot " +
        s"(retained: ${vs.mkString(", ")}; 0 streams from genesis)")
    GraftChangesOffset(sv)
  }

  override def latestOffset(): Offset =
    GraftChangesOffset(OcfSnapshots.versions(fs, root).lastOption.getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    GraftChangesOffset.fromJson(json)

  // each trigger plans then builds its factory; the plan's per-commit
  // pairing maps (X104) travel through this slot instead of every part
  @volatile private var lastPlanned: GraftChangesPlanner.Planned =
    GraftChangesPlanner.Planned(Array.empty, Map.empty, Map.empty)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val planned = GraftChangesPlanner.plan(root, conf, partSchema, splitSize,
      start.asInstanceOf[GraftChangesOffset].version,
      end.asInstanceOf[GraftChangesOffset].version,
      pairUpdates = pairUpdates)
    lastPlanned = planned
    OcfColumnar.compilePlans(planned.writerJsons, readerJson)
    planned.parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val planned = lastPlanned
    GraftChangesReaderFactory(readerJson, partSchema,
      new SerializableHadoopConf(conf),
      pairNewByVersion = planned.pairNewByVersion,
      pairOldByVersion = planned.pairOldByVersion)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The change-feed PART PLANNER, shared by the streaming source (X95) and
  * the batch `.changes` read (X101): walk the retained versions in
  * (sv, ev], emit insert parts for new data files and delete parts for new
  * position/equality delete files, refuse rewrites that change rows
  * ([[OcfSnapshots.requireAppendOnly]]).
  * sv = 0 is the GENESIS baseline (needs version 1 retained). */
private[sources] object GraftChangesPlanner {

  /** One planning pass's output: the parts, plus the per-COMMIT pairing
    * inputs (X104) destined for the READER FACTORY — per-commit constants
    * must not ride every partition. Maps are empty when pairing is off. */
  final case class Planned(
      parts: Array[InputPartition],
      pairNewByVersion: Map[Long, Seq[OcfDataSource.OcfFileMeta]],
      pairOldByVersion: Map[Long, Seq[GraftPairOldFile]]) {
    /** The writer schema of every part's file. */
    def writerJsons: Iterator[String] =
      parts.iterator.map(_.asInstanceOf[GraftChangesPartition].meta.writerSchemaJson)
  }

  def plan(root: Path, conf: Configuration, partSchema: StructType,
           splitSize: Long, sv: Long, ev: Long,
           pairUpdates: Boolean = false): Planned = {
    val fs = root.getFileSystem(conf)
    val qualRoot = fs.makeQualified(root)
    def metaOf(sf: OcfSnapshots.SnapFile): OcfDataSource.OcfFileMeta = {
      val qp = new Path(qualRoot, sf.path).toString
      sf.meta.map(_.copy(path = qp, len = sf.len,
          statsJson = None, bloomJson = None, blockIndexJson = None,
          sortedByJson = None))
        .getOrElse(OcfDataSource.fetchMetas(conf,
          Seq(OcfDataSource.FileSlice(qp, sf.len))).head)
    }
    if (ev <= sv) return Planned(Array.empty, Map.empty, Map.empty)
    val vs = OcfSnapshots.versions(fs, root)
    val (prev0, chain) =
      if (sv == 0L) {
        // genesis: an empty pre-history; version 1 must still be retained
        require(vs.nonEmpty && vs.head == 1L,
          s"graft-ocf-changes: streaming from genesis needs version 1 " +
            s"retained (retained: ${vs.mkString(", ")})")
        (OcfSnapshots.Snapshot(0L, 0L, "genesis", Nil, None),
          vs.filter(_ <= ev))
      } else {
        require(vs.contains(sv),
          s"graft-ocf-changes: version $sv expired mid-stream — the feed " +
            "cannot skip commits. Restart from a retained version.")
        (OcfSnapshots.read(fs, root, sv), vs.filter(v => v > sv && v <= ev))
      }
    val parts = Array.newBuilder[InputPartition]
    val pairNewAcc = Map.newBuilder[Long, Seq[OcfDataSource.OcfFileMeta]]
    val pairOldAcc = Map.newBuilder[Long, Seq[GraftPairOldFile]]
    var prev = prev0
    chain.foreach { v =>
      val cur = OcfSnapshots.read(fs, root, v)
      val prevByPath = prev.files.map(f => f.path -> f).toMap
      val curPaths = cur.files.map(_.path).toSet
      OcfSnapshots.requireAppendOnly(root, prev.version, v, cur.operation,
        prev.files.collect { case f if f.isData && !curPaths(f.path) => f.path })
      if (!OcfSnapshots.addsNoRows(prev.version, v, cur.operation)) {
        // identity partition values for one data file, aligned with the
        // source's partition schema (empty for unpartitioned layouts)
        def partVals(f: OcfSnapshots.SnapFile): Array[String] =
          if (partSchema.isEmpty) Array.empty
          else partSchema.fieldNames.map(c =>
            GraftChangesSource.partValueOf(f.path, c))
        // split a position-free part at the batch scan's split size: a
        // commit landing one huge file fans out instead of serializing on
        // one task (position-bearing parts must stay whole-file — their
        // ordinals count raw datums from block 0)
        def addSplit(base: GraftChangesPartition): Unit = {
          val len = base.meta.len
          if (len <= splitSize || base.skipPos.nonEmpty ||
              base.emitPos.nonEmpty) parts += base
          else {
            var s = 0L
            while (s < len) {
              val e = math.min(s + splitSize, len)
              parts += base.copy(start = s, end = e)
              s = e
            }
          }
        }
        // the equality deletes of `files` applicable to a data file, SCOPED
        // by the file's manifest-inline key bounds ([[OcfEqScope]]) — a
        // refuted delete file provably killed none of its rows
        def eqOn(files: Seq[OcfSnapshots.SnapFile],
                 f: OcfSnapshots.SnapFile): Seq[OcfSnapshots.SnapFile] =
          files.filter(e => e.isEqualityDelete && f.seq < e.seq &&
            OcfEqScope.mayBurdenFile(f, qualRoot,
              OcfEqScope.summaryFor(metaOf(e), conf), conf))
        def priorEq(f: OcfSnapshots.SnapFile) = eqOn(prev.files, f)
        val newData = cur.files.filter(f =>
          f.isData && !prevByPath.contains(f.path))
        // new EQUALITY-delete burden set, computed BEFORE the insert parts
        // so pairing (X104) can hand each insert part the commit's burdened
        // old files: every previously visible data file born before the new
        // deletes re-reads in emit-only-matching mode, with the PRE-commit
        // delete state as the survival filter. Burden SCOPING
        // ([[OcfEqScope]]): files whose key bounds admit none of the
        // commit's keys are skipped — the seq rule alone re-reads ~the
        // whole pre-commit table per upsert trigger.
        val newEq = cur.files.filter(f =>
          f.isEqualityDelete && !prevByPath.contains(f.path))
        val curPos = cur.files.filter(_.isPositionDelete).groupBy(_.deleteOf.get)
        val burdened: Seq[(OcfSnapshots.SnapFile,
            Seq[OcfDataSource.OcfFileMeta], Seq[OcfDataSource.OcfFileMeta],
            Seq[OcfDataSource.OcfFileMeta])] =
          if (newEq.isEmpty) Nil
          else {
            val newEqInfos = newEq.map { e =>
              val m = metaOf(e)
              (e.seq, m, OcfEqScope.summaryFor(m, conf))
            }
            prev.files.filter(_.isData).flatMap { f =>
              val burdening = newEqInfos.collect {
                case (eseq, m, sum) if f.seq < eseq &&
                  OcfEqScope.mayBurdenFile(f, qualRoot, sum, conf) => m }
              if (burdening.isEmpty) None
              // skip the position deletes as of v, not v-1: a row this
              // commit also deletes by position is its position part's
              // change, and must not be emitted twice
              else Some((f, curPos.getOrElse(f.path, Nil).map(metaOf),
                priorEq(f).map(metaOf), burdening))
            }
          }
        // UPDATE pairing (X104): only a commit that both killed keys and
        // inserted data can pair. The per-commit constants land in the
        // PLANNED maps (→ the reader factory, shipped once per stage), not
        // on every partition: the delete parts probe the commit's new data
        // files, the insert parts its burdened-old-file specs.
        val pairedCommit = pairUpdates && newEq.nonEmpty && newData.nonEmpty
        if (pairedCommit) {
          pairNewAcc += v -> newData.map(metaOf)
          if (burdened.nonEmpty)
            pairOldAcc += v -> burdened.map { case (f, sp, se, em) =>
              GraftPairOldFile(metaOf(f), sp, se, em) }
        }
        // inserts: files new at v, read AS OF v. Nothing burdens a file in
        // its own commit, so the skip sets are empty unless versions between
        // the previous retained one and v expired: a file born inside that
        // gap may carry deletes from a later commit of the gap
        newData.foreach(f => addSplit(GraftChangesPartition(metaOf(f),
          "insert", v,
          skipPos = curPos.getOrElse(f.path, Nil).map(metaOf),
          skipEq = eqOn(cur.files, f).map(metaOf), partValues = partVals(f),
          pairPlanned = pairedCommit && burdened.nonEmpty)))
        // deletes from new POSITION-delete files: targets visible before v
        // (a same-commit target's rows surface through its insert part,
        // already filtered by the commit's own deletes... which cannot
        // exist for a same-commit file; mirror the batch feed's rule).
        // Never paired — position deletes name ordinals, not keys.
        val newPos = cur.files.filter(f =>
          f.isPositionDelete && !prevByPath.contains(f.path))
        newPos.groupBy(_.deleteOf.get).foreach { case (target, dels) =>
          prevByPath.get(target).foreach { t =>
            val oldPos = prev.files.filter(f =>
              f.isPositionDelete && f.deleteOf.contains(target))
            // skipEq carries the PRE-commit equality state: a position
            // delete whose ordinal names an already-equality-deleted row
            // must not re-emit that row as a change
            parts += GraftChangesPartition(metaOf(t), "delete", v,
              skipPos = oldPos.map(metaOf), skipEq = priorEq(t).map(metaOf),
              emitPos = dels.map(metaOf), partValues = partVals(t))
          }
        }
        // deletes from the new equality-delete files' burden set
        burdened.foreach { case (f, oldPos, skipEq, burdening) =>
          addSplit(GraftChangesPartition(metaOf(f), "delete", v,
            skipPos = oldPos, skipEq = skipEq,
            emitEq = burdening, partValues = partVals(f),
            pairPlanned = pairedCommit))
        }
      }
      prev = cur
    }
    Planned(parts.result(), pairNewAcc.result(), pairOldAcc.result())
  }
}
