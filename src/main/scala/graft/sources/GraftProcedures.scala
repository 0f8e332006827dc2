package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** SQL-callable maintenance procedures under the catalog's `system`
  * namespace (the Iceberg `CALL catalog.system.rewrite_data_files` shape):
  *
  * {{{
  * CALL g.system.compact(`table` => 'corpus.docs', target_bytes => 134217728)
  * CALL g.system.vacuum_temps(`table` => 'corpus.docs', min_age_ms => 3600000)
  * }}}
  *
  * `compact` rewrites a table's (typically many small) files into
  * `target_bytes`-bounded ones through [[OcfMaintenance.compact]] — the same
  * verified scan/sink paths as any query, stats/bloom/sort stamps preserved,
  * and the table's STORED schema (with null defaults) as the reader schema,
  * so a post-`ALTER TABLE ADD COLUMN` compaction also materializes the
  * unified schema. The swap is move-new-in-then-delete-old: like all DDL on
  * this catalog it assumes a single maintenance writer; a crash mid-swap
  * leaves extra (duplicate) rows to re-compact, never lost ones.
  *
  * `vacuum_temps` removes orphaned writer temps older than `min_age_ms`
  * (leftovers of a driver that died between task and job commit). Both
  * return a metrics row. */
private[sources] object GraftProcedures {

  /** Safety floor for `remove_orphan_files(min_age_ms)`: no sane commit
    * (land data files, then write the manifest referencing them) takes 10
    * minutes, and object-store mtime/clock skew stays well inside it too. */
  private val MinOrphanAgeFloorMs = 10L * 60 * 1000

  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure = {
    val known: Map[String, UnboundProcedure] = Map(
      "compact" -> new CompactProcedure(cat),
      "rewrite_position_deletes" -> new RewritePositionDeletesProcedure(cat),
      "rewrite_manifests" -> new RewriteManifestsProcedure(cat),
      "vacuum_temps" -> new VacuumTempsProcedure(cat),
      "expire_snapshots" -> new ExpireSnapshotsProcedure(cat),
      "remove_orphan_files" -> new RemoveOrphanFilesProcedure(cat),
      "rollback" -> new RollbackProcedure(cat),
      "tag" -> new TagProcedure(cat),
      "untag" -> new UntagProcedure(cat),
      "create_branch" -> new CreateBranchProcedure(cat),
      "fast_forward" -> new FastForwardProcedure(cat),
      "drop_branch" -> new DropBranchProcedure(cat))
    if (ident.namespace.toSeq != Seq("system"))
      throw new RuntimeException(
        s"graft catalog: procedures live under the 'system' namespace " +
          s"(CALL <cat>.system.<name>); got ${ident.namespace.mkString(".")}")
    known.getOrElse(ident.name, throw new RuntimeException(
      s"graft catalog: unknown procedure '${ident.name}'; " +
        s"available: ${known.keys.toSeq.sorted.mkString(", ")}"))
  }

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.toSeq == Seq("system"))
      Array(Identifier.of(Array("system"), "compact"),
        Identifier.of(Array("system"), "create_branch"),
        Identifier.of(Array("system"), "drop_branch"),
        Identifier.of(Array("system"), "expire_snapshots"),
        Identifier.of(Array("system"), "fast_forward"),
        Identifier.of(Array("system"), "remove_orphan_files"),
        Identifier.of(Array("system"), "rollback"),
        Identifier.of(Array("system"), "tag"),
        Identifier.of(Array("system"), "untag"),
        Identifier.of(Array("system"), "vacuum_temps"))
    else Array.empty

  /** `ns.table` (relative to the catalog) → identifier. */
  private def tableIdent(s: String): Identifier = {
    val parts = s.split('.')
    require(parts.length >= 2,
      s"graft catalog procedure: table must be 'namespace.table', got '$s'")
    Identifier.of(parts.init, parts.last)
  }

  private def str(row: InternalRow, i: Int): Option[String] =
    if (row.isNullAt(i)) None else Some(row.getUTF8String(i).toString)

  /** Optimistic-concurrency conflict for fold-style rewrites: the rewritten
    * output was computed from fold inputs that moved before the commit won
    * its version. Never user-visible — the procedures catch it and re-run
    * the fold against the new head. */
  private[sources] final class FoldConflictException(msg: String)
      extends RuntimeException(msg)

  /** Validate — INSIDE the commit transform, where the racing winner's file
    * set is what `prev` shows — that a fold's inputs are exactly what the
    * fold read: every targeted data file still present, and the delete-file
    * set burdening the targets unchanged. Otherwise replaying the fold's
    * output would lose concurrent rows: a MoR DELETE that landed between
    * fold and commit would be dropped with its target (its deleted rows
    * resurrect in the rewrite), and a target replaced by a concurrent
    * rewrite would have its rows duplicated. */
  private[sources] def requireFoldStable(prev: Seq[OcfSnapshots.SnapFile],
      targets: Set[String], foldedDeletes: Set[String], op: String): Unit = {
    val present = prev.iterator.filter(_.isData).map(_.path).toSet
    val missing = targets.diff(present)
    // position deletes over the targets + EVERY equality delete (an
    // equality delete's burden is seq-wide, so any new one invalidates a
    // fold output computed without it)
    val nowDeletes = prev.iterator
      .filter(f => f.deleteOf.exists(targets.contains) || f.isEqualityDelete)
      .map(_.path).toSet
    if (missing.nonEmpty || nowDeletes != foldedDeletes)
      throw new FoldConflictException(
        s"graft $op: fold inputs changed concurrently (" +
          (if (missing.nonEmpty) s"targets gone: ${missing.take(3).mkString(", ")}; " else "") +
          (if (nowDeletes != foldedDeletes)
            s"delete files now ${nowDeletes.size}, folded ${foldedDeletes.size}" else "") +
          ") - refolding against the new head")
  }

  private val FoldAttempts = 5

  /** File-granular evaluation of a scoped-compaction `where` predicate:
    * resolve it against the table schema, translate each conjunct to a data
    * source filter, and run the filters through the TABLE'S OWN scan
    * builder — the same partition-value / hidden-transform / bucket /
    * stats / bloom prune stack every query uses, with zero duplicated
    * logic and no data reads. Selection is CONSERVATIVE: a file that MAY
    * hold a matching row is selected (rewriting extra files is only cost,
    * never wrongness); an identity-partition predicate selects exactly its
    * partitions' files. A conjunct with no source-filter translation
    * refuses loudly rather than silently widening to the whole table. */
  private def selectFilesWhere(spark: SparkSession, cat: GraftCatalog,
      ident: Identifier, meta: GraftCatalog.TableMeta,
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      where: String): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      meta.schema).where(where)
    val conds: Seq[Expression] = probe.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case o => Seq(o)
    }
    // fold constant subtrees first: analysis leaves comparison literals
    // wrapped in casts (`id < CAST(1000 AS BIGINT)`), which the filter
    // translation only accepts as plain literals
    val filters = conds.flatMap(split).map(_.transformUp {
      case e: Expression if e.foldable && !e.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(InternalRow.empty), e.dataType)
    }).map { p =>
      org.apache.spark.sql.graft.Shims
        .translateFilter(p, supportNestedPredicatePushdown = true)
        .getOrElse(throw new IllegalArgumentException(
          s"graft compact: where conjunct '${p.sql}' has no file-level " +
            "translation - use predicates over partition or stats columns"))
    }
    var sel: Seq[String] = Nil
    val tbl = cat.loadTable(ident).asInstanceOf[CatalogOcfTable]
    val sb = tbl.rowLevelScanBuilder(scan => sel = scan.plannedFilePaths)
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(filters.toArray)
    sb.build()
    val qualRoot = fs.makeQualified(root).toString
    sel.map(p => OcfSnapshots.relativize(qualRoot, p)).toSet
  }


  /** The table's current bucket spec for a compact-style rewrite (X103):
    * (bucket columns, current numBuckets, genesis numBuckets when the
    * count has ever evolved). */
  private def bucketPartitionsOf(meta: GraftCatalog.TableMeta)
      : Option[(Seq[String], Int, Option[Int])] = for {
    cols <- meta.options.find(_._1.equalsIgnoreCase("bucketColumns"))
      .map(_._2.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    n <- meta.options.find(_._1.equalsIgnoreCase("numBuckets")).map(_._2.toInt)
  } yield (cols, n,
    meta.options.find(_._1.equalsIgnoreCase("numBucketsGenesis")).map(_._2.toInt))

  private def singleRowResult(schema: StructType, vals: Array[Any]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(new GenericInternalRow(vals))
      override def readSchema(): StructType = schema
      override def description(): String = "graft procedure result"
    }).iterator()

  private final class CompactProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "Rewrite a graft-ocf table's files into size-bounded ones (stamps " +
        "preserved); optional z-order re-clustering for unpartitioned tables"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue(String.valueOf(128L * 1024 * 1024))
        .comment("approximate output file size bound").build(),
      ProcedureParameter.in("codec", StringType).defaultValue("NULL")
        .comment("output codec; defaults to the table's codec option").build(),
      ProcedureParameter.in("zorder", StringType).defaultValue("NULL")
        .comment("comma-separated z-order columns (unpartitioned tables)").build(),
      ProcedureParameter.in("where", StringType).defaultValue("NULL")
        .comment("SQL predicate scoping which data files to rewrite " +
          "(file-granular, conservative; exact on identity partitions)").build(),
      ProcedureParameter.in("small_file_bytes", LongType).defaultValue("NULL")
        .comment("only rewrite data files smaller than this").build(),
      ProcedureParameter.in("min_input_files", org.apache.spark.sql.types.IntegerType)
        .defaultValue("NULL")
        .comment("no-op unless at least this many files are selected").build())

    private val outSchema = StructType(Seq(
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false),
      StructField("bytes_before", LongType, nullable = false),
      StructField("bytes_after", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val ident = tableIdent(str(input, 0).get)
      val meta = cat.tableMeta(ident)
      val targetBytes = if (input.isNullAt(1)) 128L * 1024 * 1024 else input.getLong(1)
      val codec = str(input, 2).orElse(meta.options.get("codec")).getOrElse("null")
      val zorder = str(input, 3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      // X98 incremental scoping: at 100 TB a maintenance pass must be
      // O(touched partition), never O(table) — a streaming sink's hourly
      // compaction targets the last hour's partition (`where`), skips the
      // already-big files (`small_file_bytes`), and doesn't churn when the
      // partition is barely fragmented (`min_input_files`).
      val whereStr = str(input, 4)
      val smallBytes: Option[Long] =
        if (input.isNullAt(5)) None else Some(input.getLong(5))
      val minInput: Int = if (input.isNullAt(6)) 1 else input.getInt(6)
      require(smallBytes.forall(_ > 0L),
        "graft compact: small_file_bytes must be positive")
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // a table no write has committed to yet (an external LOCATION over
      // existing files) adopts its listing first: the fold reads and swaps
      // manifest entries, and its promoted output stays invisible until
      // the swap commits
      OcfSnapshots.adoptListing(fs, root)
      var attempt = 0
      while (true) {
        attempt += 1
        // ONE snapshot read feeds everything: the fold's target set, the
        // delete files applied while reading, AND (via onlyFiles) the
        // compact read itself. Deriving them from separate latest() calls
        // left a window where a concurrent append landed between the
        // guard's snapshot and an unpinned compact read — its rows folded
        // into the compacted output while the original file survived the
        // commit, silently duplicating rows with a passing guard.
        // Restricting the read to exactly targetsData makes concurrent
        // appends commute with the fold instead of corrupting it.
        val fsnap: Seq[OcfSnapshots.SnapFile] =
          OcfSnapshots.latest(fs, root).map(_.files).getOrElse(Nil)
        val whereSel: Option[Set[String]] = whereStr.map(w =>
          selectFilesWhere(spark, cat, ident, meta, fs, root, w))
        val targetsData: Set[String] = fsnap.iterator.filter(_.isData)
          .filter(f => whereSel.forall(_.contains(f.path)))
          .filter(f => smallBytes.forall(f.len < _))
          .map(_.path).toSet
        if (targetsData.isEmpty || targetsData.size < minInput)
          return singleRowResult(outSchema, Array[Any](0L, 0L, 0L, 0L))
        // deletes: position deletes OVER the targets fold away with them;
        // an equality-delete file retires ONLY when every data file it may
        // burden ([[OcfEqScope]] scoping) is being rewritten — a kept one
        // still burdens the untouched files, and can never re-kill the
        // compacted output (new files commit with a NEWER seq). The guard
        // set stays "pos-over-targets + every equality delete": any
        // concurrently added equality delete burdens the fold's inputs.
        val posOfTargets: Set[String] = fsnap.iterator
          .filter(_.deleteOf.exists(targetsData.contains)).map(_.path).toSet
        val eqFiles = fsnap.filter(_.isEqualityDelete)
        val guardDeletes: Set[String] = posOfTargets ++ eqFiles.map(_.path)
        val conf = spark.sessionState.newHadoopConf()
        val baseQ = fs.makeQualified(root)
        val droppableEq: Set[String] = eqFiles.iterator.filter { e =>
          val sum = OcfEqScope.summaryFor(OcfEqScope.metaOfSnap(baseQ, e, conf), conf)
          fsnap.iterator.filter(_.isData).forall(f =>
            targetsData.contains(f.path) || f.seq >= e.seq ||
              !OcfEqScope.mayBurdenFile(f, baseQ, sum, conf))
        }.map(_.path).toSet
        val dropped: Set[String] = targetsData ++ posOfTargets ++ droppableEq
        // compact into a SIBLING staging dir (never inside the table dir —
        // the table's recursive listing must not see half-written output)
        val staging = meta.location + ".compact-" + java.util.UUID.randomUUID()
        OcfMaintenance.compact(spark, meta.location, staging,
          codec = codec, targetBytes = targetBytes,
          readerSchemaJson = Some(GraftCatalog.readerJsonWithDefaults(meta.dataSchema)),
          zorderColumns = zorder,
          onlyFiles = Some(targetsData),
          // current hidden-transform spec: output UNIFIES to it (X100) —
          // compacting after an evolution migrates the touched bytes
          transformPartitions = meta.options
            .find(_._1.equalsIgnoreCase("transformPartitions")).map(_._2),
          // current bucket spec: output UNIFIES mixed bucket eras (X103)
          bucketPartitions = bucketPartitionsOf(meta))
        // swap: move the compacted files in under fresh names (manifest
        // entries carry inline header metas, like any write commit), then
        // ONE manifest commit flips visibility to the compacted set; the
        // fragmented generation stays on disk as retained history for time
        // travel (expire_snapshots reclaims it). The stability guard runs
        // INSIDE the transform: a MoR DELETE or rewrite that landed after
        // this fold read its inputs refuses the commit (and the fold
        // re-runs) instead of losing those rows.
        val movedRel = OcfSnapshots.promote(fs, new Path(staging), root)
        val committed =
          try {
            OcfSnapshots.commit(fs, root, "compact",
              Some(meta.schema.json)) { prev =>
              requireFoldStable(prev, targetsData, guardDeletes, "compact")
              prev.filterNot(f => dropped.contains(f.path)) ++ movedRel
            }
            true
          } catch {
            case _: FoldConflictException if attempt < FoldAttempts =>
              // uncommitted output (the manifest governs visibility) —
              // discard and refold against the new head
              movedRel.foreach(f => fs.delete(new Path(root, f.path), false))
              false
          }
        fs.delete(new Path(staging), true)
        if (committed)
          return singleRowResult(outSchema, Array[Any](
            dropped.size.toLong, movedRel.size.toLong,
            fsnap.filter(f => dropped.contains(f.path)).map(_.len).sum,
            movedRel.map(_.len).sum))
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** `CALL g.system.rewrite_manifests(table => 'ns.t')` — force the head
    * manifest into a full checkpoint (in place, same version, identical
    * resolved content). After a long run of delta commits this collapses
    * every read's chain walk to ONE manifest fetch and resets the delta
    * chain for subsequent commits — the Iceberg `rewrite_manifests`
    * analog, pointed at the delta/checkpoint shape. */
  private final class RewriteManifestsProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rewrite_manifests"
    override def description(): String =
      "Checkpoint the head manifest (collapse its delta chain)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build())

    private val outSchema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("rewritten", org.apache.spark.sql.types.BooleanType,
        nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      require(OcfSnapshots.enabled(fs, root),
        s"graft rewrite_manifests: ${meta.location} is not snapshot-managed")
      val (v, rewritten) = OcfSnapshots.checkpointHead(fs, root).getOrElse(
        throw new IllegalArgumentException(
          s"graft rewrite_manifests: ${meta.location} has no snapshots"))
      singleRowResult(outSchema, Array[Any](v, rewritten))
    }
  }

  /** `CALL g.system.rewrite_position_deletes(table => 'ns.t')` — fold
    * merge-on-read position deletes (X87) back into clean data files: read
    * EXACTLY the delete-burdened files (deletes applied by the scan),
    * rewrite their surviving rows, and commit a snapshot that replaces
    * those files and drops their delete files. Restores split scans,
    * aggregate pushdown and streaming reads for the table. Distributed:
    * the rewrite is a Spark job over only the burdened files. */
  private final class RewritePositionDeletesProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rewrite_position_deletes"
    override def description(): String =
      "Fold position-delete files into rewritten data files"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue(String.valueOf(128L * 1024 * 1024))
        .comment("approximate output file size bound").build())

    private val outSchema = StructType(Seq(
      StructField("data_files_rewritten", LongType, nullable = false),
      StructField("delete_files_folded", LongType, nullable = false),
      StructField("bytes_rewritten", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val targetBytes = if (input.isNullAt(1)) 128L * 1024 * 1024 else input.getLong(1)
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (!OcfSnapshots.enabled(fs, root))
        return singleRowResult(outSchema, Array[Any](0L, 0L, 0L))
      var attempt = 0
      while (true) {
        attempt += 1
        val snap = OcfSnapshots.latest(fs, root).getOrElse(
          return singleRowResult(outSchema, Array[Any](0L, 0L, 0L)))
        val posFiles = snap.files.filter(_.isPositionDelete)
        val eqFiles = snap.files.filter(_.isEqualityDelete)
        if (posFiles.isEmpty && eqFiles.isEmpty)
          return singleRowResult(outSchema, Array[Any](0L, 0L, 0L))
        // targets: every data file burdened by a position delete OR born
        // before an equality delete — rewriting them (the scan applies both
        // kinds) leaves nothing for any delete file to say. Equality
        // burdens are SCOPED ([[OcfEqScope]]): a file whose key bounds /
        // bloom provably admit none of a delete's keys holds no matching
        // rows, so rewriting it would be a pure waste — at scale the
        // difference between folding a handful of touched files and
        // rewriting the whole table after every upsert. Dropping the key
        // file without rewriting a refuted file is sound for the same
        // reason: the delete says nothing about that file's rows.
        val posTargets: Set[String] = posFiles.map(_.deleteOf.get).toSet
        val conf = spark.sessionState.newHadoopConf()
        val baseQ = fs.makeQualified(root)
        val eqInfos = eqFiles.map(e => (e.seq,
          OcfEqScope.summaryFor(OcfEqScope.metaOfSnap(baseQ, e, conf), conf)))
        val targets: Set[String] = snap.files.iterator.filter(_.isData)
          .filter(f => posTargets.contains(f.path) ||
            eqInfos.exists { case (eseq, sum) => eseq > f.seq &&
              OcfEqScope.mayBurdenFile(f, baseQ, sum, conf) })
          .map(_.path).toSet
        val delFiles = posFiles ++ eqFiles
        val foldedDeletes: Set[String] = delFiles.map(_.path).toSet
        if (targets.isEmpty) {
          // every burden refuted (e.g. an insert-only upsert whose keys
          // matched nothing): retire the delete files with NO rewrite
          try {
            OcfSnapshots.commit(fs, root, "rewrite-position-deletes",
              Some(meta.schema.json)) { prev =>
              requireFoldStable(prev, targets, foldedDeletes,
                "rewrite_position_deletes")
              prev.filterNot(f => foldedDeletes.contains(f.path))
            }
            return singleRowResult(outSchema, Array[Any](
              0L, delFiles.size.toLong, 0L))
          } catch {
            case _: FoldConflictException if attempt < FoldAttempts => ()
          }
        } else {
        val targetBytesTotal = snap.files
          .filter(f => targets.contains(f.path)).map(_.len).sum
        // staging sibling dir, same discipline as compact: the table's
        // recursive listing must never see half-written output
        val staging = meta.location + ".rewrite-del-" + java.util.UUID.randomUUID()
        OcfMaintenance.compact(spark, meta.location, staging,
          codec = meta.options.find(_._1.equalsIgnoreCase("codec")).map(_._2)
            .getOrElse("null"),
          targetBytes = targetBytes,
          readerSchemaJson = Some(GraftCatalog.readerJsonWithDefaults(meta.dataSchema)),
          onlyFiles = Some(targets),
          transformPartitions = meta.options
            .find(_._1.equalsIgnoreCase("transformPartitions")).map(_._2),
          bucketPartitions = bucketPartitionsOf(meta))
        val movedRel = OcfSnapshots.promote(fs, new Path(staging), root)
        try {
          // one commit: burdened data files and their delete files out,
          // clean rewrites in (old generation stays for time travel until
          // expiry). The stability guard runs INSIDE the transform so a
          // version-race retry re-validates against the winner's files — a
          // MoR DELETE that landed after the fold refuses this output
          // instead of being silently dropped with its target.
          OcfSnapshots.commit(fs, root, "rewrite-position-deletes",
            Some(meta.schema.json)) { prev =>
            requireFoldStable(prev, targets, foldedDeletes,
              "rewrite_position_deletes")
            prev.filterNot(f => targets.contains(f.path) ||
              f.deleteOf.exists(targets.contains) ||
              foldedDeletes.contains(f.path)) ++ movedRel
          }
          fs.delete(new Path(staging), true)
          return singleRowResult(outSchema, Array[Any](
            targets.size.toLong, delFiles.size.toLong, targetBytesTotal))
        } catch {
          case _: FoldConflictException if attempt < FoldAttempts =>
            // the moved rewrites were never committed (the manifest governs
            // visibility) — discard them and refold against the new head
            movedRel.foreach(f => fs.delete(new Path(root, f.path), false))
            fs.delete(new Path(staging), true)
        }
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  private final class VacuumTempsProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum_temps"
    override def description(): String =
      "Delete orphaned writer temp files older than min_age_ms"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("min_age_ms", LongType)
        .defaultValue(String.valueOf(24L * 60 * 60 * 1000))
        .comment("only temps at least this old are removed").build())

    private val outSchema = StructType(Seq(
      StructField("removed", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val minAge = if (input.isNullAt(1)) 24L * 60 * 60 * 1000 else input.getLong(1)
      val removed = OcfMaintenance.vacuumTemps(spark, meta.location, minAge)
      singleRowResult(outSchema, Array[Any](removed))
    }
  }

  /** `CALL g.system.expire_snapshots(table => 'ns.t', keep_last => 3)` —
    * drops snapshot history through [[OcfMaintenance.expireSnapshots]]. */
  private final class ExpireSnapshotsProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String =
      "Drop old snapshot manifests and delete data files they alone reference"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("keep_last", LongType)
        .defaultValue("1")
        .comment("how many newest snapshots to retain (min 1)").build(),
      ProcedureParameter.in("older_than_ms", LongType).defaultValue("NULL")
        .comment("only expire snapshots committed before this epoch-ms " +
          "timestamp (default: no time bound)").build())

    private val outSchema = StructType(Seq(
      StructField("expired_snapshots", LongType, nullable = false),
      StructField("deleted_files", LongType, nullable = false),
      StructField("deleted_bytes", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val (expired, deleted, deletedBytes) = OcfMaintenance.expireSnapshots(
        SparkSession.active, meta.location,
        keepLast =
          if (input.isNullAt(1)) 1 else math.min(input.getLong(1), Int.MaxValue).toInt,
        olderThanMs = if (input.isNullAt(2)) None else Some(input.getLong(2)))
      singleRowResult(outSchema, Array[Any](expired, deleted, deletedBytes))
    }
  }

  /** Write-audit-publish branches (X83). `create_branch(table, name
    * [, version])` opens a branch at a main version (default: latest);
    * `df.writeTo(t).option("branch", name)` commits into it while main
    * readers see nothing; `spark.read.option("branch", name).table(t)`
    * audits it; `fast_forward(table, name)` publishes the whole branch to
    * main (refusing if main advanced — divergence is never silently
    * merged); `drop_branch` abandons it (its data files become orphans for
    * remove_orphan_files). */
  private final class CreateBranchProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_branch"
    override def description(): String =
      "Open a write-audit-publish branch at a main snapshot version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build(),
      ProcedureParameter.in("version", LongType).defaultValue("NULL")
        .comment("main version to branch from; default latest").build())
    private val outSchema = StructType(Seq(
      StructField("branch", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("base_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val nm = str(input, 1).get
      val from = if (input.isNullAt(2)) None else Some(input.getLong(2))
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val base = OcfSnapshots.createBranch(fs, root, nm, from)
      singleRowResult(outSchema, Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(nm), base))
    }
  }

  private final class FastForwardProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "fast_forward"
    override def description(): String =
      "Publish a branch: advance main to the branch head (refuses on divergence)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build())
    private val outSchema = StructType(Seq(
      StructField("base_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val (base, head) = OcfSnapshots.fastForward(fs, root, str(input, 1).get)
      singleRowResult(outSchema, Array[Any](base, head))
    }
  }

  private final class DropBranchProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "Abandon a branch (its unpublished files become orphans)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build())
    private val outSchema = StructType(Seq(
      StructField("dropped", org.apache.spark.sql.types.BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      singleRowResult(outSchema, Array[Any](
        OcfSnapshots.dropBranch(fs, root, str(input, 1).get)))
    }
  }

  /** `CALL g.system.remove_orphan_files(table => 'ns.t')` — delete data
    * files NO retained manifest references (Iceberg's remove_orphan_files
    * shape): the leftovers of a commit that crashed between landing its
    * renamed files and writing the manifest, which no read will ever see
    * and no expire_snapshots will ever reclaim (expiry walks manifests;
    * these files are in none). Snapshot-managed tables only — without
    * manifests the listing IS the table and nothing can be orphaned. An
    * age gate (default 24 h, by modification time) protects a LIVE
    * concurrent commit's already-renamed files during its land-then-commit
    * window; underscore/dot path segments (manifests, staged CTAS dirs,
    * writer temps) are never touched — temps stay vacuum_temps' job. */
  private final class RemoveOrphanFilesProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "remove_orphan_files"
    override def description(): String =
      "Delete data files referenced by no retained snapshot manifest"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("catalog-relative table name, e.g. 'corpus.docs'").build(),
      ProcedureParameter.in("min_age_ms", LongType)
        .defaultValue(String.valueOf(24L * 3600 * 1000))
        .comment("only delete files last modified at least this long ago; " +
          "must exceed the longest possible commit duration (land files, " +
          "then write manifest) plus any mtime/clock skew, or an in-flight " +
          "commit's files could be collected — floored at 10 minutes " +
          "unless force => true").build(),
      ProcedureParameter.in("force", BooleanType)
        .defaultValue("false")
        .comment("allow min_age_ms below the 10-minute safety floor " +
          "(tests / provably quiesced tables only)").build())

    private val outSchema = StructType(Seq(
      StructField("scanned_files", LongType, nullable = false),
      StructField("orphans_deleted", LongType, nullable = false),
      StructField("deleted_bytes", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val minAge = if (input.isNullAt(1)) 24L * 3600 * 1000 else input.getLong(1)
      val force = !input.isNullAt(2) && input.getBoolean(2)
      // a min_age below any plausible commit duration turns this procedure
      // into a weapon against in-flight commits (files land BEFORE the
      // manifest referencing them exists; mtimes skew on object stores)
      require(force || minAge >= MinOrphanAgeFloorMs,
        s"graft remove_orphan_files: min_age_ms=$minAge is below the " +
          s"${MinOrphanAgeFloorMs / 60000}-minute safety floor — files of an " +
          "in-flight commit (landed but not yet manifest-referenced) would " +
          "be collected. Pass force => true only for a provably quiesced " +
          "table (no active writers), e.g. in tests.")
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      require(OcfSnapshots.enabled(fs, root),
        s"graft remove_orphan_files: ${meta.location} is not snapshot-managed " +
          "— without manifests the directory listing IS the table, so no " +
          "file can be orphaned")
      // branch manifests count as references: an unpublished branch's
      // files are invisible to main but NOT orphans
      val referenced: Set[String] = OcfSnapshots.versions(fs, root)
        .flatMap(v => OcfSnapshots.read(fs, root, v).files.map(_.path)).toSet ++
        OcfSnapshots.branchReferencedFiles(fs, root)
      val baseQ = fs.makeQualified(root).toString
      val cutoff = System.currentTimeMillis() - minAge
      var scanned = 0L; var deleted = 0L; var deletedBytes = 0L
      GraftIO.listFilesUnder(fs, root, recursive = true).foreach { st =>
        val rel = OcfSnapshots.relativize(baseQ, fs.makeQualified(st.getPath).toString)
        // any hidden segment (manifests, _staged-* dirs, .tmp temps) is
        // out of scope for orphan collection — EXCEPT the bucket layout's
        // `_bucket=K` directories, which hold ordinary referenced data
        val hidden = rel.split('/').exists(s =>
          s.startsWith(".") || (s.startsWith("_") &&
            !OcfBucket.isLevelDir(s)))
        if (!hidden) {
          scanned += 1
          if (!referenced.contains(rel) && st.getModificationTime < cutoff) {
            val len = st.getLen
            if (fs.delete(st.getPath, false)) {
              deleted += 1
              deletedBytes += len
            }
          }
        }
      }
      singleRowResult(outSchema, Array[Any](scanned, deleted, deletedBytes))
    }
  }

  /** `CALL g.system.tag(table => 'ns.t', name => 'v1', version => 3)` —
    * pin a name to a snapshot (default: the latest). `VERSION AS OF 'v1'`
    * resolves through it and expire_snapshots retains it. */
  private final class TagProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "tag"
    override def description(): String = "Name a snapshot version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("NULL")
        .comment("snapshot version; defaults to the latest").build())

    private val outSchema = StructType(Seq(
      StructField("tagged_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val v =
        if (input.isNullAt(2))
          OcfSnapshots.versions(fs, root).lastOption.getOrElse(
            throw new IllegalArgumentException(
              s"graft catalog: table has no snapshots to tag"))
        else input.getLong(2)
      OcfSnapshots.tag(fs, root, str(input, 1).get, v)
      singleRowResult(outSchema, Array[Any](v))
    }
  }

  private final class UntagProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "untag"
    override def description(): String = "Remove a snapshot tag"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())

    private val outSchema = StructType(Seq(
      StructField("removed", org.apache.spark.sql.types.BooleanType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      singleRowResult(outSchema,
        Array[Any](OcfSnapshots.untag(fs, root, str(input, 1).get)))
    }
  }

  /** `CALL g.system.rollback(table => 'ns.t', version => 3)` — restore the
    * table to snapshot `version` by committing a NEW manifest with that
    * version's file list (op `rollback`). History is preserved: the bad
    * commits stay inspectable, the rollback is itself a commit, and
    * nothing is deleted — the safe undo for a bad overwrite/delete, valid
    * as long as the target's files have not been expired. */
  private final class RollbackProcedure(cat: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "Restore a table to an earlier snapshot via a new commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build())

    private val outSchema = StructType(Seq(
      StructField("restored_version", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val meta = cat.tableMeta(tableIdent(str(input, 0).get))
      val v = input.getLong(1)
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      require(OcfSnapshots.versions(fs, root).contains(v),
        s"graft catalog: no snapshot version $v to roll back to " +
          s"(available: ${OcfSnapshots.versions(fs, root).mkString(", ")})")
      val target = OcfSnapshots.read(fs, root, v)
      // every restored file must still exist (expiry may have reclaimed it)
      target.files.foreach { f =>
        require(fs.exists(new Path(root, f.path)),
          s"graft catalog: cannot roll back to version $v - file ${f.path} " +
            "has been expired; the snapshot is no longer restorable")
      }
      // rollback restores CONTENTS under the CURRENT schema (DDL is not
      // rolled back; old files null-fill any later-added columns)
      val committed = OcfSnapshots.commit(fs, root, "rollback",
        Some(meta.schema.json))(_ => target.files)
      singleRowResult(outSchema, Array[Any](v, committed.version))
    }
  }
}
