package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, explode, lit, sequence}
import org.apache.spark.sql.types.StructType

/** Change-data-feed reads over snapshot history (X92, the Delta CDF /
  * Iceberg changelog shape): every row the table GAINED or LOST in
  * `(startVersion, endVersion]`, tagged `_change_type` ('insert'|'delete')
  * and `_commit_version` — the primitive that propagates corpus edits
  * (GDPR erasures, corrections, appends) to downstream derived datasets
  * incrementally instead of re-diffing whole snapshots.
  *
  * One engine derives the rows, all DISTRIBUTED (no driver row
  * materialization anywhere):
  *  - every maximal run of commits that keep their data files (appends,
  *    merge-on-read DELETE/UPDATE/MERGE, upserts, compact,
  *    rewrite_position_deletes) is ONE batch read of the `.changes` table's
  *    planner and reader factory ([[GraftChangesPlanner]]): new data files
  *    as inserts, position- and equality-deleted rows as deletes, and
  *    row-preserving rewrites as nothing — so the programmatic feed, the
  *    `.changes` table and the streaming source derive (and pair) a commit
  *    identically;
  *  - a COPY-ON-WRITE row-level commit ('replace-rows': CoW DELETE/
  *    UPDATE/MERGE) → the MULTISET DIFF of the replaced files' rows
  *    (as of v-1) against the replacement files' rows (as of v): rows
  *    only in the before side are deletes, only in the after side are
  *    inserts, and surviving rows cancel — a groupBy-count full-outer
  *    join over only the replaced/replacement files, exact by value. The
  *    table and the stream refuse these commits; only this feed diffs them;
  *  - any OTHER commit that removed/replaced data files (overwrites,
  *    partition drops) REFUSES — its per-row changes are not recoverable
  *    from the file diff, and a silent partial answer would corrupt every
  *    downstream increment.
  *
  * `readerSchemaJson` (Avro, DATA columns) pins one schema across the
  * range — catalog callers pass their stored reader schema so a range
  * spanning schema evolution still unions cleanly; None uses the latest
  * commit's table schema (or its first data file's writer schema). */
object GraftChanges {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The copy-on-write row-level operation ([[OcfCommit]]'s `replace-rows`):
    * the ONLY file-replacing commit whose per-row changes are recoverable —
    * the replaced and replacement file sets are both named by the commit,
    * so their value-level multiset diff IS the change set. */
  private val CowRowLevelOp = "replace-rows"

  /** Exact multiset diff of two row sets sharing a schema: rows only in
    * `before` are deletes, only in `after` inserts, common multiplicity
    * cancels. One groupBy-count per side + a null-safe full-outer join —
    * work proportional to the replaced/replacement files, never the table.
    * `pairKeys` (X104, CoW commits): the changed rows re-tag as update
    * pairs by key where both sides carry the key. */
  private def multisetDiff(before: Option[DataFrame], after: Option[DataFrame],
                           v: Long, pairKeys: Seq[String]): Seq[DataFrame] = {
    (before, after) match {
      case (None, None) => Nil
      case (Some(b), None) => Seq(tag(b, "delete", v))
      case (None, Some(a)) => Seq(tag(a, "insert", v))
      case (Some(b), Some(a)) =>
        val cols = b.columns.toSeq
        val bg = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_nb"))
        val ag = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_na"))
        val joined = bg.join(ag,
          cols.map(c => bg(c) <=> ag(c)).reduce(_ && _), "full_outer")
        val merged = joined.select(
          cols.map(c => coalesce(bg(c), ag(c)).as(c)) ++ Seq(
            coalesce(col("_nb"), lit(0L)).as("_nb"),
            coalesce(col("_na"), lit(0L)).as("_na")): _*)
        def emit(n: org.apache.spark.sql.Column) =
          merged.where(n > lit(0L))
            .withColumn("_dup", explode(sequence(lit(1L), n)))
            .select(cols.map(col): _*)
        pairAndTag(emit(col("_na") - col("_nb")),
          emit(col("_nb") - col("_na")), pairKeys, v)
    }
  }

  private def tag(df: DataFrame, t: String, v: Long): DataFrame =
    df.withColumn(ChangeTypeCol, lit(t)).withColumn(CommitVersionCol, lit(v))

  /** Tag one CoW commit's insert/delete row sets — as update pairs by key
    * (X104) when `pairKeys` is given, else plainly. Null-safe key equality
    * (the engine's tuple match treats null == null, so must the join); the
    * key sets are O(changed rows), broadcastable. */
  private def pairAndTag(ins: DataFrame, del: DataFrame,
                         pairKeys: Seq[String], v: Long): Seq[DataFrame] =
    if (pairKeys.isEmpty) Seq(tag(ins, "insert", v), tag(del, "delete", v))
    else {
      val kc = pairKeys.map(k => ins.columns.find(_.equalsIgnoreCase(k))
        .getOrElse(throw new IllegalArgumentException(
          s"graft-ocf changes: pairing key column '$k' is not in the feed " +
            s"schema (${ins.columns.mkString(", ")})")))
      // The insert and delete sides of a CoW commit derive from the SAME
      // file-diff plan, so a key set selected straight off one side would
      // share expression IDs with the other — a self-join whose
      // resolution rests on Spark's dataset-id disambiguation. Aliasing
      // every key-set column to a fresh name mints new expression IDs at
      // the key set's output, making each semi/anti join unambiguous by
      // construction (the probe side's attributes can only resolve left).
      val fresh = kc.indices.map(i => s"_graft_pk$i")
      def keysOf(side: DataFrame) =
        side.select(kc.zip(fresh).map { case (c, f) => side(c).as(f) }: _*)
          .distinct()
      val insKeys = keysOf(ins)
      val delCond = kc.zip(fresh).map { case (c, f) => del(c) <=> insKeys(f) }
        .reduce(_ && _)
      val delKeys = keysOf(del)
      val insCond = kc.zip(fresh).map { case (c, f) => ins(c) <=> delKeys(f) }
        .reduce(_ && _)
      Seq(tag(del.join(insKeys, delCond, "left_semi"), "update_preimage", v),
        tag(del.join(insKeys, delCond, "left_anti"), "delete", v),
        tag(ins.join(delKeys, insCond, "left_semi"), "update_postimage", v),
        tag(ins.join(delKeys, insCond, "left_anti"), "insert", v))
    }

  /** [[changes]] for a catalog-qualified table (`"cat.ns.table"`): the
    * location AND the stored reader schema come from the catalog, so the
    * feed unions cleanly even across schema evolution in the range. */
  def forTable(spark: SparkSession, qualifiedName: String,
               startVersion: Long, endVersion: Option[Long] = None,
               updateImages: Boolean = false): DataFrame = {
    val parts = qualifiedName.split('.')
    require(parts.length >= 3,
      s"graft-ocf changes: want 'catalog.namespace.table', got '$qualifiedName'")
    val cat = spark.sessionState.catalogManager.catalog(parts.head) match {
      case g: GraftCatalog => g
      case other => throw new IllegalArgumentException(
        s"graft-ocf changes: catalog '${parts.head}' is ${other.getClass.getName}, " +
          "not a GraftCatalog")
    }
    val meta = cat.tableMeta(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        parts.tail.init, parts.last))
    // a declared `upsertKeys` table option names the row identity — CoW
    // commits pair by it under updateImages (eq commits carry their own)
    val declaredKeys: Seq[String] =
      if (!updateImages) Nil
      else meta.options.find(_._1.equalsIgnoreCase("upsertKeys"))
        .map(_._2.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    changes(spark, meta.location, startVersion, endVersion,
      Some(GraftCatalog.readerJsonWithDefaults(meta.dataSchema)),
      updateImages = updateImages, pairKeys = declaredKeys)
  }

  /** `updateImages=true` (X104 parity for the programmatic surface): a
    * commit's deleted and inserted rows sharing a key re-tag
    * `update_preimage`/`update_postimage` under the `.changes` table's
    * rule — the rows an equality delete kills pair with the commit's new
    * data by the delete files' key columns; position-deleted rows never
    * pair (they name ordinals, not keys).
    *
    * `pairKeys` extends pairing to COPY-ON-WRITE row-level commits (CoW
    * UPDATE/MERGE), whose value-level multiset diff has no delete files to
    * derive keys from: the caller names the row-identity columns and the
    * diff's changed rows pair by them. `forTable` fills it from the
    * table's declared `upsertKeys` option when present. */
  def changes(spark: SparkSession, tableDir: String,
              startVersion: Long, endVersion: Option[Long] = None,
              readerSchemaJson: Option[String] = None,
              updateImages: Boolean = false,
              pairKeys: Seq[String] = Nil): DataFrame = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(OcfSnapshots.enabled(fs, root),
      s"graft-ocf changes: $tableDir is not snapshot-managed")
    val vs = OcfSnapshots.versions(fs, root)
    def known(v: Long, role: String): Unit = require(vs.contains(v),
      s"graft-ocf changes: $role version $v is not a retained snapshot " +
        s"(retained: ${vs.mkString(", ")})")
    // startVersion 0 = the GENESIS baseline (empty table before its first
    // commit), mirroring the streaming feed's `startingVersion=0`: every
    // retained version replays, the first one as pure inserts. Exact only
    // while the full history survives — an expired v1 refuses.
    if (startVersion == 0L)
      require(vs.headOption.contains(1L),
        "graft-ocf changes: startVersion 0 (genesis) needs the full " +
          s"history retained; earliest retained version is ${vs.headOption
            .getOrElse(-1L)}")
    else known(startVersion, "startVersion")
    val end = endVersion.getOrElse(vs.last)
    known(end, "endVersion")
    require(end > startVersion,
      s"graft-ocf changes: empty range ($startVersion, $end]")
    val chain = vs.filter(v => v >= startVersion && v <= end)

    // the `.changes` table over this directory, shaped by the caller's
    // reader schema when one is given
    val (latestOut, latestJson, partSchema) =
      GraftChangesSource.resolveSchema(tableDir)
    val readerJson = readerSchemaJson.getOrElse(latestJson)
    val out =
      if (readerSchemaJson.isEmpty) latestOut
      else StructType(OcfDataSource.sqlShape(readerJson)._1.fields ++
        partSchema.fields ++ GraftChangesSource.ChangeCols)
    val feed = new GraftChangesTable(tableDir, out, readerJson, partSchema,
      startingVersion = None, updateImages = updateImages)
    // (a, b]: one planner read — an all-row-preserving run is an empty
    // frame shaped like the feed
    def planned(a: Long, b: Long): DataFrame =
      org.apache.spark.sql.graft.Shims.tableFrame(spark, feed,
        Map("startingVersion" -> a.toString, "endingVersion" -> b.toString))

    def readAsOf(v: Long, relFiles: Seq[String]): DataFrame = {
      val df = spark.read.format("graft-ocf")
        .option("graft.snapshot.version", v.toString)
        .option("graft.files", relFiles.sorted.mkString(","))
        // engine lens: `_p_*` transform levels are derived layout, never
        // feed columns — also what keeps MIXED spec eras (X100) unioning
        // instead of failing on per-era phantom columns
        .option("transformPartitions", "")
        .option("readerSchema", readerJson)
        .load(tableDir)
      // bucket levels (any era, X103) are layout too (the read has no
      // bucket spec to fold them into, so they would surface as columns)
      df.drop(df.columns.filter(OcfBucket.isLevel).toIndexedSeq: _*)
    }

    var prev =
      if (startVersion == 0L)
        OcfSnapshots.Snapshot(0L, 0L, "genesis", Nil)
      else OcfSnapshots.read(fs, root, chain.head)
    var prevV = if (startVersion == 0L) 0L else chain.head
    // start (exclusive) of the pending run of non-CoW versions
    var runFrom: Option[Long] = None
    val parts = Seq.newBuilder[DataFrame]
    val walk = if (startVersion == 0L) chain else chain.tail
    walk.foreach { v =>
      val cur = OcfSnapshots.read(fs, root, v)
      val prevByPath = prev.files.map(f => f.path -> f).toMap
      val curPaths = cur.files.map(_.path).toSet
      val removedData = prev.files.filter(f =>
        f.isData && !curPaths.contains(f.path))
      if (removedData.nonEmpty)
        require(OcfSnapshots.addsNoRows(prevV, v, cur.operation) ||
            cur.operation == CowRowLevelOp,
          s"graft-ocf changes: version $v (operation '${cur.operation}') " +
            s"removed or replaced ${removedData.size} data file(s) — its " +
            "per-row changes are not recoverable from the file diff. Read " +
            "a full snapshot instead, or start after the rewriting commit.")
      if (cur.operation == CowRowLevelOp) {
        runFrom.foreach(a => parts += planned(a, prevV))
        runFrom = None
        // copy-on-write DELETE/UPDATE/MERGE: the replaced files' rows
        // (before) vs the replacement files' rows (after), value-exact
        val addedData = cur.files.filter(f =>
          f.isData && !prevByPath.contains(f.path)).map(_.path)
        val before =
          if (removedData.isEmpty) None
          else Some(readAsOf(prevV, removedData.map(_.path)))
        val after =
          if (addedData.isEmpty) None
          else Some(readAsOf(v, addedData))
        parts ++= multisetDiff(before, after, v,
          pairKeys = if (updateImages) pairKeys else Nil)
      } else if (runFrom.isEmpty) runFrom = Some(prevV)
      prev = cur
      prevV = v
    }
    runFrom.foreach(a => parts += planned(a, prevV))
    parts.result().reduceOption(_ unionByName _).getOrElse(planned(end, end))
  }
}
