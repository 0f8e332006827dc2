package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}

/** Snapshot manifests for `graft-ocf` tables, catalog and path alike: every
  * commit writes a new numbered manifest making the manifest sequence — not
  * the directory listing — the source of truth for reads.
  *
  * What this buys at 100 TB:
  *  - **O(delta) commits**: a commit writes the files it ADDED and the paths
  *    it REMOVED, not the table's whole file list — a 1M-file table
  *    committing a 10-file streaming epoch writes a 10-entry delta, never a
  *    1M-entry JSON (the Iceberg manifest/manifest-list shape, folded into
  *    one numbered file per commit). Every `CheckpointEvery`-th commit in a
  *    chain writes a FULL manifest, bounding any read's resolution walk.
  *  - **O(chain) planning listings**: a read opens at most
  *    `CheckpointEvery + 1` small JSONs instead of recursively listing a
  *    million-file directory tree (the S3 LIST call train that dominates
  *    large-table planning).
  *  - **Atomic commits + snapshot isolation**: a manifest appears with a
  *    single create; concurrent readers see either the old complete version
  *    or the new complete version, never a half-renamed directory.
  *  - **Optimistic concurrency**: the next version is claimed through
  *    `GraftIO.publishExclusive` — two racing committers cannot both win
  *    (on `file:` and HDFS; on other stores commits assume one writer);
  *    the loser recomputes against the winner's manifest and retries.
  *  - **Time travel**: `VERSION AS OF n` / `TIMESTAMP AS OF t` pin a read
  *    to an old manifest. Removed files are dropped from the visible set
  *    but NOT physically deleted — `expire_snapshots` reclaims
  *    unreferenced files once history is no longer wanted (checkpointing
  *    any retained manifest whose delta chain crosses the expired range
  *    first, so retained history never dangles).
  *
  * Layout: `<table>/_graft_snapshots/_v000000000042.json` (underscore dir —
  * invisible to data-file listings). Paths inside a manifest are RELATIVE
  * to the table directory, so a table can be relocated wholesale.
  *
  * Migration: a directory without a snapshots dir (external files no
  * graft-ocf write has committed to) reads by listing; the FIRST commit
  * folds the pre-existing listing in as its base (a full manifest), so
  * existing directories upgrade in place.
  * Manifests written before the delta format (always-full) read unchanged —
  * a delta is recognized by its `base` field. */
private[graft] object OcfSnapshots {

  val Dir = "_graft_snapshots"

  /** After this many consecutive delta commits the next commit writes a
    * full (checkpoint) manifest: commits stay O(delta) while any read's
    * chain walk stays O(CheckpointEvery) small files. */
  private[graft] val CheckpointEvery = 16

  /** One manifest entry: the file's relative path + length, plus (when the
    * commit embedded it) the header metadata a scan needs — writer schema,
    * codec, sync marker, first-block offset, row stamp, stats and sort
    * stamps. A manifest whose entries carry metas plans with ZERO per-file
    * header reads: at 100k files that removes 100k round trips from every
    * query's planning. Bloom / block-index stamps are deliberately NOT
    * inlined (they can be MBs per file); `hasBloom`/`hasBlockIndex` tell
    * the scan a lazy header pread is worthwhile for the query shapes that
    * can use them. */
  /** `deleteOf`: when set, this entry is a POSITION-DELETE file (X87,
    * merge-on-read DELETE) holding the ordinals of deleted rows of the
    * named data file (table-relative path). Scans attach it to exactly
    * that file; it is never read as table data.
    *
    * `equalityOf`: when set, this entry is an EQUALITY-DELETE file (X94,
    * merge-on-read upsert): its datums are key tuples over the named
    * columns, and it deletes every matching row of every data file with a
    * SMALLER `seq` (files born before it). Never read as table data.
    *
    * `seq`: the commit version that ADDED this file (0 = pre-sequencing
    * legacy, ordered before everything). Commit() stamps it centrally;
    * the only consumer is equality-delete applicability, mirroring
    * Iceberg's sequence numbers. */
  final case class SnapFile(path: String, len: Long,
                            meta: Option[OcfDataSource.OcfFileMeta] = None,
                            deleteOf: Option[String] = None,
                            equalityOf: Option[Seq[String]] = None,
                            seq: Long = 0L) {
    def isPositionDelete: Boolean = deleteOf.isDefined
    def isEqualityDelete: Boolean = equalityOf.isDefined
    def isData: Boolean = deleteOf.isEmpty && equalityOf.isEmpty
  }
  final case class Snapshot(version: Long, timestampMs: Long, operation: String,
                            files: Seq[SnapFile],
                            // the table's Catalyst schema AT COMMIT TIME
                            // (catalog commits only): a pinned VERSION AS OF
                            // read shows the schema the data had, not the
                            // one DDL later evolved it to
                            tableSchemaJson: Option[String] = None)

  /** One manifest file as WRITTEN: either a full file list (`full` defined;
    * checkpoints and the pre-delta format) or a delta against `base`
    * (adds + removed paths). Every manifest — delta included — carries the
    * commit's RESOLVED table schema, so resolution never walks for it. */
  private final case class Raw(version: Long, timestampMs: Long,
                               operation: String,
                               tableSchemaJson: Option[String],
                               full: Option[Seq[SnapFile]],
                               base: Long, adds: Seq[SnapFile],
                               removes: Set[String],
                               // the chain's FULL (checkpoint) manifest
                               // version, stamped in every delta so a read
                               // can fetch the whole chain CONCURRENTLY
                               // (-1 on pre-stamp deltas: sequential walk)
                               ckpt: Long = -1L)

  private val mapper = new ObjectMapper()

  def snapshotsDir(tableDir: Path): Path = new Path(tableDir, Dir)

  // underscore-prefixed NAME: every data listing in this source filters
  // file names on "_"/"." prefixes, so manifests are invisible to them
  // even when a recursive walk reaches inside _graft_snapshots
  private def manifestFile(dir: Path, version: Long): Path =
    new Path(dir, f"_v$version%012d.json")

  private def manifestPath(tableDir: Path, version: Long): Path =
    manifestFile(snapshotsDir(tableDir), version)

  /** Physically remove one manifest (expire_snapshots). */
  def deleteManifest(fs: FileSystem, tableDir: Path, version: Long): Unit = {
    fs.delete(manifestPath(tableDir, version), false)
    ()
  }

  /** Whether `tableDir` is snapshot-managed: it holds a committed manifest.
    * A snapshots directory without one (a first commit that failed before
    * its manifest landed) leaves the directory's listing as its table. */
  def enabled(fs: FileSystem, tableDir: Path): Boolean =
    try versions(fs, tableDir).nonEmpty catch { case _: java.io.IOException => false }

  private def versionsIn(fs: FileSystem, d: Path): Seq[Long] =
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("_v") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("_v").stripSuffix(".json").toLongOption)
      .toSeq.sorted

  /** All manifest versions present, ascending. */
  def versions(fs: FileSystem, tableDir: Path): Seq[Long] =
    versionsIn(fs, snapshotsDir(tableDir))

  // ---- manifest parse/render ----------------------------------------------

  private def bytesOf(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  private def readRaw(fs: FileSystem, file: Path): Raw = {
    val root = mapper.readTree(bytesOf(fs, file))
    def strings(arr: com.fasterxml.jackson.databind.JsonNode): IndexedSeq[String] =
      if (arr == null) IndexedSeq.empty
      else {
        val b = IndexedSeq.newBuilder[String]
        val it = arr.elements()
        while (it.hasNext) b += it.next().asText
        b.result()
      }
    // writer schemas are deduplicated into one table (a 10k-file table
    // usually has a handful of distinct schemas, not 10k copies)
    val schemas: IndexedSeq[String] = strings(root.get("schemas"))
    def parseFiles(): Seq[SnapFile] = {
      val files = Seq.newBuilder[SnapFile]
      val it = root.get("files").elements()
      while (it.hasNext) {
        val f = it.next()
        val path = f.get("path").asText
        val len = f.get("len").asLong
        // meta fields are OPTIONAL: manifests written before meta embedding
        // (or by minimal commits) still read — the scan falls back to preads
        val meta = Option(f.get("schema")).map { sIdx =>
          def strOpt(k: String): Option[String] = Option(f.get(k)).map(_.asText)
          OcfDataSource.OcfFileMeta(
            path = path, len = len,
            writerSchemaJson = schemas(sIdx.asInt),
            codecName = f.get("codec").asText,
            sync = java.util.Base64.getDecoder.decode(f.get("sync").asText),
            headerEnd = f.get("end").asLong,
            statsJson = strOpt("stats"),
            sortedByJson = strOpt("sorted"),
            rowsStamp = Option(f.get("rows")).map(_.asLong),
            bloomInHeader = Option(f.get("bloom")).exists(_.asBoolean),
            blockIndexInHeader = Option(f.get("blockIndex")).exists(_.asBoolean),
            bloomColumns = strings(f.get("bloomColumns")))
        }
        files += SnapFile(path, len, meta,
          deleteOf = Option(f.get("deleteOf")).map(_.asText),
          equalityOf = Option(f.get("equalityOf")).map(strings),
          seq = Option(f.get("seq")).map(_.asLong).getOrElse(0L))
      }
      files.result()
    }
    val version = root.get("version").asLong
    val ts = root.get("timestampMs").asLong
    val op = root.get("operation").asText
    val schema = Option(root.get("tableSchema")).map(_.asText)
    Option(root.get("base")) match {
      case Some(b) => // delta manifest
        val removes = Set.newBuilder[String]
        Option(root.get("removes")).foreach { arr =>
          val it = arr.elements()
          while (it.hasNext) removes += it.next().asText
        }
        Raw(version, ts, op, schema, None, b.asLong, parseFiles(), removes.result(),
          ckpt = Option(root.get("ckpt")).map(_.asLong).getOrElse(-1L))
      case None =>
        Raw(version, ts, op, schema, Some(parseFiles()), -1L, Nil, Set.empty)
    }
  }

  private def writeEntries(root: com.fasterxml.jackson.databind.node.ObjectNode,
                           files: Seq[SnapFile]): Unit = {
    val schemaIdx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val arr = root.putArray("files")
    files.foreach { f =>
      val o = arr.addObject()
      o.put("path", f.path)
      o.put("len", f.len)
      f.deleteOf.foreach(o.put("deleteOf", _))
      f.equalityOf.foreach { cols =>
        val a = o.putArray("equalityOf")
        cols.foreach(a.add)
      }
      if (f.seq != 0L) o.put("seq", f.seq)
      f.meta.foreach { m =>
        val idx = schemaIdx.getOrElseUpdate(m.writerSchemaJson, schemaIdx.size)
        o.put("schema", idx)
        o.put("codec", m.codecName)
        o.put("sync", java.util.Base64.getEncoder.encodeToString(m.sync))
        o.put("end", m.headerEnd)
        m.rowsStamp.foreach(o.put("rows", _))
        m.statsJson.foreach(o.put("stats", _))
        m.sortedByJson.foreach(o.put("sorted", _))
        // presence flags and bloom column names only — the stamps
        // themselves stay in the header
        if (m.bloomJson.isDefined || m.bloomInHeader) o.put("bloom", true)
        if (m.bloomColumns.nonEmpty) {
          val a = o.putArray("bloomColumns")
          m.bloomColumns.foreach(a.add)
        }
        if (m.blockIndexJson.isDefined || m.blockIndexInHeader)
          o.put("blockIndex", true)
      }
    }
    val sarr = root.putArray("schemas")
    schemaIdx.keys.foreach(sarr.add)
  }

  private def renderFull(s: Snapshot): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("timestampMs", s.timestampMs)
    root.put("operation", s.operation)
    s.tableSchemaJson.foreach(root.put("tableSchema", _))
    writeEntries(root, s.files)
    mapper.writeValueAsBytes(root)
  }

  private def renderDelta(s: Snapshot, base: Long, ckpt: Long,
                          adds: Seq[SnapFile],
                          removes: Seq[String]): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("timestampMs", s.timestampMs)
    root.put("operation", s.operation)
    s.tableSchemaJson.foreach(root.put("tableSchema", _))
    root.put("base", base)
    if (ckpt >= 0) root.put("ckpt", ckpt)
    val rarr = root.putArray("removes")
    removes.foreach(rarr.add)
    writeEntries(root, adds)
    mapper.writeValueAsBytes(root)
  }

  // ---- chain resolution ----------------------------------------------------

  /** Apply one delta: survivors keep base order (replaced same-path entries
    * drop out via the adds-path filter), adds append in delta order —
    * exactly the `prev.filterNot(removed) ++ added` shape every built-in
    * commit transform produces, so delta round-trips preserve file order. */
  private def applyDelta(base: Seq[SnapFile], d: Raw): Seq[SnapFile] = {
    val addPaths = d.adds.iterator.map(_.path).toSet
    base.filterNot(f => d.removes.contains(f.path) || addPaths.contains(f.path)) ++
      d.adds
  }

  /** Resolve `top`'s visible file set by walking its delta chain down to
    * the nearest full manifest through `lookup`. Returns the snapshot and
    * the number of DELTA manifests in the chain (0 = top itself is full) —
    * the commit cadence input. */
  private def resolveWithDepth(top: Raw, lookup: Long => Raw): (Snapshot, Int) = {
    // ckpt-stamped chains PREFETCH every manifest down to the checkpoint
    // concurrently — on an object store that turns up-to-CheckpointEvery
    // sequential round trips into one parallel batch. The prefetch is only
    // a cache: the walk below still follows base pointers exactly, so a
    // stale stamp (an intermediate manifest expire rewrote to full) just
    // terminates earlier, and a fetch miss falls back to the direct lookup.
    val prefetched: Map[Long, Raw] =
      if (top.full.isDefined || top.ckpt < 0 || top.version - top.ckpt <= 2)
        Map.empty
      else {
        val vs = top.ckpt until top.version
        val futs = vs.map(v => v -> chainPool.submit(
          new java.util.concurrent.Callable[Option[Raw]] {
            override def call(): Option[Raw] =
              try Some(lookup(v)) catch { case _: Exception => None }
          }))
        futs.flatMap { case (v, f) => f.get().map(v -> _) }.toMap
      }
    val look: Long => Raw = v => prefetched.getOrElse(v, lookup(v))
    var deltas = List.empty[Raw]
    var cur = top
    while (cur.full.isEmpty) {
      deltas ::= cur // ends up base-to-top ordered
      cur = look(cur.base)
    }
    var files = cur.full.get
    deltas.foreach(d => files = applyDelta(files, d))
    (Snapshot(top.version, top.timestampMs, top.operation, files,
      top.tableSchemaJson), deltas.length)
  }

  /** Bounded daemon pool for concurrent chain prefetch (manifest JSONs are
    * tiny; latency, not bandwidth, is the cost being parallelized). */
  private lazy val chainPool = GraftIO.daemonPool("graft-manifest-chain", 8)

  private def rawMain(fs: FileSystem, tableDir: Path)(v: Long): Raw =
    readRaw(fs, manifestPath(tableDir, v))

  /** Branch chain lookup: the branch's own manifest when it has one, else
    * main's — a branch's first delta references its MAIN base version, and
    * numbering is continuous, so one lookup serves the whole chain. */
  private def rawBranch(fs: FileSystem, tableDir: Path, name: String)(v: Long): Raw = {
    val bf = manifestFile(branchDir(tableDir, name), v)
    if (fs.exists(bf)) readRaw(fs, bf) else rawMain(fs, tableDir)(v)
  }

  /** Resolved-snapshot cache: a version's content is IMMUTABLE (in-place
    * manifest rewrites — checkpointHead, expire's full-ification — keep
    * the resolved set identical by contract), so (qualified manifest
    * path, len, mtime) identifies it exactly; a dropped-and-recreated
    * table writes a fresh manifest whose stat differs. Bounded small: a
    * 100 TB table's snapshot is ~a million entries, and the point is to
    * stop re-walking the delta chain and re-parsing MBs of manifest JSON
    * on EVERY query and every CDF version step — not to hold history. */
  // WEIGHT-bounded, not just count-bounded: at a million manifest entries
  // a single resolved snapshot is hundreds of MB of driver heap, so the
  // cache evicts by total cached FILE ENTRIES (and skips pathological
  // single snapshots outright) rather than pinning 8 giants.
  private val SnapCacheMaxEntries = 4
  private val SnapCacheMaxWeight = 4_000_000L
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long, Long), Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Snapshot]): Boolean = {
        if (size() <= 1) return false
        var weight = 0L
        val it = values().iterator()
        while (it.hasNext) weight += it.next().files.length
        size() > SnapCacheMaxEntries || weight > SnapCacheMaxWeight
      }
    }

  /** Test observability: resolutions that actually walked + parsed. */
  private[sources] val chainResolves = new java.util.concurrent.atomic.AtomicLong

  def read(fs: FileSystem, tableDir: Path, version: Long): Snapshot = {
    val p = manifestPath(tableDir, version)
    val key =
      try {
        val st = fs.getFileStatus(p)
        Some((fs.makeQualified(p).toString, st.getLen, st.getModificationTime))
      } catch { case _: java.io.IOException => None }
    key.flatMap(k => snapCache.synchronized(Option(snapCache.get(k)))) match {
      case Some(hit) => hit
      case None =>
        chainResolves.incrementAndGet()
        val snap =
          resolveWithDepth(rawMain(fs, tableDir)(version), rawMain(fs, tableDir))._1
        if (snap.files.length <= SnapCacheMaxWeight)
          key.foreach(k => snapCache.synchronized(snapCache.put(k, snap)))
        snap
    }
  }

  /** The commit timestamp alone — one small read, NO chain resolution
    * (every manifest, delta or full, carries it). */
  def timestampOf(fs: FileSystem, tableDir: Path, version: Long): Long =
    readRaw(fs, manifestPath(tableDir, version)).timestampMs

  def latest(fs: FileSystem, tableDir: Path): Option[Snapshot] =
    versions(fs, tableDir).lastOption.map(read(fs, tableDir, _))

  /** Latest snapshot with `timestampMs <= ts`, for TIMESTAMP AS OF —
    * timestamps read raw (no chain resolution); only the pick resolves. */
  def asOfTimestamp(fs: FileSystem, tableDir: Path, ts: Long): Option[Snapshot] =
    versions(fs, tableDir)
      .filter(v => timestampOf(fs, tableDir, v) <= ts).lastOption
      .map(read(fs, tableDir, _))

  private val RowPreservingOps = Set("compact", "rewrite-position-deletes")

  /** Whether the commit at `v`, reached from retained version `prevV`, adds
    * no rows: it only rewrites rows ([[RowPreservingOps]]), and no expired
    * version before it could hide a commit that did add or remove rows. */
  def addsNoRows(prevV: Long, v: Long, operation: String): Boolean =
    RowPreservingOps.contains(operation) && v == prevV + 1

  /** The rewrite rule of every incremental reader of a managed table: a
    * step from `prevV` to `v` that removed or replaced data files
    * (`removed`) passes only when it [[addsNoRows]]. */
  def requireAppendOnly(tableDir: Path, prevV: Long, v: Long,
                        operation: String, removed: Seq[String]): Unit =
    require(removed.isEmpty || addsNoRows(prevV, v, operation),
      s"graft-ocf: incremental read of $tableDir refused: version $v " +
        s"(operation '$operation') is a rewriting commit that removed or " +
        s"replaced ${removed.size} data file(s) (e.g. ${removed.head})" +
        (if (v > prevV + 1) s" after expired versions since $prevV" else "") +
        ". Incremental reads, streams and change feeds cannot represent " +
        s"rewrites: read a full snapshot instead, or start at version $v.")

  /** The data files the commits in `(a, b]` added, for batch
    * `startingVersion` reads and streams over a managed table. Per retained
    * version, counting only data paths `selects` admits: a commit that
    * [[addsNoRows]] is passed over; one that removed data files
    * ([[requireAppendOnly]]) or added position- or equality-delete files
    * refuses; any other adds its new data files (writers never reuse a file
    * name, so path sets are exact). A delta on the previous version costs
    * O(its entries); a full manifest or a step across a retention gap diffs
    * the whole table once. */
  def appendedFiles(fs: FileSystem, tableDir: Path, a: Long, b: Long,
                    selects: String => Boolean = _ => true): Seq[SnapFile] = {
    val vs = versions(fs, tableDir)
    def known(v: Long, role: String): Unit = require(vs.contains(v),
      s"graft-ocf: $role version $v is not a retained snapshot of $tableDir " +
        s"(retained: ${vs.mkString(", ")}); expire_snapshots may have removed it")
    known(a, "startingVersion")
    known(b, "endingVersion")
    require(b >= a, s"graft-ocf: endingVersion $b precedes startingVersion $a")
    var prevV = a
    // the files visible at prevV, by path
    val live = scala.collection.mutable.LinkedHashMap.empty[String, SnapFile]
    read(fs, tableDir, a).files.foreach(f => live(f.path) = f)
    val added = Seq.newBuilder[SnapFile]
    vs.filter(v => v > a && v <= b).foreach { v =>
      val raw = rawMain(fs, tableDir)(v)
      // the paths the step removes, and the entries it writes (a path in
      // both a delta's removes and adds is replaced in place)
      val (out, in) =
        if (raw.full.isEmpty && raw.base == prevV) (raw.removes -- raw.adds.map(_.path), raw.adds)
        else {
          val cur = raw.full.getOrElse(read(fs, tableDir, v).files) // gap: resolve
          val curPaths = cur.iterator.map(_.path).toSet
          (live.keysIterator.filterNot(curPaths).toSet, cur)
        }
      val removed = out.toSeq.flatMap(live.get)
      val fresh = in.filterNot(f => live.contains(f.path))
      live --= out
      in.foreach(f => live(f.path) = f)
      requireAppendOnly(tableDir, prevV, v, raw.operation, removed.collect {
        case f if f.isData && selects(f.path) => f.path })
      if (!addsNoRows(prevV, v, raw.operation)) {
        val deletes = fresh.count(f => f.isEqualityDelete || f.deleteOf.exists(selects))
        require(deletes == 0,
          s"graft-ocf: incremental read of $tableDir refused: version $v " +
            s"(operation '${raw.operation}') committed $deletes position-delete " +
            "or equality-delete file(s): rows were logically REMOVED. Read a " +
            "full snapshot instead, or fold the deletes (CALL <cat>.system." +
            "rewrite_position_deletes) and start at that version.")
        added ++= fresh.filter(f => f.isData && selects(f.path))
      }
      prevV = v
    }
    added.result()
  }

  // ---- commit --------------------------------------------------------------

  /** Deep SnapFile equality (the case class would compare the `sync` array
    * by REFERENCE): decides whether a path surviving a commit kept the same
    * entry (stays out of the delta) or was replaced (remove + add). */
  private def sameFile(a: SnapFile, b: SnapFile): Boolean =
    a.path == b.path && a.len == b.len && a.deleteOf == b.deleteOf &&
      a.equalityOf == b.equalityOf && a.seq == b.seq &&
      ((a.meta, b.meta) match {
      case (None, None) => true
      case (Some(x), Some(y)) =>
        x.writerSchemaJson == y.writerSchemaJson &&
          x.codecName == y.codecName &&
          java.util.Arrays.equals(x.sync, y.sync) &&
          x.headerEnd == y.headerEnd &&
          x.statsJson == y.statsJson &&
          x.sortedByJson == y.sortedByJson &&
          x.rowsStamp == y.rowsStamp &&
          (x.bloomJson.isDefined || x.bloomInHeader) ==
            (y.bloomJson.isDefined || y.bloomInHeader) &&
          x.bloomColumns == y.bloomColumns &&
          (x.blockIndexJson.isDefined || x.blockIndexInHeader) ==
            (y.blockIndexJson.isDefined || y.blockIndexInHeader)
      case _ => false
      })

  /** Snapshot invariant, enforced on EVERY commit path: a position-delete
    * file whose target data file left the visible set (CoW rewrite,
    * compaction, overwrite) is dropped with it — readers never attach
    * deletes to files that no longer exist, and no commit path has to
    * remember to clean them up. */
  /** Stamp `seq` (the commit version a file was born in) on every entry the
    * transform produced: a path new to `prev` gets THIS commit's version; a
    * surviving or replaced path inherits its previous seq (a replayed
    * streaming epoch re-adds the same deterministic path — its rows' birth
    * version is unchanged, so equality-delete applicability must not
    * reset). Entries that already carry a seq keep it. */
  private def stampSeq(files: Seq[SnapFile], prev: Seq[SnapFile],
                       version: Long): Seq[SnapFile] = {
    if (files.forall(_.seq != 0L)) return files
    val prevSeq = new java.util.HashMap[String, java.lang.Long](prev.size * 2)
    prev.foreach(f => prevSeq.put(f.path, f.seq))
    files.map { f =>
      if (f.seq != 0L) f
      else prevSeq.get(f.path) match {
        case null => f.copy(seq = version)
        case s => if (s.longValue == 0L) f else f.copy(seq = s.longValue)
      }
    }
  }

  private def dropOrphanDeletes(files: Seq[SnapFile]): Seq[SnapFile] = {
    if (files.forall(_.isData)) return files
    val dataPaths = files.iterator.filter(_.isData).map(_.path).toSet
    // an equality delete burdens every data file with a SMALLER seq; once
    // all such files are rewritten away (fold/compact), it deletes nothing
    val minDataSeq: Long =
      files.iterator.filter(_.isData).map(_.seq).minOption.getOrElse(Long.MaxValue)
    files.filter(f =>
      f.deleteOf.forall(dataPaths.contains) &&
        (!f.isEqualityDelete || minDataSeq < f.seq))
  }

  /** Render `next` as a delta against `prev` when the commit's change IS a
    * delta (O(new files) bytes), falling back to a full manifest when the
    * chain hit the checkpoint cadence, the transform reordered survivors
    * (delta application could not reproduce the exact sequence), or the
    * delta would not actually be smaller (a rollback/overwrite that
    * replaces most of the table). */
  private def renderCommit(next: Snapshot, prevVersion: Option[Long],
                           prevFiles: Seq[SnapFile], prevDepth: Int): Array[Byte] = {
    if (prevVersion.isEmpty || prevDepth >= CheckpointEvery)
      return renderFull(next)
    val prevByPath = new java.util.HashMap[String, SnapFile](prevFiles.length * 2)
    prevFiles.foreach(f => prevByPath.put(f.path, f))
    val newPaths = next.files.iterator.map(_.path).toSet
    val removes = prevFiles.iterator.map(_.path).filterNot(newPaths.contains).toSeq
    val adds = next.files.filter { f =>
      val old = prevByPath.get(f.path)
      old == null || !sameFile(old, f)
    }
    if (adds.length + removes.length >= next.files.length)
      return renderFull(next)
    // order proof: replaying (prev - removes - replaced) ++ adds must equal
    // the transform's exact output sequence, or readers of the delta would
    // see a different file order than this commit declared
    val addPaths = adds.iterator.map(_.path).toSet
    val replayed = prevFiles.iterator.map(_.path)
      .filter(p => newPaths.contains(p) && !addPaths.contains(p)) ++
      adds.iterator.map(_.path)
    if (!replayed.sameElements(next.files.iterator.map(_.path)))
      return renderFull(next)
    renderDelta(next, prevVersion.get, prevVersion.get - prevDepth, adds, removes)
  }

  /** Optimistic snapshot commit: `transform` maps the previous visible set
    * (the latest manifest's resolved files, or — on the very first commit —
    * the directory's current listing, folding a pre-snapshot table in) to
    * the new visible set. The next version is claimed through
    * [[GraftIO.publishExclusive]], so exactly one committer wins it; a
    * loser re-runs the transform against the WINNER's files — the retry
    * sees the concurrent commit's effects, it does not clobber them.
    * Returns the committed snapshot. */
  def commit(fs: FileSystem, tableDir: Path, operation: String,
             tableSchemaJson: Option[String] = None)
            (transform: Seq[SnapFile] => Seq[SnapFile]): Snapshot = {
    val sdir = snapshotsDir(tableDir)
    GraftIO.mkdirs(fs, sdir)
    claimNext(fs, sdir, operation, tableSchemaJson) { () =>
      versions(fs, tableDir).lastOption match {
        case Some(v) =>
          val (snap, depth) =
            resolveWithDepth(rawMain(fs, tableDir)(v), rawMain(fs, tableDir))
          (Some(v), snap.files, snap.tableSchemaJson, depth)
        case None => (None, listingAsFiles(fs, tableDir), None, 0)
      }
    }(transform)
  }

  /** The claim loop of one manifest sequence in `dir` (main or a branch):
    * `head` gives its head version (None before the first), resolved files,
    * schema and delta depth. A lost race retries against the winner's head
    * after a jittered pause, so racing losers spread out, 20 times at most. */
  private def claimNext(fs: FileSystem, dir: Path, operation: String,
                        tableSchemaJson: Option[String])
                       (head: () => (Option[Long], Seq[SnapFile], Option[String], Int))
                       (transform: Seq[SnapFile] => Seq[SnapFile]): Snapshot = {
    @annotation.tailrec def attempt(n: Int): Snapshot = {
      val (prevVersion, prevFiles, prevSchema, prevDepth) = head()
      val version = prevVersion.getOrElse(0L) + 1
      val next = Snapshot(version, System.currentTimeMillis(), operation,
        dropOrphanDeletes(stampSeq(transform(prevFiles), prevFiles, version)),
        // a schema-less commit (path write) inherits the previous schema
        tableSchemaJson.orElse(prevSchema))
      if (publishNew(fs, manifestFile(dir, version),
          renderCommit(next, prevVersion, prevFiles, prevDepth))) next
      else if (n >= 20) throw new java.io.IOException(
        s"graft-ocf snapshots: lost the commit race $n times under $dir")
      else {
        // after the n-th loss: uniform up to 2^n ms, capped at 256 ms
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(1L, 2L + math.min(256L, 1L << n)))
        attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** Write `bytes` to a temp beside `dest` and publish it there through
    * [[GraftIO.publishExclusive]]: true when this call created `dest`,
    * false when `dest` already existed. The temp is gone on every exit. */
  private def publishNew(fs: FileSystem, dest: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    var published = false
    try {
      val out = GraftIO.create(fs, tmp, false)
      try out.write(bytes) finally out.close()
      published = GraftIO.publishExclusive(fs, tmp, dest)
      published
    } finally if (!published) fs.delete(tmp, false)
  }

  // ---- expiry support ------------------------------------------------------

  /** If retained version `v`'s delta chain references any version in
    * `doomed`, rewrite `v`'s manifest IN PLACE as a full checkpoint (same
    * version, same resolved content) so the doomed manifests can be deleted
    * without breaking it. Callers process retained versions ASCENDING: a
    * lower retained version checkpointed first terminates higher versions'
    * chains before they reach the doomed range. Returns true if rewritten. */
  def checkpointIfChained(fs: FileSystem, tableDir: Path, v: Long,
                          doomed: Set[Long]): Boolean = {
    var cur = rawMain(fs, tableDir)(v)
    var hit = false
    while (cur.full.isEmpty && !hit) {
      if (doomed.contains(cur.base)) hit = true
      else cur = rawMain(fs, tableDir)(cur.base)
    }
    if (!hit) return false
    replaceFile(fs, manifestPath(tableDir, v), renderFull(read(fs, tableDir, v)))
    true
  }

  /** One retained manifest's physical shape, for the `.manifests`
    * observability table: full-vs-delta, entry counts and the delta's
    * checkpoint stamp (-1 on fulls and pre-stamp deltas). */
  final case class ManifestInfo(version: Long, timestampMs: Long,
                                operation: String, isFull: Boolean,
                                sizeBytes: Long, entries: Int, removes: Int,
                                ckpt: Long)

  def manifestSummaries(fs: FileSystem, tableDir: Path): Seq[ManifestInfo] =
    versions(fs, tableDir).map { v =>
      val p = manifestPath(tableDir, v)
      val len = fs.getFileStatus(p).getLen
      val raw = readRaw(fs, p)
      ManifestInfo(v, raw.timestampMs, raw.operation, raw.full.isDefined, len,
        raw.full.map(_.length).getOrElse(raw.adds.length), raw.removes.size,
        raw.ckpt)
    }

  /** Force the HEAD manifest into a full checkpoint in place (same version,
    * same resolved content — only the representation changes, so races with
    * readers and committers are benign). Resets the delta chain: the next
    * commit deltas against a depth-0 base, and every read of head becomes
    * one manifest fetch. Returns (head version, whether it was a delta). */
  def checkpointHead(fs: FileSystem, tableDir: Path): Option[(Long, Boolean)] =
    versions(fs, tableDir).lastOption.map { v =>
      val raw = rawMain(fs, tableDir)(v)
      if (raw.full.isDefined) (v, false)
      else {
        replaceFile(fs, manifestPath(tableDir, v), renderFull(read(fs, tableDir, v)))
        (v, true)
      }
    }

  /** Replace `dest` with `bytes` — atomic replace via
    * [[GraftIO.renameOverwrite]] (POSIX rename on local, FileContext
    * OVERWRITE on HDFS, exists/delete/rename fallback elsewhere). Used only
    * by maintenance rewrites whose old and new content RESOLVE identically,
    * so even the fallback's window is benign to readers. */
  private def replaceFile(fs: FileSystem, dest: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = GraftIO.create(fs, tmp, false)
    try out.write(bytes) finally out.close()
    GraftIO.renameOverwrite(fs, fs.getConf, tmp, dest)
  }

  // ---- branches (X83): write-audit-publish ---------------------------------
  // A branch is its own manifest sequence under
  // `_graft_snapshots/_branch-<name>/`, seeded from a MAIN version (the
  // branch base) and numbering onward from it. Writes routed to the branch
  // land their DATA files in the table directory as usual — manifests gate
  // visibility, so main readers never see them — and commit manifests into
  // the branch dir. Branch deltas resolve through [[rawBranch]]: versions
  // the branch owns read from its dir, older ones fall through to main.
  // `fast_forward` publishes: when main still sits at the branch base, the
  // branch's manifests copy into main verbatim (continuous numbering means
  // delta base references stay valid) and main's head jumps to the branch
  // head atomically-per-manifest; a main that advanced past the base
  // REFUSES (divergent histories need a rewrite, not a silent merge).
  // Branch commits and fast_forward's copies claim each manifest name
  // through `GraftIO.publishExclusive`, as main's commits do.

  /** Legal branch names: path-safe (no separators/dot-segments — the name
    * becomes a directory, and Hadoop Path resolution would let '../..'
    * escape the branch namespace into the manifests themselves) and
    * non-numeric (VERSION AS OF parses digits as a snapshot version FIRST,
    * so a branch named '7' could never be resolved by name). */
  private def validBranchName(name: String): Boolean =
    name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") && !name.contains("..") &&
      name.toLongOption.isEmpty

  def branchDir(tableDir: Path, name: String): Path = {
    // EVERY branch operation funnels through here: a traversal-shaped name
    // (drop_branch(name => '../..') would resolve to the snapshots dir and
    // recursively delete every manifest) must die before touching paths
    require(validBranchName(name),
      s"graft-ocf branches: invalid branch name '$name' (letters, digits, " +
        "._- only, not starting with a separator, not purely numeric)")
    new Path(snapshotsDir(tableDir), "_branch-" + name)
  }

  private def branchBasePath(bd: Path): Path = new Path(bd, "_base.json")

  def branchExists(fs: FileSystem, tableDir: Path, name: String): Boolean =
    validBranchName(name) && // arbitrary VERSION AS OF strings probe here
      (try fs.exists(branchBasePath(branchDir(tableDir, name)))
       catch { case _: java.io.IOException => false })

  def requireBranch(fs: FileSystem, tableDir: Path, name: String): Unit =
    require(fs.exists(branchBasePath(branchDir(tableDir, name))),
      s"graft-ocf branches: no branch '$name' of $tableDir " +
        s"(branches: ${listBranches(fs, tableDir).mkString(", ")}); " +
        "CALL <cat>.system.create_branch first")

  def listBranches(fs: FileSystem, tableDir: Path): Seq[String] = {
    val d = snapshotsDir(tableDir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).iterator.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("_branch-"))
      .map(_.stripPrefix("_branch-"))
      .filter(validBranchName) // foreign/mangled dir names are not branches
      // a dir without its base marker is creation debris (crash between
      // mkdirs and the marker write) — invisible, so it can never wedge
      // expiry/orphan collection/.branches; createBranch sweeps it
      .filter(b => fs.exists(branchBasePath(branchDir(tableDir, b))))
      .toSeq.sorted
  }

  /** Create `name` at main version `from` (default: latest). The base marker
    * is published exclusively: of racing creators exactly one wins. */
  def createBranch(fs: FileSystem, tableDir: Path, name: String,
                   from: Option[Long]): Long = {
    require(validBranchName(name),
      s"graft-ocf branches: invalid branch name '$name' (letters, digits, " +
        "._- only, not purely numeric — VERSION AS OF would shadow a " +
        "numeric name with the snapshot version)")
    val vs = versions(fs, tableDir)
    require(vs.nonEmpty,
      s"graft-ocf branches: $tableDir has no snapshots to branch from")
    val base = from.getOrElse(vs.last)
    require(vs.contains(base),
      s"graft-ocf branches: version $base is not a retained snapshot " +
        s"(retained: ${vs.mkString(", ")})")
    val bd = branchDir(tableDir, name)
    GraftIO.mkdirs(fs, bd)
    require(publishNew(fs, branchBasePath(bd), s"""{"base":$base}""".getBytes("UTF-8")),
      s"graft-ocf branches: branch '$name' already exists")
    // the dir was marker-less debris (a crashed create, or a commit that
    // landed during fast_forward): its manifests are not this branch's
    versionsIn(fs, bd).foreach(v => fs.delete(manifestFile(bd, v), false))
    base
  }

  def branchBase(fs: FileSystem, tableDir: Path, name: String): Long = {
    val p = branchBasePath(branchDir(tableDir, name))
    require(fs.exists(p),
      s"graft-ocf branches: no branch '$name' of $tableDir " +
        s"(branches: ${listBranches(fs, tableDir).mkString(", ")})")
    mapper.readTree(bytesOf(fs, p)).get("base").asLong
  }

  def branchVersions(fs: FileSystem, tableDir: Path, name: String): Seq[Long] =
    versionsIn(fs, branchDir(tableDir, name))

  /** One branch version's resolved snapshot (chain may cross into main). */
  def branchRead(fs: FileSystem, tableDir: Path, name: String, v: Long): Snapshot =
    resolveWithDepth(rawBranch(fs, tableDir, name)(v),
      rawBranch(fs, tableDir, name))._1

  /** The branch's visible snapshot. */
  def branchHead(fs: FileSystem, tableDir: Path, name: String): Snapshot =
    branchRead(fs, tableDir, name, branchHeadVersion(fs, tableDir, name))

  /** The branch's newest own version, or (before any branch commit) its
    * main BASE version — which must still be retained. */
  private def branchHeadVersion(fs: FileSystem, tableDir: Path, name: String): Long =
    branchVersions(fs, tableDir, name).lastOption.getOrElse {
      val base = branchBase(fs, tableDir, name)
      require(versions(fs, tableDir).contains(base),
        s"graft-ocf branches: branch '$name' base version $base was " +
          "expired; the branch has no readable state")
      base
    }

  /** Optimistic commit into the branch's manifest sequence (same claim
    * loop as [[commit]]: exactly one committer wins a version; deltas
    * resolve through the branch-then-main lookup). */
  def commitToBranch(fs: FileSystem, tableDir: Path, name: String,
                     operation: String, tableSchemaJson: Option[String])
                    (transform: Seq[SnapFile] => Seq[SnapFile]): Snapshot = {
    requireBranch(fs, tableDir, name)
    val lookup = rawBranch(fs, tableDir, name) _
    claimNext(fs, branchDir(tableDir, name), operation, tableSchemaJson) { () =>
      val v = branchHeadVersion(fs, tableDir, name)
      val (snap, depth) = resolveWithDepth(lookup(v), lookup)
      (Some(v), snap.files, snap.tableSchemaJson, depth)
    }(transform)
  }

  /** Publish the branch: copy its manifests into main (verbatim — version
    * numbers continue from the base, so delta base references stay valid)
    * and drop the branch. IDEMPOTENT and RESUMABLE: a main manifest that
    * already holds byte-identical content (an earlier partial publish, or a
    * concurrent fast_forward of the same branch) is skipped, so a crash or
    * race mid-copy never wedges the branch — retrying finishes the job. A
    * main manifest with DIFFERENT content is a genuinely foreign commit:
    * refuse (divergent histories are never silently merged) and leave the
    * branch intact for inspection. Returns (base, new main head). */
  def fastForward(fs: FileSystem, tableDir: Path, name: String): (Long, Long) = {
    val base = branchBase(fs, tableDir, name)
    val bd = branchDir(tableDir, name)
    def refuse(v: Long): Nothing = throw new IllegalArgumentException(
      s"graft-ocf branches: cannot fast-forward '$name' — main's version $v " +
        "differs from the branch's (a foreign commit landed); histories " +
        "diverged and publish would drop main's commits. Re-branch from the " +
        "current head and replay, or rollback main first.")
    // a concurrent publish retires the marker first, so branch reads made
    // while it is still there are complete (a failed read reports it gone)
    val bvs = branchVersions(fs, tableDir, name)
    val copies = try bvs.map(v => v -> bytesOf(fs, manifestFile(bd, v)))
      finally requireBranch(fs, tableDir, name)
    val mainLast = versions(fs, tableDir).lastOption.getOrElse(0L)
    require(mainLast >= base,
      s"graft-ocf branches: branch '$name' base $base is ahead of main " +
        s"($mainLast) — the base manifest was expired or removed")
    if (mainLast > base + bvs.length) refuse(base + bvs.length + 1)
    // dest either doesn't exist or is a COMPLETE manifest: one already
    // there with the same bytes is an earlier partial publish or a
    // concurrent fast_forward of this branch, anything else a foreign commit
    copies.foreach { case (v, bytes) =>
      val dest = manifestPath(tableDir, v)
      if (!publishNew(fs, dest, bytes) && !java.util.Arrays.equals(bytes, bytesOf(fs, dest)))
        refuse(v)
    }
    // Retire EXACTLY what was published: the base marker (first: a
    // concurrent fast_forward that still finds it has read the whole
    // branch), the copied manifests, then the (now empty) directory
    // NON-recursively. Publishing
    // while branch writers are still active violates the WAP contract
    // (publish happens after the audit, writers quiesced) — but if it
    // happens anyway, the racing commit's manifest survives the per-file
    // deletes, the directory delete fails on the non-empty dir, and this
    // raises LOUDLY instead of recursively destroying a committed epoch.
    fs.delete(branchBasePath(bd), false)
    bvs.foreach(v => fs.delete(manifestFile(bd, v), false))
    val emptied = try fs.delete(bd, false)
      catch { case _: java.io.IOException => false }
    if (!emptied && fs.exists(bd)) throw new IllegalStateException(
      s"graft-ocf branches: a commit landed on '$name' DURING fast_forward — " +
        s"its manifest remains under $bd. The published versions are live on " +
        "main; re-create the branch from the current head and replay the " +
        "late commit.")
    (base, if (bvs.nonEmpty) bvs.last else base)
  }

  def dropBranch(fs: FileSystem, tableDir: Path, name: String): Boolean =
    fs.delete(branchDir(tableDir, name), true)

  /** Every file path any branch manifest's RESOLVED snapshot references,
    * plus branch BASE versions — what expiry and orphan collection must
    * treat as live. */
  def branchReferencedFiles(fs: FileSystem, tableDir: Path): Set[String] =
    listBranches(fs, tableDir).flatMap { b =>
      branchVersions(fs, tableDir, b).flatMap(v =>
        branchRead(fs, tableDir, b, v).files.map(_.path))
    }.toSet

  def branchBases(fs: FileSystem, tableDir: Path): Set[Long] =
    listBranches(fs, tableDir).map(b => branchBase(fs, tableDir, b)).toSet

  // ---- tags (named snapshots) ---------------------------------------------
  // `CALL g.system.tag('ns.t', 'v1-release')` pins a name to a version;
  // `VERSION AS OF 'v1-release'` resolves through it, and expire_snapshots
  // RETAINS tagged versions (and their files) regardless of keep_last —
  // the Iceberg tag semantics. One small JSON, replaced atomically.

  private def tagsPath(tableDir: Path): Path =
    new Path(snapshotsDir(tableDir), "_tags.json")

  def readTags(fs: FileSystem, tableDir: Path): Map[String, Long] = {
    val p = tagsPath(tableDir)
    if (!fs.exists(p)) return Map.empty
    val root = mapper.readTree(bytesOf(fs, p))
    val b = Map.newBuilder[String, Long]
    val it = root.fields()
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong }
    b.result()
  }

  private def writeTags(fs: FileSystem, tableDir: Path,
                        tags: Map[String, Long]): Unit = {
    val root = mapper.createObjectNode()
    tags.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    GraftIO.mkdirs(fs, snapshotsDir(tableDir))
    replaceFile(fs, tagsPath(tableDir), mapper.writeValueAsBytes(root))
  }

  def tag(fs: FileSystem, tableDir: Path, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.exists(!_.isDigit),
      s"graft-ocf snapshots: tag name '$name' must not look like a version number")
    require(versions(fs, tableDir).contains(version),
      s"graft-ocf snapshots: no snapshot version $version to tag under $tableDir")
    writeTags(fs, tableDir, readTags(fs, tableDir) + (name -> version))
  }

  def untag(fs: FileSystem, tableDir: Path, name: String): Boolean = {
    val tags = readTags(fs, tableDir)
    if (!tags.contains(name)) false
    else { writeTags(fs, tableDir, tags - name); true }
  }

  /** A committed file's manifest entry, its header `m` inlined minus the
    * potentially-large bloom / block-index stamps (kept in the header; the
    * entry records their presence and the bloom's column names) and the
    * partition values (re-derived from the relative path). */
  def manifestEntry(rel: String, m: OcfDataSource.OcfFileMeta,
                    deleteOf: Option[String] = None,
                    equalityOf: Option[Seq[String]] = None): SnapFile =
    SnapFile(rel, m.len, meta = Some(m.copy(
      bloomInHeader = m.bloomJson.isDefined,
      blockIndexInHeader = m.blockIndexJson.isDefined,
      bloomColumns = m.bloomJson.map(OcfPartitions.jsonFieldNames).getOrElse(Nil),
      bloomJson = None, blockIndexJson = None,
      partitionValues = Array.empty)),
      deleteOf = deleteOf, equalityOf = equalityOf)

  /** Move the files of `staging`'s latest manifest (a staged write's
    * output) under `tableDir` at the same relative paths and return their
    * entries: the inline header metas carry over, so the table's commit
    * keeps zero-pread planning; the birth seq is cleared for that commit
    * to stamp. Nothing is visible until the caller commits the entries. */
  def promote(fs: FileSystem, staging: Path, tableDir: Path): Seq[SnapFile] = {
    val files = latest(fs, staging).map(_.files.map(_.copy(seq = 0L))).getOrElse(Nil)
    files.foreach { f =>
      val src = new Path(staging, f.path)
      val dest = new Path(tableDir, f.path)
      GraftIO.mkdirs(fs, dest.getParent)
      if (!GraftIO.rename(fs, src, dest))
        throw new java.io.IOException(s"graft-ocf: could not move staged $src to $dest")
    }
    files
  }

  /** Make the manifest gate visibility BEFORE a writer lands files in
    * `tableDir`: a directory holding visible files but no manifest yet (a
    * bare directory, or a catalog LOCATION over existing files) commits
    * their adoption as its first version, so files renamed in afterwards
    * stay invisible until the writer's own commit. `check` sees the
    * listing first and may refuse (throw) before anything is committed. An
    * empty directory gets no adoption version (its first commit is the
    * writer's own); until that commit, files landed in it are visible to
    * listing reads, and an aborted write removes them. */
  def adoptListing(fs: FileSystem, tableDir: Path,
                   check: Seq[SnapFile] => Unit = _ => ()): Unit =
    if (versions(fs, tableDir).isEmpty) {
      val listed = listingAsFiles(fs, tableDir)
      check(listed)
      // identity over the first commit's own base, the listing again: a
      // racing first commit is built on, never clobbered
      if (listed.nonEmpty) commit(fs, tableDir, "adopt")(identity)
    }

  /** The table directory's current visible data files as relative manifest
    * entries — the migration base for a table's first snapshot commit. */
  def listingAsFiles(fs: FileSystem, tableDir: Path): Seq[SnapFile] = {
    val qual = fs.makeQualified(tableDir).toString
    val listed =
      try OcfDataSource.list(fs.getConf, Seq(tableDir.toString), None, recursive = true)
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.map(f => SnapFile(relativize(qual, f.path), f.len))
  }

  def relativize(qualifiedTableDir: String, path: String): String = {
    val qp = path
    val prefix = qualifiedTableDir.stripSuffix("/") + "/"
    require(qp.startsWith(prefix),
      s"graft-ocf snapshots: $qp is not under table directory $qualifiedTableDir")
    qp.substring(prefix.length)
  }

  /** Manifest entries → qualified FileSlices (partition values re-derived
    * from the relative paths by the normal inference). */
  def toFileSlices(fs: FileSystem, tableDir: Path, files: Seq[SnapFile])
      : Seq[OcfDataSource.FileSlice] = {
    val base = fs.makeQualified(tableDir)
    files.map(f => OcfDataSource.FileSlice(new Path(base, f.path).toString, f.len))
  }
}
