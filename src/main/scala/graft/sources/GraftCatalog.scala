package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** File-backed V2 `TableCatalog` for `graft-ocf` tables — the SQL-warehouse
  * face of the source (the reference's own premise is a SQL surface over
  * Avro payloads, reference README.md:9-19):
  *
  * {{{
  * spark.sql.catalog.g           = graft.sources.GraftCatalog
  * spark.sql.catalog.g.warehouse = /data/warehouse
  *
  * CREATE NAMESPACE g.corpus;
  * CREATE TABLE g.corpus.docs (doc_id BIGINT, body STRING, lang STRING)
  *   USING graft-ocf PARTITIONED BY (lang)
  *   OPTIONS (statsColumns 'doc_id', codec 'zstandard');
  * INSERT INTO g.corpus.docs SELECT ...;
  * SELECT lang, count(*) FROM g.corpus.docs WHERE lang = 'en' GROUP BY lang;
  * }}}
  *
  * Layout: a namespace is a directory under the warehouse; a table is a
  * directory holding its data files plus a `_graft_table.json` descriptor
  * (schema as Catalyst JSON, partition columns, location, write options).
  * The descriptor commits atomically (temp + rename), so a crashed CREATE
  * never leaves a half-registered table.
  *
  * Reads and writes are the SAME engine as the path API: `loadTable` wires
  * the stored location and options into [[OcfTable]], so every pushdown the
  * path source has (partition pruning, consumed filters, stats/bloom
  * skipping, COUNT/MIN/MAX/SUM aggregates, limit/top-k, runtime filtering,
  * storage-partitioned joins) works identically through SQL. Partition
  * columns are stored DECLARED-TYPED: the descriptor's types feed the read
  * side's `partitionSchema` option, so `WHERE year > 9` on an INT partition
  * column prunes numerically without inference.
  *
  * Partition columns are reordered to the END of the stored schema (the
  * hive/path-table convention this source's directory layout implies); the
  * declared data-column order is otherwise preserved.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  import GraftCatalog._

  /** Column DEFAULTs are supported (X80): `ALTER TABLE … ADD COLUMN x T
    * DEFAULT lit` stores the literal in field metadata — Spark's analyzer
    * fills it on INSERTs that omit the column (`CURRENT_DEFAULT`), and the
    * read side emits it as the Avro READER DEFAULT, so files written before
    * the column existed materialize the constant, not null, with zero bytes
    * rewritten. */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `SELECT <cat>.system.fn_decode_avro_binary(hex)` and friends — the
    * reference's SQL-UDF surface, catalog-qualified (see [[GraftFunctions]]). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.list(namespace)

  override def functionExists(ident: Identifier): Boolean =
    GraftFunctions.exists(ident)

  /** `CALL <cat>.system.compact(...)` / `vacuum_temps(...)` — SQL-callable
    * maintenance over catalog tables (see [[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  /** Stored descriptor of a table, for procedures that need its location
    * and write options. */
  private[sources] def tableMeta(ident: Identifier): TableMeta = {
    val mp = metaPath(tableDir(ident))
    if (!fs.exists(mp)) throw new NoSuchTableException(ident)
    readMeta(fs, mp)
  }

  private var catName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val wh = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"graft catalog '$name': set spark.sql.catalog.$name.warehouse to a directory"))
    warehouse = new Path(wh)
    // composite-key runtime filters (X109): every catalog session gets the
    // split rule — row-level DML is a catalog-only surface, and without the
    // split a table declaring >1 filter attribute loses ALL runtime group
    // pruning (the stock translator refuses struct keys). No active session
    // here warns and retries at scan build (see installRuntimeFilterSplit).
    GraftCatalog.installRuntimeFilterSplit()
  }
  override def name(): String = catName

  private def conf: Configuration = SparkSession.active.sessionState.newHadoopConf()
  private def fs = warehouse.getFileSystem(conf)
  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => new Path(p, s))
  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), ident.name)
  private def metaPath(dir: Path): Path = new Path(dir, MetaFileName)

  // ---- namespaces ----------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse).iterator.filter(_.isDirectory)
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(nsDir(namespace)).iterator.filter(_.isDirectory)
      .filterNot(st => fs.exists(metaPath(st.getPath))) // tables are not namespaces
      .map(st => namespace :+ st.getPath.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && fs.exists(nsDir(namespace)) &&
      !fs.exists(metaPath(nsDir(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    GraftIO.mkdirs(fs, nsDir(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is not empty")
    fs.delete(nsDir(namespace), true)
  }

  // ---- tables --------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(nsDir(namespace)).iterator
      .filter(st => st.isDirectory && fs.exists(metaPath(st.getPath)))
      .map(st => Identifier.of(namespace, st.getPath.getName)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(metaPath(tableDir(ident)))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    val mp = metaPath(dir)
    if (!fs.exists(mp)) {
      // `SELECT * FROM g.ns.t.files` — the Iceberg-style FILES metadata
      // table: per-file size, row stamp, codec, partition values, and which
      // header stamps are present; answered from headers only
      if (ident.name == "files" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfFilesMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm, conf)
        }
      }
      // `SELECT * FROM g.ns.t.changes` — the change-data-feed as a TABLE
      // (X101, the Iceberg `t.changes` analog): the full exact-or-refuse
      // change log from genesis, rows tagged _change_type/_commit_version;
      // `spark.read.option("startingVersion", v).option("endingVersion",
      // w).table(...)` ranges it. Same planner as the streaming feed.
      if (ident.name == "changes" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          val m = new java.util.HashMap[String, String]()
          m.put("path", bm.location)
          val (_, out, readerJson, partSchema) = GraftChangesSource
            .resolveSchema(new CaseInsensitiveStringMap(m))
          return new GraftChangesTable(bm.location, out, readerJson,
            partSchema, startingVersion = None,
            tableName = Some(
              (catName +: ident.namespace :+ ident.name).mkString(".")))
        }
      }
      // `SELECT * FROM g.ns.t.history` — one row per snapshot commit
      if (ident.name == "history" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfHistoryMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm, conf)
        }
      }
      // `SELECT * FROM g.ns.t.constraints` — one row per CHECK constraint
      if (ident.name == "constraints" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfConstraintsMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm)
        }
      }
      // `SELECT * FROM g.ns.t.tags` — one row per named snapshot
      if (ident.name == "tags" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfTagsMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm, conf)
        }
      }
      // `SELECT * FROM g.ns.t.branches` — one row per WAP branch (X83)
      if (ident.name == "branches" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfBranchesMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm, conf)
        }
      }
      // `SELECT * FROM g.ns.t.manifests` — the manifest layer's physical
      // shape: full-vs-delta, sizes, entry counts, checkpoint stamps
      if (ident.name == "manifests" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfManifestsMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm, conf)
        }
      }
      // `SELECT * FROM g.ns.t.partitions` — per-partition file/row/byte
      // rollup from the same header-free meta loader as `.files`
      if (ident.name == "partitions" && ident.namespace.length >= 2) {
        val base = Identifier.of(ident.namespace.init, ident.namespace.last)
        if (tableExists(base)) {
          val bm = readMeta(fs, metaPath(tableDir(base)))
          return new OcfPartitionsMetaTable(
            (catName +: ident.namespace :+ ident.name).mkString("."), bm, conf)
        }
      }
      throw new NoSuchTableException(ident)
    }
    val meta = readMeta(fs, mp)
    val fullName = (catName +: (ident.namespace() :+ ident.name())).mkString(".")
    new CatalogOcfTable(fullName, meta, GraftCatalog.transformsOf(meta), conf)
  }

  /** `SELECT ... FROM t VERSION AS OF n` — a read-only table pinned to
    * snapshot manifest `n` ([[OcfSnapshots]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val meta = tableMeta(ident)
    val root = new Path(meta.location)
    val fsys = root.getFileSystem(conf)
    val fullNameB = (catName +: (ident.namespace() :+ ident.name())).mkString(".")
    // numeric = snapshot version; otherwise a tag name, then a BRANCH name
    // (X83): `VERSION AS OF 'audit'` reads the branch head, read-only
    val v = version.toLongOption.getOrElse {
      val tags = OcfSnapshots.readTags(fsys, root)
      tags.getOrElse(version, {
        if (OcfSnapshots.branchExists(fsys, root, version)) {
          // the branch head's COMMIT-TIME schema governs the pinned read,
          // exactly like a numeric pin — main DDL after the branch write
          // must not reshape what the audit read (and fast_forward) sees
          val pinned = GraftCatalog.withCommitSchema(meta,
            OcfSnapshots.branchHead(fsys, root, version).tableSchemaJson)
          return new CatalogOcfTable(fullNameB, pinned,
            GraftCatalog.transformsOf(meta), conf,
            branchPin = Some(version))
        }
        throw new IllegalArgumentException(
          s"graft catalog: table ${ident.name} has no snapshot tag or " +
            s"branch '$version' (tags: ${tags.keys.toSeq.sorted.mkString(", ")}; " +
            s"branches: ${OcfSnapshots.listBranches(fsys, root).mkString(", ")})")
      })
    }
    require(OcfSnapshots.versions(fsys, root).contains(v),
      s"graft catalog: table ${ident.name} has no snapshot version $v " +
        s"(available: ${OcfSnapshots.versions(fsys, root).mkString(", ")})")
    val fullName = (catName +: (ident.namespace() :+ ident.name())).mkString(".")
    new CatalogOcfTable(fullName, GraftCatalog.pinnedMeta(meta, fsys, root, v),
      GraftCatalog.transformsOf(meta), conf, pinnedVersion = Some(v))
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF ts` — pins the latest snapshot
    * committed at or before `ts` (Spark hands MICROseconds). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val meta = tableMeta(ident)
    val root = new Path(meta.location)
    val fsys = root.getFileSystem(conf)
    val snap = OcfSnapshots.asOfTimestamp(fsys, root, timestampMicros / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: table ${ident.name} has no snapshot at or before " +
          s"timestamp ${timestampMicros / 1000L} ms"))
    val fullName = (catName +: (ident.namespace() :+ ident.name())).mkString(".")
    new CatalogOcfTable(fullName,
      GraftCatalog.pinnedMeta(meta, fsys, root, snap.version),
      GraftCatalog.transformsOf(meta), conf, pinnedVersion = Some(snap.version))
  }

  /** Shared CREATE-shape validation: identity transforms plus at most one
    * `bucket(N, col...)`, supported partition types, partition columns
    * reordered to the END of the stored schema (hive/path-table
    * convention). Bucket columns stay ordinary data columns; the bucket
    * spec persists in the descriptor's options (`bucketColumns`/
    * `numBuckets`), which both the read and write paths consume. */
  private def buildMeta(ident: Identifier, schema: StructType,
                        partitions: Array[Transform],
                        properties: java.util.Map[String, String]): TableMeta = {
    val (bucketTs, rest0) = partitions.toSeq.partition(t =>
      t.name == "bucket" || t.name == "sorted_bucket")
    // hidden partition transforms (X88): years/months/days/hours/truncate
    val (transformTs, identTs) = rest0.partition(t =>
      OcfTransforms.Kinds.contains(t.name))
    val transformSpecs: Seq[OcfTransforms.Spec] = transformTs.map { t =>
      val cols = t.arguments().collect {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.mkString(".")
      }.toSeq
      require(cols.length == 1,
        s"graft catalog: transform '$t' must name exactly one column")
      if (t.name == "truncate") {
        val w = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case i: java.lang.Integer => i.intValue
              case l2: java.lang.Long => l2.intValue
              case other => throw new IllegalArgumentException(
                s"graft catalog: truncate width literal must be INT, got $other")
            }
        }.getOrElse(throw new IllegalArgumentException(
          s"graft catalog: truncate transform '$t' carries no width"))
        require(w > 0, s"graft catalog: truncate width must be > 0, got $w")
        OcfTransforms.Spec("truncate", cols.head, w)
      } else OcfTransforms.Spec(t.name, cols.head)
    }
    val canonSpecs: Seq[OcfTransforms.Spec] = transformSpecs.map { spec =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(spec.col)).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: transform column '${spec.col}' is not in the table schema"))
      require(OcfTransforms.supportedType(spec.kind, f.dataType),
        s"graft catalog: ${spec.kind}(${spec.col}) does not support type " +
          f.dataType.simpleString)
      spec.copy(col = f.name) // canonical casing for write/read resolution
    }
    require(canonSpecs.map(_.dirCol).distinct.length == canonSpecs.length,
      "graft catalog: duplicate partition transforms")
    val partCols: Seq[String] = identTs.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        t.references()(0).fieldNames()(0)
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported partition transform '$other'; only " +
          "PARTITIONED BY (column, bucket(N, column)) maps to a directory layout")
    }
    val bucketSpec: Option[(Seq[String], Int)] = bucketTs match {
      case Nil => None
      case Seq(t) if t.name == "bucket" =>
        // public Transform API (the BucketTransform case class is
        // private[sql]): arguments = one int literal + the key references
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case i: java.lang.Integer => i.intValue
              case other => throw new IllegalArgumentException(
                s"graft catalog: bucket count literal must be INT, got $other")
            }
        }.getOrElse(throw new IllegalArgumentException(
          s"graft catalog: bucket transform '$t' carries no bucket count"))
        require(n > 1, s"graft catalog: bucket count must be > 1, got $n")
        val cols = t.arguments().collect {
          case r: org.apache.spark.sql.connector.expressions.NamedReference =>
            r.fieldNames.mkString(".")
        }.toSeq
        require(cols.nonEmpty,
          s"graft catalog: bucket transform '$t' names no key columns")
        Some((cols, n))
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported bucket transform shape " +
          s"${other.mkString(", ")}; one bucket(N, col...) without sort " +
          "columns is supported")
    }
    bucketSpec.foreach { case (cols, _) =>
      cols.foreach { bc =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(bc)).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: bucket column '$bc' is not in the table schema"))
        require(!partCols.exists(_.equalsIgnoreCase(bc)),
          s"graft catalog: '$bc' cannot be both a partition and a bucket column")
        require(OcfBucket.supportedType(f.dataType),
          s"graft catalog: bucket column '$bc' has type " +
            s"${f.dataType.simpleString}; bucket keys must be " +
            "string/binary/boolean/integral/date")
      }
    }
    partCols.foreach { pc =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(pc)).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: partition column '$pc' is not in the table schema"))
      require(OcfPartitions.supportedPartType(f.dataType),
        s"graft catalog: partition column '$pc' has type " +
          s"${f.dataType.simpleString}; partition values must be " +
          "string/byte/short/int/long/date")
    }
    val isPart = (f: org.apache.spark.sql.types.StructField) =>
      partCols.exists(_.equalsIgnoreCase(f.name))
    val stored = StructType(schema.fields.filterNot(isPart) ++ schema.fields.filter(isPart))
    val dir = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(new Path(_)).getOrElse(tableDir(ident))
    val opts = tableOptions(properties)
    bucketSpec.foreach { case (cols, _) =>
      require(!opts.keys.exists(k => k.equalsIgnoreCase("bucketColumns") ||
          k.equalsIgnoreCase("numBuckets")),
        "graft catalog: declare bucketing via PARTITIONED BY (bucket(N, col)), " +
          "not OPTIONS")
      ()
    }
    require(!opts.keys.exists(_.equalsIgnoreCase("numBucketsGenesis")),
      "graft catalog: numBucketsGenesis is engine-managed (stamped by the " +
        "first ALTER of numBuckets); it cannot be declared")
    val optsWithBucket = bucketSpec.fold(opts) { case (cols, n) =>
      opts + ("bucketColumns" -> cols.mkString(",")) + ("numBuckets" -> n.toString)
    }
    val optsWithTransforms =
      if (canonSpecs.isEmpty) optsWithBucket
      else {
        require(!opts.keys.exists(_.equalsIgnoreCase("transformPartitions")),
          "graft catalog: declare transforms via PARTITIONED BY (days(col), " +
            "...), not OPTIONS")
        canonSpecs.foreach { spec =>
          require(!partCols.exists(_.equalsIgnoreCase(spec.col)),
            s"graft catalog: '${spec.col}' cannot be both an identity " +
              "partition and a transform source")
        }
        optsWithBucket +
          ("transformPartitions" -> canonSpecs.map(_.render).mkString(","))
      }
    TableMeta(stored, partCols, dir.toString, optsWithTransforms)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace.toSeq)
    val meta = buildMeta(ident, schema, partitions, properties)
    GraftIO.mkdirs(fs, new Path(meta.location))
    writeMeta(fs, metaPath(tableDir(ident)), meta)
    loadTable(ident)
  }

  // ---- staged (atomic-ish) CTAS / RTAS -------------------------------------
  // Without staging, Spark's REPLACE TABLE AS SELECT drops the table BEFORE
  // the query runs — a mid-write crash loses table and data both. Staged
  // writes land in an underscore-prefixed (listing-invisible) directory
  // INSIDE the table dir; the live table stays fully readable until
  // commitStagedChanges swaps: new descriptor, delete old visible files,
  // move staged files up. A crash mid-swap leaves a recoverable table
  // (re-run the statement), never a vanished one; abort just deletes the
  // staging directory.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace.toSeq)
    staged(ident, schema, partitions, properties, replacing = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    staged(ident, schema, partitions, properties, replacing = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace.toSeq)
    staged(ident, schema, partitions, properties, replacing = tableExists(ident))
  }

  private def staged(ident: Identifier, schema: StructType,
                     partitions: Array[Transform],
                     properties: java.util.Map[String, String],
                     replacing: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val finalMeta = buildMeta(ident, schema, partitions, properties)
    require(finalMeta.location == tableDir(ident).toString,
      "graft catalog: staged CREATE/REPLACE ... AS SELECT does not support " +
        "an external LOCATION (the staged swap owns the managed directory)")
    val dir = tableDir(ident)
    val stagingDir = new Path(dir,
      "_staged-" + java.util.UUID.randomUUID().toString)
    val stagingMeta = finalMeta.copy(location = stagingDir.toString)
    GraftIO.mkdirs(fs, stagingDir)
    val transforms: Array[Transform] = GraftCatalog.transformsOf(finalMeta)
    val fullName = (catName +: (ident.namespace() :+ ident.name())).mkString(".")
    val catalogFs = fs
    new CatalogOcfTable(fullName, stagingMeta, transforms, conf,
        snapshotWrites = false)
        with org.apache.spark.sql.connector.catalog.StagedTable {
      override def commitStagedChanges(): Unit = {
        // 1. descriptor first: from here the table exists with the NEW
        // schema (a crash now reads zero rows of it — recoverable)
        GraftCatalog.writeMeta(catalogFs, metaPath(dir), finalMeta)
        // 2. promote staged files, preserving the partition layout
        val stagedRoot = catalogFs.makeQualified(stagingDir).toString
        val promoted = Seq.newBuilder[OcfSnapshots.SnapFile]
        val it = catalogFs.listFiles(stagingDir, true)
        while (it.hasNext) {
          val st = it.next()
          val n = st.getPath.getName
          if (st.isFile && !n.startsWith(".") && !n.startsWith("_")) {
            val rel = catalogFs.makeQualified(st.getPath).toString
              .stripPrefix(stagedRoot).stripPrefix(Path.SEPARATOR)
            val dest = new Path(dir, rel)
            GraftIO.mkdirs(catalogFs, dest.getParent)
            if (!GraftIO.rename(catalogFs, st.getPath, dest))
              throw new java.io.IOException(
                s"graft catalog: staged commit could not move ${st.getPath} to $dest")
            promoted += OcfSnapshots.SnapFile(rel, st.getLen)
          }
        }
        // 3. ONE manifest commit flips the table to exactly the promoted
        // set — the replaced generation's files stay on disk as retained
        // history (expire_snapshots reclaims them), and readers switch
        // from old-complete to new-complete atomically
        val op = if (replacing) "replace-table" else "create-table"
        OcfSnapshots.commit(catalogFs, dir, op,
          Some(finalMeta.schema.json))(_ => promoted.result())
        catalogFs.delete(stagingDir, true)
        ()
      }
      override def abortStagedChanges(): Unit = {
        catalogFs.delete(stagingDir, true)
        ()
      }
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // property changes update the descriptor; the schema changes are all
    // ZERO-REWRITE Avro evolution (see [[GraftCatalog.readerJsonWithDefaults]]):
    // ADD COLUMN via reader defaults (null or a declared constant), RENAME
    // via reader-field aliases, DROP via wire skip, ALTER TYPE via Avro
    // promotions, SET/DROP DEFAULT via CURRENT_DEFAULT metadata, and
    // ADD/DROP CHECK CONSTRAINT via the descriptor's constraint list.
    // Anything outside those shapes is refused loudly.
    val dir = tableDir(ident)
    val mp = metaPath(dir)
    if (!fs.exists(mp)) throw new NoSuchTableException(ident)
    val meta = readMeta(fs, mp)
    // bucket COLUMNS are immutable (the hash input is data identity), and
    // the genesis stamp is engine-managed; the bucket COUNT evolves via its
    // own branch below (X103) — era-stamped levels, zero rewrite
    def guardBucketKey(k: String): Unit = {
      require(!k.equalsIgnoreCase("bucketColumns"),
        "graft catalog: the bucket columns are layout (directory names " +
          "encode their hash); they cannot be altered without rewriting " +
          "the table")
      require(!k.equalsIgnoreCase("numBucketsGenesis"),
        "graft catalog: numBucketsGenesis is engine-managed (stamped by " +
          "the first ALTER of numBuckets); it cannot be set directly")
    }
    // hidden-transform partition-spec EVOLUTION (X100): `ALTER TABLE ... SET
    // TBLPROPERTIES ('transformPartitions'='hours(ts)')` re-routes future
    // writes; files written under former specs stay where they are and the
    // scan prunes each file through the self-describing `_p_*` levels its
    // own path carries. Identity partition columns and bucket specs stay
    // immutable (their values/hashes are data-bearing layout). Validation
    // runs HERE so a bad spec fails the DDL, not some future write.
    def guardTransformValue(k: String, v: String): Unit =
      if (k.equalsIgnoreCase("transformPartitions")) {
        val specs = OcfTransforms.parseList(v)
        specs.foreach { s =>
          val f = meta.schema.fields.find(_.name.equalsIgnoreCase(s.col))
            .getOrElse(throw new IllegalArgumentException(
              s"graft catalog: transform ${s.render} names '${s.col}', " +
                s"which is not a column of the table"))
          require(!meta.partCols.exists(_.equalsIgnoreCase(s.col)),
            s"graft catalog: transform ${s.render} names identity " +
              s"partition column '${s.col}'")
          require(OcfTransforms.supportedType(s.kind, f.dataType),
            s"graft catalog: ${s.render} does not support type " +
              f.dataType.simpleString)
          require(!meta.schema.fields.exists(_.name.equalsIgnoreCase(s.dirCol)),
            s"graft catalog: column '${s.dirCol}' collides with the " +
              "transform directory level")
        }
        require(specs.map(_.dirCol).distinct.length == specs.length,
          "graft catalog: duplicate transform levels in '" + v + "'")
      }
    // row-level mode flips (copy-on-write <-> merge-on-read) are legal and
    // take effect on the next DML — but a bad VALUE must fail HERE, not at
    // some future DELETE
    def guardModeValue(k: String, v: String): Unit =
      if (k.equalsIgnoreCase("write.delete.mode") ||
          k.equalsIgnoreCase("write.update.mode") ||
          k.equalsIgnoreCase("write.merge.mode")) {
        val m = v.trim.toLowerCase(java.util.Locale.ROOT)
        require(m == "copy-on-write" || m == "merge-on-read",
          s"graft catalog: $k must be 'copy-on-write' or 'merge-on-read'; got '$v'")
      }
    // nested-path walk shared by the nested ADD/RENAME/DROP/TYPE branches:
    // apply `f` to the struct at `parents`, preserving everything else
    def mapStructAt(schema: StructType, parents: Seq[String])(
        f: StructType => StructType): StructType =
      if (parents.isEmpty) f(schema)
      else {
        val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(parents.head))
        require(i >= 0, s"graft catalog: '${parents.head}' is not a column " +
          s"(${schema.fieldNames.mkString(", ")})")
        val fld = schema.fields(i)
        val inner = fld.dataType match {
          case s2: StructType => s2
          case dt => throw new IllegalArgumentException(
            s"graft catalog: '${fld.name}' has type ${dt.simpleString}; a " +
              "nested column path must traverse structs")
        }
        StructType(schema.fields.updated(i,
          fld.copy(dataType = mapStructAt(inner, parents.tail)(f))))
      }
    def fieldAt(schema: StructType, path: Seq[String]): Option[org.apache.spark.sql.types.StructField] =
      schema.fields.find(_.name.equalsIgnoreCase(path.head)).flatMap { f =>
        if (path.tail.isEmpty) Some(f)
        else f.dataType match {
          case s2: StructType => fieldAt(s2, path.tail)
          case _ => None
        }
      }
    val updated = changes.foldLeft(meta) {
      // bucket-count EVOLUTION (X103): `ALTER TABLE t SET TBLPROPERTIES
      // ('numBuckets'='N')` re-routes future writes through the new
      // modulus, stamped into the level name (`_bucketN=K`). Files stay
      // where they are: each prunes under its own era's modulus (the bare
      // `_bucket=` level's modulus is the genesis count recorded HERE, at
      // the first evolution). Zero rewrite; storage-partitioned reporting
      // is withheld while eras are mixed and returns once compact unifies.
      case (m, set: TableChange.SetProperty)
          if set.property.equalsIgnoreCase("numBuckets") =>
        val cur = m.options.find(_._1.equalsIgnoreCase("numBuckets"))
          .map(_._2.toInt).getOrElse(throw new IllegalArgumentException(
            s"graft catalog: $ident is not a bucketed table — numBuckets " +
              "cannot be set on an unbucketed layout (bucketing itself is " +
              "not evolvable; the existing files carry no bucket level)"))
        val n = try set.value.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft catalog: numBuckets must be an integer, got '${set.value}'")
        }
        require(n > 1, s"graft catalog: numBuckets must be > 1, got $n")
        if (n == cur) m
        else {
          val hasGenesis = m.options.keys.exists(_.equalsIgnoreCase("numBucketsGenesis"))
          m.copy(options = m.options + ("numBuckets" -> n.toString) ++
            (if (hasGenesis) Map.empty[String, String]
             else Map("numBucketsGenesis" -> cur.toString)))
        }
      case (m, set: TableChange.SetProperty) =>
        guardBucketKey(set.property)
        guardModeValue(set.property, set.value)
        guardTransformValue(set.property, set.value)
        m.copy(options = m.options + (set.property -> set.value))
      case (m, rm: TableChange.RemoveProperty) =>
        guardBucketKey(rm.property)
        require(!rm.property.equalsIgnoreCase("numBuckets"),
          "graft catalog: numBuckets cannot be unset — the layout's bucket " +
            "levels need a declared modulus to read under")
        // UNSET of the transform spec evolves to "no transforms" but must
        // stay PRESENT (empty): its presence is what tells reads this
        // table owns its synthetic levels (mixed-era union, X100)
        if (rm.property.equalsIgnoreCase("transformPartitions"))
          m.copy(options = m.options + (rm.property -> ""))
        else m.copy(options = m.options - rm.property)
      case (m, add: TableChange.AddColumn) if add.fieldNames.length > 1 =>
        // NESTED add (X102): `ALTER TABLE t ADD COLUMN info.extra STRING`
        // appends a nullable field inside a struct. Zero rewrite: the
        // reader schema carries null defaults at EVERY depth
        // ([[readerJsonWithDefaults]] nullDefaultsDeep), and the Avro
        // kernel materializes reader-only fields recursively (F16), so
        // pre-ALTER files read the new nested field as null.
        val path = add.fieldNames.toSeq
        val leaf = path.last
        require(add.isNullable,
          s"graft catalog: ADD COLUMN '${path.mkString(".")}' must be " +
            "nullable — files written before the field existed " +
            "materialize it as null (Avro reader default)")
        require(add.position() == null,
          "graft catalog: ADD COLUMN positioning is not supported; new " +
            "fields append after the struct's existing fields")
        // no Avro shape for the type => fail the DDL, not a later scan
        graft.spark.SchemaConverters.toAvroType(add.dataType, nullable = true)
        // DEFAULT at depth is an EXISTENCE default (Iceberg initial-default
        // semantics): pre-ALTER files materialize the constant via the
        // kernel's recursive reader-default fill (F16). New writes always
        // carry the struct's full shape, so there is no INSERT fill to
        // promise — CURRENT_DEFAULT is deliberately NOT stored (Spark's
        // analyzer fills omitted TOP-LEVEL columns only; a nested
        // CURRENT_DEFAULT would be dead metadata masquerading as behavior).
        val nestedMd = GraftCatalog.declaredDefaultMetadata(
          path.mkString("."), add, withCurrentDefault = false)
        def addAt(st: StructType, parents: Seq[String]): StructType =
          if (parents.isEmpty) {
            require(!st.fields.exists(_.name.equalsIgnoreCase(leaf)),
              s"graft catalog: field '${path.mkString(".")}' already exists")
            StructType(st.fields :+ org.apache.spark.sql.types.StructField(
              leaf, add.dataType, nullable = true, metadata = nestedMd))
          } else {
            val i = st.fields.indexWhere(_.name.equalsIgnoreCase(parents.head))
            require(i >= 0, s"graft catalog: '${parents.head}' is not a " +
              s"column (${st.fieldNames.mkString(", ")})")
            val f = st.fields(i)
            val inner = f.dataType match {
              case s2: StructType => s2
              case dt => throw new IllegalArgumentException(
                s"graft catalog: '${f.name}' has type ${dt.simpleString}; " +
                  "a nested ADD COLUMN path must traverse structs")
            }
            StructType(st.fields.updated(i,
              f.copy(dataType = addAt(inner, parents.tail))))
          }
        require(!m.partCols.exists(_.equalsIgnoreCase(path.head)),
          s"graft catalog: '${path.head}' is a partition column")
        require(!GraftCatalog.droppedCols(m.options)
            .exists(_.equalsIgnoreCase(path.mkString("."))),
          s"graft catalog: field '${path.mkString(".")}' was previously " +
            "dropped; old files still carry its data, which a same-named " +
            "field would silently resurrect — pick a different name")
        m.copy(schema = addAt(m.schema, path.init))
      case (m, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          "graft catalog: ADD COLUMN supports top-level columns only")
        val name = add.fieldNames()(0)
        require(add.isNullable,
          s"graft catalog: ADD COLUMN '$name' must be nullable — files written " +
            "before the column existed materialize it as null (Avro reader default)")
        require(!m.schema.fields.exists(_.name.equalsIgnoreCase(name)),
          s"graft catalog: column '$name' already exists")
        require(add.position() == null,
          "graft catalog: ADD COLUMN positioning is not supported; new columns " +
            "append after the existing data columns")
        // resolution matches by NAME, so a name old files still carry under
        // another guise would resurrect their data into the "new" column:
        // a previous name of a renamed column (the files' field feeds the
        // renamed column via alias, and a direct name match would outrank
        // the alias), or a dropped column (the files still hold its data)
        m.schema.fields.find(f =>
            GraftCatalog.renamedFrom(f).exists(_.equalsIgnoreCase(name))).foreach { f =>
          throw new IllegalArgumentException(
            s"graft catalog: '$name' is a previous name of column '${f.name}' — " +
              "old files' data would resolve into the new column instead of " +
              s"'${f.name}'; pick a different name")
        }
        require(!GraftCatalog.droppedCols(m.options).exists(_.equalsIgnoreCase(name)),
          s"graft catalog: column '$name' was previously dropped; old files " +
            "still carry its data, which a same-named column would silently " +
            "resurrect — pick a different name (or rewrite the table)")
        // no Avro shape for the type => fail the DDL, not a later scan
        graft.spark.SchemaConverters.toAvroType(add.dataType, nullable = true)
        // DEFAULT literal (X80): stored three ways off one constant —
        // CURRENT_DEFAULT (Spark's analyzer fills INSERTs omitting the
        // column), EXISTS_DEFAULT (standard metadata, observability), and
        // the Avro default JSON the reader schema emits so PRE-EXISTING
        // files materialize the constant instead of null
        val md = GraftCatalog.declaredDefaultMetadata(
          name, add, withCurrentDefault = true)
        val parts = m.schema.fields.filter(f => m.partCols.exists(_.equalsIgnoreCase(f.name)))
        m.copy(schema = StructType((m.dataSchema.fields :+
          org.apache.spark.sql.types.StructField(name, add.dataType,
            nullable = true, metadata = md)) ++ parts))
      case (m, rn: TableChange.RenameColumn) if rn.fieldNames.length > 1 =>
        // NESTED rename (X102): same alias mechanism as the top level —
        // the nested StructField records its previous names, and
        // [[readerJsonWithDefaults]] `decorateDeep` emits them as Avro
        // aliases at that depth, so pre-rename files resolve their
        // old-named nested data into the renamed field. Zero rewrite.
        val path = rn.fieldNames.toSeq
        val from = path.last
        val to = rn.newName
        val dotted = path.mkString(".")
        require(!to.startsWith("_") && !to.startsWith("."),
          s"graft catalog: '$to' — underscore/dot-prefixed names are reserved")
        GraftCatalog.guardOptionRefs(m.options, dotted, "RENAME")
        require(!GraftCatalog.droppedCols(m.options)
            .exists(_.equalsIgnoreCase((path.init :+ to).mkString("."))),
          s"graft catalog: field '${(path.init :+ to).mkString(".")}' was " +
            "previously dropped; old files still carry its data — pick a " +
            "different name")
        m.copy(schema = mapStructAt(m.schema, path.init) { st =>
          val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(from))
          require(idx >= 0, s"graft catalog: no such field '$dotted'")
          require(!st.fields.exists(_.name.equalsIgnoreCase(to)),
            s"graft catalog: field '${(path.init :+ to).mkString(".")}' " +
              "already exists")
          st.fields.find(f2 => !f2.name.equalsIgnoreCase(from) &&
              GraftCatalog.renamedFrom(f2).exists(_.equalsIgnoreCase(to)))
            .foreach { f2 =>
              throw new IllegalArgumentException(
                s"graft catalog: '$to' is a previous name of field " +
                  s"'${f2.name}' at this level — old files' data would " +
                  s"resolve into the renamed field instead of '${f2.name}'")
            }
          val f = st.fields(idx)
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(GraftCatalog.RenamedFromKey,
              (GraftCatalog.renamedFrom(f) :+ f.name).distinct.toArray)
            .build()
          StructType(st.fields.updated(idx, f.copy(name = to, metadata = md)))
        })
      case (m, rn: TableChange.RenameColumn) =>
        // zero-rewrite rename: the descriptor records the OLD name on the
        // field ([[GraftCatalog.RenamedFromKey]]); every read's Avro reader
        // schema declares it as a field ALIAS, so files written before the
        // rename resolve their old-named data into the renamed column —
        // exactly Avro's published rename mechanism, no data migration
        require(rn.fieldNames.length == 1,
          "graft catalog: RENAME COLUMN supports top-level columns only")
        val from = rn.fieldNames()(0)
        val to = rn.newName
        require(!m.partCols.exists(_.equalsIgnoreCase(from)),
          s"graft catalog: '$from' is a partition column; directory names " +
            "encode it, so a rename would need a full layout rewrite")
        require(!GraftCatalog.bucketColsOf(m.options).exists(_.equalsIgnoreCase(from)),
          s"graft catalog: '$from' is a bucket column; the layout's bucket " +
            "spec names it, so a rename would need a table rewrite")
        val idx = m.schema.fields.indexWhere(_.name.equalsIgnoreCase(from))
        require(idx >= 0, s"graft catalog: no such column '$from'")
        require(!m.schema.fields.exists(_.name.equalsIgnoreCase(to)),
          s"graft catalog: column '$to' already exists")
        require(!to.startsWith("_") && !to.startsWith("."),
          s"graft catalog: '$to' — underscore/dot-prefixed names are reserved " +
            "(metadata columns, layout directories)")
        // the same resurrection guards as ADD COLUMN: renaming TO a name
        // old files still carry under ANOTHER column's guise would
        // direct-match their stale data (outranking the alias to the real
        // column). The renamed column's OWN previous names are exempt —
        // renaming back (n→m, then m→n) re-claims its own data, which is
        // exactly right.
        m.schema.fields.find(f => !f.name.equalsIgnoreCase(from) &&
            GraftCatalog.renamedFrom(f).exists(_.equalsIgnoreCase(to))).foreach { f =>
          throw new IllegalArgumentException(
            s"graft catalog: '$to' is a previous name of column '${f.name}' — " +
              "old files' data would resolve into the renamed column instead " +
              s"of '${f.name}'; pick a different name")
        }
        require(!GraftCatalog.droppedCols(m.options).exists(_.equalsIgnoreCase(to)),
          s"graft catalog: column '$to' was previously dropped; old files " +
            "still carry its data, which a same-named column would silently " +
            "resurrect — pick a different name (or rewrite the table)")
        GraftCatalog.guardOptionRefs(m.options, from, "RENAME")
        val f = m.schema.fields(idx)
        val prior = GraftCatalog.renamedFrom(f)
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putStringArray(GraftCatalog.RenamedFromKey,
            (prior :+ f.name).distinct.toArray)
          .build()
        m.copy(schema = StructType(
          m.schema.fields.updated(idx, f.copy(name = to, metadata = md))))
      case (m, del: TableChange.DeleteColumn) if del.fieldNames.length > 1 =>
        // NESTED drop (X102): the field leaves the stored schema, so every
        // reader schema omits it and existing files' nested field becomes
        // a type-directed wire SKIP (P2 works at any depth). The dotted
        // path (and the field's previous names) go on the dropped list so
        // a later same-path ADD cannot resurrect old data. Zero rewrite.
        val path = del.fieldNames.toSeq
        val leaf = path.last
        val dotted = path.mkString(".")
        if (fieldAt(m.schema, path).isEmpty && del.ifExists) m
        else {
          require(fieldAt(m.schema, path).isDefined,
            s"graft catalog: no such field '$dotted'")
          GraftCatalog.guardOptionRefs(m.options, dotted, "DROP")
          var gone: Seq[String] = Nil
          val newSchema = mapStructAt(m.schema, path.init) { st =>
            val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(leaf))
            require(st.fields.length > 1,
              s"graft catalog: cannot drop '$dotted' — a struct needs at " +
                "least one field")
            val f = st.fields(idx)
            gone = (GraftCatalog.renamedFrom(f) :+ f.name)
              .map(n => (path.init :+ n).mkString("."))
            StructType(st.fields.filterNot(_.name.equalsIgnoreCase(leaf)))
          }
          m.copy(schema = newSchema,
            options = m.options + (GraftCatalog.DroppedColsKey ->
              (GraftCatalog.droppedCols(m.options) ++ gone)
                .distinct.mkString(",")))
        }
      case (m, del: TableChange.DeleteColumn) =>
        // zero-rewrite drop: the column leaves the stored schema (and so
        // every reader schema — existing files' field becomes a wire SKIP);
        // its name is recorded so a later same-named ADD COLUMN cannot
        // silently resurrect the old files' data
        require(del.fieldNames.length == 1,
          "graft catalog: DROP COLUMN supports top-level columns only")
        val name = del.fieldNames()(0)
        val exists = m.schema.fields.exists(_.name.equalsIgnoreCase(name))
        if (!exists && del.ifExists) m
        else {
          require(exists, s"graft catalog: no such column '$name'")
          require(!m.partCols.exists(_.equalsIgnoreCase(name)),
            s"graft catalog: '$name' is a partition column; the directory " +
              "layout encodes it, so a drop would need a full rewrite")
          require(!GraftCatalog.bucketColsOf(m.options).exists(_.equalsIgnoreCase(name)),
            s"graft catalog: '$name' is a bucket column; the layout's bucket " +
              "spec names it, so a drop would need a table rewrite")
          require(m.dataSchema.fields.length > 1,
            s"graft catalog: cannot drop '$name' — a table needs at least " +
              "one data column")
          GraftCatalog.guardOptionRefs(m.options, name, "DROP")
          val dropped = m.schema.fields.find(_.name.equalsIgnoreCase(name)).get
          // the field's CURRENT and previous names all become unavailable
          // for re-ADD (old files may carry any of them)
          val unavailable = (GraftCatalog.droppedCols(m.options) ++
            (GraftCatalog.renamedFrom(dropped) :+ dropped.name)).distinct
          m.copy(
            schema = StructType(m.schema.fields.filterNot(
              _.name.equalsIgnoreCase(name))),
            options = m.options + (GraftCatalog.DroppedColsKey ->
              unavailable.mkString(",")))
        }
      case (m, up: TableChange.UpdateColumnType) if up.fieldNames.length > 1 =>
        // NESTED widen (X102): the stored schema declares the wider type
        // at depth; Avro promotion resolves existing files' narrower
        // nested values during decode — zero rewrite, same rules as the
        // top level.
        val path = up.fieldNames.toSeq
        val leaf = path.last
        val dotted = path.mkString(".")
        m.copy(schema = mapStructAt(m.schema, path.init) { st =>
          val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(leaf))
          require(idx >= 0, s"graft catalog: no such field '$dotted'")
          val f = st.fields(idx)
          require(GraftCatalog.avroPromotable(f.dataType, up.newDataType()),
            s"graft catalog: cannot change '$dotted' from " +
              s"${f.dataType.simpleString} to " +
              s"${up.newDataType().simpleString} — only Avro promotions " +
              "(byte/short/int→long, int/long→float/double, float→double) " +
              "read existing files without a rewrite")
          StructType(st.fields.updated(idx, f.copy(dataType = up.newDataType())))
        })
      case (m, up: TableChange.UpdateColumnType) =>
        // zero-rewrite type WIDENING via Avro's published promotion rules:
        // the stored (reader) schema changes type, existing files' narrower
        // writer values promote during decode — no data migration, exactly
        // like rename-via-alias. Only Avro-legal promotions are accepted;
        // anything else (narrowing, string→numeric) would need a rewrite
        // and refuses at DDL time.
        require(up.fieldNames.length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns only")
        val name = up.fieldNames()(0)
        require(!m.partCols.exists(_.equalsIgnoreCase(name)),
          s"graft catalog: '$name' is a partition column; its type is part " +
            "of the directory layout contract (declare partitionSchema at " +
            "CREATE time instead)")
        require(!GraftCatalog.bucketColsOf(m.options).exists(_.equalsIgnoreCase(name)),
          s"graft catalog: '$name' is a bucket column; the directory hash " +
            "is computed over the typed value, so a type change would " +
            "scatter existing rows' buckets")
        val idx = m.schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
        require(idx >= 0, s"graft catalog: no such column '$name'")
        val f = m.schema.fields(idx)
        import org.apache.spark.sql.types.{IntegerType, LongType, FloatType, DoubleType, ByteType, ShortType}
        val promotable = (f.dataType, up.newDataType()) match {
          case (a, b) if a == b => true
          // byte/short/int all encode as Avro int — widening within that
          // family is a wire NO-OP, and onward to long a real promotion
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType) => true
          case (IntegerType, LongType) => true
          case (ByteType | ShortType | IntegerType | LongType,
                FloatType | DoubleType) => true
          case (FloatType, DoubleType) => true
          case _ => false
        }
        require(promotable,
          s"graft catalog: cannot change '$name' from " +
            s"${f.dataType.simpleString} to ${up.newDataType().simpleString} — " +
            "only Avro promotions (byte/short/int→long, int/long→float/double, " +
            "float→double) read existing files without a rewrite")
        m.copy(schema = StructType(
          m.schema.fields.updated(idx, f.copy(dataType = up.newDataType()))))
      case (m, ch: TableChange.UpdateColumnDefaultValue) =>
        // SET/DROP DEFAULT (standard SQL semantics): changes what FUTURE
        // inserts fill — CURRENT_DEFAULT only. The existence default old
        // files materialize ([[GraftCatalog.AddDefaultKey]], set at ADD
        // COLUMN time) is part of the data's history and never moves.
        require(ch.fieldNames.length == 1,
          "graft catalog: ALTER COLUMN DEFAULT supports top-level columns only")
        val name = ch.fieldNames()(0)
        require(!m.partCols.exists(_.equalsIgnoreCase(name)),
          s"graft catalog: '$name' is a partition column; defaults apply to " +
            "data columns")
        val idx = m.schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
        require(idx >= 0, s"graft catalog: no such column '$name'")
        val f = m.schema.fields(idx)
        val newSql: Option[String] =
          Option(ch.newCurrentDefault()).map(_.getSql)
            .orElse(Option(ch.newDefaultValue()).filter(_.nonEmpty))
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        newSql match {
          case Some(sql) => mb.putString("CURRENT_DEFAULT", sql)
          case None => mb.remove("CURRENT_DEFAULT")
        }
        m.copy(schema = StructType(
          m.schema.fields.updated(idx, f.copy(metadata = mb.build()))))
      case (m, add: TableChange.AddConstraint) =>
        val c = add.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check => ck
          case other => throw new UnsupportedOperationException(
            s"graft catalog: only CHECK constraints are supported — " +
              s"'${other.name}' (${other.getClass.getSimpleName}) would claim " +
              "a cross-file invariant this engine does not police")
        }
        val existing = GraftCatalog.constraintsOf(m.options)
        require(!existing.exists(_.name.equalsIgnoreCase(c.name)),
          s"graft catalog: constraint '${c.name}' already exists")
        m.copy(options = m.options + (GraftCatalog.ConstraintsKey ->
          GraftCatalog.renderConstraints(existing :+ c)))
      case (m, drop: TableChange.DropConstraint) =>
        val existing = GraftCatalog.constraintsOf(m.options)
        val remaining = existing.filterNot(_.name.equalsIgnoreCase(drop.name))
        if (remaining.length == existing.length && !drop.ifExists)
          throw new IllegalArgumentException(
            s"graft catalog: no such constraint '${drop.name}' " +
              s"(existing: ${existing.map(_.name).mkString(", ")})")
        m.copy(options =
          if (remaining.isEmpty) m.options - GraftCatalog.ConstraintsKey
          else m.options + (GraftCatalog.ConstraintsKey ->
            GraftCatalog.renderConstraints(remaining)))
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other (properties, " +
          "nullable ADD COLUMN, RENAME COLUMN, DROP COLUMN, ALTER COLUMN " +
          "SET/DROP DEFAULT, ADD/DROP CHECK CONSTRAINT only)")
    }
    writeMeta(fs, mp, updated)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!fs.exists(metaPath(dir))) return false
    val meta = readMeta(fs, metaPath(dir))
    // external location: drop the metadata, leave the data (standard
    // external-table semantics); managed: the directory IS the table
    if (meta.location != dir.toString) fs.delete(metaPath(dir), false)
    fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!fs.exists(metaPath(from))) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace.toSeq)
    val meta = readMeta(fs, metaPath(from))
    require(meta.location == from.toString,
      "graft catalog: RENAME of a table with an external LOCATION is not " +
        "supported (the location would dangle)")
    val to = tableDir(newIdent)
    if (!GraftIO.rename(fs, from, to))
      throw new IllegalStateException(
        s"graft catalog: rename $from -> $to failed")
    writeMeta(fs, metaPath(to), meta.copy(location = to.toString))
  }
}

private[graft] object GraftCatalog {

  /** X109 rule install, retried from every point that builds a catalog
    * scan: `initialize()` can run WITHOUT an active SparkSession (catalog
    * instantiated from config during session build), and silently skipping
    * the install there used to cost a session ALL runtime group pruning on
    * composite-key tables — a silent total perf loss. The retry makes the
    * install land on the first scan built under a live session; the
    * warning makes the (now transient) gap observable. */
  private[graft] val warnedNoSession = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] def installRuntimeFilterSplit(): Unit =
    scala.util.Try(SparkSession.active) match {
      case scala.util.Success(s) => graft.plans.RuntimeFilterSplit.install(s)
      case scala.util.Failure(_) =>
        if (warnedNoSession.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(classOf[GraftCatalog]).warn(
            "graft catalog: no active SparkSession at initialize(); the " +
              "X109 composite-key runtime-filter rule will be installed " +
              "when the first scan is built — until then row-level DML " +
              "on multi-filter-attribute tables loses runtime group pruning")
    }

  /** Table meta for a PINNED (time-travel) read: when the target manifest
    * recorded its commit-time schema, the pinned table reports THAT schema
    * — a read before an ADD COLUMN shows the table as it was. Partition
    * columns are layout and never change, so they carry over as-is. */
  private[sources] def pinnedMeta(meta: TableMeta,
      fsys: org.apache.hadoop.fs.FileSystem, root: Path, v: Long): TableMeta =
    withCommitSchema(meta, OcfSnapshots.read(fsys, root, v).tableSchemaJson)

  /** `meta` with its schema replaced by a manifest's recorded commit-time
    * schema (when present and parseable) — the single parsing point for
    * every pin (numeric VERSION AS OF, tags, branch heads). */
  private[sources] def withCommitSchema(meta: TableMeta,
      tableSchemaJson: Option[String]): TableMeta =
    tableSchemaJson.flatMap(js =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js))
        .toOption.collect { case st: StructType => meta.copy(schema = st) })
      .getOrElse(meta)

  /** Layout columns + per-file metas of a table's VISIBLE files, preferring
    * manifest-embedded metas (zero header preads on snapshot tables) and
    * preading only the uncovered remainder — the shared loader for the
    * `.files` / `.partitions` metadata tables. */
  private[sources] def tableFileMetas(meta: TableMeta, conf: Configuration)
      : (Seq[String], Seq[OcfDataSource.OcfFileMeta]) = {
    val files =
      try OcfDataSource.snapshotAwareList(conf, Seq(meta.location), None,
        recursive = true)
      catch { case _: java.io.FileNotFoundException => Nil }
    if (files.isEmpty) return (Nil, Nil)
    val root = new Path(meta.location)
    val fsys = root.getFileSystem(conf)
    val qualified = fsys.makeQualified(root).toString
    // catalog-owned observability read: mixed spec eras (X100) union by
    // level name; a file's absent synthetic level renders as null
    val (layoutCols, annotated0) =
      OcfPartitions.infer(Seq(qualified), files, unionSynthetic = true)
    val annotated = annotated0.map(f => f.copy(partitionValues =
      f.partitionValues.map(v =>
        if (v == OcfPartitions.AbsentDir) null else v)))
    val manifest: Map[String, OcfDataSource.OcfFileMeta] =
      OcfSnapshots.latest(fsys, root).map { s =>
        val base = fsys.makeQualified(root)
        s.files.iterator.flatMap(sf =>
          sf.meta.map(m => new Path(base, sf.path).toString -> m)).toMap
      }.getOrElse(Map.empty)
    val need = annotated.filter(f => !manifest.contains(f.path))
    val fetched =
      if (need.isEmpty) Map.empty[String, OcfDataSource.OcfFileMeta]
      else OcfDataSource.fetchMetas(conf, need).map(m => m.path -> m).toMap
    val metas = annotated.map(f => manifest.get(f.path)
      .map(_.copy(path = f.path, len = f.len, partitionValues = f.partitionValues))
      .getOrElse(fetched(f.path)))
    (layoutCols, metas)
  }
  val MetaFileName = "_graft_table.json"

  /** The table's READER schema for its data columns: nullable fields carry
    * an explicit `null` default, so a file written BEFORE a column was
    * added (ALTER TABLE ADD COLUMN) resolves it to null through the Avro
    * kernel's reader-default materialization — schema evolution without
    * rewriting a byte of data (reference analog: reader-default fill,
    * python-udf/avro/io.py resolution). */
  /** StructField-metadata key recording a column's PREVIOUS names after
    * `ALTER TABLE RENAME COLUMN` (schema.json round-trips field metadata, so
    * the descriptor persists it for free). [[readerJsonWithDefaults]] emits
    * them as Avro field ALIASES — the kernel's alias resolution then feeds
    * old files' data into the renamed column with zero bytes rewritten. */
  val RenamedFromKey = "graft.renamedFrom"

  /** Options key recording names removed by `ALTER TABLE DROP COLUMN`.
    * Re-ADDing such a name is refused: old files still CARRY the dropped
    * field, and Avro resolution matches by name, so the "new" column would
    * silently resurrect years-old data in every pre-drop file. */
  val DroppedColsKey = "graft.droppedColumns"

  /** Previous names of `field` (empty when never renamed). */
  def renamedFrom(field: org.apache.spark.sql.types.StructField): Seq[String] =
    if (field.metadata.contains(RenamedFromKey))
      field.metadata.getStringArray(RenamedFromKey).toSeq
    else Nil

  /** Avro's published type promotions — the widenings a reader schema can
    * declare with existing files resolving by promotion, no rewrite.
    * byte/short/int all encode as Avro int, so widening within that family
    * is a wire no-op. */
  def avroPromotable(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | LongType,
            FloatType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** StructField-metadata key holding an ADD COLUMN DEFAULT literal as Avro
    * default JSON (what a reader-schema field `default` accepts). Old files
    * materialize it through the kernel's reader-default path (F16) — the
    * same mechanism null-fill uses, just with the declared constant. */
  val AddDefaultKey = "graft.addDefault"

  /** V2 literal default → Avro default JSON text. Only shapes an Avro field
    * default can express primitively are accepted; everything else refuses
    * at DDL time (never a mis-typed default surfacing mid-scan). */
  private[sources] def avroDefaultJson(
      lit: org.apache.spark.sql.connector.expressions.Literal[_]): String = {
    import org.apache.spark.sql.types._
    (lit.dataType, lit.value) match {
      case (_, null) => "null"
      case (BooleanType, v: java.lang.Boolean) => v.toString
      case (ByteType | ShortType | IntegerType | LongType, v: Number) =>
        v.longValue.toString
      case (FloatType | DoubleType, v: Number) =>
        val d = v.doubleValue
        require(!d.isNaN && !d.isInfinite,
          "graft catalog: NaN/Infinity cannot be an Avro default")
        d.toString
      case (StringType, v) =>
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        om.writeValueAsString(v.toString)
      case (dt, _) => throw new IllegalArgumentException(
        s"graft catalog: DEFAULT of type ${dt.simpleString} is not supported " +
          "(boolean, integral, float/double and string literals only)")
    }
  }

  /** Field metadata for an ADD COLUMN's declared DEFAULT (empty when none):
    * validates the default folds to a constant literal of the column's own
    * type, then stores EXISTS_DEFAULT (standard metadata, observability) and
    * the Avro default JSON ([[AddDefaultKey]]) the reader schema emits so
    * files written BEFORE the column existed materialize the constant.
    * CURRENT_DEFAULT (Spark's analyzer filling INSERTs that omit the column)
    * is stored for top-level columns only — the analyzer never fills nested
    * fields, so a nested CURRENT_DEFAULT would be a dead promise. */
  private[sources] def declaredDefaultMetadata(
      name: String, add: TableChange.AddColumn,
      withCurrentDefault: Boolean): org.apache.spark.sql.types.Metadata =
    Option(add.defaultValue()) match {
      case None => org.apache.spark.sql.types.Metadata.empty
      case Some(dv) =>
        val lit = dv.getValue
        require(lit != null,
          s"graft catalog: ADD COLUMN '$name' DEFAULT must fold to a " +
            "constant literal")
        require(org.apache.spark.sql.graft.Shims.sameType(
            StructType(Seq(org.apache.spark.sql.types.StructField("d", lit.dataType))),
            StructType(Seq(org.apache.spark.sql.types.StructField("d", add.dataType)))),
          s"graft catalog: ADD COLUMN '$name' DEFAULT literal type " +
            s"${lit.dataType.simpleString} does not match the column type " +
            add.dataType.simpleString)
        val sqlText = Option(dv.getSql).getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal(
            lit.value, lit.dataType).sql)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        if (withCurrentDefault) mb.putString("CURRENT_DEFAULT", sqlText)
        mb.putString("EXISTS_DEFAULT", sqlText)
          .putString(AddDefaultKey, avroDefaultJson(lit))
          .build()
    }

  /** Options key holding the table's CHECK constraints (X82) as a JSON
    * array of {name, sql, enforced, rely, status}. CHECK is the one
    * constraint family a file engine can enforce honestly — per-row, at
    * write time, via Spark's own V2 constraint validation; UNIQUE / PRIMARY
    * KEY / FOREIGN KEY would claim cross-file invariants nothing here
    * polices, so they are refused rather than stored as dead metadata. */
  val ConstraintsKey = "graft.constraints"

  def constraintsOf(options: Map[String, String])
      : Seq[org.apache.spark.sql.connector.catalog.constraints.Check] =
    options.find(_._1.equalsIgnoreCase(ConstraintsKey)).map(_._2) match {
      case None => Nil
      case Some(json) =>
        import org.apache.spark.sql.connector.catalog.constraints.Constraint
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        (0 until root.size()).map { i =>
          val o = root.get(i)
          Constraint.check(o.get("name").asText)
            .predicateSql(o.get("sql").asText)
            .enforced(o.get("enforced").asBoolean)
            .rely(o.get("rely").asBoolean)
            .validationStatus(
              Constraint.ValidationStatus.valueOf(o.get("status").asText))
            .build()
        }
    }

  private[sources] def renderConstraints(
      cs: Seq[org.apache.spark.sql.connector.catalog.constraints.Check]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    cs.foreach { c =>
      val o = arr.addObject()
      o.put("name", c.name); o.put("sql", c.predicateSql)
      o.put("enforced", c.enforced); o.put("rely", c.rely)
      o.put("status", c.validationStatus.name)
    }
    om.writeValueAsString(arr)
  }

  /** Names recorded under [[DroppedColsKey]] (never re-ADDable). */
  def droppedCols(options: Map[String, String]): Seq[String] =
    options.find(_._1.equalsIgnoreCase(DroppedColsKey))
      .map(_._2.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  def bucketColsOf(options: Map[String, String]): Seq[String] =
    options.find(_._1.equalsIgnoreCase("bucketColumns"))
      .map(_._2.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Refuse a RENAME/DROP of a column the stored WRITE options still
    * reference (stats/bloom/sort stamping): the option would silently stop
    * applying (stats) or fail the next INSERT's plan (unknown column) —
    * the user must update OPTIONS first so the intent stays explicit.
    * Dotted `statsColumns=a.b` entries count as references to `a`.
    * A CHECK constraint whose predicate mentions the column refuses too
    * (its stored SQL would dangle). */
  private[sources] def guardOptionRefs(options: Map[String, String],
                                       col: String, verb: String): Unit = {
    Seq("statsColumns", "bloomColumns", "sortColumns").foreach { k =>
      val refs = options.find(_._1.equalsIgnoreCase(k)).toSeq
        .flatMap(_._2.split(",").map(_.trim).filter(_.nonEmpty))
        .filter(e => e.equalsIgnoreCase(col) ||
          e.toLowerCase.startsWith(col.toLowerCase + "."))
      require(refs.isEmpty,
        s"graft catalog: cannot $verb column '$col' — the table's $k option " +
          s"references it (${refs.mkString(", ")}); ALTER TABLE SET " +
          s"TBLPROPERTIES ('$k'='...') without it first")
    }
    // identifier-boundary match on the stored predicate SQL (conservative:
    // a false positive refuses, never a dangling constraint)
    val pat = java.util.regex.Pattern.compile(
      "(?i)(^|[^A-Za-z0-9_])" + java.util.regex.Pattern.quote(col) +
        "($|[^A-Za-z0-9_])")
    constraintsOf(options).foreach { c =>
      require(!pat.matcher(c.predicateSql).find(),
        s"graft catalog: cannot $verb column '$col' — CHECK constraint " +
          s"'${c.name}' references it (${c.predicateSql}); DROP CONSTRAINT " +
          "first")
    }
  }

  /** Decorate every NESTED record field, recursively: null defaults on
    * nullable fields (a field added inside a struct — `ALTER TABLE ... ADD
    * COLUMN info.extra` — resolves against pre-ALTER files through the
    * same reader-default materialization (F16) as a top-level add; the
    * kernel applies defaults at any record depth, it only needs the
    * reader JSON to carry them there) and ALIASES from the nested
    * StructField's rename history (nested `RENAME COLUMN info.a TO b`
    * rides Avro's published alias mechanism, exactly like X79 at the top
    * level). Walks the Avro and Catalyst shapes in parallel — the Avro
    * conversion drops field metadata, so the aliases live on the Spark
    * side. */
  private def decorateDeep(s: graft.avro.AvroSchema,
      dt: org.apache.spark.sql.types.DataType): graft.avro.AvroSchema =
    (s, dt) match {
      case (r: graft.avro.ARecord, st: StructType)
          if r.fields.length == st.fields.length =>
        r.copy(fields = r.fields.zip(st.fields).map { case (f, sf) =>
          val inner = decorateDeep(f.schema, sf.dataType)
          val withAlias = f.copy(schema = inner,
            aliases = (f.aliases ++ renamedFrom(sf)).distinct)
          // a nested ADD COLUMN's declared DEFAULT (existence default):
          // pre-ALTER files materialize the constant at depth, same
          // union-reorder rule as the top level (an Avro union default
          // must conform to the FIRST branch)
          val declared: Option[com.fasterxml.jackson.databind.JsonNode] =
            if (sf.metadata.contains(AddDefaultKey))
              Some(new com.fasterxml.jackson.databind.ObjectMapper()
                .readTree(sf.metadata.getString(AddDefaultKey)))
            else None
          (declared, withAlias.schema) match {
            case (Some(d), u: graft.avro.AUnion) if u.isNullable && !d.isNull =>
              withAlias.copy(
                schema = graft.avro.AUnion(
                  u.branches.filterNot(_ == graft.avro.ANull) :+ graft.avro.ANull),
                default = Some(d))
            case (Some(d), _) => withAlias.copy(default = Some(d))
            case (None, u: graft.avro.AUnion)
                if u.isNullable && f.default.isEmpty =>
              withAlias.copy(default = Some(
                com.fasterxml.jackson.databind.node.NullNode.getInstance()))
            case _ => withAlias
          }
        })
      case (a: graft.avro.AArray, at: org.apache.spark.sql.types.ArrayType) =>
        a.copy(items = decorateDeep(a.items, at.elementType))
      case (m: graft.avro.AMap, mt: org.apache.spark.sql.types.MapType) =>
        m.copy(values = decorateDeep(m.values, mt.valueType))
      case (u: graft.avro.AUnion, _) =>
        graft.avro.AUnion(u.branches.map(b =>
          if (b == graft.avro.ANull) b else decorateDeep(b, dt)))
      case (other, _) => other
    }

  def readerJsonWithDefaults(dataSchema: StructType): String = {
    val rec = graft.spark.SchemaConverters.toAvroType(dataSchema)
      .asInstanceOf[graft.avro.ARecord]
    val withDefaults = rec.copy(fields = rec.fields.zip(dataSchema.fields).map {
      case (f, sf) =>
        val aliased = f.copy(aliases = renamedFrom(sf))
        val declared: Option[com.fasterxml.jackson.databind.JsonNode] =
          if (sf.metadata.contains(AddDefaultKey))
            Some(new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(sf.metadata.getString(AddDefaultKey)))
          else None
        (declared, aliased.schema) match {
          // an Avro union default must conform to the FIRST branch, so a
          // non-null declared default reorders the nullable union to
          // [T, "null"] — still the same nullable type, now spec-legal
          case (Some(d), u: graft.avro.AUnion) if u.isNullable && !d.isNull =>
            aliased.copy(
              schema = graft.avro.AUnion(
                u.branches.filterNot(_ == graft.avro.ANull) :+ graft.avro.ANull),
              default = Some(d))
          case (Some(d), _) => aliased.copy(default = Some(d))
          case (None, u: graft.avro.AUnion) if u.isNullable =>
            aliased.copy(default = Some(com.fasterxml.jackson.databind.node.NullNode.getInstance()))
          case _ => aliased
        }
    })
    // nested fields get null defaults + rename aliases too, so nested
    // ADD/RENAME evolution resolves against pre-ALTER files
    val deep = withDefaults.copy(fields =
      withDefaults.fields.zip(dataSchema.fields).map { case (f, sf) =>
        f.copy(schema = decorateDeep(f.schema, sf.dataType))
      })
    graft.avro.AvroSchemaParser.toJson(deep)
  }

  /** Reserved property keys Spark attaches to CREATE TABLE that are not
    * write options. */
  private val ReservedProps = Set(TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_COMMENT,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION)

  /** CREATE TABLE ... OPTIONS(k v) arrive in `properties` both bare and
    * `option.`-prefixed; normalize to one bare map of write/read options. */
  def tableOptions(properties: java.util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toMap
      .collect {
        case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
          k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v
        case (k, v) if !ReservedProps.contains(k) => k -> v
      }
  }

  /** Declared transforms of a table: identity per partition column plus the
    * bucket transform when the descriptor's options carry a bucket spec. */
  def transformsOf(meta: TableMeta): Array[Transform] = {
    val ids = meta.partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c): Transform)
    val transforms = meta.options.find(_._1.equalsIgnoreCase("transformPartitions"))
      .map(_._2).map(OcfTransforms.parseList).getOrElse(Nil).map { spec =>
        import org.apache.spark.sql.connector.expressions.Expressions
        spec.kind match {
          case "years" => Expressions.years(spec.col): Transform
          case "months" => Expressions.months(spec.col): Transform
          case "days" => Expressions.days(spec.col): Transform
          case "hours" => Expressions.hours(spec.col): Transform
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(spec.width), Expressions.column(spec.col)): Transform
        }
      }
    val bucket = for {
      cols <- meta.options.find(_._1.equalsIgnoreCase("bucketColumns")).map(_._2)
      n <- meta.options.find(_._1.equalsIgnoreCase("numBuckets")).map(_._2)
    } yield org.apache.spark.sql.connector.expressions.Expressions.bucket(
      n.toInt, cols.split(","): _*): Transform
    (ids ++ transforms ++ bucket).toArray
  }

  final case class TableMeta(schema: StructType, partCols: Seq[String],
                             location: String, options: Map[String, String]) {
    def dataSchema: StructType = StructType(schema.fields.filterNot(
      f => partCols.exists(_.equalsIgnoreCase(f.name))))
    def partSchemaDdl: String = partCols.map { pc =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(pc)).get
      s"${f.name} ${f.dataType.catalogString}"
    }.mkString(", ")
  }

  def writeMeta(fs: org.apache.hadoop.fs.FileSystem, path: Path, meta: TableMeta): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("schema", meta.schema.json)
    val pa = root.putArray("partCols")
    meta.partCols.foreach(pa.add)
    root.put("location", meta.location)
    val oo = root.putObject("options")
    meta.options.foreach { case (k, v) => oo.put(k, v) }
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = GraftIO.create(fs, tmp, true)
    try out.write(om.writeValueAsBytes(root)) finally out.close()
    // atomic replace (DDL is single-writer; a crash inside the window leaves
    // the new content in the temp file rather than a torn descriptor)
    GraftIO.renameOverwrite(fs, fs.getConf, tmp, path)
  }

  def readMeta(fs: org.apache.hadoop.fs.FileSystem, path: Path): TableMeta = {
    val in = fs.open(path)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    val schema = org.apache.spark.sql.types.DataType.fromJson(root.get("schema").asText)
      .asInstanceOf[StructType]
    val pc = (0 until root.get("partCols").size).map(root.get("partCols").get(_).asText)
    val opts = Option(root.get("options")).map { o =>
      val b = Map.newBuilder[String, String]
      val it = o.fields()
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
      b.result()
    }.getOrElse(Map.empty[String, String])
    TableMeta(schema, pc, root.get("location").asText, opts)
  }
}

/** One catalog table: the stored descriptor wired into the SAME read/write
  * engine as the path API. An empty table (no data files yet) reads as zero
  * rows of the stored schema instead of failing resolution.
  *
  * DELETE is METADATA-ONLY (the Iceberg/Delta file-granular delete analog):
  * `canDeleteWhere` accepts exactly the partition-exact predicate shapes —
  * a file holds one partition tuple, so it either matches entirely or not
  * at all — and `deleteWhere` removes the matching FILES. A predicate on a
  * data column cannot be answered file-granularly and is refused loudly
  * (Spark surfaces "cannot delete"), never partially applied. TRUNCATE
  * TABLE rides the same path with an always-true predicate. */
private[sources] class CatalogOcfTable(
    fullName: String, meta: GraftCatalog.TableMeta,
    transforms: Array[Transform], conf: Configuration,
    // staged (CTAS/RTAS) instances write into a staging dir that must NOT
    // grow its own manifest — the table-level snapshot is committed at the
    // staged swap; time-travel instances carry the pinned version
    snapshotWrites: Boolean = true,
    pinnedVersion: Option[Long] = None,
    // `VERSION AS OF '<branch>'` (X83): a read-only pin to the branch head
    branchPin: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val names = meta.schema.fieldNames
    ((if (names.exists(_.equalsIgnoreCase(OcfDataSource.FileColName))) Nil
      else Seq(OcfDataSource.FileMetadataColumn)) ++
     (if (names.exists(_.equalsIgnoreCase(OcfDataSource.PosColName))) Nil
      else Seq(OcfDataSource.PosMetadataColumn))).toArray
  }

  private[sources] def catalogMeta: GraftCatalog.TableMeta = meta
  private[sources] def hadoopConf: Configuration = conf
  private[sources] def catalogWriteOptions: Map[String, String] = writeOptions

  private def readOptions: CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String]()
    meta.options.foreach { case (k, v) => m.put(k, v) }
    m.put("path", meta.location)
    // the STORED schema is authoritative: every file resolves against it
    // (with null defaults for nullable fields), so a directory holding
    // pre-ADD COLUMN files reads as one uniform frame
    m.put("readerSchema", GraftCatalog.readerJsonWithDefaults(meta.dataSchema))
    if (meta.partCols.nonEmpty) m.put("partitionSchema", meta.partSchemaDdl)
    pinnedVersion.foreach(v => m.put("graft.snapshot.version", v.toString))
    branchPin.foreach(b => m.put("graft.snapshot.branch", b))
    new CaseInsensitiveStringMap(m)
  }

  // per-instance memo (Spark re-loads the table per statement, so this
  // cannot go stale across INSERTs); resolution stays LAZY so a write to an
  // empty table never lists input files
  private lazy val resolved = OcfDataSource.resolve(readOptions)
  private val writeOptions: Map[String, String] =
    meta.options + ("path" -> meta.location) +
      ("partitionBy" -> meta.partCols.mkString(",")) +
      // bucketed writes are gated on catalog management (the write's
      // bucket-transform distribution resolves via this catalog's
      // function catalog; a bare path write has none)
      ("graft.catalogWrite" -> "true") +
      // catalog tables are snapshot-managed ([[OcfSnapshots]]): commits
      // publish a manifest, reads plan from it, history is time-travelable
      ("graft.snapshots" -> snapshotWrites.toString) +
      // schema-at-commit-time for the manifest: a pinned VERSION AS OF
      // read then shows the schema the data HAD, not today's
      ("graft.tableSchemaJson" -> meta.schema.json)
  private lazy val inner = new OcfTable(Some(meta.schema), transforms,
    meta.partCols.toArray, () => resolved, fullName, writeOptions)

  override def name(): String = fullName
  override def schema(): StructType = meta.schema
  override def partitioning(): Array[Transform] = transforms
  /** Stored CHECK constraints (X82): reported to Spark, whose own V2
    * constraint validation then rejects violating INSERT/UPDATE/MERGE rows
    * at write time — the engine stores and serves, Spark enforces. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftCatalog.constraintsOf(meta.options).toArray
  /** Stored write/read options, surfaced so `SHOW CREATE TABLE` and
    * `DESCRIBE EXTENDED` reproduce the table's configuration. */
  override def properties(): java.util.Map[String, String] = {
    val p = new java.util.HashMap[String, String]()
    meta.options.foreach { case (k, v) => p.put(k, v) }
    p.put(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION, meta.location)
    p
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)

  private[sources] def hasDataFiles: Boolean = pinnedVersion match {
    case Some(v) =>
      val root = new Path(meta.location)
      OcfSnapshots.read(root.getFileSystem(conf), root, v).files.nonEmpty
    case None if branchPin.isDefined =>
      val root = new Path(meta.location)
      OcfSnapshots.branchHead(root.getFileSystem(conf), root,
        branchPin.get).files.nonEmpty
    case None =>
      try OcfDataSource.snapshotAwareList(conf, Seq(meta.location), None,
        recursive = true).nonEmpty
      catch { case _: java.io.FileNotFoundException => false }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // X109 install retry: initialize() may have run without a session
    GraftCatalog.installRuntimeFilterSplit()
    // Incremental append scan (X78): `spark.read.option("startingVersion", v)
    // [.option("endingVersion", v2)].table(...)` reads only the rows whose
    // files were COMMITTED after v (up to v2 / latest) — the "process what
    // arrived since the last run" primitive. Exact-or-refuse semantics live
    // in [[OcfSnapshots.incrementalFiles]]; an empty range is an empty
    // frame. Options are per-SCAN (they arrive here, not in table state),
    // so the same table instance serves normal reads untouched.
    val starting = Option(options.get("startingVersion")).map(_.toLong)
    val ending = Option(options.get("endingVersion")).map(_.toLong)
    require(starting.isDefined || ending.isEmpty,
      s"graft catalog: $fullName: endingVersion needs startingVersion " +
        "(for a single-version read use VERSION AS OF)")
    // Per-scan passthrough options (columnar opt-out, splitSize, ...):
    // everything the user supplied EXCEPT the keys this method translates
    // itself overlays the table's stored readOptions, so per-scan options
    // compose with branch/startingVersion reads instead of being dropped.
    val handled = Set("startingversion", "endingversion", "branch")
    val passthrough = new java.util.HashMap[String, String]()
    options.forEach { (k, v) =>
      if (!handled.contains(k.toLowerCase(java.util.Locale.ROOT)))
        passthrough.put(k, v)
    }
    def merged(extra: (String, String)*): CaseInsensitiveStringMap = {
      // iterate readOptions itself (lowercased keys) rather than its
      // original-case view: passthrough keys are lowercased too, so a
      // per-scan override of a stored option must land on the SAME map
      // key — mixed-case duplicates would resolve arbitrarily
      val m = new java.util.HashMap[String, String]()
      readOptions.forEach { (k, v) => m.put(k, v) }
      m.putAll(passthrough)
      extra.foreach { case (k, v) =>
        m.put(k.toLowerCase(java.util.Locale.ROOT), v)
      }
      new CaseInsensitiveStringMap(m)
    }
    // branch read (X83): `spark.read.option("branch", b).table(...)` pins
    // the scan to the branch HEAD's manifest
    Option(options.get("branch")).map(_.trim).filter(_.nonEmpty) match {
      case Some(b) =>
        require(starting.isEmpty && pinnedVersion.isEmpty &&
            branchPin.forall(_ == b),
          s"graft catalog: $fullName: a branch read cannot combine with " +
            "startingVersion, VERSION/TIMESTAMP AS OF, or another branch pin")
        return new OcfScanBuilder(
          OcfDataSource.resolve(merged("graft.snapshot.branch" -> b)))
      case None => ()
    }
    starting match {
      case Some(s) =>
        require(pinnedVersion.isEmpty,
          s"graft catalog: $fullName is pinned (VERSION/TIMESTAMP AS OF); " +
            "combine startingVersion/endingVersion with the live table instead")
        // a zero-file resolution is legal here (range added nothing yet):
        // batch reads plan zero splits; a STREAM from the same builder keeps
        // discovering post-v files forever via the scan's exclusion set
        new OcfScanBuilder(OcfDataSource.resolve(merged(
          Seq("graft.snapshot.startingVersion" -> s.toString) ++
            ending.map(e => "graft.snapshot.version" -> e.toString): _*)))
      case None =>
        if (!hasDataFiles) new EmptyOcfScanBuilder(meta.schema)
        else if (!passthrough.isEmpty)
          new OcfScanBuilder(OcfDataSource.resolve(merged()))
        else inner.newScanBuilder(options)
    }
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"graft catalog: $fullName is pinned to snapshot version " +
        s"${pinnedVersion.get} (VERSION/TIMESTAMP AS OF) — historical " +
        "versions are read-only")
    require(branchPin.isEmpty,
      s"graft catalog: $fullName is a VERSION AS OF branch pin — read-only; " +
        "write to the branch with df.writeTo(...).option(\"branch\", ...)")
    inner.newWriteBuilder(info)
  }

  /** Copy-on-write row-level operations (the group-based path Spark plans
    * for DELETE/UPDATE/MERGE when the predicate is not partition-exact —
    * partition-exact DELETEs still fold back to the metadata-only
    * [[deleteWhere]] via OptimizeMetadataOnlyDeleteFromTable): the
    * operation's scan reads the files that MAY hold matching rows (static
    * stats/bloom/partition pruning plus runtime group filtering over the
    * same stamps), Spark recomputes those files' surviving/updated rows,
    * and the commit replaces exactly the scanned files. Files the stamps
    * refute are never read, never rewritten. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // X109 install retry: this is exactly the surface the rule protects
    GraftCatalog.installRuntimeFilterSplit()
    // the operation REQUIRES the _file metadata column (Spark's group-based
    // plans only project data rows cleanly for the write when the operation
    // declares metadata attributes); a table shadowing it cannot do CoW
    require(metadataColumns().nonEmpty,
      s"graft-ocf: row-level ${info.command} needs the " +
        s"${OcfDataSource.FileColName} metadata column, which a table column " +
        "of the same name shadows")
    // merge-on-read (X87): `write.{delete,update,merge}.mode =
    // merge-on-read` switches the command from the group-based
    // copy-on-write rewrite to a delta operation — DELETE writes
    // POSITION-DELETE files only; UPDATE/MERGE represent as delete +
    // insert (old positions into delete files, new rows into fresh data
    // files), so a point update costs O(matched rows), not
    // O(matched files' bytes).
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val modeKey = info.command match {
      case Command.DELETE => "write.delete.mode"
      case Command.UPDATE => "write.update.mode"
      case Command.MERGE => "write.merge.mode"
    }
    val mode = meta.options.find(_._1.equalsIgnoreCase(modeKey))
      .map(_._2.trim.toLowerCase(java.util.Locale.ROOT))
    require(mode.forall(m => m == "copy-on-write" || m == "merge-on-read"),
      s"graft-ocf: $modeKey must be 'copy-on-write' or " +
        s"'merge-on-read'; got '${mode.get}'")
    val mor = mode.contains("merge-on-read")
    if (mor) require(snapshotWrites,
      s"graft-ocf: merge-on-read ${info.command} needs a snapshot-managed " +
        "table (delete files are manifest entries)")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        if (mor) new OcfPositionDeltaOperation(info.command, CatalogOcfTable.this)
        else new OcfRowLevelOperation(info.command, CatalogOcfTable.this)
    }
  }

  private[sources] def rowLevelScanBuilder(onBuilt: OcfScan => Unit): ScanBuilder =
    inner.scanBuilderWithHook(Some(onBuilt))

  private[sources] def rowLevelWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
      replaceFiles: () => Seq[String]): org.apache.spark.sql.connector.write.WriteBuilder =
    new OcfWriteBuilder(info, meta.partCols.toArray, writeOptions,
      replaceFiles = Some(replaceFiles))

  // ---- partition management (SHOW PARTITIONS / ALTER TABLE ... PARTITION) --
  // The directory layout IS the partition state: a partition exists iff its
  // `col=value/` directory does (an ADD PARTITION'ed empty directory shows
  // up before any rows land, matching hive/path-table expectations).

  override def partitionSchema(): StructType =
    StructType(meta.partCols.map(pc =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(pc)).get))

  private def fsys = new org.apache.hadoop.fs.Path(meta.location).getFileSystem(conf)

  private def partDirOf(ident: org.apache.spark.sql.catalyst.InternalRow): org.apache.hadoop.fs.Path = {
    val ps = partitionSchema()
    require(ps.nonEmpty, s"graft catalog: table $fullName is not partitioned")
    require(ident.numFields == ps.length,
      s"graft catalog: partition spec must bind every partition column " +
        s"(${meta.partCols.mkString(", ")})")
    val rendered = ps.fields.indices.map { i =>
      if (ident.isNullAt(i)) null
      else OcfPartitions.renderPartValue(
        ident.get(i, ps.fields(i).dataType), ps.fields(i).dataType)
    }.toArray
    new org.apache.hadoop.fs.Path(meta.location,
      OcfPartitions.partitionDir(meta.partCols.toArray, rendered))
  }

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
                               properties: java.util.Map[String, String]): Unit = {
    if (partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        fullName, ident, partitionSchema())
    GraftIO.mkdirs(fsys, partDirOf(ident))
    ()
  }

  /** Partition DROP/TRUNCATE are LAYOUT DDL and stay physically destructive
    * (the directory is the partition's existence); on a snapshot-managed
    * table the manifest is re-committed without the destroyed files so the
    * visible set stays consistent — time travel across a partition drop is
    * documented as unsupported (the bytes are gone). */
  private def snapshotDropUnder(d: org.apache.hadoop.fs.Path, op: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(meta.location)
    if (OcfSnapshots.enabled(fsys, root)) {
      val relDir = OcfSnapshots.relativize(
        fsys.makeQualified(root).toString, fsys.makeQualified(d).toString)
      OcfSnapshots.commit(fsys, root, op, Some(meta.schema.json))(prev =>
        prev.filterNot(f => f.path.startsWith(relDir + "/")))
      ()
    }
  }

  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val d = partDirOf(ident)
    val dropped = fsys.exists(d) && fsys.delete(d, true)
    if (dropped) snapshotDropUnder(d, "drop-partition")
    dropped
  }

  override def partitionExists(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    fsys.exists(partDirOf(ident))

  override def truncatePartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val d = partDirOf(ident)
    if (!fsys.exists(d))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        fullName, ident, partitionSchema())
    fsys.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith(".") && !n.startsWith("_"))
        fsys.delete(st.getPath, false)
    }
    snapshotDropUnder(d, "truncate-partition")
    true
  }

  override def replacePartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow,
                                        properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: partition metadata is not supported (the directory is the state)")

  override def loadPartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] = java.util.Collections.emptyMap()

  /** Distinct partition tuples from the DIRECTORY tree (one `col=value`
    * level per partition column), optionally filtered by a partial spec —
    * empty (ADD PARTITION'ed) directories included. */
  override def listPartitionIdentifiers(names: Array[String],
                                        ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    if (ps.isEmpty) return Array.empty
    require(names.length == ident.numFields,
      "graft catalog: partial partition spec names and values must align")
    val root = new org.apache.hadoop.fs.Path(meta.location)
    if (!fsys.exists(root)) return Array.empty
    var tuples: Seq[(org.apache.hadoop.fs.Path, Vector[Any])] =
      Seq((root, Vector.empty))
    ps.fields.foreach { f =>
      val prefix = f.name + "="
      tuples = tuples.flatMap { case (dir, vals) =>
        fsys.listStatus(dir).iterator.filter(st =>
          st.isDirectory && st.getPath.getName.startsWith(prefix)).map { st =>
          val raw0 = st.getPath.getName.substring(prefix.length)
          val raw = if (raw0 == OcfPartitions.NullDir) null
                    else OcfPartitions.unescape(raw0)
          (st.getPath, vals :+ OcfPartitions.castPartValue(raw, f.dataType))
        }.toSeq
      }
    }
    val specIdx: Array[Int] = names.map { n =>
      val i = ps.fields.indexWhere(_.name.equalsIgnoreCase(n))
      require(i >= 0, s"graft catalog: '$n' is not a partition column of $fullName")
      i
    }
    tuples.iterator.map(_._2).filter { vals =>
      specIdx.indices.forall { k =>
        val i = specIdx(k)
        val want = if (ident.isNullAt(k)) null else ident.get(k, ps.fields(i).dataType)
        val have = vals(i)
        (want == null && have == null) || (want != null && want == have)
      }
    }.map(vals =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals.toArray))
      .toArray
  }

  private def partTypeOf(name: String): Option[org.apache.spark.sql.types.DataType] =
    if (meta.partCols.contains(name))
      meta.schema.fields.find(_.name == name).map(_.dataType)
    else None

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => OcfPartitions.exactOnPartitions(f, partTypeOf))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fsys = root.getFileSystem(conf)
    // snapshot-managed: the delete is a MANIFEST commit — matching files
    // drop from the visible set, bytes stay for time travel
    if (OcfSnapshots.enabled(fsys, root)) {
      OcfSnapshots.commit(fsys, root, "delete-where",
          Some(meta.schema.json)) { prev =>
        prev.filterNot { f =>
          val segs = f.path.split('/').dropRight(1).takeWhile(_.contains('='))
          val idx = segs.map(_.takeWhile(_ != '=')).zipWithIndex.toMap
          val vals = segs.map { s =>
            val v = s.substring(s.indexOf('=') + 1)
            if (v == OcfPartitions.NullDir) null else OcfPartitions.unescape(v)
          }
          def pv(name: String): Option[OcfPartitions.PartVal] =
            for { i <- idx.get(name); dt <- partTypeOf(name) }
              yield OcfPartitions.PartVal(vals(i), dt)
          OcfPartitions.matchesExactly(filters.toSeq, pv)
        }
      }
      return
    }
    val files =
      try OcfDataSource.list(conf, Seq(meta.location), None, recursive = true)
      catch { case _: java.io.FileNotFoundException => return }
    if (files.isEmpty) return
    val qualified = fsys.makeQualified(root).toString
    val (layoutCols, annotated) = OcfPartitions.infer(Seq(qualified), files)
    val idx = layoutCols.zipWithIndex.toMap
    def pv(vals: Array[String])(name: String): Option[OcfPartitions.PartVal] =
      for {
        i <- idx.get(name) if i < vals.length
        dt <- partTypeOf(name)
      } yield OcfPartitions.PartVal(vals(i), dt)
    annotated.foreach { f =>
      if (OcfPartitions.matchesExactly(filters.toSeq, pv(f.partitionValues)))
        fsys.delete(new org.apache.hadoop.fs.Path(f.path), false)
    }
  }
}

/** One group-based (copy-on-write) row-level operation over a catalog
  * table. Spark wraps the table in a `RowLevelOperationTable` whose scans
  * and writes both route through THIS instance, which is the whole point:
  * the scan records which files it plans (its "groups"), and the write's
  * commit replaces exactly those files.
  *
  * The planned set is read LAZILY at commit time — after the scan has
  * executed — so runtime group filtering (Spark's
  * RowLevelOperationRuntimeGroupFiltering feeds the matching keys back
  * through `SupportsRuntimeFiltering`) has already shrunk it: a DELETE
  * keyed on a bloom-stamped column rewrites only the files whose stamps
  * cannot refute the matching keys, not every file the static predicate
  * admits. Files outside the set are untouched bytes — at 100 TB a
  * point-delete rewrites a handful of files, never the table.
  *
  * Scan-side correctness: pushed filters prune FILES, never rows (file
  * pruning is conservative, and Spark keeps the row-level plan's own
  * kept-rows Filter regardless of what the scan consumes), so every row of
  * every planned file reaches the rewrite — including the rows that must
  * survive. An empty table plans zero groups: DELETE/UPDATE rewrite
  * nothing and a MERGE's NOT MATCHED inserts append as new files. */
private[sources] final class OcfRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    table: CatalogOcfTable)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  private val planned =
    new java.util.concurrent.atomic.AtomicReference[() => Seq[String]](null)

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  /** Requiring `_file` makes Spark read it through the operation's scan and
    * build a metadata projection — which is what switches the write path to
    * `DataAndMetadataWritingSparkTask`, the task that strips the
    * `__row_operation` marker and projects each row to the table schema
    * before our writer sees it. The metadata row itself is ignored. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      OcfDataSource.FileColName))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (!table.hasDataFiles) {
      planned.set(() => Nil)
      new EmptyOcfScanBuilder(table.schema())
    } else table.rowLevelScanBuilder(scan => planned.set(() => scan.plannedFilePaths))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    table.rowLevelWriteBuilder(info, () => {
      val p = planned.get
      require(p != null, s"graft-ocf $cmd: commit ran before the operation's " +
        "scan was planned — no file groups to replace")
      p()
    })

  override def description(): String = s"graft-ocf copy-on-write $cmd"
}

/** Merge-on-read row-level operations (X87): the
  * [[org.apache.spark.sql.connector.write.SupportsDelta]] operation. Spark
  * scans the rows MATCHING the predicate (files pruned by the usual stamp
  * machinery; the scan emits the `_file`/`_pos` row id) and feeds the
  * delta writer:
  *
  *  - DELETE rows become ordinals in one POSITION-DELETE file per touched
  *    data file — zero data bytes rewritten;
  *  - UPDATE/MERGE represent as delete + insert
  *    (`representUpdateAsDeleteAndInsert`): old positions into delete
  *    files, replacement/new rows into FRESH data files through the
  *    normal validated write config (stats/bloom/partition/bucket/
  *    transform routing all apply). The delta stream is sorted by the
  *    insert side's layout, so each write task adds one data file per
  *    partition it touches.
  *
  * One snapshot commit lands both sides; `rewrite_position_deletes` folds
  * the delete files back. At 100 TB: a GDPR point-delete or a
  * single-document correction costs O(matched rows), not O(matched
  * files' bytes). */
private[sources] final class OcfPositionDeltaOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    table: CatalogOcfTable)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.write.RowLevelOperation

  override def command(): RowLevelOperation.Command = cmd

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(
        OcfDataSource.FileColName),
      org.apache.spark.sql.connector.expressions.Expressions.column(
        OcfDataSource.PosColName))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // the PLAIN table scan: existing deletes applied (an already-deleted
    // row can't re-match), `_pos` forces unsplit plans on candidate files
    table.newScanBuilder(options)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new OcfPositionDeleteWrite(table, info, cmd)
    }

  override def description(): String = s"graft-ocf merge-on-read $cmd"
}

private[sources] final class OcfPositionDeleteWrite(
    table: CatalogOcfTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.DeltaBatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.write.RowLevelOperation.Command

  private val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
    new IllegalStateException(s"graft-ocf merge-on-read $cmd: Spark " +
      "provided no rowIdSchema"))
  private val fileOrd = rowIdSchema.fieldIndex(OcfDataSource.FileColName)
  private val posOrd = rowIdSchema.fieldIndex(OcfDataSource.PosColName)

  /** Insert-side write (UPDATE/MERGE): built through the NORMAL validated
    * builder — stats/bloom/partition/bucket/transform routing, codec,
    * compat gate — so delta-inserted files are indistinguishable from
    * appended ones, and the delta stream is sorted exactly as an append
    * would be. DELETE never inserts and builds none. */
  private val insertWrite: Option[OcfWrite] =
    if (cmd == Command.DELETE) None
    else Some(new OcfWriteBuilder(info, table.catalogMeta.partCols.toArray,
      table.catalogWriteOptions).build().asInstanceOf[OcfWrite])
  private val insertCfg: Option[OcfWriteConfig] = insertWrite.map(_.config)

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = this

  /** Cluster the delta stream by the INSERT side's layout (identity
    * partitions / transforms / buckets) so replacement rows land one task
    * per directory instead of a sliver per task. Best-effort, not
    * strictly required: delete-only streams and tiny updates should not
    * pay a mandatory exchange. DELETE commands require nothing. */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    insertCfg.map(OcfWrite.clusteredDistributionFor).getOrElse(
      org.apache.spark.sql.connector.distributions.Distributions.unspecified())

  override def distributionStrictlyRequired(): Boolean = false

  /** The insert side's task-local sort (partitions, transforms, bucket,
    * in-file sort): each task's replacement rows arrive directory-
    * contiguous, so the writer seals ONE data file per directory per task
    * — an unsorted delta stream would roll a fresh file at every partition
    * change and leave a scan split per file. */
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    insertWrite.map(_.requiredOrdering()).getOrElse(Array.empty)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    OcfWriteMetrics.all

  override def createBatchWriterFactory(
      pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    OcfPositionDeleteWriterFactory(
      new SerializableHadoopConf(table.hadoopConf),
      table.catalogMeta.location, fileOrd, posOrd, insertCfg)

  private def opName: String = cmd match {
    case Command.DELETE => "delete-rows"
    case Command.UPDATE => "update-rows"
    case Command.MERGE => "merge-rows"
  }

  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val root = new Path(table.catalogMeta.location)
    val fs = root.getFileSystem(table.hadoopConf)
    val qualRoot = fs.makeQualified(root).toString
    val all = messages.toSeq.collect { case m: OcfMorDeltaMessage => m }
    val entries = all.flatMap(_.deletes)
    val dataMsgs = all.flatMap(_.data)
    // land the INSERT files first (temp -> final renames; still invisible
    // until the manifest commit), then the delete files — same discipline
    // as data writes
    insertCfg.foreach(cfg => OcfCommit.renameAll(cfg, fs, dataMsgs.toArray))
    entries.foreach { e =>
      GraftIO.renameOverwrite(fs, fs.getConf, new Path(e.tmp), new Path(e.dest))
    }
    val dataDests: Seq[String] = dataMsgs.flatMap {
      case OcfCommitMessage(files, _) => files.map(f =>
        fs.makeQualified(new Path(f.dest)).toString)
      case _ => Nil
    }
    val slices = (entries.map(e => fs.makeQualified(new Path(e.dest)).toString)
      ++ dataDests).map(qp =>
      OcfDataSource.FileSlice(qp, fs.getFileStatus(new Path(qp)).getLen))
    val metas = OcfDataSource.fetchMetas(table.hadoopConf, slices)
      .map(m => m.path -> m).toMap
    def snap(qp: String, deleteOf: Option[String]): OcfSnapshots.SnapFile = {
      val m = metas(qp)
      OcfSnapshots.SnapFile(OcfSnapshots.relativize(qualRoot, qp), m.len,
        meta = Some(m.copy(
          bloomInHeader = m.bloomJson.isDefined,
          blockIndexInHeader = m.blockIndexJson.isDefined,
          bloomJson = None, blockIndexJson = None,
          partitionValues = Array.empty)),
        deleteOf = deleteOf)
    }
    val added =
      entries.map(e => snap(fs.makeQualified(new Path(e.dest)).toString,
        Some(e.targetRel))) ++
      dataDests.map(snap(_, None))
    OcfSnapshots.commit(fs, root, opName,
      Some(table.catalogMeta.schema.json)) { prev =>
      // a concurrent rewrite/compaction may have replaced a target between
      // our scan and this commit — the recorded ordinals would then refer
      // to a DEAD file. Refuse (optimistic-concurrency conflict) rather
      // than let dropOrphanDeletes silently discard the operation.
      val dataPaths = prev.iterator.filter(_.isData).map(_.path).toSet
      added.foreach(a => a.deleteOf.foreach(t => require(dataPaths.contains(t),
        s"graft-ocf merge-on-read $cmd: data file $t was replaced by a " +
          s"concurrent commit; re-run the $cmd")))
      prev ++ added
    }
    ()
  }

  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val root = new Path(table.catalogMeta.location)
    val fs = root.getFileSystem(table.hadoopConf)
    messages.foreach {
      case OcfMorDeltaMessage(deletes, data) =>
        deletes.foreach { e =>
          val p = new Path(e.tmp)
          if (fs.exists(p)) fs.delete(p, false)
        }
        (insertCfg, data) match {
          case (Some(cfg), Some(d)) => OcfCommit.discard(cfg, Array(d))
          case _ => ()
        }
      case _ => ()
    }
  }
}

private[sources] final case class OcfPositionDeleteEntry(
    tmp: String, dest: String, targetRel: String)
private[sources] final case class OcfMorDeltaMessage(
    deletes: Seq[OcfPositionDeleteEntry],
    data: Option[org.apache.spark.sql.connector.write.WriterCommitMessage])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] final case class OcfPositionDeleteWriterFactory(
    conf: SerializableHadoopConf,
    tableDir: String, fileOrd: Int, posOrd: Int,
    insertCfg: Option[OcfWriteConfig] = None)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new OcfPositionDeleteWriter(conf.value, tableDir, fileOrd, posOrd,
      partitionId, taskId, insertCfg)
}

/** Task-side merge-on-read delta writer: DELETE ids buffer as
  * (target file -> ordinals) — 8 bytes per matched row — and on commit
  * write ONE small OCF per touched data file (`{"pos": long}` datums,
  * sorted, `graft.deleteTarget` header stamp). INSERT rows (UPDATE/MERGE
  * replacements, MERGE NOT MATCHED) stream through a normal
  * [[OcfDataWriter]] under the table's validated write config. */
private[sources] final class OcfPositionDeleteWriter(
    conf: Configuration, tableDir: String, fileOrd: Int, posOrd: Int,
    partitionId: Int, taskId: Long,
    insertCfg: Option[OcfWriteConfig] = None)
    extends org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {

  private val byTarget =
    new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofLong]()
  private var dataWriter: OcfDataWriter = null
  private var deleteFiles = 0L
  private var deleteBytes = 0L

  override def delete(metadata: org.apache.spark.sql.catalyst.InternalRow,
                      id: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    val file = id.getUTF8String(fileOrd).toString
    val pos = id.getLong(posOrd)
    var b = byTarget.get(file)
    if (b == null) {
      b = new scala.collection.mutable.ArrayBuilder.ofLong
      byTarget.put(file, b)
    }
    b += pos
  }

  override def update(metadata: org.apache.spark.sql.catalyst.InternalRow,
                      id: org.apache.spark.sql.catalyst.InternalRow,
                      row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    // representUpdateAsDeleteAndInsert is declared, so Spark normally
    // splits updates before they reach the writer — honor the pair form
    // anyway rather than refuse
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    val cfg = insertCfg.getOrElse(throw new IllegalStateException(
      "graft-ocf merge-on-read DELETE received an insert row"))
    if (dataWriter == null)
      dataWriter = new OcfDataWriter(cfg,
        f"part-u$partitionId%05d-$taskId-${cfg.jobId}.avro",
        f".part-u$partitionId%05d-$taskId-${cfg.jobId}.avro.tmp")
    dataWriter.write(row)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    import scala.jdk.CollectionConverters._
    val root = new Path(tableDir)
    val fs = root.getFileSystem(conf)
    val qualRoot = fs.makeQualified(root).toString
    val entries = byTarget.asScala.toSeq.sortBy(_._1).map { case (target, b) =>
      val positions = b.result()
      java.util.Arrays.sort(positions)
      val targetRel = OcfSnapshots.relativize(qualRoot, target)
      // underscore prefix: invisible to every data-file listing; only the
      // manifest (deleteOf entries) makes delete files reachable
      val name = f"_delete-p$partitionId%05d-$taskId-" +
        s"${java.util.UUID.randomUUID()}.avro"
      val tmp = new Path(root, s".$name.tmp")
      val bytes = OcfPositionDeleteWriter.render(positions, targetRel)
      val out = GraftIO.create(fs, tmp, false)
      try out.write(bytes)
      finally out.close()
      deleteFiles += 1
      deleteBytes += bytes.length
      OcfPositionDeleteEntry(tmp.toString, new Path(root, name).toString, targetRel)
    }
    OcfMorDeltaMessage(entries,
      if (dataWriter == null) None else Some(dataWriter.commit()))
  }

  /** The insert side's files, rows and bytes plus the delete files written
    * at commit (their ordinals are not counted as rows). */
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val data = if (dataWriter == null) Map.empty[String, Long]
      else dataWriter.currentMetricsValues().map(m => m.name -> m.value).toMap
    Array(
      OcfTaskMetric("ocfFilesWritten", data.getOrElse("ocfFilesWritten", 0L) + deleteFiles),
      OcfTaskMetric("ocfRowsWritten", data.getOrElse("ocfRowsWritten", 0L)),
      OcfTaskMetric("ocfBytesWritten", data.getOrElse("ocfBytesWritten", 0L) + deleteBytes))
  }

  override def abort(): Unit = {
    if (dataWriter != null) dataWriter.abort()
    () // delete temps are only created in commit(); nothing before that
  }
  override def close(): Unit = if (dataWriter != null) dataWriter.close()
}

private[sources] object OcfPositionDeleteWriter {
  /** Avro schema of a position-delete datum: one long, the deleted row's
    * ordinal in its target file (the target rides the header, not rows). */
  val DeleteSchemaJson: String =
    """{"type":"record","name":"graft_position_delete","fields":[{"name":"pos","type":"long"}]}"""

  /** Render a complete delete OCF: header (schema, null codec, deleteTarget
    * + rows stamps) and blocks of zigzag-varint ordinals. */
  def render(positions: Array[Long], targetRel: String): Array[Byte] = {
    val sync = new Array[Byte](graft.avro.Ocf.SyncSize)
    new java.security.SecureRandom().nextBytes(sync)
    val meta = scala.collection.mutable.LinkedHashMap[String, Array[Byte]](
      "avro.schema" -> DeleteSchemaJson.getBytes("UTF-8"),
      "avro.codec" -> "null".getBytes("UTF-8"),
      "graft.deleteTarget" -> targetRel.getBytes("UTF-8"),
      "graft.rows" -> positions.length.toString.getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(graft.avro.Ocf.headerBytes(meta, sync))
    var i = 0
    val perBlock = 65536
    while (i < positions.length) {
      val n = math.min(perBlock, positions.length - i)
      val body = new graft.avro.AvroBinaryWriter()
      var k = 0
      while (k < n) { body.writeLong(positions(i + k)); k += 1 }
      val data = body.toByteArray
      val frame = new graft.avro.AvroBinaryWriter()
      frame.writeLong(n.toLong)
      frame.writeLong(data.length.toLong)
      frame.writeFixed(data)
      frame.writeFixed(sync)
      out.write(frame.toByteArray)
      i += n
    }
    out.toByteArray
  }
}

/** The `<table>.files` METADATA table: one row per data file with its size,
  * sealed-row-count stamp, codec, partition values and stamp inventory —
  * answered entirely from file headers at PLAN time (the same one-pread-per-
  * file resolution as query planning; no data block is ever read). The
  * Iceberg `table.files` observability analog: `WHERE rows IS NULL` finds
  * unstamped files, `ORDER BY size_bytes` finds compaction candidates. */
private[sources] final class OcfFilesMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta, conf: Configuration)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("codec", StringType, nullable = false),
    StructField("partition", MapType(StringType, StringType, valueContainsNull = true),
      nullable = false),
    StructField("sorted_by", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("has_stats", BooleanType, nullable = false),
    StructField("has_bloom", BooleanType, nullable = false),
    StructField("has_block_index", BooleanType, nullable = false),
    // 'data' | 'position-deletes' (X87); delete rows also name their target
    StructField("content", StringType, nullable = false),
    StructField("delete_of", StringType, nullable = true)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft-ocf FILES metadata of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          // snapshot-aware: manifest metas answer without header preads,
          // and retained time-travel files are not the table
          val (layoutCols, metas) = GraftCatalog.tableFileMetas(meta, conf)
          if (metas.isEmpty) return Array.empty
          metas.map { m =>
            val part = org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              layoutCols.indices.map(i => UTF8String.fromString(layoutCols(i))).toArray[Any],
              layoutCols.indices.map(i =>
                if (i < m.partitionValues.length && m.partitionValues(i) != null)
                  UTF8String.fromString(m.partitionValues(i))
                else null).toArray[Any])
            val sortedBy = m.sortedByJson.flatMap(OcfPartitions.parseSortedBy).map(cols =>
              new org.apache.spark.sql.catalyst.util.GenericArrayData(
                cols.map(UTF8String.fromString).toArray[Any])).orNull
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
              UTF8String.fromString(m.path),
              m.len,
              m.rowsStamp.map(java.lang.Long.valueOf).orNull,
              UTF8String.fromString(m.codecName),
              part,
              sortedBy,
              m.statsJson.isDefined,
              m.bloomJson.isDefined || m.bloomInHeader,
              m.blockIndexJson.isDefined || m.blockIndexInHeader,
              UTF8String.fromString("data"),
              null))
          }.toArray ++ deleteRows(layoutCols)
        }

        /** Position-delete files (X87): listed alongside data files with
          * content='position-deletes' and their target path — the
          * observability `WHERE content != 'data'` needs to find tables
          * due a rewrite_position_deletes. */
        private def deleteRows(layoutCols: Seq[String])
            : Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val root = new Path(meta.location)
          val fsys = root.getFileSystem(conf)
          if (!OcfSnapshots.enabled(fsys, root)) return Array.empty
          val base = fsys.makeQualified(root)
          val emptyPart = org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            layoutCols.map(c => UTF8String.fromString(c): Any).toArray,
            layoutCols.map(_ => null: Any).toArray)
          OcfSnapshots.latest(fsys, root).map(_.files).getOrElse(Nil)
            .filterNot(_.isData).map { sf =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
                UTF8String.fromString(new Path(base, sf.path).toString),
                sf.len,
                sf.meta.flatMap(_.rowsStamp).map(java.lang.Long.valueOf).orNull,
                UTF8String.fromString(sf.meta.map(_.codecName).getOrElse("null")),
                emptyPart,
                null,
                false,
                false,
                false,
                UTF8String.fromString(
                  if (sf.isPositionDelete) "position-deletes"
                  else "equality-deletes"),
                // target: the position delete's one file, or the equality
                // delete's key columns (its burden is seq-wide)
                UTF8String.fromString(sf.deleteOf.getOrElse(
                  sf.equalityOf.map(_.mkString(",")).getOrElse("")))))
            }.toArray
        }
      }
    }
}

/** `SELECT * FROM <cat>.<ns>.<table>.manifests` — one row per retained
  * manifest with its PHYSICAL shape: kind (full checkpoint vs delta),
  * serialized size, entry/remove counts and the delta's checkpoint stamp.
  * The observability face of the O(delta) commit layer: `WHERE kind =
  * 'delta' AND version - checkpoint > N` finds tables due a
  * `rewrite_manifests`, and the size column shows commit cost staying
  * O(delta) as the table grows. Manifest JSONs only — no data touched. */
private[sources] final class OcfManifestsMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta, conf: Configuration)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("entries", LongType, nullable = false),
    StructField("removes", LongType, nullable = false),
    StructField("checkpoint", LongType, nullable = true)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String =
          s"graft-ocf MANIFESTS metadata of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val root = new Path(meta.location)
          val fsys = root.getFileSystem(conf)
          if (!OcfSnapshots.enabled(fsys, root)) return Array.empty
          OcfSnapshots.manifestSummaries(fsys, root).map { m =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
              m.version,
              m.timestampMs * 1000L,
              UTF8String.fromString(m.operation),
              UTF8String.fromString(if (m.isFull) "full" else "delta"),
              m.sizeBytes,
              m.entries.toLong,
              m.removes.toLong,
              if (m.ckpt >= 0) java.lang.Long.valueOf(m.ckpt) else null))
          }.toArray
        }
      }
    }
}

/** Zero-row scan of a known schema — what an empty catalog table reads as.
  * Echoes pruned columns (including metadata columns like `_file`) so plans
  * that reference them — a MERGE's target scan, say — stay resolved. */
private[sources] final class EmptyOcfScanBuilder(schema: StructType)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var out: StructType = schema
  override def pruneColumns(required: StructType): Unit = { out = required }
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = out
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
          throw new IllegalStateException("empty scan plans no partitions")
      }
    override def description(): String = s"graft-ocf EMPTY ${schema.simpleString}"
  }
}

/** `SELECT * FROM <cat>.<ns>.<table>.history` — one row per snapshot
  * commit ([[OcfSnapshots]]): version, commit time, operation, file count
  * and total visible bytes. The Iceberg `table.history`/`snapshots`
  * observability surface, answered from the manifest JSONs alone — zero
  * data files touched at any table size. */
private[sources] final class OcfHistoryMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta, conf: Configuration)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft-ocf HISTORY of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val root = new Path(meta.location)
          val fsys = root.getFileSystem(conf)
          OcfSnapshots.versions(fsys, root).map { v =>
            val s = OcfSnapshots.read(fsys, root, v)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
              s.version,
              s.timestampMs * 1000L, // internal timestamps are micros
              UTF8String.fromString(s.operation),
              s.files.length.toLong,
              s.files.map(_.len).sum))
          }.toArray
        }
      }
    }
}

/** `SELECT * FROM <cat>.<ns>.<table>.constraints` — one row per stored
  * CHECK constraint (X82): name, predicate SQL, enforced/rely flags and
  * validation status, straight from the descriptor. */
private[sources] final class OcfConstraintsMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("predicate", StringType, nullable = false),
    StructField("enforced", BooleanType, nullable = false),
    StructField("rely", BooleanType, nullable = false),
    StructField("status", StringType, nullable = false)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft-ocf CONSTRAINTS of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          GraftCatalog.constraintsOf(meta.options).sortBy(_.name).map { c =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
              UTF8String.fromString(c.name), UTF8String.fromString(c.predicateSql),
              c.enforced, c.rely, UTF8String.fromString(c.validationStatus.name)))
          }.toArray
        }
      }
    }
}

/** `SELECT * FROM <cat>.<ns>.<table>.tags` — one row per named snapshot
  * (tag → pinned version + that manifest's commit time), from two small
  * JSONs. The audit surface for "what can a training run still re-read". */
private[sources] final class OcfTagsMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta, conf: Configuration)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft-ocf TAGS of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val root = new Path(meta.location)
          val fsys = root.getFileSystem(conf)
          OcfSnapshots.readTags(fsys, root).toSeq.sortBy(_._1).map {
            case (nm, v) =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
                UTF8String.fromString(nm), v,
                OcfSnapshots.timestampOf(fsys, root, v) * 1000L))
          }.toArray
        }
      }
    }
}

/** `SELECT * FROM <cat>.<ns>.<table>.branches` — one row per WAP branch
  * (X83): name, base version, head version (= base before any branch
  * commit), commit count, and the branch head's file/byte totals. The
  * "what audit sets are in flight" rollup, from manifest JSONs alone. */
private[sources] final class OcfBranchesMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta, conf: Configuration)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("base_version", LongType, nullable = false),
    StructField("head_version", LongType, nullable = false),
    StructField("n_commits", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft-ocf BRANCHES of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val root = new Path(meta.location)
          val fsys = root.getFileSystem(conf)
          OcfSnapshots.listBranches(fsys, root).map { b =>
            val base = OcfSnapshots.branchBase(fsys, root, b)
            val head = OcfSnapshots.branchHead(fsys, root, b)
            val commits = OcfSnapshots.branchVersions(fsys, root, b).length.toLong
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
              UTF8String.fromString(b), base, head.version, commits,
              head.files.length.toLong, head.files.map(_.len).sum))
          }.toArray
        }
      }
    }
}

/** `SELECT * FROM <cat>.<ns>.<table>.partitions` - one row per partition
  * tuple: file count, stamped row total (null when any file lacks a row
  * stamp - never a guess), and byte size. The operational rollup behind
  * "which partitions are skewed / fragmented / due for compaction",
  * answered from manifest metas (or one header pread per uncovered file),
  * zero data blocks read. */
private[sources] final class OcfPartitionsMetaTable(
    fullName: String, meta: GraftCatalog.TableMeta, conf: Configuration)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val outSchema = StructType(Seq(
    StructField("partition", MapType(StringType, StringType, valueContainsNull = true),
      nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = false)))

  override def name(): String = fullName
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft-ocf PARTITIONS rollup of ${meta.location}"
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val (layoutCols, metas) = GraftCatalog.tableFileMetas(meta, conf)
          if (metas.isEmpty) return Array.empty
          metas.groupBy(_.partitionValues.toSeq).toSeq
            .sortBy(_._1.map(v => if (v == null) "" else v).mkString(" "))
            .map { case (vals, fs) =>
              val part = org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
                layoutCols.indices.map(i =>
                  UTF8String.fromString(layoutCols(i))).toArray[Any],
                layoutCols.indices.map(i =>
                  if (i < vals.length && vals(i) != null)
                    UTF8String.fromString(vals(i))
                  else null).toArray[Any])
              val rowsTotal: Any =
                if (fs.forall(_.rowsStamp.isDefined))
                  java.lang.Long.valueOf(fs.map(_.rowsStamp.get).sum)
                else null
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
                part, fs.length.toLong, rowsTotal, fs.map(_.len).sum))
            }.toArray
        }
      }
    }
}
