package graft.sources

import java.io.IOException

import graft.avro._
import graft.spark.{AvroRuntime, CatalystAvroWriter, InternalRowGetters, SchemaConverters}
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** DataSource V2 WRITE path for Avro Object Container Files — the sink
  * mirror of [[OcfDataSource]]: `df.write.format("graft-ocf")` (batch) and
  * `df.writeStream.format("graft-ocf")` (streaming), completing the
  * source/sink symmetry the reference expresses as producer + consumer of
  * the same container format (python-udf/avro/datafile.py:140-289
  * DataFileWriter vs :292-479 DataFileReader).
  *
  * Scale shape (the 100 TB story):
  *  - each TASK streams its partition's rows straight to one OCF file via
  *    [[graft.avro.OcfStreamWriter]] — memory bounded by one ~64 KB block,
  *    no driver funnel, no shuffle: writing fans out exactly as wide as the
  *    upstream plan;
  *  - row→datum encoding reuses the compiled [[CatalystAvroWriter]]
  *    (one compile per executor via [[AvroRuntime]]'s caches, same as the
  *    read side), fields matched to Avro record fields BY NAME (positional
  *    pairing would silently swap same-typed columns);
  *  - commit protocol: tasks write DOT-PREFIXED temp files (invisible to
  *    [[OcfDataSource]]'s listing and to Spark's own file index), the driver
  *    renames them into place on job/epoch commit — a half-written job is
  *    never observable as data;
  *  - empty partitions produce NO file (a 10k-partition plan with 12
  *    non-empty partitions writes 12 files, not 10k headers);
  *  - streaming epochs use DETERMINISTIC final names
  *    (`part-<epoch>-<partition>.avro`), so a replayed epoch after failure
  *    overwrites its own output — idempotent, giving exactly-once file
  *    contents downstream of Spark's checkpointed offset log.
  *
  * Options: `avroSchema` (explicit writer schema JSON; default derived from
  * the query schema via [[SchemaConverters.toAvroType]]), `codec`
  * (null/deflate/snappy/zstandard/bzip2; default null), `blockBytes`
  * (block flush threshold; default [[Ocf.SyncInterval]]),
  * `maxBytesPerFile` (roll a task's output to a new file past this size;
  * default unbounded).
  * `mode("overwrite")` clears the directory's visible files at commit
  * (`SupportsTruncate`); `mode("append")` adds files.
  */
private[sources] final class OcfWriteBuilder(info: LogicalWriteInfo,
                                             partCols: Array[String],
                                             baseOptions: Map[String, String] = Map.empty,
                                             replaceFiles: Option[() => Seq[String]] = None)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var truncateAll = false
  private var overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None
  private var dynamicOverwrite = false
  override def truncate(): WriteBuilder = { truncateAll = true; this }
  /** Static partition overwrite (`INSERT OVERWRITE … PARTITION (col=v)`):
    * the matching files are replaced at commit. Validation (the predicate
    * must be partition-exact — file granularity is only row-exact then)
    * happens in [[build]], where the effective partition columns are
    * known. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncateAll = true
    else overwriteFilters = Some(filters.toSeq)
    this
  }
  /** Dynamic partition overwrite: at commit, exactly the partition
    * directories receiving new files are cleared first — untouched
    * partitions survive (`spark.sql.sources.partitionOverwriteMode=dynamic`). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true
    this
  }

  override def build(): Write = {
    // catalog tables inject their stored location + write options as the
    // base layer; per-statement options (DataFrameWriter .option) win
    val opts =
      if (baseOptions.isEmpty) info.options()
      else {
        val m = new java.util.HashMap[String, String]()
        baseOptions.foreach { case (k, v) => m.put(k, v) }
        m.putAll(info.options().asCaseSensitiveMap())
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
    val dir = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-ocf write: no 'path' specified"))
    val sql = info.schema()
    // `partitionBy(cols)`: those columns become hive-style `col=value/`
    // directory levels and are DROPPED from file contents — the directory
    // name is their storage. Batch writes deliver the columns as identity
    // transforms; STREAMING writes must use `.option("partitionBy", "a,b")`
    // because DataStreamWriter silently drops partitionBy for V2 tables.
    // Resolve against the query schema (exact name first, then unique
    // case-insensitive).
    val optionCols: Array[String] = Option(opts.get("partitionBy"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty)
    require(partCols.isEmpty || optionCols.isEmpty ||
        (partCols.length == optionCols.length &&
          partCols.zip(optionCols).forall { case (a, b) => a.equalsIgnoreCase(b) }),
      s"graft-ocf write: partitionBy(${partCols.mkString(",")}) and " +
        s"option partitionBy=${optionCols.mkString(",")} disagree")
    val effectiveCols = if (partCols.nonEmpty) partCols else optionCols
    val partOrdinals: Array[Int] = effectiveCols.map { pc =>
      val exact = sql.fields.indexWhere(_.name == pc)
      val i = if (exact >= 0) exact else sql.fields.indexWhere(_.name.equalsIgnoreCase(pc))
      if (i < 0) throw new IllegalArgumentException(
        s"graft-ocf write: partition column '$pc' is not in the query schema " +
          s"(${sql.fieldNames.mkString(", ")})")
      i
    }
    partOrdinals.foreach { i =>
      sql.fields(i).dataType match {
        // DateType is faithful too: the internal Int day count sorts
        // identically to its ISO `yyyy-MM-dd` rendering, and the read side
        // re-infers DateType from the canonical directory strings
        case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DateType |
             (_: org.apache.spark.sql.types.DecimalType) => ()
        // float/double partition values are rejected outright: the sort
        // that makes partition directories task-contiguous compares -0.0
        // and 0.0 (and NaN payload variants) EQUAL while their directory
        // strings differ, so a task could revisit a directory and clobber
        // its own sealed file — and a base-10 directory name round-trips
        // binary floats lossily anyway
        case dt => throw new IllegalArgumentException(
          s"graft-ocf write: partition column '${sql.fields(i).name}' has type " +
            s"${dt.simpleString}; only string/integer/decimal/boolean values " +
            "have a faithful, sort-consistent directory-name representation")
      }
    }
    // `changeColumn` (X99): apply-changes sink — the named STRING column
    // tags each row with its CDC change type instead of being stored.
    // insert/update/update_postimage rows take the normal upsert path
    // (data + equality-delete key); delete rows land ONLY their key
    // (row-level delete with no target scan); update_preimage rows are
    // ignored. Composes a table's change feed (X92/X95) directly into a
    // mirror: readStream changes -> writeStream applyChanges.
    val changeOrdinal: Int = Option(opts.get("changeColumn")).map(_.trim)
      .filter(_.nonEmpty).map { cn =>
        val exact = sql.fields.indexWhere(_.name == cn)
        val i =
          if (exact >= 0) exact
          else {
            val ms = sql.fields.indices.filter(j =>
              sql.fields(j).name.equalsIgnoreCase(cn))
            require(ms.length <= 1,
              s"graft-ocf write: changeColumn '$cn' is ambiguous under " +
                s"case-insensitive resolution (${ms.map(sql.fields(_).name)
                  .mkString(", ")})")
            ms.headOption.getOrElse(-1)
          }
        require(i >= 0, s"graft-ocf write: changeColumn '$cn' is not in " +
          s"the query schema (${sql.fieldNames.mkString(", ")})")
        require(sql.fields(i).dataType ==
            org.apache.spark.sql.types.StringType,
          s"graft-ocf write: changeColumn '$cn' has type " +
            s"${sql.fields(i).dataType.simpleString}; change types are strings")
        require(!partOrdinals.contains(i),
          s"graft-ocf write: changeColumn '$cn' cannot be a partition column")
        i
      }.getOrElse(-1)
    val dataSql = StructType(sql.fields.zipWithIndex.collect {
      case (f, i) if !partOrdinals.contains(i) && i != changeOrdinal => f
    })
    require(dataSql.fields.nonEmpty,
      "graft-ocf write: every column is a partition column; nothing to store in files")
    val avroJson = Option(opts.get("avroSchema")).getOrElse(
      AvroSchemaParser.toJson(SchemaConverters.toAvroType(dataSql)))
    if (effectiveCols.nonEmpty) {
      val avroFields = OcfWrite.recordOf(avroJson).fields.map(_.name)
      effectiveCols.foreach(pc => require(!avroFields.exists(_.equalsIgnoreCase(pc)),
        s"graft-ocf write: partition column '$pc' must not appear in the Avro " +
          "schema — partition values live in directory names, not file contents"))
    }
    // `statsColumns`: orderable primitives whose per-file min/max the sink
    // stamps into the OCF header (`graft.stats`) for read-side file
    // skipping and min/max pushdown — top-level columns OR dotted paths to
    // a leaf inside nested structs (`info.score`), stamped under the dotted
    // name so the scan's nested-predicate filters find them directly
    // (parquet likewise stamps leaf stats at every depth). Costs one
    // sequential re-copy of each sealed file (the OCF header precedes the
    // data it describes), so it is opt-in. `statsColumns=auto` stamps every
    // eligible TOP-LEVEL data column.
    def statsEligible(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val statsNames: Array[String] = Option(opts.get("statsColumns")) match {
      case Some(v) if v.equalsIgnoreCase("auto") =>
        sql.fields.zipWithIndex.collect {
          case (f, i) if !partOrdinals.contains(i) && statsEligible(f.dataType) => f.name
        }
      case Some(v) => v.split(",").map(_.trim).filter(_.nonEmpty)
      case None => Array.empty
    }
    val statsCols: Array[OcfWrite.StatCol] = statsNames.map { sc =>
      val col = OcfWrite.resolveStatPath(sql, sc).getOrElse(
        throw new IllegalArgumentException(
          s"graft-ocf write: statsColumns entry '$sc' is not in the query " +
            "schema (top-level column or dotted struct path)"))
      if (col.path.length == 1)
        require(!partOrdinals.contains(col.path(0)),
          s"graft-ocf write: statsColumns entry '$sc' is a partition column; " +
            "partition values are already exact in the path")
      if (!statsEligible(col.dt)) throw new IllegalArgumentException(
        s"graft-ocf write: statsColumns entry '$sc' has type " +
          s"${col.dt.simpleString}; " +
          "only numeric and string leaves carry range stats")
      col
    }
    // `bloomColumns`: per-file Bloom filters stamped into the header
    // (`graft.bloom`) for read-side EXACT-MATCH file skipping — the point-
    // lookup complement to statsColumns' range skipping. Integral + string
    // LEAVES only (equality on float is ill-defined); like statsColumns,
    // an entry may be a top-level column or a dotted struct path, stamped
    // under the dotted name Spark's nested-predicate pushdown emits.
    val bloomCols: Array[OcfWrite.StatCol] = Option(opts.get("bloomColumns")) match {
      case Some(v) =>
        v.split(",").map(_.trim).filter(_.nonEmpty).map { bc =>
          val col = OcfWrite.resolveStatPath(sql, bc).getOrElse(
            throw new IllegalArgumentException(
              s"graft-ocf write: bloomColumns entry '$bc' is not in the query " +
                "schema (top-level column or dotted struct path)"))
          if (col.path.length == 1)
            require(!partOrdinals.contains(col.path(0)),
              s"graft-ocf write: bloomColumns entry '$bc' is a partition column; " +
                "partition values are already exact in the path")
          if (!OcfBloom.eligible(col.dt)) throw new IllegalArgumentException(
            s"graft-ocf write: bloomColumns entry '$bc' has type " +
              s"${col.dt.simpleString}; " +
              "only integral and string leaves carry Bloom filters")
          col
        }
      case None => Array.empty
    }
    val bloomFpp = Option(opts.get("bloomFpp")).map(_.toDouble).getOrElse(0.01)
    require(bloomFpp > 0 && bloomFpp < 0.5,
      s"graft-ocf write: bloomFpp must be in (0, 0.5), got $bloomFpp")
    val bloomMaxItems = Option(opts.get("bloomMaxItems")).map(_.toInt).getOrElse(1000000)
    require(bloomMaxItems > 0,
      s"graft-ocf write: bloomMaxItems must be positive, got $bloomMaxItems")
    // `blockIndex=true`: additionally stamp a PER-BLOCK min/max index
    // (`graft.blockIndex`) over the statsColumns set — the read side plans
    // block-aligned splits and prunes non-matching blocks INSIDE a file,
    // the parquet row-group-pruning analog (file-level stats stop helping
    // once files are GBs)
    val blockIndex = Option(opts.get("blockIndex")).exists(_.toBoolean)
    require(!blockIndex || statsCols.nonEmpty,
      "graft-ocf write: blockIndex=true requires statsColumns (the index " +
        "stamps per-block bounds for exactly those columns)")
    val blockIndexMaxEntries =
      Option(opts.get("blockIndexMaxEntries")).map(_.toInt).getOrElse(8192)
    require(blockIndexMaxEntries > 0,
      s"graft-ocf write: blockIndexMaxEntries must be positive, got $blockIndexMaxEntries")
    // `sortColumns`: the SINK requests a task-local sort on these columns
    // (after the partition columns) via RequiresDistributionAndOrdering, so
    // block indexes and min/max stamps get tight, disjoint ranges without
    // the caller pre-sorting — clustering as a storage property, the way a
    // table format owns its layout
    val sortNames: Array[String] = Option(opts.get("sortColumns")) match {
      case Some(v) =>
        v.split(",").map(_.trim).filter(_.nonEmpty).map { sc =>
          val exact = sql.fields.indexWhere(_.name == sc)
          val i = if (exact >= 0) exact else sql.fields.indexWhere(_.name.equalsIgnoreCase(sc))
          if (i < 0) throw new IllegalArgumentException(
            s"graft-ocf write: sortColumns entry '$sc' is not in the query schema")
          require(!partOrdinals.contains(i),
            s"graft-ocf write: sortColumns entry '$sc' is a partition column; " +
              "partition columns are already sorted first")
          sql.fields(i).name
        }
      case None => Array.empty
    }
    // `bucketColumns` + `numBuckets`: hash-bucketed layout ([[OcfBucket]]).
    // Bucket columns are DATA columns (they stay in the files); only the
    // stable hash of their values becomes the trailing `_bucket=K/`
    // directory level. Catalog-managed writes only: clustering the incoming
    // rows by bucket rides the write's required distribution, whose
    // `bucket(N, col)` transform Spark resolves through the table catalog's
    // V2 function catalog — a bare path write has none to resolve against.
    val bucketNames: Array[String] = Option(opts.get("bucketColumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty)
    val numBuckets: Int = Option(opts.get("numBuckets")).map(_.toInt).getOrElse(0)
    require(bucketNames.isEmpty == (numBuckets == 0),
      "graft-ocf write: bucketColumns and numBuckets must be set together")
    val bucketOrdinals: Array[Int] = bucketNames.map { bc =>
      val exact = sql.fields.indexWhere(_.name == bc)
      val i = if (exact >= 0) exact else sql.fields.indexWhere(_.name.equalsIgnoreCase(bc))
      if (i < 0) throw new IllegalArgumentException(
        s"graft-ocf write: bucket column '$bc' is not in the query schema " +
          s"(${sql.fieldNames.mkString(", ")})")
      require(!partOrdinals.contains(i),
        s"graft-ocf write: bucket column '$bc' is a partition column; a " +
          "value with its own directory needs no hash routing")
      require(OcfBucket.supportedType(sql.fields(i).dataType),
        s"graft-ocf write: bucket column '$bc' has type " +
          s"${sql.fields(i).dataType.simpleString}; bucket keys must be " +
          "string/binary/boolean/integral/date")
      i
    }
    val bucketNoClustering =
      Option(opts.get("graft.bucketNoClustering")).exists(_.toBoolean)
    if (numBuckets > 0) {
      require(numBuckets > 1,
        s"graft-ocf write: numBuckets must be > 1, got $numBuckets")
      require(bucketNoClustering ||
          Option(opts.get("graft.catalogWrite")).exists(_.toBoolean),
        "graft-ocf write: bucketed writes go through a catalog table " +
          "(CREATE TABLE ... PARTITIONED BY (bucket(N, col))); a bare path " +
          "write cannot cluster rows by bucket — Spark resolves the " +
          "bucket transform via the table's function catalog")
      require(!sql.fieldNames.exists(c => OcfBucket.isLevel(c) ||
          c.equalsIgnoreCase(OcfBucket.DirCol)),
        s"graft-ocf write: a column collides with the bucket directory " +
          s"level (${OcfBucket.DirCol} / ${OcfBucket.DirCol}N)")
    }
    // `transformPartitions` (X88): hidden time/truncate partition levels.
    // Like bucketing, the source columns stay DATA columns; only the
    // transform ordinal's rendering becomes a `_p_<kind>_<col>=v/` level.
    val transformSpecs: Seq[OcfTransforms.Spec] =
      Option(opts.get("transformPartitions")).map(OcfTransforms.parseList)
        .getOrElse(Nil)
    val transformOrdinals: Array[Int] = transformSpecs.map { spec =>
      val exact = sql.fields.indexWhere(_.name == spec.col)
      val i = if (exact >= 0) exact
        else sql.fields.indexWhere(_.name.equalsIgnoreCase(spec.col))
      if (i < 0) throw new IllegalArgumentException(
        s"graft-ocf write: transform column '${spec.col}' is not in the " +
          s"query schema (${sql.fieldNames.mkString(", ")})")
      require(!partOrdinals.contains(i),
        s"graft-ocf write: transform column '${spec.col}' is a partition " +
          "column; a value with its own directory needs no transform")
      require(OcfTransforms.supportedType(spec.kind, sql.fields(i).dataType),
        s"graft-ocf write: ${spec.kind}(${spec.col}) does not support type " +
          sql.fields(i).dataType.simpleString)
      i
    }.toArray
    if (transformSpecs.nonEmpty) {
      require(Option(opts.get("graft.catalogWrite")).exists(_.toBoolean),
        "graft-ocf write: transform-partitioned writes go through a catalog " +
          "table (CREATE TABLE ... PARTITIONED BY (days(col), ...)); a bare " +
          "path write cannot cluster rows by transform")
      transformSpecs.foreach(spec =>
        require(!sql.fieldNames.exists(_.equalsIgnoreCase(spec.dirCol)),
          s"graft-ocf write: column '${spec.dirCol}' collides with the " +
            "transform directory level"))
    }
    // `upsertKeys` (X94): merge-on-read upsert — the batch's key tuples
    // land in equality-delete files alongside the data, deleting all OLDER
    // rows with those keys in one commit and NEVER scanning the target
    // (the CDC-ingest shape). Keys must be data columns with exact-equality
    // semantics; the write must commit through a snapshot manifest (the
    // delete entry has no meaning in a bare directory listing).
    //
    // IN-BATCH DUPLICATE KEYS: the equality delete kills only rows with a
    // STRICTLY OLDER seq, so two rows with the same key inside ONE batch
    // BOTH survive — Iceberg's equality-delete semantics exactly. A CDC
    // feed carrying several events per key per epoch must pre-collapse to
    // the last event (e.g. window-rank on the change timestamp) before
    // writing; the sink cannot know which duplicate is "last" once rows
    // are distributed across tasks. Pinned by EqualityDeleteSpec.
    val upsertKeysRaw: Array[String] = Option(opts.get("upsertKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty)
    // resolve key names under the session's resolver (case-insensitive by
    // default, like every other column reference) and CANONICALIZE to the
    // data column's declared name — the writer and the manifest entry then
    // always carry the exact schema spelling
    val upsertKeys: Array[String] = upsertKeysRaw.map { k =>
      val exact = dataSql.fields.indexWhere(_.name == k)
      val i =
        if (exact >= 0 || org.apache.spark.sql.SparkSession.active
            .sessionState.conf.caseSensitiveAnalysis) exact
        else {
          val ms = dataSql.fields.indices.filter(j =>
            dataSql.fields(j).name.equalsIgnoreCase(k))
          require(ms.length <= 1,
            s"graft-ocf write: upsertKeys entry '$k' is ambiguous under " +
              s"case-insensitive resolution (${ms.map(dataSql.fields(_).name)
                .mkString(", ")})")
          ms.headOption.getOrElse(-1)
        }
      require(i >= 0,
        s"graft-ocf write: upsertKeys entry '$k' is not a data column " +
          s"(${dataSql.fieldNames.mkString(", ")}); partition columns " +
          "cannot key an upsert")
      dataSql.fields(i).name
    }
    if (upsertKeys.nonEmpty) {
      require(!truncateAll && overwriteFilters.isEmpty && !dynamicOverwrite,
        "graft-ocf write: upsertKeys composes with APPEND only — an " +
          "overwrite already replaces the rows an upsert would delete")
      upsertKeys.foreach { k =>
        val i = dataSql.fields.indexWhere(_.name == k)
        dataSql.fields(i).dataType match {
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.BooleanType |
               org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => ()
          case dt => throw new IllegalArgumentException(
            s"graft-ocf write: upsertKeys entry '$k' has type " +
              s"${dt.simpleString}; keys need exact equality " +
              "(string/integral/boolean/date/timestamp)")
        }
      }
      val snapshotted = Option(opts.get("graft.snapshots")).exists(_.toBoolean) ||
        OcfSnapshots.enabled(
          new Path(dir).getFileSystem(
            org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()),
          new Path(dir))
      require(snapshotted,
        "graft-ocf write: upsertKeys needs a snapshot-managed table — the " +
          "equality-delete entry lives in the manifest; a bare directory " +
          "listing would read the key file as table data")
    }
    require(changeOrdinal < 0 || upsertKeys.nonEmpty,
      "graft-ocf write: changeColumn needs upsertKeys — delete rows carry " +
        "no position, so they can only identify their victims by key")
    val codecName = Option(opts.get("codec")).getOrElse("null")
    AvroCodecs(codecName) // fail the PLAN on an unknown codec, not a task
    val blockBytes = Option(opts.get("blockBytes")).map(_.toInt).getOrElse(Ocf.SyncInterval)
    require(blockBytes > 0, s"graft-ocf write: blockBytes must be positive, got $blockBytes")
    val maxBytesPerFile = Option(opts.get("maxBytesPerFile")).map(_.toLong).getOrElse(Long.MaxValue)
    require(maxBytesPerFile > 0, s"graft-ocf write: maxBytesPerFile must be positive, got $maxBytesPerFile")
    // opt-in append-time schema guard: a directory's existing consumers read
    // every file against ONE reader schema (by convention the first file's),
    // so an append whose schema that reader cannot resolve bricks the whole
    // directory for them. compatCheck=backward fails such appends AT PLAN
    // TIME with the checker's typed incompatibilities (G6) instead of at
    // some future reader's runtime. An OVERWRITE (truncate) replaces every
    // file the gate would protect, so the check is skipped — an
    // intentionally incompatible rewrite is the point of overwriting.
    Option(opts.get("compatCheck")).foreach {
      case "none" => ()
      case "backward" => if (!truncateAll) OcfWrite.checkBackwardCompat(dir, avroJson)
      case other => throw new IllegalArgumentException(
        s"graft-ocf write: compatCheck must be 'none' or 'backward', got '$other'")
    }
    val cfg = OcfWriteConfig(dir, sql, avroJson,
      OcfWrite.fieldOrdinals(sql, avroJson), codecName, blockBytes,
      new SerializableHadoopConf(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()),
      info.queryId(), maxBytesPerFile,
      partNames = partOrdinals.map(sql.fields(_).name),
      partOrdinals = partOrdinals,
      bucketNames = bucketOrdinals.map(sql.fields(_).name),
      bucketOrdinals = bucketOrdinals, numBuckets = numBuckets,
      bucketEraStamped = opts.containsKey("numBucketsGenesis"),
      bucketNoClustering = bucketNoClustering,
      transformSpecs = transformSpecs,
      transformOrdinals = transformOrdinals,
      transformsBySource =
        Option(opts.get("graft.transformsBySource")).exists(_.toBoolean),
      snapshots = Option(opts.get("graft.snapshots")).exists(_.toBoolean),
      branch = Option(opts.get("branch")).map(_.trim).filter(_.nonEmpty),
      tableSchemaJson = Option(opts.get("graft.tableSchemaJson")),
      upsertKeys = upsertKeys,
      changeOrdinal = changeOrdinal,
      // upsert keys auto-join the stats set: equality-delete burden
      // scoping ([[OcfEqScope]]) intersects a commit's keys with per-file
      // key BOUNDS — a CDC table whose data files carried no key stats
      // would silently fall back to "every upsert burdens the whole
      // table". Costs nothing new when the caller already stamped them.
      statsCols = statsCols ++ upsertKeys
        .filterNot(k => statsCols.exists(_.name == k))
        .flatMap(k => OcfWrite.resolveStatPath(sql, k))
        .filter(c => statsEligible(c.dt)),
      // upsert keys auto-join the bloom set too: min/max bounds scope a
      // bulk batch's burden, but a POINT correction's key matches every
      // file's range on a well-mixed key — the bloom is what proves "this
      // key is not in this file" ([[OcfEqScope.mayBurdenFile]])
      bloomCols = bloomCols ++ upsertKeys
        .filterNot(k => bloomCols.exists(_.name == k))
        .flatMap(k => OcfWrite.resolveStatPath(sql, k))
        .filter(c => OcfBloom.eligible(c.dt)),
      bloomFpp = bloomFpp,
      bloomMaxItems = bloomMaxItems,
      blockIndex = blockIndex, blockIndexMaxEntries = blockIndexMaxEntries,
      sortNames = sortNames)
    // compile the row→datum writers once driver-side so schema mismatches
    // (wrong type for a field, non-record schema) fail the plan
    OcfWrite.compileFieldWriters(cfg)
    // static overwrite predicates must be decidable per FILE: every
    // referenced attribute a partition column, every value comparable under
    // its type — exactly the consumed-filter gate, reused
    overwriteFilters.foreach { filters =>
      val typeOf: String => Option[org.apache.spark.sql.types.DataType] = n =>
        partOrdinals.collectFirst {
          case i if sql.fields(i).name.equalsIgnoreCase(n) => sql.fields(i).dataType
        }
      require(filters.forall(f => OcfPartitions.exactOnPartitions(f, typeOf)),
        "graft-ocf write: overwrite-by-filter must reference partition " +
          s"columns only (files are replaced whole); got ${filters.mkString(", ")} " +
          s"over partition columns [${effectiveCols.mkString(", ")}]")
    }
    new OcfWrite(cfg, truncateAll, overwriteFilters, dynamicOverwrite, replaceFiles)
  }
}

/** Everything a writer task needs, resolved once at plan time.
  * `maxBytesPerFile` rolls a task's output to a fresh file once the current
  * one exceeds the bound (checked at block-flush granularity) — at 100 TB a
  * skewed 100 GB partition must not become one 100 GB file. `partNames` /
  * `partOrdinals` route rows to `col=value/` subdirectories (values dropped
  * from file contents); `statsCols` are the (possibly nested) leaf columns
  * whose per-file min/max the sink stamps into the header for read-side
  * file skipping. */
private[sources] final case class OcfWriteConfig(
    dir: String, sql: StructType, avroJson: String, ordinals: Array[Int],
    codecName: String, blockBytes: Int, conf: SerializableHadoopConf,
    jobId: String, maxBytesPerFile: Long = Long.MaxValue,
    partNames: Array[String] = Array.empty,
    partOrdinals: Array[Int] = Array.empty,
    bucketNames: Array[String] = Array.empty,
    bucketOrdinals: Array[Int] = Array.empty,
    numBuckets: Int = 0,
    // bucket-count evolution (X103): once a table has EVER evolved its
    // bucket count (numBucketsGenesis present in the descriptor), every
    // write stamps the modulus into the level name (`_bucketN=K`) so the
    // path self-describes its era; unevolved tables keep bare `_bucket=K`
    bucketEraStamped: Boolean = false,
    // path writes (compact unifying bucket eras, X103) have no function
    // catalog to resolve the bucket transform through: skip the clustering
    // distribution/ordering and let the writer's directory-revisit
    // tolerance route rows per-file (a compact writes few tasks)
    bucketNoClustering: Boolean = false,
    // hidden partition transforms (X88): specs + their source-column
    // ordinals in `sql`, aligned
    transformSpecs: Seq[OcfTransforms.Spec] = Nil,
    transformOrdinals: Array[Int] = Array.empty,
    // path writes (compact unifying eras, X100) cannot resolve `days(ts)`
    // through a function catalog; every supported transform is MONOTONE in
    // its source column, so sorting by the SOURCE keeps directories
    // task-contiguous — and the coalesced input needs no clustering shuffle
    transformsBySource: Boolean = false,
    snapshots: Boolean = false,
    // write-audit-publish (X83): commit manifests into this branch's
    // sequence instead of main — data files land normally (manifests gate
    // visibility), main readers see nothing until fast_forward
    branch: Option[String] = None,
    tableSchemaJson: Option[String] = None,
    // merge-on-read upsert (X94): every task additionally writes its
    // rows' key tuples to an equality-delete file, so the commit deletes
    // all OLDER rows with those keys — CDC upsert with NO target scan
    upsertKeys: Array[String] = Array.empty,
    // apply-changes sink (X99): ordinal of the change-type column in `sql`
    // (-1 = plain write). The column is metadata, never stored: delete
    // rows write ONLY their equality-delete key.
    changeOrdinal: Int = -1,
    statsCols: Array[OcfWrite.StatCol] = Array.empty,
    bloomCols: Array[OcfWrite.StatCol] = Array.empty,
    bloomFpp: Double = 0.01,
    bloomMaxItems: Int = 1000000,
    blockIndex: Boolean = false,
    blockIndexMaxEntries: Int = 8192,
    sortNames: Array[String] = Array.empty)

private[sources] object OcfWrite {

  /** Whether `name` belongs to the epoch that `clearPrefix` targets — a
    * plain prefix match on the `part-eNNNNN-` epoch namespace. Deliberately
    * NO legacy (pre-`e`) matching: the old epoch shape
    * `part-NNNNN-NNNNN.avro` is indistinguishable from other digit-named
    * files a directory may legitimately hold (e.g. [[graft.spark.OcfFiles]]
    * payload names), so matching it would delete unrelated data on every
    * epoch commit. A stream checkpointed under the old naming must drain
    * (complete its in-flight epoch) before upgrading — the standard
    * file-naming-migration discipline. */
  private[sources] def epochDoomed(name: String, prefix: String): Boolean =
    name.startsWith(prefix)

  private[sources] def bucketTransformFor(cfg: OcfWriteConfig)
      : org.apache.spark.sql.connector.expressions.Transform =
    org.apache.spark.sql.connector.expressions.Expressions.bucket(
      cfg.numBuckets, cfg.bucketNames: _*)

  /** Hidden-transform expressions (X88), resolved by Spark through the
    * table's V2 function catalog (years/months/days/hours/truncate) — the
    * same ordinals the writer renders into directory names. */
  private[sources] def transformExprsFor(cfg: OcfWriteConfig)
      : Seq[org.apache.spark.sql.connector.expressions.Transform] =
    cfg.transformSpecs.map { spec =>
      import org.apache.spark.sql.connector.expressions.Expressions
      spec.kind match {
        case "years" => Expressions.years(spec.col)
        case "months" => Expressions.months(spec.col)
        case "days" => Expressions.days(spec.col)
        case "hours" => Expressions.hours(spec.col)
        case "truncate" => Expressions.apply("truncate",
          Expressions.literal(spec.width), Expressions.column(spec.col))
      }
    }

  /** The layout-clustering distribution every write of `cfg` wants: rows
    * grouped by (identity partitions, transform ordinals, bucket id) so a
    * directory's rows land in one task — shared by the batch write and the
    * merge-on-read delta write's insert side. */
  private[sources] def clusteredDistributionFor(cfg: OcfWriteConfig)
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (cfg.numBuckets > 0 || cfg.transformSpecs.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        (cfg.partNames.map(org.apache.spark.sql.connector.expressions.Expressions.identity) ++
          transformExprsFor(cfg) ++
          (if (cfg.numBuckets > 0) Seq(bucketTransformFor(cfg)) else Nil))
          .toArray[org.apache.spark.sql.connector.expressions.Expression])
    else if (cfg.partNames.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        cfg.partNames.map(n =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(n)
            : org.apache.spark.sql.connector.expressions.Expression))
    else
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  /** The PRE-`e` streaming epoch shape (`part-NNNNN-NNNNN.avro`). Epoch
    * cleanup deliberately never matches it (see [[epochDoomed]]) — but a
    * sink still holding such files when a NEW-naming epoch commits means an
    * old-naming stream's committed-but-uncheckpointed epoch could replay
    * under new names with the stale old-named files left in place,
    * silently duplicating that epoch's rows. Streaming append commits
    * refuse loudly instead (the runtime guard behind the "drain before
    * upgrading" discipline). */
  private val legacyEpochName =
    java.util.regex.Pattern.compile("part-\\d{5}-\\d{5}\\.avro")
  private[sources] def isLegacyEpochName(name: String): Boolean =
    legacyEpochName.matcher(name).matches()
  private[sources] def legacyEpochRefusal(dir: String, example: String): String =
    s"graft-ocf streaming sink: $dir holds legacy-named epoch file(s) " +
      s"(e.g. $example — the pre-'e' epoch naming part-NNNNN-NNNNN.avro). " +
      "A replayed epoch cannot replace them under the part-eNNNNN- naming " +
      "and would commit duplicate rows. Drain the old-naming stream to " +
      "completion, then rename or compact those committed files before " +
      "resuming under the new naming."

  /** One tracked stats column: the canonical dotted name (the header stamp
    * key, which matches the dotted attribute names Spark's nested-predicate
    * pushdown emits), the ordinal chain from the row root through any
    * intermediate structs, those structs' field counts (for `getStruct`),
    * and the LEAF type. */
  final case class StatCol(name: String, path: Array[Int], sizes: Array[Int],
                           dt: org.apache.spark.sql.types.DataType) {
    /** The leaf's row (the innermost struct holding it), or null when any
      * ancestor struct is null — a null parent makes the leaf SQL-null. */
    def leafRow(row: InternalRow): InternalRow = {
      var r: InternalRow = row
      var i = 0
      while (i < path.length - 1) {
        if (r.isNullAt(path(i))) return null
        r = r.getStruct(path(i), sizes(i))
        i += 1
      }
      r
    }
    def leafOrdinal: Int = path(path.length - 1)
  }

  /** Resolve a `statsColumns` entry to a [[StatCol]]: a top-level column
    * (exact name first, then unique case-insensitive — so a literal column
    * named "a.b" wins over a dotted interpretation) or a dotted path walked
    * level by level through struct fields with the same matching rule. */
  def resolveStatPath(sql: StructType, entry: String): Option[StatCol] = {
    def fieldIn(st: StructType, n: String): Option[Int] = {
      val exact = st.fields.indexWhere(_.name == n)
      if (exact >= 0) Some(exact)
      else st.fields.zipWithIndex.filter(_._1.name.equalsIgnoreCase(n)) match {
        case Array((_, i)) => Some(i)
        case _ => None
      }
    }
    fieldIn(sql, entry) match {
      case Some(i) =>
        Some(StatCol(sql.fields(i).name, Array(i), Array.empty, sql.fields(i).dataType))
      case None =>
        val parts = entry.split('.')
        if (parts.length < 2) return None
        val path = Array.newBuilder[Int]
        val sizes = Array.newBuilder[Int]
        val canonical = Seq.newBuilder[String]
        var st: org.apache.spark.sql.types.DataType = sql
        parts.foreach { p =>
          st match {
            case s: StructType => fieldIn(s, p) match {
              case Some(i) =>
                path += i
                canonical += s.fields(i).name
                st = s.fields(i).dataType
                st match { case inner: StructType => sizes += inner.length; case _ => () }
              case None => return None
            }
            case _ => return None
          }
        }
        st match {
          case _: StructType => None // the path must end at a leaf
          case leaf => Some(StatCol(canonical.result().mkString("."),
            path.result(), sizes.result(), leaf))
        }
    }
  }

  /** Map each Avro record field to its DataFrame column ordinal — exact name
    * first, then unique case-insensitive (Spark analysis is case-insensitive
    * by default), mirroring [[OcfDataSource.pruneAvro]]'s matching. Missing
    * or ambiguous columns fail here, at plan time. */
  def fieldOrdinals(sql: StructType, avroJson: String): Array[Int] = {
    val rec = recordOf(avroJson)
    rec.fields.map { f =>
      val exact = sql.fields.indexWhere(_.name == f.name)
      if (exact >= 0) exact
      else sql.fields.zipWithIndex.filter(_._1.name.equalsIgnoreCase(f.name)) match {
        case Array((_, i)) => i
        case Array() => throw new IllegalArgumentException(
          s"graft-ocf write: DataFrame lacks a column for Avro field '${f.name}' " +
            s"(have: ${sql.fieldNames.mkString(", ")})")
        case many => throw new IllegalArgumentException(
          s"graft-ocf write: Avro field '${f.name}' matches ${many.length} columns " +
            s"case-insensitively; rename to disambiguate")
      }
    }.toArray
  }

  /** `compatCheck=backward`: every existing file's schema — used as the
    * READER schema by the directory's consumers — must be able to read the
    * new writer schema. The listing is RECURSIVE so files a consumer sees
    * via `recursiveFileLookup=true` are also checked. One header pread per
    * existing file (headers are already deduplicated driver-side); an empty
    * or absent directory passes trivially. */
  def checkBackwardCompat(dir: String, newWriterJson: String): Unit = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) return
    val files = OcfDataSource.list(conf, Seq(dir), None, recursive = true)
    if (files.isEmpty) return
    val newSchema = AvroRuntime.parse(newWriterJson)
    OcfDataSource.fetchMetas(conf, files)
      .map(_.writerSchemaJson).distinct.foreach { existingJson =>
        val result = Compatibility.check(
          reader = AvroRuntime.parse(existingJson), writer = newSchema)
        if (!result.isCompatible)
          throw new IllegalArgumentException(
            "graft-ocf write: compatCheck=backward rejected the append — existing " +
              "readers of this directory could not resolve the new schema: " +
              result.incompatibilities.map(i => s"${i.kind} at ${i.location}: ${i.message}")
                .mkString("; "))
      }
  }

  def recordOf(avroJson: String): ARecord = AvroRuntime.parse(avroJson).physical match {
    case r: ARecord => r
    case other => throw new IllegalArgumentException(
      s"graft-ocf write requires a record schema; got ${other.typeName}")
  }

  /** Per-Avro-field (writer, getter) pairs in Avro field order; the ordinal
    * array maps each to its source column. Compiled once per executor
    * ([[AvroRuntime.parse]] caches the schema parse; the closures themselves
    * are cheap to build). */
  def compileFieldWriters(cfg: OcfWriteConfig): Array[(CatalystAvroWriter.Writer, InternalRowGetters.Getter)] = {
    val rec = recordOf(cfg.avroJson)
    rec.fields.zipWithIndex.map { case (f, i) =>
      val dt = cfg.sql.fields(cfg.ordinals(i)).dataType
      (CatalystAvroWriter.compile(dt, f.schema), InternalRowGetters.forType(dt))
    }.toArray
  }

  /** Fused per-field encoders for the hot row→datum loop: each reads its
    * source column straight out of the InternalRow and writes Avro bytes —
    * flat primitives skip the boxed `Any` hand-off entirely (complex leaves
    * fall back to the boxed writer inside
    * [[CatalystAvroWriter.compileField]], so bytes are identical). */
  def compileFieldEncoders(cfg: OcfWriteConfig): Array[CatalystAvroWriter.FieldEncoder] = {
    val rec = recordOf(cfg.avroJson)
    rec.fields.zipWithIndex.map { case (f, i) =>
      CatalystAvroWriter.compileField(
        cfg.sql.fields(cfg.ordinals(i)).dataType, f.schema, cfg.ordinals(i))
    }.toArray
  }
}

/** Custom V2 metrics: per-task counters surfaced on the write node in the
  * Spark UI / listener bus, summed across tasks — the operational face of
  * the sink (how many container files, rows, raw bytes a job produced). */
private[sources] object OcfWriteMetrics {
  final class FilesWritten extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "ocfFilesWritten"
    override def description(): String = "OCF files written"
  }
  final class RowsWritten extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "ocfRowsWritten"
    override def description(): String = "OCF datums written"
  }
  final class BytesWritten extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "ocfBytesWritten"
    override def description(): String = "OCF bytes written (post-codec)"
  }
  def all: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesWritten, new RowsWritten, new BytesWritten)
}

private[sources] final case class OcfTaskMetric(name: String, value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

/** The logical write: one class serves batch (`toBatch`) and streaming
  * (`toStreaming`) — the factories differ only in file naming.
  *
  * Partitioned writes require a task-local SORT on the partition columns
  * (no distribution — clustering would funnel each partition value through
  * one task, serializing the write; Spark's own file sink makes the same
  * choice): sorted input means each task holds ONE open file at a time and
  * rolls on value change, so memory stays O(one block) regardless of how
  * many partition values a task sees. Files per value ≈ upstream tasks
  * touching it; `df.repartition(cols)` first if one-file-per-partition
  * matters more than write parallelism. */
private[sources] final class OcfWrite(
    cfg: OcfWriteConfig, truncateAll: Boolean,
    overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    replaceFiles: Option[() => Seq[String]] = None)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** The validated write config — the MoR delta write path builds its
    * insert-side config through the normal builder and reads it here. */
  private[sources] def config: OcfWriteConfig = cfg

  private def bucketTransform: org.apache.spark.sql.connector.expressions.Transform =
    OcfWrite.bucketTransformFor(cfg)

  private def transformExprs: Seq[org.apache.spark.sql.connector.expressions.Transform] =
    OcfWrite.transformExprsFor(cfg)

  /** Bucketed writes cluster rows by (partitions, bucket id) BEFORE the
    * tasks run, so each bucket's rows land in one task → one well-sized
    * file per bucket per partition (otherwise every task would write a
    * sliver of every bucket: tasks × buckets files). Spark resolves the
    * `bucket(N, col)` transform through the table's V2 function catalog —
    * [[GraftBucketFunction]], the same hash the writer stamps into the
    * directory names. Unbucketed writes keep the unspecified distribution
    * (any pre-existing partitioning of the query is fine). */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if ((cfg.numBuckets > 0 && !cfg.bucketNoClustering) ||
        (cfg.transformSpecs.nonEmpty && !cfg.transformsBySource))
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        (cfg.partNames.map(org.apache.spark.sql.connector.expressions.Expressions.identity) ++
          transformExprs ++
          (if (cfg.numBuckets > 0 && !cfg.bucketNoClustering)
            Seq(bucketTransform) else Nil))
          .toArray[org.apache.spark.sql.connector.expressions.Expression])
    else
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    def colSort(n: String) =
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(n),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    // partitions, then transform levels, then bucket id, then the in-file
    // sort: each task's rows arrive directory-contiguous, so the writer
    // keeps ONE open file
    cfg.partNames.map(colSort) ++
      (if (cfg.transformsBySource)
        cfg.transformOrdinals.map(o => colSort(cfg.sql.fields(o).name))
      else transformExprs.map(t =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(t,
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        .toArray) ++
      (if (cfg.numBuckets > 0 && !cfg.bucketNoClustering)
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          bucketTransform,
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      else Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]) ++
      cfg.sortNames.map(colSort)
  }

  override def description(): String =
    s"graft-ocf dir=${cfg.dir} codec=${cfg.codecName} schema=${cfg.sql.simpleString}" +
      (if (cfg.partNames.nonEmpty) s" partitionBy=${cfg.partNames.mkString(",")}" else "")

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    OcfWriteMetrics.all

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = new OcfStreamingWrite(cfg, truncateAll)

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory =
    OcfBatchWriterFactory(cfg)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    OcfCommit.publish(cfg, messages, clearVisible = truncateAll,
      clearWhere = if (truncateAll) None else overwriteFilters,
      clearDynamic = dynamicOverwrite,
      // resolved at COMMIT time: by now the row-level operation's scan has
      // executed, so runtime group filtering has already shrunk the set
      clearPaths = replaceFiles.map(_()))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    OcfCommit.discard(cfg, messages)
}

private[sources] final class OcfStreamingWrite(cfg: OcfWriteConfig, truncateAll: Boolean)
    extends StreamingWrite {
  override def createStreamingWriterFactory(pinfo: PhysicalWriteInfo): StreamingDataWriterFactory =
    OcfStreamingWriterFactory(cfg)

  /** Epoch commit: rename this epoch's temps over their DETERMINISTIC final
    * names (replacing a failed earlier attempt of the SAME epoch, never a
    * different epoch's output). Before renaming, every visible file carrying
    * THIS epoch's `part-<epoch>-` prefix is deleted: a replayed epoch that
    * produces FEWER files than a previously committed attempt (fewer
    * non-empty partitions, or a different chunk count under
    * `maxBytesPerFile` after a nondeterministic shuffle order) would
    * otherwise leave the stale extras in place as duplicate rows. Delete +
    * rename makes replay idempotent regardless of file count. Complete-output
    * mode (`truncate`) clears ALL visible files instead, so each epoch
    * replaces the directory's contents. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    OcfCommit.publish(cfg, messages, clearVisible = truncateAll,
      clearPrefix = if (truncateAll) None else Some(f"part-e$epochId%05d-"))

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    OcfCommit.discard(cfg, messages)
}

private[sources] final case class OcfBatchWriterFactory(cfg: OcfWriteConfig)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new OcfDataWriter(cfg,
      f"part-$partitionId%05d-${cfg.jobId}.avro",
      f".part-$partitionId%05d-$taskId-${cfg.jobId}.avro.tmp")
}

private[sources] final case class OcfStreamingWriterFactory(cfg: OcfWriteConfig)
    extends StreamingDataWriterFactory {
  // the `e` infix keeps the epoch namespace DISJOINT from batch names
  // (`part-<pid>-<jobId>.avro`): epoch 0's replay-cleanup prefix
  // `part-e00000-` can then never match (and silently drop) a batch
  // partition-0 file appended to the same table earlier
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new OcfDataWriter(cfg,
      f"part-e$epochId%05d-$partitionId%05d.avro",
      f".part-e$epochId%05d-$partitionId%05d-$taskId.avro.tmp")
}

/** Streams one partition's rows to temp OCF files. The file is opened
  * LAZILY on the first row, so empty partitions cost nothing; the temp name
  * is dot-prefixed (invisible to listings) and unique per task ATTEMPT, so
  * speculative/retried attempts never collide — only the committed attempt's
  * temps are renamed by the driver. When `maxBytesPerFile` is set the task
  * ROLLS to a `-cNNN`-suffixed sibling once the current file exceeds the
  * bound (checked at block-flush granularity, so the overshoot is at most
  * one block); chunk names are a deterministic function of the data order,
  * keeping streaming-epoch replay idempotent. */
private[sources] final class OcfDataWriter(
    cfg: OcfWriteConfig, finalName: String, tmpName: String)
    extends DataWriter[InternalRow] {

  private val fieldWriters = OcfWrite.compileFieldWriters(cfg)
  // the hot row→datum loop runs the FUSED encoders (no boxed hand-off for
  // flat primitives, bytes identical — see OcfWrite.compileFieldEncoders);
  // the boxed (writer, getter) pairs above stay for the equality-delete
  // path, which needs the boxed values for its dedup set anyway
  private val fieldEncoders = OcfWrite.compileFieldEncoders(cfg)
  private val ordinals = cfg.ordinals
  private val schema = OcfWrite.recordOf(cfg.avroJson)
  private val partGetters =
    cfg.partOrdinals.map(o => InternalRowGetters.forType(cfg.sql.fields(o).dataType))
  private val partTypes = cfg.partOrdinals.map(o => cfg.sql.fields(o).dataType)
  private val bucketGetters =
    cfg.bucketOrdinals.map(o => InternalRowGetters.forType(cfg.sql.fields(o).dataType))
  private val bucketTypes = cfg.bucketOrdinals.map(o => cfg.sql.fields(o).dataType)
  private val transformGetters =
    cfg.transformOrdinals.map(o => InternalRowGetters.forType(cfg.sql.fields(o).dataType))
  private val transformTypes = cfg.transformOrdinals.map(o => cfg.sql.fields(o).dataType)
  private val stats =
    if (cfg.statsCols.isEmpty) null else new OcfStatsTracker(cfg)
  private val blockIdx =
    if (!cfg.blockIndex) null else new OcfBlockIndexTracker(cfg)
  private val bloom =
    if (cfg.bloomCols.isEmpty) null else new OcfBloomTracker(cfg)
  private val sortTrk = {
    val t = if (cfg.sortNames.isEmpty) null else new OcfSortTracker(cfg)
    if (t != null && t.supported) t else null
  }

  private var out: FSDataOutputStream = _
  private var ocf: OcfStreamWriter = _
  private var chunk = 0

  // merge-on-read upsert (X94): this task's key tuples stream to ONE
  // equality-delete OCF at the table root (the delete is table-global, not
  // per partition). Dedup is best-effort and bounded — duplicate key datums
  // only cost bytes, the read side unions into a set anyway.
  private val eqAvroIdx: Array[Int] =
    cfg.upsertKeys.map(k => schema.fields.indexWhere(_.name == k))
  private val eqSchema =
    if (cfg.upsertKeys.isEmpty) null
    else graft.avro.ARecord("graft_eq_keys", None,
      eqAvroIdx.map(j => graft.avro.AField(
        schema.fields(j).name, schema.fields(j).schema)).toSeq)
  private var eqOut: FSDataOutputStream = _
  private var eqOcf: OcfStreamWriter = _
  private var eqSeen: java.util.HashSet[scala.collection.immutable.ArraySeq[Any]] =
    if (cfg.upsertKeys.isEmpty) null else new java.util.HashSet()
  private def eqName(n: String): String = n.replace(".avro", ".eqdel.avro")

  private def writeUpsertKey(row: InternalRow): Unit = {
    val t = new Array[Any](eqAvroIdx.length)
    var i = 0
    while (i < t.length) {
      val j = eqAvroIdx(i)
      val ord = ordinals(j)
      t(i) = if (row.isNullAt(ord)) null else fieldWriters(j)._2(row, ord)
      i += 1
    }
    if (eqSeen != null) {
      if (!eqSeen.add(scala.collection.immutable.ArraySeq.unsafeWrapArray(t)))
        return // duplicate within this task
      if (eqSeen.size > (1 << 20)) eqSeen = null // bounded: write-through
    }
    if (eqOcf == null) {
      val p = new Path(cfg.dir, eqName(tmpName))
      eqOut = GraftIO.create(p.getFileSystem(cfg.conf.value), p, true)
      eqOcf = new OcfStreamWriter(eqOut, eqSchema, cfg.codecName,
        blockBytes = cfg.blockBytes)
    }
    val e = eqOcf.datumEncoder
    var k = 0
    while (k < eqAvroIdx.length) {
      fieldWriters(eqAvroIdx(k))._1(t(k), e)
      k += 1
    }
    eqOcf.endDatum()
  }
  private var totalRows = 0L
  private var filesSealed = 0L
  private var bytesSealed = 0L
  private val sealedFiles = Seq.newBuilder[OcfWrittenFile]
  // relative `col=value/...` directory of the OPEN file ("" = unpartitioned
  // root). Input arrives sorted on the partition columns (the requiredOrdering
  // of batch writes AND of merge-on-read delta writes), so each value change
  // seals the current file — one open file per task.
  private var currentPartDir: String = ""
  private val seenPartDirs = scala.collection.mutable.Set.empty[String]

  // chunk 0 keeps the plain name so the common (no-roll) case and the
  // deterministic streaming names are unchanged
  private def chunked(name: String): String =
    if (chunk == 0) name else name.replace(".avro", f"-c$chunk%03d.avro")
  private def dirPath: Path =
    if (currentPartDir.isEmpty) new Path(cfg.dir) else new Path(cfg.dir, currentPartDir)
  private def currentTmp: Path = new Path(dirPath, chunked(tmpName))

  private def partDirOf(row: InternalRow): String = {
    val vals = new Array[String](cfg.partOrdinals.length)
    var i = 0
    while (i < vals.length) {
      val o = cfg.partOrdinals(i)
      // type-aware rendering (dates ISO, everything else String.valueOf) so
      // the read side re-infers the written column's type and values
      vals(i) = if (row.isNullAt(o)) null
        else OcfPartitions.renderPartValue(partGetters(i)(row, o), partTypes(i))
      i += 1
    }
    val pd0 = OcfPartitions.partitionDir(cfg.partNames, vals)
    // hidden transform levels (X88) between identity partitions and the
    // trailing bucket level; source values stay in the data columns
    val pd =
      if (cfg.transformSpecs.isEmpty) pd0
      else {
        var acc = pd0
        var j = 0
        while (j < cfg.transformOrdinals.length) {
          val spec = cfg.transformSpecs(j)
          val o = cfg.transformOrdinals(j)
          val seg = spec.dirCol + "=" + (
            if (row.isNullAt(o)) OcfPartitions.NullDir
            else OcfPartitions.escape(OcfTransforms.renderOrdinal(spec,
              OcfTransforms.ordinalOf(spec, transformGetters(j)(row, o),
                transformTypes(j)))))
          acc = if (acc.isEmpty) seg else acc + "/" + seg
          j += 1
        }
        acc
      }
    if (cfg.numBuckets == 0) pd
    else {
      val keys = new Array[Any](cfg.bucketOrdinals.length)
      var j = 0
      while (j < keys.length) {
        val o = cfg.bucketOrdinals(j)
        keys(j) = if (row.isNullAt(o)) null else bucketGetters(j)(row, o)
        j += 1
      }
      val seg = (if (cfg.bucketEraStamped) OcfBucket.DirCol + cfg.numBuckets
                 else OcfBucket.DirCol) + "=" +
        OcfBucket.idOfValues(keys, bucketTypes, cfg.numBuckets)
      if (pd.isEmpty) seg else pd + "/" + seg
    }
  }

  // bucketed and hidden-transform writes tolerate directory revisits (Spark
  // plans that omit the sink's required ordering — e.g. a CTAS shape — may
  // interleave their directories): a revisit continues at the directory's
  // next free chunk index instead of clobbering the sealed file. Identity-
  // partition revisits stay a loud failure — every such write, merge-on-read
  // deltas included, applies the required ordering, so a revisit means
  // broken input.
  private val dirNextChunk = scala.collection.mutable.Map.empty[String, Int]

  override def write(row: InternalRow): Unit = {
    // apply-changes routing (X99): a delete row contributes ONLY its
    // equality-delete key (killing every older generation of that key); a
    // preimage is the dead half of an update pair and contributes nothing.
    // insert/update(_postimage) fall through to the normal upsert path.
    if (cfg.changeOrdinal >= 0) {
      require(!row.isNullAt(cfg.changeOrdinal),
        "graft-ocf write: changeColumn value is null")
      row.getUTF8String(cfg.changeOrdinal).toString match {
        case "insert" | "update" | "update_postimage" => ()
        case "delete" => writeUpsertKey(row); return
        case "update_preimage" => return
        case other => throw new IllegalArgumentException(
          s"graft-ocf write: changeColumn value '$other' is not a change " +
            "type (insert/update/update_preimage/update_postimage/delete)")
      }
    }
    if (cfg.partOrdinals.nonEmpty || cfg.numBuckets > 0 ||
        cfg.transformSpecs.nonEmpty) {
      val pd = partDirOf(row)
      if (pd != currentPartDir) {
        sealCurrent()
        // the required task-local sort makes each directory contiguous; a
        // revisit means unsorted input (or a sort-equal/string-distinct
        // value pair) and silently reusing the tmp path would clobber the
        // sealed file — fail the task loudly instead
        require(cfg.numBuckets > 0 || cfg.transformSpecs.nonEmpty ||
            seenPartDirs.add(pd),
          s"graft-ocf write: partition directory '$pd' revisited out of " +
            "order — input rows are not sorted by the partition columns")
        currentPartDir = pd
        chunk = dirNextChunk.getOrElse(pd, 0)
      }
    }
    if (ocf == null) {
      val p = currentTmp
      out = GraftIO.create(p.getFileSystem(cfg.conf.value), p, true)
      ocf = new OcfStreamWriter(out, schema, cfg.codecName, blockBytes = cfg.blockBytes,
        onBlockSealed = if (blockIdx == null) null else blockIdx.sealBlock)
      if (stats != null) stats.reset()
      if (blockIdx != null) blockIdx.reset()
      if (bloom != null) bloom.reset()
      if (sortTrk != null) sortTrk.reset()
    }
    if (stats != null) stats.update(row)
    if (blockIdx != null) blockIdx.update(row)
    if (bloom != null) bloom.update(row)
    if (sortTrk != null) sortTrk.update(row)
    val e = ocf.datumEncoder
    var i = 0
    while (i < fieldEncoders.length) {
      fieldEncoders(i)(row, e)
      i += 1
    }
    ocf.endDatum()
    if (eqAvroIdx.length > 0) writeUpsertKey(row)
    // getPos counts FLUSHED bytes, so the roll triggers on sealed blocks
    // only — at most one block of overshoot past the bound
    if (out.getPos >= cfg.maxBytesPerFile) {
      sealCurrent()
      chunk += 1
    }
  }

  /** Finish and close the open file, recording its (tmp, dest) pair. With
    * stats and/or blooms enabled the sealed temp is re-copied ONCE with the
    * `graft.stats` / `graft.bloom` header entries (the OCF header precedes
    * the data it summarizes, so the stamps cannot be known at open). */
  private def sealCurrent(): Unit =
    if (ocf != null) {
      val rowsThisFile = ocf.rowCount
      totalRows += rowsThisFile
      ocf.finish()
      bytesSealed += out.getPos
      out.close()
      var tmp = currentTmp
      val stamps =
        (if (stats != null) Seq("graft.stats" -> stats.toJson) else Nil) ++
          (if (blockIdx != null)
            blockIdx.toJsonOpt.map("graft.blockIndex" -> _).toSeq else Nil) ++
          (if (bloom != null) bloom.toJsonOpt.map("graft.bloom" -> _).toSeq else Nil) ++
          (if (sortTrk != null)
            sortTrk.sortedByJsonOpt.map("graft.sortedBy" -> _).toSeq else Nil)
      if (stamps.nonEmpty) {
        val stamped = new Path(dirPath,
          chunked(tmpName).replace(".avro.tmp", "-s.avro.tmp"))
        // piggyback the exact file row count on the stamp re-copy (an
        // always-on rows stamp would force the copy onto stamp-free writes);
        // the scan sums these into estimateStatistics().numRows for CBO
        OcfStatsTracker.rewriteWithMeta(cfg.conf.value, tmp, stamped,
          stamps :+ ("graft.rows" -> rowsThisFile.toString))
        tmp = stamped
      }
      sealedFiles += OcfWrittenFile(tmp.toString,
        new Path(dirPath, chunked(finalName)).toString)
      filesSealed += 1
      dirNextChunk(currentPartDir) = chunk + 1
      ocf = null
      out = null
    }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      OcfTaskMetric("ocfFilesWritten", filesSealed + (if (ocf != null) 1 else 0)),
      OcfTaskMetric("ocfRowsWritten", totalRows + (if (ocf != null) ocf.rowCount else 0L)),
      OcfTaskMetric("ocfBytesWritten", bytesSealed + (if (out != null) out.getPos else 0L)))

  override def commit(): WriterCommitMessage = {
    sealCurrent()
    if (eqOcf != null) {
      eqOcf.finish()
      eqOut.close()
      eqOcf = null
      eqOut = null
      sealedFiles += OcfWrittenFile(
        new Path(cfg.dir, eqName(tmpName)).toString,
        new Path(cfg.dir, eqName(finalName)).toString,
        eqKeys = Some(cfg.upsertKeys.toSeq))
    }
    OcfCommitMessage(sealedFiles.result(), totalRows)
  }

  override def abort(): Unit = {
    close()
    val fs = new Path(cfg.dir).getFileSystem(cfg.conf.value)
    (sealedFiles.result().map(f => new Path(f.tmp)) :+ currentTmp :+
        new Path(cfg.dir, eqName(tmpName))).foreach { p =>
      if (fs.exists(p)) fs.delete(p, false)
    }
  }

  override def close(): Unit = {
    if (out != null) {
      try out.close() catch { case _: IOException => }
      out = null
    }
    if (eqOut != null) {
      try eqOut.close() catch { case _: IOException => }
      eqOut = null
    }
  }
}

/** Per-file column statistics for `statsColumns`: running min/max (typed
  * long / double / string), null presence, all-null flag, non-null count,
  * and (integral columns only) the exact running sum per tracked column —
  * O(columns) state, updated per row, serialized once per sealed file into
  * the `graft.stats` header entry that [[OcfPartitions.mayMatch]] uses for
  * read-side file skipping and the scan's SUM/COUNT(col) aggregate pushdown
  * answers from. The sum is kept only for integral types (exact Long
  * arithmetic; a floating sum depends on accumulation order, so a header
  * stamp could disagree with a row-order recompute) and is dropped on Long
  * overflow rather than stamped wrapped. */
private[sources] final class OcfStatsTracker(cfg: OcfWriteConfig,
                                             // the per-BLOCK accumulator
                                             // skips NDV: a sketch per
                                             // block would bloat the block
                                             // index ~700 B/entry for a
                                             // quantity only the FILE-level
                                             // merge ever uses
                                             trackNdv: Boolean = true) {
  private val n = cfg.statsCols.length
  private val names = cfg.statsCols.map(_.name)
  private val getters = cfg.statsCols.map(c => InternalRowGetters.forType(c.dt))
  // 0 = integral (stored long), 1 = floating (stored double), 2 = string
  // date/timestamp ride the integral tag (int days / long micros backing —
  // the order Spark itself compares them by), but never stamp a "sum"
  private val tags: Array[Int] = cfg.statsCols.map { c =>
    c.dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => 0
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => 1
      case _ => 2
    }
  }
  // SUM over a date/timestamp is not a meaningful quantity; suppressing the
  // stamp (rather than trusting Spark never to push one) keeps the header
  // from ever certifying it
  private val sumEligible: Array[Boolean] = cfg.statsCols.map { c =>
    c.dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
  }
  private val minL = new Array[Long](n)
  private val maxL = new Array[Long](n)
  private val minD = new Array[Double](n)
  private val maxD = new Array[Double](n)
  private val minS = new Array[org.apache.spark.unsafe.types.UTF8String](n)
  private val maxS = new Array[org.apache.spark.unsafe.types.UTF8String](n)
  private val nonNull = new Array[Long](n)
  private val sawNull = new Array[Boolean](n)
  private val sumL = new Array[Long](n)
  private val sumOverflow = new Array[Boolean](n)
  // per-column NDV sketch (X89): mergeable HLL registers, stamped base64 —
  // plan-time union across files feeds CBO a real distinct count
  private val hll = if (trackNdv) Array.fill(n)(OcfHll.empty()) else null

  def reset(): Unit = {
    java.util.Arrays.fill(nonNull, 0L)
    java.util.Arrays.fill(sawNull, false)
    java.util.Arrays.fill(sumL, 0L)
    java.util.Arrays.fill(sumOverflow, false)
    java.util.Arrays.fill(minS.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(maxS.asInstanceOf[Array[AnyRef]], null)
    if (hll != null) {
      var i = 0
      while (i < n) { java.util.Arrays.fill(hll(i), 0.toByte); i += 1 }
    }
  }

  def update(row: InternalRow): Unit = {
    var i = 0
    while (i < n) {
      // the leaf's enclosing struct; null at ANY level = SQL-null leaf
      val lr = cfg.statsCols(i).leafRow(row)
      val o = cfg.statsCols(i).leafOrdinal
      if (lr == null || lr.isNullAt(o)) sawNull(i) = true
      else {
        tags(i) match {
          case 0 =>
            val v = getters(i)(lr, o).asInstanceOf[Number].longValue
            if (nonNull(i) == 0L || v < minL(i)) minL(i) = v
            if (nonNull(i) == 0L || v > maxL(i)) maxL(i) = v
            if (hll != null) OcfHll.add(hll(i), OcfHll.hashLong(v))
            val s = sumL(i) + v
            // two same-signed operands producing the opposite sign = wrap
            if (((sumL(i) ^ s) & (v ^ s)) < 0) sumOverflow(i) = true
            sumL(i) = s
          case 1 =>
            // Double.compare ordering: NaN takes its Spark position
            // (largest) and signed zeros stay distinct, so the stamp carries
            // the TRUE extremum (min/max pushdown returns it verbatim —
            // normalizing -0.0 here would turn an exact answer into +0.0).
            // The read-side SKIPPING comparison normalizes both sides, so
            // a -0.0 bound still never refutes `= 0.0`.
            val v = getters(i)(lr, o).asInstanceOf[Number].doubleValue
            if (nonNull(i) == 0L || java.lang.Double.compare(v, minD(i)) < 0) minD(i) = v
            if (nonNull(i) == 0L || java.lang.Double.compare(v, maxD(i)) > 0) maxD(i) = v
            if (hll != null) OcfHll.add(hll(i), OcfHll.hashDouble(v))
          case _ =>
            val v = getters(i)(lr, o)
              .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            // clone ONLY on adoption as an extremum (the value may alias a
            // reused decode buffer): O(distinct extrema), not O(rows)
            if (minS(i) == null || v.compareTo(minS(i)) < 0) minS(i) = v.clone()
            if (maxS(i) == null || v.compareTo(maxS(i)) > 0) maxS(i) = v.clone()
            if (hll != null) OcfHll.add(hll(i), OcfHll.hashUtf8(v))
        }
        nonNull(i) += 1L
      }
      i += 1
    }
  }

  def toJson: String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    var i = 0
    while (i < n) {
      val o = root.putObject(names(i))
      o.put("t", tags(i) match { case 0 => "long"; case 1 => "double"; case _ => "string" })
      if (nonNull(i) > 0L) tags(i) match {
        case 0 => o.put("min", minL(i)); o.put("max", maxL(i))
        case 1 =>
          // NaN/Infinity have no portable JSON form — omit the bounds
          // (absent bounds = file never skipped on this column and min/max
          // pushdown refused, which is the conservative direction)
          if (java.lang.Double.isFinite(minD(i)) && java.lang.Double.isFinite(maxD(i))) {
            o.put("min", minD(i)); o.put("max", maxD(i))
          }
        case _ =>
          // the stamp stores JSON text; a string whose bytes are not valid
          // UTF-8 does not survive toString (U+FFFD substitution), so such
          // extrema are omitted rather than stamped corrupted
          def roundTrips(s: org.apache.spark.unsafe.types.UTF8String): Boolean =
            org.apache.spark.unsafe.types.UTF8String.fromString(s.toString) == s
          if (roundTrips(minS(i)) && roundTrips(maxS(i))) {
            o.put("min", minS(i).toString); o.put("max", maxS(i).toString)
          }
      }
      o.put("hasNull", sawNull(i))
      o.put("allNull", nonNull(i) == 0L)
      // exact non-null count (COUNT(col) pushdown) and, for integral
      // columns that did not overflow a Long, the exact sum (SUM pushdown);
      // an absent "sum" just means the read side refuses the push
      o.put("nn", nonNull(i))
      if (sumEligible(i) && nonNull(i) > 0L && !sumOverflow(i)) o.put("sum", sumL(i))
      // NDV sketch (X89): mergeable HLL registers — ~700 base64 chars per
      // column; the read side unions them across planned files into
      // ColumnStatistics.distinctCount for CBO
      if (hll != null && nonNull(i) > 0L)
        o.put("hll", OcfHll.toBase64(hll(i)))
      i += 1
    }
    om.writeValueAsString(root)
  }
}

/** Watches the CURRENT open file's rows and certifies they arrived in
  * ascending nulls-first order on `cfg.sortNames` — the order the sink's
  * `RequiresDistributionAndOrdering` requested. A certified file gets a
  * `graft.sortedBy` header stamp, which the scan uses for TopN pushdown and
  * `SupportsReportOrdering`. The stamp is VERIFIED, not assumed: if any
  * engine ever hands rows out of order (or a future path bypasses the
  * requested sort), the stamp is silently dropped — absent stamp = no
  * ordering claim, the conservative direction. Covers the same column types
  * as [[OcfStatsTracker]] (integral / floating / string); comparisons are
  * equal-or-stricter than Spark's ordering for those types (Double.compare
  * splits -0.0/0.0 that Spark ties — strictness only ever WITHHOLDS a
  * stamp), so a stamped file satisfies Spark's ASC NULLS FIRST. */
private[sources] final class OcfSortTracker(cfg: OcfWriteConfig) {
  private val ords: Array[Int] = cfg.sortNames.map(n => cfg.sql.fieldIndex(n))
  private val n = ords.length
  // 0 = integral, 1 = floating, 2 = string, -1 = unsupported
  private val tags: Array[Int] = ords.map { o =>
    cfg.sql.fields(o).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => 0 // date/ts are int/long-backed;
      // Spark orders them by that backing value, so the integral compare is exact
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => 1
      case org.apache.spark.sql.types.StringType => 2
      case _ => -1
    }
  }
  val supported: Boolean = n > 0 && tags.forall(_ >= 0)
  private val getters = ords.map(o => InternalRowGetters.forType(cfg.sql.fields(o).dataType))
  private val prevL = new Array[Long](n)
  private val prevD = new Array[Double](n)
  private val prevS = new Array[org.apache.spark.unsafe.types.UTF8String](n)
  private val prevNull = new Array[Boolean](n)
  private var first = true
  private var valid = true

  def reset(): Unit = {
    first = true; valid = true
    java.util.Arrays.fill(prevS.asInstanceOf[Array[AnyRef]], null)
  }

  def update(row: InternalRow): Unit = {
    if (!valid) return
    if (!first) {
      // lexicographic prev-vs-current: the first non-tie column decides
      var i = 0
      var decided = false
      while (i < n && !decided) {
        val o = ords(i)
        val curNull = row.isNullAt(o)
        val c =
          if (prevNull(i) && curNull) 0
          else if (prevNull(i)) -1 // null (prev) < non-null (cur): ok
          else if (curNull) 1 // non-null before null violates NULLS FIRST
          else tags(i) match {
            case 0 => java.lang.Long.compare(prevL(i),
              getters(i)(row, o).asInstanceOf[Number].longValue)
            case 1 => java.lang.Double.compare(prevD(i),
              getters(i)(row, o).asInstanceOf[Number].doubleValue)
            case _ => prevS(i).compareTo(getters(i)(row, o)
              .asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
          }
        if (c > 0) { valid = false; return }
        if (c < 0) decided = true
        i += 1
      }
    }
    first = false
    var i = 0
    while (i < n) {
      val o = ords(i)
      prevNull(i) = row.isNullAt(o)
      if (!prevNull(i)) tags(i) match {
        case 0 => prevL(i) = getters(i)(row, o).asInstanceOf[Number].longValue
        case 1 => prevD(i) = getters(i)(row, o).asInstanceOf[Number].doubleValue
        case _ =>
          // clone: the value may alias a reused decode buffer
          prevS(i) = getters(i)(row, o)
            .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].clone()
      }
      i += 1
    }
  }

  /** JSON array of the certified sort columns; None once a violation was
    * seen. An empty file is trivially sorted and keeps its stamp. */
  def sortedByJsonOpt: Option[String] =
    if (!valid) None
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = om.createArrayNode()
      cfg.sortNames.foreach(arr.add)
      Some(om.writeValueAsString(arr))
    }
}

/** Per-block min/max index for one open file: a second [[OcfStatsTracker]]
  * accumulates the CURRENT block's bounds; the stream writer's seal callback
  * snapshots it into an entry `{"o":rel,"n":rows,"s":{col:stats}}` and
  * resets it. Offsets are relative to the END of the header (the later
  * header re-stamp changes the header length; block bytes are copied
  * verbatim, so relative offsets stay true). A file exceeding `maxEntries`
  * blocks drops its index (absent index = no block pruning — conservative),
  * bounding the header stamp at ~100 B × maxEntries. */
private[sources] final class OcfBlockIndexTracker(cfg: OcfWriteConfig) {
  private val acc = new OcfStatsTracker(cfg, trackNdv = false)
  private val entries = scala.collection.mutable.ArrayBuffer.empty[String]
  private var dropped = false

  def reset(): Unit = { acc.reset(); entries.clear(); dropped = false }
  def update(row: InternalRow): Unit = if (!dropped) acc.update(row)

  def sealBlock(relOffset: Long, rows: Long, blockLen: Long): Unit = {
    if (dropped) return
    if (entries.length >= cfg.blockIndexMaxEntries) {
      dropped = true; entries.clear(); return
    }
    entries += s"""{"o":$relOffset,"n":$rows,"l":$blockLen,"s":${acc.toJson}}"""
    acc.reset()
  }

  /** None when the file overflowed `maxEntries` or sealed zero blocks. */
  def toJsonOpt: Option[String] =
    if (dropped || entries.isEmpty) None
    else Some(entries.mkString("[", ",", "]"))
}

private[sources] object OcfStatsTracker {
  /** Re-copy a sealed temp OCF with the given entries added to its header
    * meta map: new header bytes, then the block section streamed through
    * unchanged (same sync marker, same framing — readers cannot tell the
    * file was stamped). One sequential read+write of the file regardless of
    * how many entries are stamped, O(64 KB) heap; the unstamped original is
    * deleted. */
  def rewriteWithMeta(conf: org.apache.hadoop.conf.Configuration,
                      src: Path, dst: Path, entries: Seq[(String, String)]): Unit = {
    val fs = src.getFileSystem(conf)
    val len = fs.getFileStatus(src).getLen
    val in = fs.open(src)
    try {
      // bounded-retry header parse, same discipline as the scan's
      // readHeaderAt (not shared: that one counts toward scan observability)
      var cap = 64 * 1024
      var parsed: (OcfHeader, Long) = null
      while (parsed == null) {
        val m = math.min(cap.toLong, len).toInt
        val buf = new Array[Byte](m)
        in.readFully(0L, buf, 0, m)
        try {
          val r = new AvroBinaryReader(buf, 0, m)
          val h = Ocf.readHeader(r)
          parsed = (h, r.pos.toLong)
        } catch {
          case e: AvroEofException =>
            if (m >= len) throw new AvroResolutionException(
              s"truncated OCF header while stamping stats ($len bytes): ${e.getMessage}")
            cap *= 4
        }
      }
      val (hdr, headerEnd) = parsed
      val meta = hdr.meta.clone()
      entries.foreach { case (k, v) => meta(k) = v.getBytes("UTF-8") }
      val outS = GraftIO.create(fs, dst, true)
      try {
        val hb = Ocf.headerBytes(meta, hdr.sync)
        outS.write(hb, 0, hb.length)
        val buf = new Array[Byte](64 * 1024)
        var pos = headerEnd
        while (pos < len) {
          val r = in.read(pos, buf, 0, math.min(buf.length.toLong, len - pos).toInt)
          if (r < 0) throw new IOException(s"unexpected EOF copying $src at $pos")
          outS.write(buf, 0, r)
          pos += r
        }
      } finally outS.close()
    } finally in.close()
    fs.delete(src, false)
  }
}

/** One written file: temp path + rename destination. */
private[sources] final case class OcfWrittenFile(tmp: String, dest: String,
    // set when this is an EQUALITY-DELETE key file (X94): the key column
    // names its datums tuple over — publish() manifests it as a delete
    // entry, never as table data
    eqKeys: Option[Seq[String]] = None)

/** One task's committed output: every sealed (tmp, dest) pair — empty for a
  * partition that wrote nothing — plus the row total. */
private[sources] final case class OcfCommitMessage(
    files: Seq[OcfWrittenFile], rows: Long) extends WriterCommitMessage

/** Maintenance for OCF output directories. */
object OcfMaintenance {

  /** Delete ORPHANED writer temps (`.*.avro.tmp`) older than `minAgeMs` —
    * the leftovers of a driver that died between task commit and job
    * commit, which no future job will ever rename or clean. The age gate
    * keeps a LIVE concurrent job's temps safe (its files are younger), the
    * same discipline as any staged-commit janitor. Returns the number of
    * temp files removed. */
  /** Compact a directory of (typically many small) OCF files into
    * size-bounded ones: splittable scan in, V2 sink out — decode and
    * re-encode ride the same verified paths as any query, so mixed writer
    * schemas resolve against `readerSchema` (or the first file's schema)
    * and the output is uniformly that schema at `codec`. The small-files
    * problem is the top operational cost of long-running streaming sinks at
    * scale: a year of 1-minute epochs is half a million files whose
    * per-file open/close dominates scan time; compaction turns them into
    * `targetBytes`-bounded containers. Writes to a SEPARATE directory —
    * an in-place swap is the caller's (atomic rename) decision. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, codec: String = "null",
              targetBytes: Long = 128L * 1024 * 1024,
              readerSchemaJson: Option[String] = None,
              statsColumns: Option[Seq[String]] = None,
              zorderColumns: Option[Seq[String]] = None,
              preserveSort: Boolean = true,
              // rewrite ONLY these table-relative files (snapshot-managed
              // input only) — rewrite_position_deletes folds exactly the
              // delete-burdened files this way
              onlyFiles: Option[Set[String]] = None,
              // the table's CURRENT hidden-transform spec (X100): when
              // given, the read hides `_p_*` levels (catalog lens — mixed
              // spec eras union instead of refusing) and the output is
              // re-routed under THIS spec, computed from the rows' source
              // columns — compaction/folds UNIFY eras to the current
              // spec, the Iceberg rewrite_data_files behavior. None keeps
              // the path-read behavior: levels preserved verbatim.
              transformPartitions: Option[String] = None,
              // the table's CURRENT bucket spec (X103): (bucket columns,
              // current numBuckets, genesis numBuckets when ever evolved).
              // When given, bucket levels fold into the read's spec (mixed
              // eras union) and the output re-hashes every row under the
              // CURRENT modulus — compaction UNIFIES bucket eras, after
              // which storage-partitioned reporting returns. None keeps
              // the path-read behavior: the level reads as an ordinary
              // partition column, preserved verbatim.
              bucketPartitions: Option[(Seq[String], Int, Option[Int])] = None): Unit = {
    require(inDir != outDir, "compact writes to a separate directory")
    require(zorderColumns.forall(_.nonEmpty),
      "graft-ocf compact: zorderColumns, when given, needs at least one column")
    val conf = spark.sessionState.newHadoopConf()
    // The listing MIRRORS the read path's (`OcfDataSource.resolve`): direct
    // root files if any, else recurse into a hive-partitioned tree. A
    // recursive-always listing here would count bytes the non-recursive
    // read never scans (inflating the output file count) and feed infer()
    // mixed layouts that the read itself never sees. The inferred partition
    // layout is PRESERVED on the output — compacting a hive-partitioned
    // stream landing must not flatten partition values into data columns.
    val inRoot = new Path(inDir)
    val inFs = inRoot.getFileSystem(conf)
    val snapManaged = OcfSnapshots.enabled(inFs, inRoot)
    require(onlyFiles.isEmpty || snapManaged,
      "graft-ocf compact: onlyFiles needs a snapshot-managed input")
    val files0 =
      if (snapManaged)
        // snapshot-managed input: the manifest is the visible set (retained
        // time-travel files must not fold into the compaction)
        OcfDataSource.snapshotAwareList(conf, Seq(inDir), None, recursive = true)
      else {
        val direct = OcfDataSource.list(conf, Seq(inDir), None, recursive = false)
        if (direct.nonEmpty) direct
        else OcfDataSource.list(conf, Seq(inDir), None, recursive = true)
      }
    val files = onlyFiles match {
      case Some(sel) =>
        val qualRoot = inFs.makeQualified(inRoot).toString
        files0.filter(f => sel(OcfSnapshots.relativize(qualRoot, f.path)))
      case None => files0
    }
    require(files.nonEmpty, s"graft-ocf compact: no input files under $inDir")
    val qualified = {
      val hp = new Path(inDir); Seq(hp.getFileSystem(conf).makeQualified(hp).toString)
    }
    val (allCols, _) = OcfPartitions.infer(qualified, files,
      unionSynthetic = transformPartitions.isDefined || bucketPartitions.isDefined)
    // under the catalog lens the `_p_*` levels are derived data, not
    // partition columns: the write recomputes them from the rows under the
    // CURRENT spec instead of preserving the old era's directories
    val partCols0c =
      if (transformPartitions.isEmpty) allCols
      else allCols.filterNot(c => OcfTransforms.specOfDirCol(c).isDefined)
    // likewise bucket levels (X103): re-hashed from the rows, not preserved
    val partCols =
      if (bucketPartitions.isEmpty) partCols0c
      else partCols0c.filterNot(OcfBucket.isLevel)
    // Stats stamps are PRESERVED too: compaction re-stamps the columns the
    // input files carried (union across files — a partially-stamped input
    // still skips on whichever files have bounds, and so should the output)
    // unless the caller overrides. Silently dropping `graft.stats` would
    // turn the recommended maintenance job into a skipping/pushdown
    // regression for every reader of the compacted directory.
    // The header scan always runs: a statsColumns override replaces the
    // STATS set only — bloom stamps are still discovered and preserved
    // (dropping them because the caller adjusted stats would be the same
    // silent skipping regression for point lookups).
    val seenStats = scala.collection.mutable.LinkedHashSet.empty[String]
    val seenBloom = scala.collection.mutable.LinkedHashSet.empty[String]
    var seenBlockIdx = false
    val seenSorted = scala.collection.mutable.ArrayBuffer.empty[Option[Seq[String]]]
    files.foreach { f =>
      val p = new Path(f.path)
      val in = p.getFileSystem(conf).open(p)
      try {
        val (hdr, _) = OcfDataSource.readHeaderAt(in, f.len)
        if (statsColumns.isEmpty)
          hdr.meta.get("graft.stats").foreach(b =>
            seenStats ++= OcfPartitions.parseStats(new String(b, "UTF-8")).keys.toSeq.sorted)
        hdr.meta.get("graft.bloom").foreach(b =>
          seenBloom ++= OcfBloom.parse(new String(b, "UTF-8")).keys.toSeq.sorted)
        seenBlockIdx ||= hdr.meta.contains("graft.blockIndex")
        seenSorted += hdr.meta.get("graft.sortedBy").flatMap(b =>
          OcfPartitions.parseSortedBy(new String(b, "UTF-8")))
      } finally in.close()
    }
    // sorted layout is preserved like stats/bloom: when EVERY input file
    // certifies the SAME order, the output is re-sorted on it (coalesced
    // split merging interleaves files, so the order must be re-established;
    // the sink's tracker then re-certifies each output file). Compaction
    // must not silently cost the directory its TopN/ordering pushdown.
    val commonSorted: Seq[String] =
      if (seenSorted.nonEmpty && seenSorted.forall(_.isDefined) &&
          seenSorted.iterator.map(_.get).distinct.size == 1) seenSorted.head.get
      else Nil
    val stampedCols: Seq[String] = statsColumns.getOrElse(seenStats.toSeq)
    // one output file per ~targetBytes of INPUT: the sink writes one file
    // per task, so the scan's one-split-per-small-file parallelism must be
    // coalesced (shuffle-free split merging) down to the output file count;
    // maxBytesPerFile still rolls any task whose share lands oversized
    val inputBytes = files.map(_.len).sum
    val parts = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes).toInt
    val r0 = spark.read.format("graft-ocf")
    val r1 = onlyFiles.foldLeft(r0)((b, sel) =>
      b.option("graft.files", sel.toSeq.sorted.mkString(",")))
    val r2 = transformPartitions.foldLeft(r1)((b, tp) =>
      b.option("transformPartitions", tp))
    val r = bucketPartitions.foldLeft(r2) { case (b, (cols, n, genesis)) =>
      val b1 = b.option("bucketColumns", cols.mkString(","))
        .option("numBuckets", n.toString)
      genesis.fold(b1)(g => b1.option("numBucketsGenesis", g.toString))
    }
    val df = readerSchemaJson.foldLeft(r)((b, j) => b.option("readerSchema", j))
      .load(inDir)
    // a readerSchema projection may drop a stamped column; stamp only what
    // the output will actually contain — resolution handles nested dotted
    // paths (info.score) the same way the sink itself will
    val outCols = df.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val keptStats = stampedCols.filter(c => OcfWrite.resolveStatPath(df.schema, c).isDefined)
    // a readerSchema override can also PROMOTE a stamped column to a type
    // blooms don't support (int -> double); stamp only still-eligible ones
    // (nested dotted names resolve the same way the sink's will)
    val keptBloom = seenBloom.toSeq.filter(c =>
      OcfWrite.resolveStatPath(df.schema, c).exists(sc => OcfBloom.eligible(sc.dt)))
    // OPTIMIZE-ZORDER mode: instead of shuffle-free split coalescing, the
    // rows are RANGE-partitioned and sorted along the Morton curve of
    // `zorderColumns` (graft.ops.Layout.zorderBy), and those columns join
    // the stats set (with block indexing) so the relayout immediately
    // serves multi-column file AND block skipping. Unpartitioned layouts
    // only: the sink's partition-first required sort would destroy the
    // in-task z-order. One full decode+shuffle of the directory — the
    // declared price of re-clustering, vs. plain compaction's streaming
    // merge.
    val zcols: Seq[String] = zorderColumns.getOrElse(Nil).map { zc =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(zc)).getOrElse(
        throw new IllegalArgumentException(
          s"graft-ocf compact: zorderColumns entry '$zc' is not in the output schema"))
      require(graft.spark.ZOrderKey.tagOf(f.dataType) >= 0,
        s"graft-ocf compact: zorderColumns entry '$zc' has type " +
          s"${f.dataType.simpleString}, not z-order encodable")
      f.name
    }
    require(zcols.isEmpty || partCols.isEmpty,
      "graft-ocf compact: zorderColumns is not supported on a hive-partitioned " +
        "layout (the partition-first write sort would undo the z-order); " +
        "compact each partition directory separately instead")
    require(zcols.isEmpty || transformPartitions.forall(_.trim.isEmpty),
      "graft-ocf compact: zorderColumns is not supported on a transform-" +
        "partitioned layout (the transform-first write sort would undo the " +
        "z-order)")
    require(zcols.isEmpty || bucketPartitions.isEmpty,
      "graft-ocf compact: zorderColumns is not supported on a bucketed " +
        "layout (rows re-route per bucket, interleaving the z-order)")
    // bucketed relayout: the path write has no function catalog to CLUSTER
    // on bucket(n, cols), and the sink keeps ONE open file, sealing on
    // every directory change — unsorted input would seal a file per bucket
    // RUN (thousands of tiny files from one compact). Route locally
    // instead: compute the engine-owned bucket id and sort each coalesced
    // task's rows by it, so a task seals at most numBuckets files. The udf
    // is maintenance-side row routing with no built-in equivalent (the
    // bucket hash is the engine's own FNV/splitmix).
    val clustered = bucketPartitions match {
      case Some((cols, n, _)) if zcols.isEmpty =>
        val dts = cols.map(c => df.schema.fields
          .find(_.name.equalsIgnoreCase(c)).get.dataType).toArray
        val route = org.apache.spark.sql.functions.udf(
          (r: org.apache.spark.sql.Row) => OcfBucket.idOfValues(
            Array.tabulate[Any](r.length)(r.get), dts, n))
        val rcol = "__graft_bucket_route"
        df.withColumn(rcol, route(org.apache.spark.sql.functions.struct(
            cols.map(df.col): _*)))
          .coalesce(parts).sortWithinPartitions(rcol).drop(rcol)
      case _ => df.coalesce(parts)
    }
    var w = (if (zcols.nonEmpty) graft.ops.Layout.zorderBy(df, parts, zcols: _*)
             else clustered)
      .write.format("graft-ocf").mode("overwrite")
      .option("codec", codec)
      .option("maxBytesPerFile", targetBytes.toString)
    if (partCols.nonEmpty) w = w.option("partitionBy", partCols.mkString(","))
    transformPartitions.filter(_.trim.nonEmpty).foreach { tp =>
      w = w.option("transformPartitions", tp)
        .option("graft.catalogWrite", "true")
        // no function catalog on a path write: sort by the (monotone)
        // source columns locally instead of clustering on `days(ts)`
        .option("graft.transformsBySource", "true")
    }
    bucketPartitions.foreach { case (cols, n, genesis) =>
      w = w.option("bucketColumns", cols.mkString(","))
        .option("numBuckets", n.toString)
        // no function catalog on a path write: the writer's directory-
        // revisit tolerance routes rows per-file instead of clustering
        .option("graft.bucketNoClustering", "true")
      genesis.foreach(g => w = w.option("numBucketsGenesis", g.toString))
    }
    val statsWithZ = (keptStats ++ zcols.filterNot(keptStats.contains)).toSeq
    if (statsWithZ.nonEmpty) w = w.option("statsColumns", statsWithZ.mkString(","))
    if (keptBloom.nonEmpty) w = w.option("bloomColumns", keptBloom.mkString(","))
    // a readerSchema projection may drop a sort column: the surviving
    // PREFIX still orders the output (a longer-list suffix cannot). A
    // z-order relayout replaces any previous per-column order outright.
    // preserveSort=false opts out of the re-sort (each output task fully
    // sorts its coalesced input — ~targetBytes of buffer/spill per task);
    // the compacted directory then reads as unordered, trading the
    // TopN/ordering pushdown for a plain streaming merge.
    val keptSorted =
      if (zcols.nonEmpty || !preserveSort) Nil
      else commonSorted.takeWhile(c => outCols(c.toLowerCase(java.util.Locale.ROOT)))
    if (keptSorted.nonEmpty) w = w.option("sortColumns", keptSorted.mkString(","))
    // block indexes are re-derived over the output's (possibly overridden)
    // stats set — they only exist alongside statsColumns. The entry cap is
    // scaled to the output file size (targetBytes / default blockBytes, 2x
    // slack): large compaction targets must not silently overflow the
    // default cap and drop the very index being preserved.
    if ((seenBlockIdx || zcols.nonEmpty) && statsWithZ.nonEmpty) {
      w = w.option("blockIndex", "true")
      val entryCap = math.max(8192L, 2L * targetBytes / Ocf.SyncInterval)
      w = w.option("blockIndexMaxEntries", entryCap.toString)
    }
    w.save(outDir)
  }

  def vacuumTemps(spark: org.apache.spark.sql.SparkSession, dir: String,
                  minAgeMs: Long = 24L * 60 * 60 * 1000): Long = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dirPath)) return 0L
    val cutoff = System.currentTimeMillis() - minAgeMs
    var removed = 0L
    // recursive: partitioned writers stage temps inside col=value/ subdirs
    val it = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.startsWith(".") && n.endsWith(".avro.tmp") &&
          st.getModificationTime < cutoff) {
        if (fs.delete(st.getPath, false)) removed += 1
      }
    }
    // orphaned staged-CTAS/RTAS directories (a driver that died before
    // commitStagedChanges/abortStagedChanges): whole-directory removals,
    // same age gate so a LIVE staged write is never swept
    fs.listStatus(dirPath).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("_staged-") &&
          st.getModificationTime < cutoff) {
        if (fs.delete(st.getPath, true)) removed += 1
      }
    }
    removed
  }
}

private[sources] object OcfCommit {

  /** Driver-side job/epoch commit: optionally clear the directory's VISIBLE
    * files (overwrite / complete mode), just the committing epoch's
    * `clearPrefix`-named files (replay idempotence even when the replay
    * writes fewer files), the files whose partition values match a
    * partition-exact `clearWhere` predicate (static partition overwrite —
    * `INSERT OVERWRITE … PARTITION (col=v)` replaces exactly that
    * directory's files), or the partition directories RECEIVING new files
    * (`clearDynamic`, Spark's dynamic partition overwrite mode — untouched
    * partitions survive), then rename every committed temp over its final
    * name. Replacement uses [[GraftIO.renameOverwrite]] — a SINGLE atomic
    * operation on local (POSIX rename) and HDFS (FileContext OVERWRITE), so
    * a driver crash mid-commit never leaves a destination deleted but not
    * yet replaced; the exists→delete→rename fallback is only for
    * filesystems with neither. */
  def publish(cfg: OcfWriteConfig, messages: Array[WriterCommitMessage],
              clearVisible: Boolean, clearPrefix: Option[String] = None,
              clearWhere: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
              clearDynamic: Boolean = false,
              clearPaths: Option[Seq[String]] = None): Unit = {
    val dirPath = new Path(cfg.dir)
    val fs = dirPath.getFileSystem(cfg.conf.value)
    GraftIO.mkdirs(fs, dirPath)
    // snapshot mode when the config asks for it (catalog tables) OR the
    // directory is already snapshot-managed — a path-API write into a
    // snapshot table must keep the manifest consistent, else its rows
    // would be invisible to (or double-counted by) every manifest read
    if (cfg.snapshots || OcfSnapshots.enabled(fs, dirPath)) {
      publishSnapshot(cfg, messages, clearVisible, clearPrefix, clearWhere,
        clearDynamic, clearPaths)
      return
    }
    require(cfg.branch.isEmpty,
      s"graft-ocf write: option branch='${cfg.branch.get}' needs a " +
        "snapshot-managed table (manifests gate visibility; a plain " +
        "directory has no branch to commit to)")
    // build() already requires snapshots for upsertKeys; backstop here so a
    // key file can never land as plain table data in a bare directory
    require(cfg.upsertKeys.isEmpty,
      "graft-ocf write: upsertKeys needs a snapshot-managed table")
    clearPaths.foreach { paths =>
      // group-based row-level operation (copy-on-write DELETE/UPDATE/MERGE):
      // replace exactly the files the operation's scan read — their
      // surviving/updated rows are among this commit's new files. The new
      // files are still dot-prefixed temps, so these deletes cannot touch
      // them. Paths come from the scan of the SAME table; refuse anything
      // outside the table directory rather than trust them blindly.
      val rootPrefix = fs.makeQualified(dirPath).toString + Path.SEPARATOR
      paths.foreach { p =>
        val qp = fs.makeQualified(new Path(p))
        require(qp.toString.startsWith(rootPrefix),
          s"graft-ocf row-level commit: $qp is outside table directory ${cfg.dir}")
        if (fs.exists(qp)) fs.delete(qp, false)
      }
    }
    clearWhere.foreach { filters =>
      // file-granular static overwrite: a file holds ONE partition tuple,
      // and the builder admitted only partition-exact predicate shapes, so
      // matchesExactly decides every file definitively
      val listed = OcfDataSource.list(cfg.conf.value, Seq(cfg.dir), None, recursive = true)
      if (listed.nonEmpty) {
        val qualified = fs.makeQualified(dirPath).toString
        // the matcher consults IDENTITY columns only; union-tolerate mixed
        // synthetic eras (X100) so a static overwrite on an evolved table
        // still lists
        val (layoutCols, annotated) =
          OcfPartitions.infer(Seq(qualified), listed, unionSynthetic = true)
        val idx = layoutCols.zipWithIndex.toMap
        val typeOf: Map[String, org.apache.spark.sql.types.DataType] =
          cfg.partOrdinals.map(o => cfg.sql.fields(o).name -> cfg.sql.fields(o).dataType).toMap
        def pv(vals: Array[String])(name: String): Option[OcfPartitions.PartVal] =
          for { i <- idx.get(name) if i < vals.length; dt <- typeOf.get(name) }
            yield OcfPartitions.PartVal(vals(i), dt)
        annotated.foreach { f =>
          if (OcfPartitions.matchesExactly(filters, pv(f.partitionValues)))
            fs.delete(new Path(f.path), false)
        }
      }
    }
    if (clearDynamic) {
      // replace exactly the partition directories this job wrote into: the
      // new files are still dot-prefixed temps, so clearing visible files
      // in those directories before the renames cannot touch them
      val targets = messages.flatMap {
        case OcfCommitMessage(files, _) =>
          files.map { f =>
            val parent = fs.makeQualified(new Path(f.dest)).getParent
            // a bucketed file's parent is its `_bucket=K` level; dynamic
            // overwrite replaces the PARTITION, so lift to the partition
            // dir — clearing only the touched buckets would leave stale
            // rows in that partition's untouched buckets
            if (cfg.numBuckets > 0 && OcfBucket.isLevelDir(parent.getName))
              parent.getParent
            else parent
          }
        case _ => Nil
      }.toSet
      targets.foreach { d =>
        // recursive: a bucketed partition's visible files live one
        // `_bucket=K` level below the partition dir being replaced
        if (fs.exists(d)) {
          val it = fs.listFiles(d, true)
          while (it.hasNext) {
            val st = it.next()
            val n = st.getPath.getName
            if (st.isFile && !n.startsWith(".") && !n.startsWith("_"))
              fs.delete(st.getPath, false)
          }
        }
      }
    }
    if (clearVisible || clearPrefix.isDefined) {
      // RECURSIVE: partitioned layouts commit into col=value/ subdirectories,
      // so overwrite-truncate and epoch-replay cleanup must reach them too.
      // Collect-then-delete: the legacy-name guard must fire BEFORE any
      // cleanup delete, not mid-way through one.
      val it = fs.listFiles(dirPath, true)
      val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile) {
          // append-mode epoch commit into a dir still holding old-naming
          // epoch files: refuse (complete mode truncates them anyway)
          if (!clearVisible && clearPrefix.isDefined &&
              OcfWrite.isLegacyEpochName(n))
            throw new IOException(OcfWrite.legacyEpochRefusal(cfg.dir, n))
          val d =
            if (clearVisible) !n.startsWith(".") && !n.startsWith("_")
            else clearPrefix.exists(OcfWrite.epochDoomed(n, _))
          if (d) doomed += st.getPath
        }
      }
      doomed.foreach(fs.delete(_, false))
    }
    renameAll(cfg, fs, messages)
  }

  /** Rename every committed temp over its final name (atomic replace via
    * [[GraftIO.renameOverwrite]]: POSIX rename on local, FileContext
    * OVERWRITE rename on HDFS). */
  private[sources] def renameAll(cfg: OcfWriteConfig, fs: org.apache.hadoop.fs.FileSystem,
                        messages: Array[WriterCommitMessage]): Unit = {
    val madeDirs = scala.collection.mutable.Set.empty[Path]
    messages.foreach {
      case OcfCommitMessage(files, _) => files.foreach { f =>
        val src = fs.makeQualified(new Path(f.tmp))
        val dst = fs.makeQualified(new Path(f.dest))
        if (madeDirs.add(dst.getParent)) GraftIO.mkdirs(fs, dst.getParent)
        GraftIO.renameOverwrite(fs, cfg.conf.value, src, dst)
      }
      case _ => ()
    }
  }

  /** Snapshot-mode commit ([[OcfSnapshots]]): renames land the new files,
    * then ONE manifest commit makes them visible and the replaced set
    * invisible — atomically, against the previous MANIFEST (never the
    * directory listing, which still holds retained time-travel files).
    * Nothing is physically deleted here; `expire_snapshots` reclaims
    * unreferenced files when history is dropped. The removal selectors
    * mirror the physical-delete modes of the listing path exactly. */
  private def publishSnapshot(cfg: OcfWriteConfig, messages: Array[WriterCommitMessage],
                              clearVisible: Boolean, clearPrefix: Option[String],
                              clearWhere: Option[Seq[org.apache.spark.sql.sources.Filter]],
                              clearDynamic: Boolean,
                              clearPaths: Option[Seq[String]]): Unit = {
    val dirPath = new Path(cfg.dir)
    val fs = dirPath.getFileSystem(cfg.conf.value)
    renameAll(cfg, fs, messages)
    val qualDir = fs.makeQualified(dirPath).toString
    val addedPathsLens: Seq[(String, Long)] = messages.toSeq.flatMap {
      case OcfCommitMessage(files, _) => files.map { f =>
        val dst = fs.makeQualified(new Path(f.dest))
        (dst.toString, fs.getFileStatus(dst).getLen)
      }
      case _ => Nil
    }
    // embed each new file's header metadata in the manifest (schema, codec,
    // sync, first-block offset, rows/stats/sort stamps + bloom/block-index
    // presence): one pooled header read per file at COMMIT time buys every
    // future read a zero-pread plan
    val addedMetas = OcfDataSource.fetchMetas(cfg.conf.value,
      addedPathsLens.map { case (p, l) => OcfDataSource.FileSlice(p, l) })
    // upsert key files (X94) manifest as EQUALITY-DELETE entries: commit()
    // stamps their seq, so they burden exactly the files born before them
    val eqKeyByDest: Map[String, Seq[String]] = messages.toSeq.flatMap {
      case OcfCommitMessage(files, _) => files.flatMap(f =>
        f.eqKeys.map(k => fs.makeQualified(new Path(f.dest)).toString -> k))
      case _ => Nil
    }.toMap
    val added: Seq[OcfSnapshots.SnapFile] = addedMetas.map { m =>
      OcfSnapshots.SnapFile(OcfSnapshots.relativize(qualDir, m.path), m.len,
        meta = Some(m.copy(
          bloomInHeader = m.bloomJson.isDefined,
          blockIndexInHeader = m.blockIndexJson.isDefined,
          // the large stamps live in the header, not the manifest
          bloomJson = None, blockIndexJson = None,
          partitionValues = Array.empty)),
        equalityOf = eqKeyByDest.get(m.path))
    }
    // relative partition directory of a manifest path, the `_bucket=K`
    // level lifted — dynamic overwrite replaces PARTITIONS, not buckets
    def partDirOfRel(rel: String): String = {
      val i = rel.lastIndexOf('/')
      val dir = if (i < 0) "" else rel.substring(0, i)
      if (cfg.numBuckets == 0) dir
      else {
        val j = dir.lastIndexOf('/')
        val last = if (j < 0) dir else dir.substring(j + 1)
        if (OcfBucket.isLevelDir(last))
          (if (j < 0) "" else dir.substring(0, j))
        else dir
      }
    }
    val dynTargets: Set[String] =
      if (clearDynamic) added.map(f => partDirOfRel(f.path)).toSet else Set.empty
    val clearPathSet: Set[String] = clearPaths.getOrElse(Nil)
      .map(p => fs.makeQualified(new Path(p)).toString).toSet
    val typeOf: Map[String, org.apache.spark.sql.types.DataType] =
      cfg.partOrdinals.map(o => cfg.sql.fields(o).name -> cfg.sql.fields(o).dataType).toMap
    def removedBy(f: OcfSnapshots.SnapFile): Boolean = {
      if (clearVisible) true
      else if (clearPrefix.isDefined) {
        val name = f.path.substring(f.path.lastIndexOf('/') + 1)
        clearPrefix.exists(OcfWrite.epochDoomed(name, _))
      } else if (clearWhere.isDefined) {
        val segs = f.path.split('/').dropRight(1).takeWhile(_.contains('='))
        val idx = segs.map(_.takeWhile(_ != '=')).zipWithIndex.toMap
        val vals = segs.map { s =>
          val v = s.substring(s.indexOf('=') + 1)
          if (v == OcfPartitions.NullDir) null else OcfPartitions.unescape(v)
        }
        def pv(name: String): Option[OcfPartitions.PartVal] =
          for { i <- idx.get(name); dt <- typeOf.get(name) }
            yield OcfPartitions.PartVal(vals(i), dt)
        OcfPartitions.matchesExactly(clearWhere.get, pv)
      } else if (clearDynamic) dynTargets.contains(partDirOfRel(f.path))
      else if (clearPathSet.nonEmpty)
        clearPathSet.contains(fs.makeQualified(
          new Path(dirPath, f.path)).toString)
      else false
    }
    val op =
      if (clearPaths.isDefined) "replace-rows"
      else if (clearWhere.isDefined) "overwrite-where"
      else if (clearDynamic) "overwrite-dynamic"
      else if (clearVisible) "overwrite"
      else if (clearPrefix.isDefined) "stream-epoch"
      else "append"
    // a replayed streaming epoch reuses its deterministic names: the added
    // entry REPLACES any same-path survivor, never duplicates it
    val addedPaths = added.map(_.path).toSet
    val transform: Seq[OcfSnapshots.SnapFile] => Seq[OcfSnapshots.SnapFile] = { prev =>
      // same legacy-epoch-name guard as the listing path: an append-mode
      // epoch commit refuses while pre-'e'-named epoch files are still
      // visible (throwing here aborts BEFORE the manifest commit; the
      // landed temps stay invisible)
      if (!clearVisible && clearPrefix.isDefined) prev.foreach { f =>
        val name = f.path.substring(f.path.lastIndexOf('/') + 1)
        if (OcfWrite.isLegacyEpochName(name))
          throw new IOException(OcfWrite.legacyEpochRefusal(cfg.dir, name))
      }
      // dynamic overwrite matches replaced partitions by the CURRENT
      // spec's directory shape — a mixed-era layout (X100 evolution)
      // would silently keep old-era rows of the very partitions being
      // "replaced". Refuse loudly: unify first.
      if (clearDynamic) {
        val cur = cfg.transformSpecs.map(_.dirCol).toSet
        prev.filter(_.isData).foreach { f =>
          val eraLevels = f.path.split('/').dropRight(1)
            .filter(_.contains('='))
            .map(_.takeWhile(_ != '='))
            .filter(_.startsWith("_p_")).toSet
          if (eraLevels != cur)
            throw new IOException(
              "graft-ocf write: dynamic partition overwrite over a MIXED " +
                "partition-spec layout would silently keep old-era rows " +
                s"of the replaced partitions (file '${f.path}' carries " +
                s"levels ${eraLevels.mkString("[", ",", "]")}, current " +
                s"spec ${cur.mkString("[", ",", "]")}). Compact the " +
                "table to the current spec first (CALL <cat>.system." +
                "compact), or use an explicit OVERWRITE")
        }
      }
      prev.filterNot(f => removedBy(f) || addedPaths.contains(f.path)) ++ added
    }
    cfg.branch match {
      case Some(b) =>
        OcfSnapshots.commitToBranch(fs, dirPath, b, op, cfg.tableSchemaJson)(transform)
      case None =>
        OcfSnapshots.commit(fs, dirPath, op, cfg.tableSchemaJson)(transform)
    }
    ()
  }

  def discard(cfg: OcfWriteConfig, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(cfg.dir).getFileSystem(cfg.conf.value)
    messages.foreach {
      case OcfCommitMessage(files, _) => files.foreach { f =>
        val p = new Path(f.tmp)
        if (fs.exists(p)) fs.delete(p, false)
      }
      case _ => ()
    }
  }
}
