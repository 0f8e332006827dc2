package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Hive-style directory partitioning for `graft-ocf`: encoding of partition
  * values into `col=value/` path segments on write, inference of partition
  * columns from file paths on read, and the conservative driver-side filter
  * evaluation that prunes partitions (exact, from path values) and skips
  * files (range-based, from header-stamped min/max stats) before any data
  * is fetched.
  *
  * Partition COLUMN TYPES: the directory name is the value's only durable
  * representation, so the read side infers each column's type from the
  * values themselves — int, then long, then date, else string — accepting a
  * type only when EVERY value round-trips canonically ("007" stays a
  * string; "2020" is an int; "2020-06-01" is a date). A `partitionSchema`
  * read option (Spark DDL, e.g. "year INT, lang STRING") overrides
  * inference per column; `inferPartitionTypes=false` reverts every column
  * to string. Typed columns compare NUMERICALLY in partition pruning (no
  * "10" < "9" string traps) and round-trip a `partitionBy` write→read with
  * the input schema intact.
  */
private[graft] object OcfPartitions {

  /** One file's value for a partition column, paired with the column's READ
    * type: `raw` is the unescaped directory string (null = hive null dir);
    * comparisons against pushed filter values go through the type. */
  final case class PartVal(raw: String, dt: DataType)

  /** Directory name for a null partition value (Hive's convention). */
  val NullDir: String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** Hive-rule path escaping, delegated to Spark's own implementation so a
    * directory written by this sink and one written by Spark's file sources
    * agree byte-for-byte on every value. */
  def escape(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  def unescape(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** One `col=value/...` relative directory for a row's partition values
    * (empty string when unpartitioned). */
  def partitionDir(names: Array[String], values: Array[String]): String =
    names.indices.map { i =>
      names(i) + "=" + (values(i) match {
        case null => NullDir
        case v    => escape(v)
      })
    }.mkString("/")

  /** Infer partition columns from the listed files' paths relative to the
    * load roots: consecutive `k=v` directory segments directly under a root
    * are partition columns. All files must agree on the exact column
    * sequence (a half-partitioned directory is a layout bug, not something
    * to paper over). Returns the column names and each file annotated with
    * its (unescaped, null-decoded) values, aligned to the names. */
  /** Sentinel partition value for a SYNTHETIC directory level a file does
    * not carry (written before a partition-spec evolution added the level,
    * or after one removed it). Distinct from `null` — `null` means the
    * file's rows have a NULL source value (the `NullDir` rendering) and
    * PRUNES against null-intolerant predicates, while an absent level says
    * nothing about the rows and must always admit. The NUL byte cannot
    * appear in a real directory name. */
  val AbsentDir: String = "\u0000absent"

  def infer(roots: Seq[String], files: Seq[OcfDataSource.FileSlice],
            // partition-spec evolution (X100): union heterogeneous layouts
            // by LEVEL NAME, provided every disagreement is a synthetic
            // (`_p_*` transform / `_bucket`) level — identity partition
            // columns must still agree everywhere. Only engine-driven
            // reads (which declare the spec) opt in; a bare path read
            // keeps the loud refusal (it would otherwise surface phantom
            // absent values as column data).
            unionSynthetic: Boolean = false)
      : (Seq[String], Seq[OcfDataSource.FileSlice]) = {
    // normalize roots for prefix matching (they were resolved by the same
    // FileSystem that produced the file paths, but may lack scheme)
    val rootDirs = roots.map(r => new Path(r).toUri.getPath.stripSuffix("/"))
    def segmentsOf(path: String): Seq[(String, String)] = {
      val p = new Path(path).toUri.getPath
      val dir = p.substring(0, p.lastIndexOf('/'))
      val rel = rootDirs.collectFirst {
        case r if dir == r => ""
        case r if dir.startsWith(r + "/") => dir.substring(r.length + 1)
      }.getOrElse("")
      if (rel.isEmpty) Nil
      else rel.split('/').toSeq.takeWhile(_.contains('=')).map { seg =>
        val eq = seg.indexOf('=')
        (seg.substring(0, eq), seg.substring(eq + 1))
      }
    }
    val perFile = files.map(f => f -> segmentsOf(f.path))
    val colSeqs = perFile.map(_._2.map(_._1)).distinct
    colSeqs match {
      case Seq(Seq()) | Seq() => (Nil, files)
      case Seq(cols) =>
        (cols, perFile.map { case (f, segs) =>
          f.copy(partitionValues = segs.map { case (_, v) =>
            if (v == NullDir) null else unescape(v)
          }.toArray)
        })
      case many =>
        def refuse(): Nothing = throw new IllegalArgumentException(
          "graft-ocf: inconsistent partition layout under " +
            s"${roots.mkString(", ")} — files disagree on partition columns: " +
            many.map(_.mkString("[", ",", "]")).mkString(" vs "))
        if (!unionSynthetic) refuse()
        // X100: identity prefixes must agree; every extra level must be
        // synthetic. Union = identity ++ transform levels (first-seen
        // order) ++ bucket levels last (genesis `_bucket` first, then
        // era-stamped `_bucketN` by modulus — X103 bucket-count
        // evolution); a file's missing levels read AbsentDir.
        def synthetic(c: String) = OcfBucket.isLevel(c) || c.startsWith("_p_")
        val idSeqs = many.map(_.takeWhile(c => !synthetic(c))).distinct
        if (idSeqs.length != 1) refuse()
        val identity = idSeqs.head
        if (many.exists(_.drop(identity.length).exists(c => !synthetic(c))))
          refuse()
        val synth = many.flatMap(_.drop(identity.length)).distinct
        val (buckets0, trans) = synth.partition(OcfBucket.isLevel)
        val buckets = buckets0.sortBy(c => OcfBucket.levelEra(c).getOrElse(-1))
        val union = identity ++ trans ++ buckets
        (union, perFile.map { case (f, segs) =>
          val byName = segs.toMap
          f.copy(partitionValues = union.map { c =>
            byName.get(c) match {
              case Some(v) => if (v == NullDir) null else unescape(v)
              case None => AbsentDir
            }
          }.toArray)
        })
    }
  }

  // ---- partition column types ----------------------------------------------

  /** Types a partition directory value can be declared as (via the
    * `partitionSchema` read option). Inference proposes only int/long/date;
    * byte/short are declaration-only (their rendered values are
    * indistinguishable from int in a path). */
  def supportedPartType(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  /** `yyyy-MM-dd` days-since-epoch, accepted only when the string is the
    * CANONICAL rendering of the date (what this sink writes) — a lenient
    * parse ("2020-6-1") must not claim date-ness the round-trip would then
    * rewrite. */
  private[sources] def dateDays(v: String): Option[Int] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    DateTimeUtils.stringToDate(org.apache.spark.unsafe.types.UTF8String.fromString(v))
      .filter(d => DateTimeUtils.daysToLocalDate(d).toString == v)
  }

  /** Narrowest type in int → long → date → string that every non-null value
    * round-trips through EXACTLY. Canonical round-trip (not just parse)
    * keeps read-back values byte-faithful to the directory names: "007"
    * parses as 7 but renders back "7", so it stays a string. An all-null
    * column stays a string (no evidence to claim anything narrower). */
  def inferColumnType(values: Iterator[String]): DataType = {
    var canInt = true; var canLong = true; var canDate = true
    var sawValue = false
    values.foreach { v =>
      if (v != null) {
        sawValue = true
        if (canInt && !v.toIntOption.exists(_.toString == v)) canInt = false
        if (canLong && !v.toLongOption.exists(_.toString == v)) canLong = false
        if (canDate && dateDays(v).isEmpty) canDate = false
        if (!canInt && !canLong && !canDate) return StringType
      }
    }
    if (!sawValue) StringType
    else if (canInt) IntegerType else if (canLong) LongType
    else if (canDate) DateType else StringType
  }

  /** The Catalyst-internal value of a path string under the column's read
    * type (Int days for dates, UTF8String for strings). The SINGLE
    * materialization point for partition values — row assembly, grouped
    * aggregate constants and keyed splits all come through here, so they can
    * never disagree. A value that does not parse fails loudly: resolution
    * validated every file's values against the schema, so a failure here is
    * a schema/layout drift bug, not a quiet null. */
  def castPartValue(raw: String, dt: DataType): Any =
    if (raw == null) null else dt match {
      case StringType  => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      case ByteType    => java.lang.Byte.valueOf(raw.toByte)
      case ShortType   => java.lang.Short.valueOf(raw.toShort)
      case IntegerType => java.lang.Integer.valueOf(raw.toInt)
      case LongType    => java.lang.Long.valueOf(raw.toLong)
      case DateType    => java.lang.Integer.valueOf(dateDays(raw).getOrElse(
        throw new IllegalArgumentException(
          s"graft-ocf: partition value '$raw' is not a date (yyyy-MM-dd)")))
      case other => throw new IllegalArgumentException(
        s"graft-ocf: unsupported partition column type ${other.simpleString}")
    }

  /** External → path-string rendering for a partition value on WRITE (the
    * inverse of [[castPartValue]]'s parse): dates render ISO so the
    * directory is human-readable and the read side re-infers DateType. */
  def renderPartValue(internal: Any, dt: DataType): String = dt match {
    case DateType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .daysToLocalDate(internal.asInstanceOf[Int]).toString
    case _ => String.valueOf(internal)
  }

  /** Resolve the partition columns' read types: a `partitionSchema` DDL
    * declaration wins per column; otherwise inference over every file's
    * values (or string when `inferPartitionTypes=false`). Every file value
    * is validated against the resolved type AT PLAN TIME — a declared INT
    * over a directory holding `year=unknown/` must fail the plan, not a
    * mid-job task. */
  def resolvePartSchema(partCols: Seq[String], files: Seq[OcfDataSource.FileSlice],
                        declaredDdl: Option[String], inferTypes: Boolean): StructType = {
    val declared = declaredDdl.map(StructType.fromDDL)
    declared.foreach { st =>
      st.fields.foreach { f =>
        require(partCols.exists(_.equalsIgnoreCase(f.name)),
          s"graft-ocf: partitionSchema column '${f.name}' is not a partition " +
            s"column of this layout (${partCols.mkString(", ")})")
        require(supportedPartType(f.dataType),
          s"graft-ocf: partitionSchema column '${f.name}' has unsupported type " +
            s"${f.dataType.simpleString}; partition values can be " +
            "string/byte/short/int/long/date")
      }
    }
    StructType(partCols.zipWithIndex.map { case (pc, i) =>
      def valuesOf: Iterator[String] = files.iterator.map(f =>
        if (i < f.partitionValues.length) f.partitionValues(i) else null)
      val dt = declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(pc))) match {
        case Some(f) =>
          valuesOf.foreach { v =>
            if (v != null) try castPartValue(v, f.dataType) catch {
              case e: Exception => throw new IllegalArgumentException(
                s"graft-ocf: partition value '$pc=$v' does not parse as " +
                  s"declared type ${f.dataType.simpleString}", e)
            }
          }
          f.dataType
        case None if inferTypes => inferColumnType(valuesOf)
        case None => StringType
      }
      StructField(pc, dt, nullable = true)
    })
  }

  // ---- per-file column statistics (header-stamped min/max) -----------------

  /** Parsed `graft.stats` header entry for one field. `min`/`max` are absent
    * when every value was null. `nonNull` (the exact non-null row count) and
    * `sum` (exact integral sum) are absent on stamps written before they
    * existed — absent means the scan refuses the corresponding COUNT/SUM
    * aggregate pushdown, never that it guesses. */
  final case class ColStat(typ: String, min: Option[JsonNode], max: Option[JsonNode],
                           hasNull: Boolean, allNull: Boolean,
                           nonNull: Option[Long] = None, sum: Option[Long] = None,
                           // NDV sketch (X89): base64 HLL registers; absent
                           // on pre-sketch stamps (CBO just reports no NDV)
                           hllB64: Option[String] = None) {
    /** sign(v - min), sign(v - max); None when `v`'s type does not line up
      * with the stamped type (no skipping on a mismatched comparison). */
    def cmp(v: Any): Option[(Int, Int)] = (min, max) match {
      case (Some(mn), Some(mx)) => (typ, v) match {
        case ("long", n: Number) if n.isInstanceOf[java.lang.Long] ||
            n.isInstanceOf[Integer] || n.isInstanceOf[java.lang.Short] ||
            n.isInstanceOf[java.lang.Byte] =>
          Some((java.lang.Long.compare(n.longValue, mn.asLong),
            java.lang.Long.compare(n.longValue, mx.asLong)))
        // date/timestamp columns stamp their internal backing value (days /
        // micros) under typ "long"; the pushed V1 Filter carries the
        // EXTERNAL value — convert with Spark's own DateTimeUtils so the
        // comparison is exactly the engine's
        case ("long", t) =>
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          val internal: Option[Long] = t match {
            case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
            case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toLong)
            case ts: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(ts))
            case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
            case ldt: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(ldt))
            case _ => None
          }
          internal.map(x => (java.lang.Long.compare(x, mn.asLong),
            java.lang.Long.compare(x, mx.asLong)))
        case ("double", n: Number) =>
          // normalize -0.0 → 0.0 on BOTH sides (the tracker does the same):
          // Spark compares them equal, while Double.compare orders them —
          // an un-normalized bound would wrongly refute `= 0.0` on a file
          // of -0.0s. NaN then follows Spark's ordering (largest) for free.
          def norm(d: Double): Double = if (d == 0.0) 0.0 else d
          Some((java.lang.Double.compare(norm(n.doubleValue), norm(mn.asDouble)),
            java.lang.Double.compare(norm(n.doubleValue), norm(mx.asDouble))))
        case ("string", s: String) =>
          // UTF-8 binary order (UTF8String), matching both the writer's
          // min/max tracking and Spark's own string comparison — Java
          // String.compareTo is UTF-16 code-unit order and disagrees above
          // the BMP, which would skip files that match
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
          Some((u.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(mn.asText)),
            u.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(mx.asText))))
        case _ => None
      }
      case _ => None
    }
  }

  def parseStats(json: String): Map[String, ColStat] =
    parseStatsNode(new ObjectMapper().readTree(json))

  /** Top-level field names of a `graft.stats` / `graft.bloom` JSON object
    * WITHOUT decoding the values (a bloom entry's base64 bits can run to
    * megabytes across a wide listing) — cheap enough to call per file at
    * plan time when deciding which columns runtime filtering can serve.
    * Malformed JSON yields no names (no claim, never an error). */
  def jsonFieldNames(json: String): Seq[String] = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    val out = Seq.newBuilder[String]
    try {
      val p = new JsonFactory().createParser(json)
      try {
        if (p.nextToken() == JsonToken.START_OBJECT) {
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            out += p.currentName()
            p.nextToken()
            p.skipChildren()
          }
        }
      } finally p.close()
    } catch { case _: java.io.IOException => return Nil }
    out.result()
  }

  private def parseStatsNode(root: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, ColStat] = {
    val b = Map.newBuilder[String, ColStat]
    val it = root.fields()
    while (it.hasNext) {
      val e = it.next()
      val o = e.getValue
      b += e.getKey -> ColStat(o.get("t").asText,
        Option(o.get("min")), Option(o.get("max")),
        o.get("hasNull").asBoolean, o.get("allNull").asBoolean,
        Option(o.get("nn")).map(_.asLong), Option(o.get("sum")).map(_.asLong),
        Option(o.get("hll")).map(_.asText))
    }
    b.result()
  }

  /** One `graft.blockIndex` entry: a block's count-varint offset RELATIVE to
    * the end of the header, its row count, its byte length (body + trailing
    * sync), and its per-column bounds in `graft.stats` shape. */
  final case class BlockEntry(offset: Long, rows: Long, len: Long,
                              stats: Map[String, ColStat])

  def parseBlockIndex(json: String): Array[BlockEntry] = {
    val root = new ObjectMapper().readTree(json)
    require(root.isArray, "graft.blockIndex must be a JSON array")
    val out = new Array[BlockEntry](root.size())
    var i = 0
    while (i < out.length) {
      val e = root.get(i)
      out(i) = BlockEntry(e.get("o").asLong, e.get("n").asLong,
        e.get("l").asLong, parseStatsNode(e.get("s")))
      i += 1
    }
    out
  }

  /** Parsed `graft.sortedBy` header entry: the column list the sink's sort
    * tracker certified the file is ascending-nulls-first sorted on.
    * A malformed stamp (non-JSON, non-array) parses to None — absent stamp =
    * no ordering claim, so one corrupt header degrades that file to an
    * unordered read instead of failing every scan of the directory. */
  def parseSortedBy(json: String): Option[Seq[String]] =
    scala.util.Try {
      val root = new ObjectMapper().readTree(json)
      require(root.isArray, "graft.sortedBy must be a JSON array")
      (0 until root.size()).map(root.get(_).asText): Seq[String]
    }.toOption

  /** Whether `f` can be applied EXACTLY by file-level partition pruning —
    * every referenced attribute is a partition column (exact name match:
    * the same resolution [[mayMatch]]'s partCol lookup uses), its VALUE is
    * comparable under the column's read type (so [[eval]]'s partition
    * branch decides definitively — a consumed filter evaluated "unknown"
    * would keep a file whose rows Spark then never re-filters), and the
    * shape is one the partition branch handles. Such filters can be
    * CONSUMED by pushFilters (not returned residual): every row of a kept
    * file satisfies them, every dropped file's rows do not, because a file
    * has exactly one partition tuple. Null literals are excluded — SQL
    * three-valued comparison against null never selects a partition. */
  def exactOnPartitions(f: Filter, partType: String => Option[DataType]): Boolean = {
    def ok(a: String, v: Any): Boolean =
      v != null && partType(a).exists(dt => filterComparable(v, dt))
    f match {
      case AlwaysTrue() | AlwaysFalse() => true
      case EqualTo(a, v) => ok(a, v)
      case EqualNullSafe(a, null) => partType(a).isDefined
      case EqualNullSafe(a, v) => ok(a, v)
      case In(a, vs) => vs != null && !vs.contains(null) &&
        partType(a).exists(dt => vs.forall(filterComparable(_, dt)))
      case IsNull(a) => partType(a).isDefined
      case IsNotNull(a) => partType(a).isDefined
      case GreaterThan(a, v) => ok(a, v)
      case GreaterThanOrEqual(a, v) => ok(a, v)
      case LessThan(a, v) => ok(a, v)
      case LessThanOrEqual(a, v) => ok(a, v)
      case StringStartsWith(a, p) => p != null && partType(a).contains(StringType)
      case And(l, r) => exactOnPartitions(l, partType) && exactOnPartitions(r, partType)
      case Or(l, r) => exactOnPartitions(l, partType) && exactOnPartitions(r, partType)
      case Not(x) => exactOnPartitions(x, partType)
      case _ => false
    }
  }

  /** Whether a pushed filter value's runtime class can be compared against
    * a partition column of type `dt` — the gate [[exactOnPartitions]] uses
    * so consumed filters are exactly those [[partCmp]] decides. */
  private def filterComparable(v: Any, dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => v match {
      case _: java.lang.Byte | _: java.lang.Short | _: Integer | _: java.lang.Long => true
      case _ => false
    }
    case DateType => v match {
      case _: java.sql.Date | _: java.time.LocalDate => true
      case _ => false
    }
    case StringType => true // compared via String.valueOf, always decidable
    case _ => false
  }

  /** sign(path value − filter value) under the column's read type; None when
    * the pair is incomparable (unknown — never reached for consumed filters,
    * which [[exactOnPartitions]] restricted to comparable values). */
  private def partCmp(raw: String, v: Any, dt: DataType): Option[Int] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      val fv: Option[Long] = v match {
        case b: java.lang.Byte => Some(b.longValue)
        case s: java.lang.Short => Some(s.longValue)
        case i: Integer => Some(i.longValue)
        case l: java.lang.Long => Some(l.longValue)
        case _ => None
      }
      for (p <- raw.toLongOption; f <- fv) yield java.lang.Long.compare(p, f)
    case DateType =>
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      val fv: Option[Int] = v match {
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
        case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d))
        case _ => None
      }
      for (p <- dateDays(raw); f <- fv) yield Integer.compare(p, f)
    case StringType => Some(cmpUtf8(raw, String.valueOf(v)))
    case _ => None
  }

  // ---- conservative filter evaluation --------------------------------------

  /** Whether a file MAY contain rows matching every pushed filter, given its
    * exact partition values (with their read types) and optional header
    * stats. `Some(false)` from any filter skips the file; anything unknown
    * keeps it (Spark re-applies every filter on the decoded rows, so keeping
    * too much is only cost, never wrongness). */
  def mayMatch(filters: Seq[Filter], partCol: String => Option[PartVal],
               stat: String => Option[ColStat]): Boolean =
    filters.forall(f => eval(f, partCol, stat) != Some(false))

  /** Whether EVERY row of a file with these exact partition values matches
    * all `filters` — the DEFINITE evaluation behind file-granular DELETE.
    * Only meaningful for filters [[exactOnPartitions]] admitted (their
    * partition branches always decide); anything unknown is false, so an
    * undecidable file is never deleted. */
  def matchesExactly(filters: Seq[Filter], partCol: String => Option[PartVal]): Boolean =
    filters.forall(f => eval(f, partCol, _ => None) == Some(true))

  /** [[matchesExactly]] for a manifest entry: partition values come from
    * the `col=value` levels of its table-relative path, typed by `typeOf`
    * (a name it does not type is no partition column). */
  def relPathMatchesExactly(filters: Seq[Filter], relPath: String,
                            typeOf: String => Option[DataType]): Boolean = {
    val segs = relPath.split('/').dropRight(1).takeWhile(_.contains('='))
    val idx = segs.map(_.takeWhile(_ != '=')).zipWithIndex.toMap
    def pv(name: String): Option[PartVal] =
      for { i <- idx.get(name); dt <- typeOf(name) } yield {
        val v = segs(i).substring(segs(i).indexOf('=') + 1)
        PartVal(if (v == NullDir) null else unescape(v), dt)
      }
    matchesExactly(filters, pv)
  }

  /** Kleene tri-state: Some(true/false) definite, None unknown. Partition
    * columns evaluate EXACTLY under the column's READ TYPE (via [[partCmp]]
    * — an int column decides `year > 9` numerically, so `year=10` survives;
    * a string column compares in Spark's UTF-8 binary order); a value/type
    * pair partCmp cannot compare is unknown, never a guess. For CONSUMED
    * filters [[exactOnPartitions]] already restricted values to comparable
    * ones, so their partition branches always decide. Comparisons against a
    * null partition value are false (no row of the file can satisfy them);
    * null-ness itself is decided by the IsNull/IsNotNull branches — the
    * filters Spark pushes alongside any null-intolerant predicate. Stats
    * evaluate to Some(false) or None (a range can refute, never confirm). */
  private def eval(f: Filter, partCol: String => Option[PartVal],
                   stat: String => Option[ColStat]): Option[Boolean] = {
    def onPart(a: String)(g: PartVal => Option[Boolean]): Option[Option[Boolean]] =
      partCol(a).map(g)
    def onStat(a: String)(g: ColStat => Option[Boolean]): Option[Boolean] =
      stat(a).flatMap(g)
    // sign(path value - filter value) routed through the column's read type;
    // a null path value compares as "no match" (SQL comparison semantics)
    def cmpPart(pv: PartVal, v: Any)(decide: Int => Boolean): Option[Boolean] =
      if (pv.raw == null) Some(false)
      else partCmp(pv.raw, v, pv.dt).map(decide)
    f match {
      case AlwaysTrue() => Some(true)
      case AlwaysFalse() => Some(false)
      case EqualTo(a, v) =>
        onPart(a)(cmpPart(_, v)(_ == 0)).getOrElse(
          onStat(a) { st =>
            if (st.allNull) Some(false)
            else st.cmp(v) match {
              case Some((dmin, dmax)) if dmin < 0 || dmax > 0 => Some(false)
              case _ => None
            }
          })
      case EqualNullSafe(a, null) => eval(IsNull(a), partCol, stat)
      case EqualNullSafe(a, v) => eval(EqualTo(a, v), partCol, stat)
      case In(a, vs) =>
        onPart(a) { pv =>
          if (pv.raw == null) Some(false)
          else {
            val cs = vs.map(v => partCmp(pv.raw, v, pv.dt))
            if (cs.exists(_.contains(0))) Some(true)
            else if (cs.forall(_.isDefined)) Some(false)
            else None // some value incomparable: can't rule the file out
          }
        }.getOrElse(
          onStat(a) { st =>
            if (st.allNull) Some(false)
            else {
              val verdicts = vs.map(st.cmp)
              if (verdicts.forall(_.exists { case (dmin, dmax) => dmin < 0 || dmax > 0 }))
                Some(false)
              else None
            }
          })
      case IsNull(a) =>
        onPart(a)(pv => Some(pv.raw == null)).getOrElse(
          onStat(a)(st => if (!st.hasNull) Some(false) else None))
      case IsNotNull(a) =>
        onPart(a)(pv => Some(pv.raw != null)).getOrElse(
          onStat(a)(st => if (st.allNull) Some(false) else None))
      case GreaterThan(a, v) =>
        onPart(a)(cmpPart(_, v)(_ > 0)).getOrElse(
          onStat(a)(rangeRefute(_, v) { case (_, dmax) => dmax >= 0 }))
      case GreaterThanOrEqual(a, v) =>
        onPart(a)(cmpPart(_, v)(_ >= 0)).getOrElse(
          onStat(a)(rangeRefute(_, v) { case (_, dmax) => dmax > 0 }))
      case LessThan(a, v) =>
        onPart(a)(cmpPart(_, v)(_ < 0)).getOrElse(
          onStat(a)(rangeRefute(_, v) { case (dmin, _) => dmin <= 0 }))
      case LessThanOrEqual(a, v) =>
        onPart(a)(cmpPart(_, v)(_ <= 0)).getOrElse(
          onStat(a)(rangeRefute(_, v) { case (dmin, _) => dmin < 0 }))
      case StringStartsWith(a, p) =>
        onPart(a) { pv =>
          if (pv.dt != StringType) None // a prefix claim on a non-string column
          else Some(pv.raw != null &&
            org.apache.spark.unsafe.types.UTF8String.fromString(pv.raw)
              .startsWith(org.apache.spark.unsafe.types.UTF8String.fromString(p)))
        }.getOrElse(None)
      case And(l, r) => (eval(l, partCol, stat), eval(r, partCol, stat)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval(l, partCol, stat), eval(r, partCol, stat)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(x) => eval(x, partCol, stat).map(!_)
      case _ => None
    }
  }

  /** Spark's string order is UTF-8 BINARY (UTF8String.compareTo); Java
    * String.compareTo is UTF-16 code-unit order and disagrees above the
    * BMP. Partition-value comparisons are EXACT (a mismatch drops a file's
    * rows outright), so they must use Spark's order. */
  private def cmpUtf8(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Some(false) when the filter `col OP v` cannot hold anywhere in
    * [min, max]: `refutes` receives (sign(v-min), sign(v-max)) and answers
    * "does v sit where the range makes the predicate everywhere-false". */
  private def rangeRefute(st: ColStat, v: Any)(refutes: ((Int, Int)) => Boolean): Option[Boolean] =
    if (st.allNull) Some(false)
    else st.cmp(v) match {
      case Some(d) if refutes(d) => Some(false)
      case _ => None
    }
}
