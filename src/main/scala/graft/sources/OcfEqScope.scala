package graft.sources

import graft.avro._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Equality-delete (X94) burden SCOPING and key caching.
  *
  * An equality delete logically burdens every data file with an older
  * `seq`, but PHYSICALLY it can only touch files whose key-column value
  * ranges admit at least one of its keys. The sink stamps per-file
  * min/max for stats columns into the manifest ([[OcfSnapshots]] inlines
  * metas, X72), so the driver can refute (data file, delete file) pairs
  * with ZERO extra I/O beyond one bounded read of each delete file's keys
  * — the same economics as runtime stats skipping. Without this, one
  * upsert commit burdens the whole pre-commit table: every scan probes
  * every row of every older file, and the change feeds re-read ~the whole
  * table per upsert commit. With it, a CDC batch whose keys land in a
  * handful of files burdens exactly those files.
  *
  * Two JVM-wide caches, both WEIGHT-bounded LRU (bounded by what they
  * hold — decoded values — not by entry count, so large CDC key files
  * cannot OOM an executor through the cache):
  *  - key SUMMARIES (driver, planning): per-column sorted key arrays in
  *    the stats-stamp comparison domain (integral family as internal
  *    longs, strings in UTF8 binary order — matching
  *    [[OcfPartitions.ColStat]] exactly);
  *  - key SETS (executors, [[OcfColumnarSplitReader]]): the decoded tuple hash
  *    set per (delete file, resolved reader schema). One upsert commit
  *    attaches the SAME key file to many data files; before this cache
  *    every split re-read and re-hashed those bytes.
  *
  * Scoping is an optimization, never a semantics change: any failure to
  * read or summarize a delete file degrades to "burdens everything older"
  * (today's behavior), and admission is conservative wherever the stamp
  * and key domains don't line up.
  */
private[sources] object OcfEqScope {

  /** One key column's values in the stats-comparison domain. */
  sealed trait ColKeys { def hasNull: Boolean }
  /** Integral family (byte/short/int/long/date/timestamp): internal
    * backing values, sorted — the exact domain the `"long"` stamp uses. */
  final case class LongKeys(sorted: Array[Long], hasNull: Boolean) extends ColKeys
  /** Strings in UTF8 binary order — the `"string"` stamp's order. */
  final case class StringKeys(sorted: Array[UTF8String], hasNull: Boolean) extends ColKeys
  /** A type the stamp domain can't refute (boolean &c): never prunes. */
  final case class OpaqueKeys(hasNull: Boolean) extends ColKeys

  /** All key columns of one equality-delete file, by field name. */
  final case class KeySummary(cols: Seq[(String, ColKeys)])

  /** Delete files larger than this are not summarized (their burden stays
    * seq-wide). A CDC batch's key file is KBs–MBs; this bound only guards
    * the driver against a pathological hand-built manifest. */
  private val MaxSummaryBytes: Long = 64L * 1024 * 1024

  /** WEIGHT-bounded LRU (the [[OcfSnapshots]] snapCache discipline): a
    * cache of decoded key material must evict by what it HOLDS, not by how
    * many files contributed it — 256 entry slots each holding a 64 MB key
    * file's boxed tuples is an executor OOM, not a cache. Eviction walks
    * eldest-first after each put until both bounds hold; the newest entry
    * always survives (caching the set just loaded never costs more heap
    * than the live probe set the reader holds anyway), so a single
    * over-weight file degrades to "no reuse", never to a failure. */
  private[sources] final class WeightedLru[K, V](
      maxEntries: Int, maxWeight: Long, weigh: V => Long) {
    private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var weight = 0L
    def get(k: K): Option[V] = synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = synchronized {
      Option(map.remove(k)).foreach(o => weight -= weigh(o))
      map.put(k, v)
      weight += weigh(v)
      while ((map.size() > maxEntries || weight > maxWeight) && map.size() > 1) {
        val it = map.entrySet().iterator()
        val e = it.next() // access-order map: eldest first; newest is last
        weight -= weigh(e.getValue)
        it.remove()
      }
    }
    private[sources] def totalWeight: Long = synchronized(weight)
    private[sources] def entryCount: Int = synchronized(map.size())
    private[sources] def clear(): Unit = synchronized { map.clear(); weight = 0L }
  }

  /** Cache bounds, in held VALUES (a boxed key value is ~100–150 B with
    * its tuple/hash-node overhead): ~1M tuples of executor heap for key
    * sets, ~16M driver-side summary values, ~64 MB of driver bloom bits. */
  private val MaxKeySetTuples = 1_000_000L
  private val MaxSummaryValues = 16_000_000L
  private val MaxBloomLongs = 8_000_000L

  private def summaryValues(s: KeySummary): Long = s.cols.iterator.map {
    case (_, LongKeys(a, _)) => a.length.toLong
    case (_, StringKeys(a, _)) =>
      // strings weigh their bytes in value-equivalents (8 B per value unit)
      a.iterator.map(u => 1L + u.numBytes() / 8L).sum
    case _ => 0L
  }.sum

  // (qualified path, len) -> summary; None = too big / unreadable.
  // Committed files are immutable, so (path, len) identifies content.
  private[sources] val summaries =
    new WeightedLru[(String, Long), Option[KeySummary]](
      256, MaxSummaryValues, _.map(summaryValues).getOrElse(1L))

  // (qualified path, len, resolved eq reader json) -> decoded key tuples
  private[sources] val keySets =
    new WeightedLru[(String, Long, String),
        java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]](
      256, MaxKeySetTuples, s => s.size.toLong.max(1L))

  /** Decode every key datum of an equality-delete file through the runtime
    * reader (writer -> `eqReaderJson` resolution) — the key-set and summary
    * loaders' walk over the file's blocks through [[OcfBlocks.Cursor]]. */
  private def foreachKeyRow(m: OcfDataSource.OcfFileMeta, eqReaderJson: String,
                            conf: Configuration)(f: InternalRow => Unit): Unit = {
    val compiled = graft.spark.AvroRuntime.catalystReader(m.writerSchemaJson, eqReaderJson)
    val blocks = new OcfBlocks.Cursor(m, 0L, m.len, aligned = false, conf)
    try while (blocks.next()) {
      val bin = blocks.block
      var k = 0L
      while (k < blocks.count) {
        f(compiled(bin).asInstanceOf[InternalRow])
        k += 1L
      }
    } finally blocks.close()
  }

  /** The decoded key-tuple set of one delete file under one resolved
    * reader schema — cached JVM-wide. `types` are the tuple's Catalyst
    * types in field order (the caller's probe domain). The returned set is
    * shared and must be treated as read-only. */
  def keySet(m: OcfDataSource.OcfFileMeta, eqReaderJson: String,
             types: Array[DataType], conf: Configuration)
      : java.util.HashSet[scala.collection.immutable.ArraySeq[Any]] = {
    val k = (m.path, m.len, eqReaderJson)
    keySets.get(k) match {
      case Some(s) => s
      case None =>
        val s = new java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]()
        val ordinals = Array.range(0, types.length)
        foreachKeyRow(m, eqReaderJson, conf) { kr =>
          s.add(OcfColumnarSplitReader.EqGroup.tuple(kr, ordinals, types))
        }
        keySets.put(k, s)
        s
    }
  }

  /** Load (or recall) the key summary of one equality-delete file. The
    * keys decode against the delete file's OWN writer schema — integral
    * widening is a non-issue because both the stamp domain and the summary
    * domain are internal longs. `None` (too big, unreadable) means the
    * file's burden cannot be scoped and stays seq-wide. */
  def summaryFor(m: OcfDataSource.OcfFileMeta, conf: Configuration): Option[KeySummary] = {
    val k = (m.path, m.len)
    summaries.get(k) match {
      case Some(cached) => cached
      case None =>
        val computed =
          if (m.len > MaxSummaryBytes) None
          else try Some(computeSummary(m, conf))
          catch { case scala.util.control.NonFatal(_) => None }
        summaries.put(k, computed)
        computed
    }
  }

  private def computeSummary(m: OcfDataSource.OcfFileMeta,
                             conf: Configuration): KeySummary = {
    val (sql, _) = OcfDataSource.sqlShape(m.writerSchemaJson)
    val n = sql.fields.length
    // 0 = integral family (internal long), 1 = string, 2 = opaque
    val tags = sql.fields.map(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => 0
      case StringType => 1
      case _ => 2
    })
    val longs = Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofLong)
    val strs = Array.fill(n)(Seq.newBuilder[UTF8String])
    val nulls = new Array[Boolean](n)
    foreachKeyRow(m, m.writerSchemaJson, conf) { kr =>
      var i = 0
      while (i < n) {
        if (kr.isNullAt(i)) nulls(i) = true
        else tags(i) match {
          case 0 => longs(i) += (sql.fields(i).dataType match {
            case ByteType => kr.getByte(i).toLong
            case ShortType => kr.getShort(i).toLong
            case IntegerType | DateType => kr.getInt(i).toLong
            case _ => kr.getLong(i)
          })
          case 1 => strs(i) += kr.getUTF8String(i)
          case _ => ()
        }
        i += 1
      }
    }
    KeySummary(sql.fields.indices.map { i =>
      val ck = tags(i) match {
        case 0 =>
          val a = longs(i).result(); java.util.Arrays.sort(a)
          LongKeys(a, nulls(i))
        case 1 =>
          val a = strs(i).result().toArray
          java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) => x.compareTo(y))
          StringKeys(a, nulls(i))
        case _ => OpaqueKeys(nulls(i))
      }
      sql.fields(i).name -> ck
    })
  }

  /** May this delete file's keys match ANY row of a data file with these
    * manifest-inline stats? `false` is a PROOF of disjointness: for some
    * key column, no key value (and no null key, when the file has no
    * nulls) lies within the file's stamped bounds — so no key tuple can
    * equal any row's tuple. Conservative `true` on any missing
    * information. */
  def mayBurden(dataStatsJson: Option[String], sum: Option[KeySummary]): Boolean =
    (dataStatsJson, sum) match {
      case (Some(js), Some(s)) =>
        val stats =
          try OcfPartitions.parseStats(js)
          catch { case scala.util.control.NonFatal(_) => return true }
        s.cols.forall { case (name, keys) =>
          stats.get(name) match {
            case Some(st) => colAdmits(st, keys)
            case None => true // column not stamped: cannot refute
          }
        }
      case _ => true
    }

  private def colAdmits(st: OcfPartitions.ColStat, keys: ColKeys): Boolean = {
    // a null key deletes rows whose key is null — admitted iff the file
    // has nulls in this column
    if (keys.hasNull && st.hasNull) return true
    if (st.allNull) return false // only null keys could match; none did
    (st.min, st.max) match {
      case (Some(mn), Some(mx)) => (st.typ, keys) match {
        case ("long", LongKeys(sorted, _)) =>
          anyInRangeLong(sorted, mn.asLong, mx.asLong)
        case ("string", StringKeys(sorted, _)) =>
          anyInRangeStr(sorted, UTF8String.fromString(mn.asText),
            UTF8String.fromString(mx.asText))
        case _ => true // stamp/key domain mismatch: cannot refute
      }
      case _ => true // no bounds (pre-stats stamp): cannot refute
    }
  }

  private def anyInRangeLong(sorted: Array[Long], lo: Long, hi: Long): Boolean = {
    if (sorted.length == 0) return false
    var i = java.util.Arrays.binarySearch(sorted, lo)
    if (i < 0) i = -i - 1 // insertion point = first element >= lo
    i < sorted.length && sorted(i) <= hi
  }

  private def anyInRangeStr(sorted: Array[UTF8String],
                            lo: UTF8String, hi: UTF8String): Boolean = {
    if (sorted.length == 0) return false
    // first element >= lo by binary search over UTF8 binary order
    var l = 0
    var r = sorted.length
    while (l < r) {
      val mid = (l + r) >>> 1
      if (sorted(mid).compareTo(lo) < 0) l = mid + 1 else r = mid
    }
    l < sorted.length && sorted(l).compareTo(hi) <= 0
  }

  /** Qualified [[OcfDataSource.OcfFileMeta]] of a manifest entry: the
    * inlined meta when the commit carried one (the engine's own writers
    * always do), else one header pread — the shared resolution the three
    * burden-scoping call sites use. */
  def metaOfSnap(baseQualified: Path, sf: OcfSnapshots.SnapFile,
                 conf: Configuration): OcfDataSource.OcfFileMeta = {
    val qp = new Path(baseQualified, sf.path).toString
    sf.meta.map(_.copy(path = qp, len = sf.len)).getOrElse(
      OcfDataSource.fetchMetas(conf,
        Seq(OcfDataSource.FileSlice(qp, sf.len))).head)
  }

  /** Bloom probing only pays when the key set is SMALL: for a point
    * correction / GDPR-erasure batch a per-file bloom refutes ~everything
    * min/max admits, but a bulk batch's thousands of keys saturate any
    * file's filter and the header preads are pure waste. */
  private val BloomProbeMaxKeys = 4096

  private def keyCount(s: KeySummary): Int = s.cols.iterator.map {
    case (_, LongKeys(a, _)) => a.length
    case (_, StringKeys(a, _)) => a.length
    case _ => Int.MaxValue // opaque: treat as unbounded (no probing)
  }.foldLeft(0)(math.max)

  // (qualified path, len) -> parsed per-column blooms (None = none stamped);
  // weighed by held bit-array longs (8 B each)
  private[sources] val blooms =
    new WeightedLru[(String, Long), Option[Map[String, OcfBloom.BloomLite]]](
      64, MaxBloomLongs,
      _.map(_.valuesIterator.map(_.bits.length.toLong).sum.max(1L)).getOrElse(1L))

  /** Stats + bloom burden admission for one DATA manifest entry. Order of
    * proof attempts, cheapest first: manifest-inline min/max bounds (zero
    * I/O), then — only for small key sets on files flagged as carrying a
    * header bloom — one cached header pread and a per-key membership
    * probe. Any missing information admits. */
  def mayBurdenFile(sf: OcfSnapshots.SnapFile, baseQualified: Path,
                    sum: Option[KeySummary], conf: Configuration): Boolean = {
    val meta = sf.meta
    if (!mayBurden(meta.flatMap(_.statsJson), sum)) return false
    (sum, meta) match {
      case (Some(s), Some(m0)) if keyCount(s) <= BloomProbeMaxKeys &&
          (m0.bloomJson.isDefined || m0.bloomInHeader) =>
        val qp = new Path(baseQualified, sf.path).toString
        val parsed: Option[Map[String, OcfBloom.BloomLite]] =
          blooms.get((qp, sf.len)).getOrElse {
            val p =
              try {
                val js = m0.bloomJson.orElse(
                  OcfDataSource.fetchMetas(conf, Seq(OcfDataSource.FileSlice(
                    qp, sf.len))).head.bloomJson)
                js.map(OcfBloom.parse)
              } catch { case scala.util.control.NonFatal(_) => None }
            blooms.put((qp, sf.len), p)
            p
          }
        parsed match {
          case Some(byCol) => !s.cols.exists { case (name, keys) =>
            byCol.get(name).exists(b => bloomRefutesCol(b, keys))
          }
          case None => true
        }
      case _ => true
    }
  }

  /** True iff this column's bloom PROVES none of the keys occur in the
    * file. A null key can match null rows the bloom never saw — never
    * refute a column whose key set contains null. */
  private def bloomRefutesCol(b: OcfBloom.BloomLite, keys: ColKeys): Boolean =
    keys match {
      case LongKeys(sorted, false) if b.typ == "long" =>
        !sorted.exists(v => b.mightContain(OcfBloom.hashLong(v)))
      case StringKeys(sorted, false) if b.typ == "string" =>
        !sorted.exists(v => b.mightContain(OcfBloom.hashUtf8(v)))
      case _ => false
    }
}
