package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DataType

/** Opt-in CDF UPDATE pairing (X104): `updateImages=true` on a change-feed
  * read reclassifies an upsert commit's delete+insert rows that SHARE A KEY
  * as `update_preimage` / `update_postimage` (Delta CDF parity) instead of
  * plain delete+insert. The pairing is computed per ROW, exactly:
  *
  *  - a row the commit's equality deletes killed is an `update_preimage`
  *    iff its key also appears in the commit's NEW data files (the key was
  *    re-inserted — one logical UPDATE); a killed key with no re-insert
  *    (an apply-changes delete) stays `delete`;
  *  - an inserted row is an `update_postimage` iff a pre-commit VISIBLE
  *    row with its key was killed by this commit (the key existed — one
  *    logical UPDATE); a fresh key stays `insert`.
  *
  * Both sides agree by construction: the preimage test probes the commit's
  * new-data keys, the postimage test probes exactly the keys the commit's
  * delete parts emit (survivors of the PRE-commit delete state matching the
  * new equality keys) — so every preimage has its postimage and vice versa.
  * Rows deleted POSITIONALLY are never paired (position deletes name
  * ordinals, not keys). Multiplicity is preserved: if several old rows
  * carried one key, each emits a preimage.
  *
  * Cost (why this is opt-in): classification reads KEY COLUMNS ONLY —
  * the commit's new data files for delete parts (O(batch)), and each
  * burdened old file UNDER ITS SKIP STATE for insert parts (the same
  * X97-scoped file set the feed's delete parts read anyway). Both loads
  * cache JVM-wide, weight-bounded ([[OcfEqScope.WeightedLru]]), so on an
  * executor each file's keys load once per commit, not once per split.
  *
  * The apply-changes sink ([[OcfWrite]] changeColumn) already consumes the
  * paired types — preimage rows contribute nothing, postimage rows take
  * the upsert path — so a mirror built from a paired feed is byte-equal to
  * one built from the unpaired feed. */
private[sources] object GraftChangePairing {

  val PreImage = "update_preimage"
  val PostImage = "update_postimage"

  /** One distinct key-column shape of a commit's equality-delete files:
    * field names, full-data-row ordinals and Catalyst types, and the
    * key-projected reader JSON (the columns resolve against any file of
    * the table by name — widened columns compare in the widened domain). */
  private final case class KeyShape(names: Seq[String], ords: Array[Int],
                                    tps: Array[DataType], projJson: String)

  private def shapesOf(eqFiles: Seq[OcfDataSource.OcfFileMeta],
                       readerJson: String): Seq[KeyShape] = {
    val dataRec = graft.avro.AvroSchemaParser.parse(readerJson)
      .asInstanceOf[graft.avro.ARecord]
    val fieldsByName = dataRec.fields.map(f => f.name -> f).toMap
    val (dataSql, _) = OcfDataSource.sqlShape(readerJson)
    eqFiles.map { m =>
      graft.avro.AvroSchemaParser.parse(m.writerSchemaJson)
        .asInstanceOf[graft.avro.ARecord].fields.map(_.name)
    }.distinct.map { names =>
      val ords = names.map { n =>
        val i = dataSql.fieldNames.indexOf(n)
        require(i >= 0, s"graft-ocf-changes: pairing key column '$n' is " +
          "not in the feed's reader schema")
        i
      }.toArray
      val tps = ords.map(dataSql.fields(_).dataType)
      val projJson = graft.avro.AvroSchemaParser.toJson(
        graft.avro.ARecord(dataRec.name, dataRec.namespace,
          names.map(n => graft.avro.AField(n, fieldsByName(n).schema))))
      KeyShape(names, ords, tps, projJson)
    }
  }

  /** PREIMAGE classifier for an equality-driven delete part: the key
    * tuples of the commit's NEW data files, under each equality key shape.
    * Per-file sets come from the JVM-wide [[OcfEqScope.keySet]] cache (the
    * same loader that reads delete-file keys — a data file read through a
    * key-projected reader schema wire-skips every other column). */
  def newDataKeyGroups(emitEq: Seq[OcfDataSource.OcfFileMeta],
                       newData: Seq[OcfDataSource.OcfFileMeta],
                       readerJson: String, conf: Configuration)
      : Array[OcfColumnarSplitReader.EqGroup] =
    shapesOf(emitEq, readerJson).map { sh =>
      val sets = newData.map(m => OcfEqScope.keySet(m, sh.projJson, sh.tps, conf))
      val keys =
        if (sets.length == 1) sets.head
        else {
          val u = new java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]()
          sets.foreach(u.addAll)
          u
        }
      new OcfColumnarSplitReader.EqGroup(sh.ords, sh.tps, keys)
    }.toArray

  // (old file id + skip/emit state + projection) -> per-shape surviving
  // key sets; weight-bounded by held tuples like every key cache
  private[sources] val oldKeyCache = new OcfEqScope.WeightedLru[String,
      Map[Seq[String], java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]]](
    256, 1_000_000L, _.valuesIterator.map(_.size.toLong).sum.max(1L))

  /** POSTIMAGE classifier for an insert part: the keys of pre-commit
    * VISIBLE rows this commit's equality deletes killed — per burdened old
    * file, a key-projected re-read under the file's own skip state in
    * emit-only-matching mode (exactly the rows the commit's delete parts
    * emit, keys only). */
  def oldKeyGroups(pairOld: Seq[GraftPairOldFile], readerJson: String,
                   conf: Configuration): Array[OcfColumnarSplitReader.EqGroup] = {
    val dataRec = graft.avro.AvroSchemaParser.parse(readerJson)
      .asInstanceOf[graft.avro.ARecord]
    val fieldsByName = dataRec.fields.map(f => f.name -> f).toMap
    val byShape = scala.collection.mutable.LinkedHashMap.empty[Seq[String],
      java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]]
    val allShapes = scala.collection.mutable.LinkedHashMap.empty[Seq[String], KeyShape]
    pairOld.foreach { po =>
      val shapes = shapesOf(po.emitEq, readerJson)
      shapes.foreach(sh => allShapes.getOrElseUpdate(sh.names, sh))
      // the projection must carry every key column the read binds: the
      // emit shapes AND the skip-state equality files' keys
      val skipNames = po.skipEq.flatMap(m =>
        graft.avro.AvroSchemaParser.parse(m.writerSchemaJson)
          .asInstanceOf[graft.avro.ARecord].fields.map(_.name))
      val projNames = (shapes.flatMap(_.names) ++ skipNames).distinct
      val projJson = graft.avro.AvroSchemaParser.toJson(
        graft.avro.ARecord(dataRec.name, dataRec.namespace,
          projNames.map(n => graft.avro.AField(n, fieldsByName.getOrElse(n,
            throw new IllegalStateException(
              s"graft-ocf-changes: pairing key column '$n' is not in the " +
                "feed's reader schema")).schema))))
      val cacheKey = (Seq(po.meta.path, po.meta.len.toString) ++
        po.skipPos.map(_.path) ++ Seq("|") ++ po.skipEq.map(_.path) ++
        Seq("|") ++ po.emitEq.map(_.path) ++ Seq("|", projJson)).mkString("\u0001")
      val fileSets = oldKeyCache.get(cacheKey).getOrElse {
        // per-shape probe groups bound to the PROJECTED row shape — used
        // both to test which shape a surviving row matched and to extract
        // its tuple in that shape's column order
        val (projSql, _) = OcfDataSource.sqlShape(projJson)
        val probeGroups = shapes.map { sh =>
          val pords = sh.names.map(projSql.fieldNames.indexOf(_)).toArray
          sh.names -> new OcfColumnarSplitReader.EqGroup(pords, sh.tps,
            {
              val u = new java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]()
              po.emitEq.filter(m =>
                graft.avro.AvroSchemaParser.parse(m.writerSchemaJson)
                  .asInstanceOf[graft.avro.ARecord].fields.map(_.name) == sh.names)
                .foreach { m =>
                  val eqReaderJson = graft.avro.AvroSchemaParser.toJson(
                    graft.avro.ARecord(dataRec.name, dataRec.namespace,
                      sh.names.map(n => graft.avro.AField(n, fieldsByName(n).schema))))
                  u.addAll(OcfEqScope.keySet(m, eqReaderJson, sh.tps, conf))
                }
              u
            })
        }
        val sets = shapes.map(sh => sh.names ->
          new java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]()).toMap
        val r = new OcfColumnarSplitReader(po.meta, 0L, po.meta.len, projJson,
          conf, deleteFiles = po.skipPos,
          eqDeleteFiles = po.skipEq, emitEqFiles = po.emitEq)
        try {
          while (r.next()) {
            val rows = r.get().rowIterator()
            while (rows.hasNext) {
              val row = rows.next()
              probeGroups.foreach { case (names, g) =>
                val t = g.tuple(row)
                // a batch row's strings are views into vectors the next
                // batch overwrites: a kept tuple holds copies
                if (g.keys.contains(t)) sets(names).add(t.map(InternalRow.copyValue))
              }
            }
          }
        } finally r.close()
        oldKeyCache.put(cacheKey, sets)
        sets
      }
      fileSets.foreach { case (names, s) =>
        byShape.getOrElseUpdate(names,
          new java.util.HashSet[scala.collection.immutable.ArraySeq[Any]]())
          .addAll(s)
      }
    }
    byShape.iterator.map { case (names, keys) =>
      val sh = allShapes(names)
      new OcfColumnarSplitReader.EqGroup(sh.ords, sh.tps, keys)
    }.toArray
  }
}

/** One burdened pre-commit data file an insert part's pairing must consult:
  * the file, its PRE-commit delete state (skips), and the commit's new
  * equality-delete files that burden it (the emit-only-matching set) —
  * the exact inputs of the commit's corresponding delete part. */
private[sources] final case class GraftPairOldFile(
    meta: OcfDataSource.OcfFileMeta,
    skipPos: Seq[OcfDataSource.OcfFileMeta],
    skipEq: Seq[OcfDataSource.OcfFileMeta],
    emitEq: Seq[OcfDataSource.OcfFileMeta])
