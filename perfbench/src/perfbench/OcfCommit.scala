package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** `ocf-commit`: writes beside reads on two catalog tables with min/max stats
  * and Bloom filters, one copy-on-write (`cow`) and one merge-on-read (`mor`).
  * Each op is one statement (INSERT, MERGE with hot keys, UPDATE, DELETE, a
  * streaming epoch, or a compaction) followed by a read-back aggregate that
  * is compared with a running model of the table's rows. */
final class OcfCommitWorkload extends Workload {
  val name = "ocf-commit"
  // The order is fixed and compaction ends each cycle; every measured cycle
  // starts from freshly set-up tables.
  val cycle = Seq("insert_cow", "insert_mor", "merge_cow", "merge_mor", "update_cow", "update_mor",
    "delete_cow", "delete_mor", "stream_mor", "compact_cow", "compact_mor")
  override def stateful = true

  val RowSchema: String =
    """{"type":"record","name":"Row","namespace":"bench","fields":[
      |{"name":"k","type":"long"},{"name":"p","type":"int"},
      |{"name":"v","type":"long"},{"name":"s","type":"string"}]}""".stripMargin
  val Parts = 4
  val InitialRows = 4000
  val InsertRows = 200
  val MergeRows = 300
  val StreamRows = 200
  val Schema: StructType = StructType(Seq(StructField("k", LongType), StructField("p", IntegerType),
    StructField("v", LongType), StructField("s", StringType)))

  private val rowA = Avro.parse(RowSchema)
  private val encode = Avro.encoder(rowA)
  private def datumBytes(k: Long, p: Int, v: Long, s: String): Long = encode(Rec(Vector(k, p, v, s))).length

  /** The expected rows of each table, key -> (partition, value, text). */
  private val model = Map("cow" -> mutable.LinkedHashMap.empty[Long, (Int, Long, String)],
    "mor" -> mutable.LinkedHashMap.empty[Long, (Int, Long, String)])
  private var nextKey = 0L
  private var ns = ""
  private var root: File = null
  private var epochs = 0
  private var userBytes = 0L
  private val statementS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val statementJobs = mutable.ArrayBuffer.empty[Long]
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var sample = Vector.empty[Any]
  var inputDigest = 0

  private def landing(t: String) = new File(root, s"landing-$t")
  private def checkpoint(t: String) = new File(root, s"checkpoint-$t")

  def setup(ctx: Ctx, dir: File, rnd: Random): Unit = {
    val spark = ctx.spark
    root = dir
    ns = s"g.commit_${dir.getName}"
    nextKey = 0L
    epochs = 0
    model.values.foreach(_.clear())
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val mor = Seq("delete", "update", "merge").map(c => s"`write.$c.mode` 'merge-on-read'").mkString(", ")
    Seq("cow" -> "", "mor" -> s", $mor").foreach { case (t, extra) =>
      spark.sql(s"""CREATE TABLE $ns.$t (k BIGINT, p INT, v BIGINT, s STRING) USING `graft-ocf`
                   |PARTITIONED BY (p) OPTIONS (statsColumns 'k', bloomColumns 'k'$extra)""".stripMargin)
      val rows = newRows(rnd, InitialRows)
      append(ctx, t, rows)
      rows.foreach { case (k, p, v, s) => model(t)(k) = (p, v, s) }
      // the streaming source reads its schema from the first landed file
      landing(t).mkdirs()
      land(t, newRows(rnd, 1).map { case r @ (k, p, v, s) => model(t)(k) = (p, v, s); r })
      runEpoch(ctx, t)
    }
    sample = model("cow").take(2000).map { case (k, (p, v, s)) => Rec(Vector(k, p, v, s)) }.toVector
    inputDigest = scala.util.hashing.MurmurHash3.seqHash(model.toSeq.sortBy(_._1).map(_._2.toSeq))
  }

  private def newRows(rnd: Random, n: Int): Seq[(Long, Int, Long, String)] = (0 until n).map { _ =>
    nextKey += 1
    (nextKey, (nextKey % Parts).toInt, rnd.nextInt(1000000).toLong, Text.words(rnd, 1 + rnd.nextInt(3)).mkString(" "))
  }

  private def frame(ctx: Ctx, rows: Seq[(Long, Int, Long, String)]) =
    ctx.spark.createDataFrame(rows.map { case (k, p, v, s) => Row(k, p, v, s) }.asJava, Schema).coalesce(1)

  private def append(ctx: Ctx, t: String, rows: Seq[(Long, Int, Long, String)]): Unit =
    frame(ctx, rows).writeTo(s"$ns.$t").append()

  /** Lands one OCF file, written by the Apache Avro library, by write-then-rename. */
  private def land(t: String, rows: Seq[(Long, Int, Long, String)]): Unit = {
    epochs += 1
    val bytes = Avro.container(rowA, rows.map { case (k, p, v, s) => Rec(Vector(k, p, v, s)) }, "snappy")
    val tmp = new File(landing(t), s".epoch-$epochs.tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, new File(landing(t), s"epoch-$epochs.avro").toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def runEpoch(ctx: Ctx, t: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val q = graft.streaming.StreamingIngest.ocfSplitFileStream(ctx.spark, landing(t).getPath)
      .writeStream.option("checkpointLocation", checkpoint(t).getPath)
      .trigger(Trigger.AvailableNow()).toTable(s"$ns.$t")
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq
  }

  /** Runs one write statement, timed apart from its read-back. */
  private def timed(ctx: Ctx, kind: String)(body: => Unit): Unit = {
    val j0 = if (ctx.trace) ctx.jobsSoFar() else 0L
    val t0 = System.nanoTime()
    ctx.phase("commit", "sources")(body)
    statementS.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    if (ctx.trace) statementJobs += ctx.jobsSoFar() - j0
  }

  private def readBack(ctx: Ctx, t: String): Option[String] = {
    val m = model(t)
    val exp = (m.size.toLong, m.valuesIterator.map(_._2).sum, m.keysIterator.sum)
    val r = ctx.collect(ctx.spark.sql(s"SELECT count(*), sum(v), sum(k) FROM $ns.$t")).head
    val got = (r.getLong(0), Tables.longOf(r, 1), Tables.longOf(r, 2))
    if (got == exp) None else Some(s"read-back $got, expected $exp")
  }

  def op(kind: String, rnd: Random): Op = {
    val Array(verb, t) = kind.split("_")
    val m = model(t)
    verb match {
      case "insert" =>
        val rows = newRows(rnd, InsertRows)
        Op(kind, s"keys=${rows.head._1}..${rows.last._1}", rows.size, ctx => {
          timed(ctx, verb)(append(ctx, t, rows))
          rows.foreach { case (k, p, v, s) => m(k) = (p, v, s); userBytes += datumBytes(k, p, v, s) }
          readBack(ctx, t)
        })
      case "merge" =>
        // ~30% of the source keys fall in partition 0 (hot); 20% are new
        val keys = m.keysIterator.toVector
        val hot = keys.filter(_ % Parts == 0)
        val cold = keys.filter(_ % Parts != 0)
        val chosen = (Vector.fill(MergeRows * 3 / 10)(hot(rnd.nextInt(hot.size))) ++
          Vector.fill(MergeRows / 2)(cold(rnd.nextInt(cold.size)))).distinct
        val src = chosen.map(k => (k, (k % Parts).toInt, rnd.nextInt(1000000).toLong, s"merged ${rnd.nextInt(1000)}")) ++
          newRows(rnd, MergeRows - chosen.size)
        Op(kind, s"source=${src.size} hot=${src.count(_._2 == 0)}", src.size, ctx => {
          val view = s"merge_src_$t"
          frame(ctx, src).createOrReplaceTempView(view)
          timed(ctx, verb)(ctx.spark.sql(
            s"""MERGE INTO $ns.$t AS x USING $view AS y ON x.k = y.k
               |WHEN MATCHED THEN UPDATE SET v = y.v, s = y.s
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
          src.foreach { case (k, p, v, s) => m(k) = (p, v, s); userBytes += datumBytes(k, p, v, s) }
          readBack(ctx, t)
        })
      case "update" =>
        val p = rnd.nextInt(Parts)
        val r = rnd.nextInt(5)
        val hit = m.filter { case (k, (pp, _, _)) => pp == p && k % 5 == r }.keys.toVector
        Op(kind, s"p=$p k%5=$r", hit.size, ctx => {
          timed(ctx, verb)(ctx.spark.sql(s"UPDATE $ns.$t SET v = v + 1 WHERE p = $p AND k % 5 = $r"))
          hit.foreach { k => val (pp, v, s) = m(k); m(k) = (pp, v + 1, s); userBytes += datumBytes(k, pp, v + 1, s) }
          readBack(ctx, t)
        })
      case "delete" =>
        val a = 1L + rnd.nextInt(math.max(1, nextKey.toInt - 50))
        val hit = m.keys.filter(k => k >= a && k <= a + 40).toVector
        Op(kind, s"keys=[$a,${a + 40}]", hit.size, ctx => {
          timed(ctx, verb)(ctx.spark.sql(s"DELETE FROM $ns.$t WHERE k BETWEEN $a AND ${a + 40}"))
          hit.foreach(m.remove)
          readBack(ctx, t)
        })
      case "stream" =>
        val rows = newRows(rnd, StreamRows)
        Op(kind, s"keys=${rows.head._1}..${rows.last._1}", rows.size, ctx => {
          land(t, rows)
          var ps = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
          val t0 = System.nanoTime()
          ctx.phase("stream-epoch", "streaming") { ps = runEpoch(ctx, t) }
          statementS.getOrElseUpdate(verb, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
          progress ++= ps
          rows.foreach { case (k, p, v, s) => m(k) = (p, v, s); userBytes += datumBytes(k, p, v, s) }
          readBack(ctx, t)
        })
      case "compact" =>
        Op(kind, "", m.size, ctx => {
          timed(ctx, verb)(ctx.spark.sql(s"CALL g.system.compact(`table` => '${ns.stripPrefix("g.")}.$t')").collect())
          readBack(ctx, t)
        })
    }
  }

  def probeSet: ProbeSet = ProbeSet(RowSchema, sample,
    """{"type":"record","name":"Row","namespace":"bench","fields":[
      |{"name":"v","type":"long"},{"name":"k","type":"long"},
      |{"name":"tag","type":"string","default":"-"}]}""".stripMargin,
    v => { val r = v.asInstanceOf[Rec].vs; Rec(Vector(r(2), r(0), "-")) })

  /** Files under the warehouse and this setup's landing and checkpoint directories. */
  private def diskFiles(ctx: Ctx): Map[String, Long] = {
    val roots = Seq(new File(ctx.spark.conf.get("spark.sql.catalog.g.warehouse")), root)
    roots.filter(_.isDirectory).flatMap { r =>
      val s = Files.walk(r.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toVector
      finally s.close()
    }.toMap
  }
  private var filesAtCycle = Map.empty[String, Long]
  private var written = 0L

  override def startWindow(ctx: Ctx): Unit = {
    written = 0L
    userBytes = 0L
    statementS.clear(); statementJobs.clear(); progress.clear()
  }
  override def beforeCycle(ctx: Ctx): Unit = filesAtCycle = diskFiles(ctx)
  override def afterCycle(ctx: Ctx): Unit =
    written += diskFiles(ctx).map { case (p, n) => math.max(0L, n - filesAtCycle.getOrElse(p, 0L)) }.sum

  override def extraMetrics(ctx: Ctx, results: Seq[OpResult], w: Window): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val live = Seq("cow", "mor").map { t =>
      val r = spark.sql(s"SELECT count(*), coalesce(sum(size_bytes), 0) FROM $ns.$t.files").head
      (r.getLong(0), r.getLong(1))
    }
    val liveUser = model.values.flatMap(_.iterator.map { case (k, (p, v, s)) => datumBytes(k, p, v, s) }).sum
    // The engine writes local files without Hadoop's FileSystem statistics,
    // so bytes written are measured as the growth of the files on disk over
    // the measured cycles.
    val amp = Seq(
      ("user_bytes", userBytes.toDouble, "B"),
      ("disk_bytes_written", written.toDouble, "B"),
      ("write_amp", written.toDouble / userBytes, "ratio"),
      ("space_amp", live.map(_._2).sum.toDouble / liveUser, "ratio"),
      ("sources.commit.live_files", live.map(_._1).sum.toDouble, "count"))
    val stmts = statementS.toSeq.sortBy(_._1).map { case (k, xs) =>
      (s"sources.commit.statement_s.$k", xs.sum / xs.size, "s")
    }
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / math.max(1, epochCount)
    def epochCount = results.count(_.kind.startsWith("stream"))
    val streaming = Seq(
      ("streaming.trigger_s", dur("triggerExecution"), "s"),
      ("streaming.add_batch_s", dur("addBatch"), "s"),
      ("streaming.latest_offset_s", dur("latestOffset"), "s"),
      ("streaming.planning_s", dur("queryPlanning"), "s"),
      ("streaming.wal_commit_s", dur("walCommit"), "s"),
      ("streaming.input_rows", progress.map(_.numInputRows).sum.toDouble / math.max(1, epochCount), "count"))
    val jobs =
      if (ctx.trace) Seq(("sources.commit.jobs_per_statement", statementJobs.sum.toDouble / math.max(1, statementJobs.size), "count"))
      else Nil
    amp ++ stmts ++ jobs ++ streaming
  }
}
