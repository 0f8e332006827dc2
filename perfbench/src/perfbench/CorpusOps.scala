package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Curation, Dedup, Packing, Similarity, TextAnalysis}

/** `corpus-ops`: the training-data operators over a seeded corpus of 800
  * documents (with planted exact duplicates, near-duplicates and shared
  * boilerplate spans) and 500 embeddings (with planted near-duplicate
  * vectors). No Avro decode and no `graft-ocf` I/O run here. Each op checks
  * its output against answers computed on the driver from the generated
  * data where one exists, and otherwise against the operator's invariants
  * plus a digest of its whole output fixed by the first (warm-up) call. */
final class CorpusOps extends Workload {
  val name = "corpus-ops"
  val cycle = Seq("dedup_exact", "minhash_pairs", "ngram_jaccard", "components", "doc_features",
    "dup_spans", "cosine_pairs", "ivf_topk", "curate", "token_chunks")
  // One cycle outlasts the window; two give each operator two samples, so
  // the latency quantiles do not rest on one call per operator.
  override def minCycles = 2

  val Docs = 800
  val Vectors = 500
  val Dim = 32
  val Queries = 16

  private val Doc: String =
    """{"type":"record","name":"Doc","namespace":"bench","fields":[
      |{"name":"doc_id","type":"long"},{"name":"text","type":"string"},
      |{"name":"lang","type":"string"},{"name":"source","type":"string"}]}""".stripMargin

  private var texts = Vector.empty[String]
  private var vecs = Vector.empty[Array[Float]]
  private var docs: DataFrame = null
  private var emb: DataFrame = null
  private var pairs: DataFrame = null
  private var pairList = Vector.empty[(Long, Long)]
  private val sources = Vector("web", "books", "code", "news", "forum", "wiki", "papers", "legal")
  /** Exact answers computed on the driver at setup (see [[expect]]), and the texts they are for. */
  private var expectedFor = Vector.empty[String]
  private var keep = Vector.empty[Long]
  private var ngramPairs = Map.empty[(Long, Long), Double]
  private var copyPairs = Set.empty[(Long, Long)]
  private var chunks = Map.empty[Long, (Long, Long, Long)]
  private var dupSpans = Map.empty[Long, (Long, Long, Long)]
  private val digests = mutable.Map.empty[String, (Long, Long)]
  def inputDigest: Int = scala.util.hashing.MurmurHash3.seqHash(texts ++ vecs.map(_.toSeq))

  def setup(ctx: Ctx, dir: File, rnd: Random): Unit = {
    val spark = ctx.spark
    val boiler = Vector.fill(4)(Text.sentence(rnd, 20))
    val base = mutable.ArrayBuffer.empty[String]
    val copies = mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until Docs).foreach { i =>
      val t = rnd.nextInt(20) match {
        case 0 if base.nonEmpty => // exact duplicate
          val j = rnd.nextInt(base.size); copies += ((j + 1L, i + 1L)); base(j)
        case 1 | 2 if base.nonEmpty => // near duplicate: a few words replaced
          val j = rnd.nextInt(base.size); copies += ((j + 1L, i + 1L))
          val ws = base(j).split(" ")
          (0 until 1 + ws.length / 25).foreach(_ => ws(rnd.nextInt(ws.length)) = Text.words(rnd, 1).head)
          ws.mkString(" ")
        case 3 | 4 => // shared boilerplate span
          Text.sentence(rnd, 20 + rnd.nextInt(40)) + " " + boiler(rnd.nextInt(boiler.size))
        case _ => (0 until 2 + rnd.nextInt(6)).map(_ => Text.sentence(rnd, 6 + rnd.nextInt(14))).mkString(" ")
      }
      base += t
    }
    texts = base.toVector
    val docRows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong + 1, t, "en", sources(i % sources.size)) }
    docs = spark.createDataFrame(docRows.asJava, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType), StructField("source", StringType))))
      .repartition(2 * ctx.nCores).persist(StorageLevel.MEMORY_ONLY)
    docs.count()

    val vs = mutable.ArrayBuffer.empty[Array[Float]]
    (0 until Vectors).foreach { _ =>
      vs += (if (vs.nonEmpty && rnd.nextInt(20) == 0) vs(rnd.nextInt(vs.size)).map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
             else Array.fill(Dim)(rnd.nextGaussian().toFloat))
    }
    vecs = vs.toVector
    emb = spark.createDataFrame(vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .repartition(2 * ctx.nCores).persist(StorageLevel.MEMORY_ONLY)
    emb.count()

    // the connected-components input: the planted copy graph of the corpus
    pairList = copies.toVector
    pairs = spark.createDataFrame(pairList.map { case (a, b) => Row(a, b) }.asJava,
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      .persist(StorageLevel.MEMORY_ONLY)
    pairs.count()
    // every set-up of a run generates the same texts from the seed
    if (texts != expectedFor) { expect(); expectedFor = texts }
  }

  private def tokens(t: String): Array[String] = t.trim.split("\\s+").filter(_.nonEmpty)
  /** Distinct word-`n`-grams as the operators define them; `short` is the
    * set of a text with fewer than `n` tokens (none, or the whole text). */
  private def grams(t: String, n: Int, short: Array[String] => Set[String]): Set[String] = {
    val ws = tokens(t)
    if (ws.length < n) short(ws) else ws.sliding(n).map(_.mkString(" ")).toSet
  }
  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val uni = a.size + b.size - inter
    if (uni > 0) inter.toDouble / uni else 0.0
  }
  /** Minhash's gram sets: a text with fewer than 3 tokens is one gram. */
  private def minhashGrams(t: String): Set[String] = grams(t, 3, ws => if (ws.isEmpty) Set.empty else Set(ws.mkString(" ")))
  private def srcOf(id: Long): String = sources(((id - 1) % sources.size).toInt)

  /** Answers computed from the generated texts without the operators:
    * `Dedup.exact` survivors, every same-source pair at word-3-gram Jaccard
    * >= 0.5, every pair of identical texts, the token chunks and the
    * duplicated-window counts. */
  private def expect(): Unit = {
    val ids = texts.indices.map(_ + 1L)
    keep = texts.zipWithIndex.groupBy(_._1).values.map(_.map(_._2 + 1L).min).toVector.sorted
    copyPairs = texts.zipWithIndex.groupBy(_._1).values.flatMap { g =>
      val is = g.map(_._2 + 1L).sorted
      for (a <- is; b <- is if a < b) yield (a, b)
    }.toSet
    val g3 = texts.map(grams(_, 3, _ => Set.empty))
    ngramPairs = ids.groupBy(srcOf).values.flatMap { block =>
      for (a <- block; b <- block if a < b; j = jaccard(g3((a - 1).toInt), g3((b - 1).toInt)) if j >= 0.5)
        yield (a, b) -> j
    }.toMap
    chunks = ids.groupBy(srcOf).values.flatMap { block =>
      var before = 0L
      block.sorted.map { id =>
        val n = tokens(texts((id - 1).toInt)).length.toLong
        val c = id -> (n, before / 512, before % 512)
        before += n
        c
      }
    }.toMap
    val win = 15
    val wins = texts.map(t => tokens(t).sliding(win).filter(_.length == win).map(_.mkString(" ")).toVector)
    val docsOf = wins.zipWithIndex.flatMap { case (ws, i) => ws.map(_ -> i) }.groupBy(_._1)
      .map { case (w, xs) => w -> xs.map(_._2).distinct.size }
    dupSpans = texts.indices.map { i =>
      val dup = wins(i).indices.filter(p => docsOf(wins(i)(p)) >= 2)
      val covered = dup.zipWithIndex.map { case (p, j) => if (j == 0) win else math.min(win, p - dup(j - 1)) }.sum
      (i + 1L) -> (tokens(texts(i)).length.toLong, dup.size.toLong, covered.toLong)
    }.toMap
  }

  override def release(ctx: Ctx): Unit = Seq(docs, emb, pairs).foreach(_.unpersist(blocking = true))

  /** Count and XOR-hash of a whole output, doubles rounded to 6 places. */
  private def digest(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    Seq(count(lit(1)), bit_xor(xxhash64(cols: _*)))
  }

  private def checkDigest(kind: String, got: (Long, Long)): Option[String] =
    digests.get(kind) match {
      case None => digests(kind) = got; None
      case Some(d) => if (d == got) None else Some(s"digest $got, fixed at setup $d")
    }

  /** Collects the digest of `out` together with the invariant columns `checks`
    * (each a count of violating rows, which must be 0). */
  private def digestAndChecks(ctx: Ctx, kind: String, out: => DataFrame, checks: Seq[(String, Column)],
                              extra: Seq[Column] = Nil): (Option[String], Row) = {
    val r = ctx.collect {
      val o = out
      val d = digest(o) ++ checks.map { case (_, c) => count(when(c, lit(1))) } ++ extra
      o.agg(d.head, d.tail: _*)
    }.head
    val bad = checks.zipWithIndex.collect { case ((what, _), i) if r.getLong(2 + i) != 0 => s"${r.getLong(2 + i)} rows with $what" }
    (if (bad.nonEmpty) Some(bad.mkString("; ")) else checkDigest(kind, (r.getLong(0), r.getLong(1))), r)
  }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) => val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val nodes = parent.keys.toVector
    val minOf = nodes.groupBy(find).map { case (root, members) => root -> members.min }
    nodes.map(n => n -> minOf(find(n))).toMap
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  def op(kind: String, rnd: Random): Op = kind match {
    case "dedup_exact" =>
      Op(kind, "", Docs, ctx => {
        val (p, r) = digestAndChecks(ctx, kind, Dedup.exact(docs, "doc_id", "text"), Nil, Seq(sum(col("doc_id"))))
        p.orElse(if (r.getLong(0) == keep.size && r.getLong(2) == keep.sum) None
          else Some(s"kept ${r.getLong(0)} docs with id sum ${r.getLong(2)}, expected ${keep.size} / ${keep.sum}"))
      })
    case "minhash_pairs" =>
      // Pairs are candidates by LSH, so only their Jaccard is exact; identical
      // texts share every band and must all pair up.
      Op(kind, "threshold=0.7", Docs, ctx => {
        val got = ctx.collect(Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.7))
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val wrong = got.filter { case ((a, b), j) =>
          a >= b || j < 0.7 || math.abs(j - jaccard(minhashGrams(texts((a - 1).toInt)), minhashGrams(texts((b - 1).toInt)))) > 1e-12
        }
        val missing = copyPairs.filterNot(got.contains)
        if (wrong.nonEmpty) Some(s"${wrong.size} pairs out of order or with a wrong Jaccard, e.g. ${wrong.head}")
        else if (missing.nonEmpty) Some(s"${missing.size} pairs of identical texts missing, e.g. ${missing.head}")
        else checkDigest(kind, (got.size.toLong, got.keys.toSeq.sorted.hashCode.toLong))
      })
    case "ngram_jaccard" =>
      Op(kind, "n=3 threshold=0.5", Docs, ctx => {
        val got = ctx.collect(Dedup.ngramJaccard(docs, "doc_id", "text", "source", n = 3, threshold = 0.5))
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val bad = (got.keySet ++ ngramPairs.keySet).filter { k =>
          !(got.contains(k) && ngramPairs.contains(k) && math.abs(got(k) - ngramPairs(k)) <= 1e-12)
        }
        if (bad.isEmpty) None
        else Some(s"${got.size} pairs, ${ngramPairs.size} expected; ${bad.size} differ, e.g. ${bad.head}")
      })
    case "components" =>
      val expected = unionFind(pairList)
      Op(kind, s"edges=${pairList.size}", pairList.size, ctx => {
        val got = ctx.collect(Dedup.connectedComponents(pairs, "id_a", "id_b"))
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (got == expected) None
        else Some(s"${got.size} labels, ${(got.toSet diff expected.toSet).size} differ from union-find over ${expected.size}")
      })
    case "doc_features" =>
      val chars = texts.map(_.length.toLong).sum
      Op(kind, "", Docs, ctx => {
        val (p, r) = digestAndChecks(ctx, kind, TextAnalysis.documentFeatures(docs, "doc_id", "text"),
          Seq("n_tokens > n_chars" -> (col("n_tokens") > col("n_chars"))), Seq(sum(col("n_chars"))))
        p.orElse(if (r.getLong(3) == chars) None else Some(s"n_chars sums to ${r.getLong(3)}, text has $chars"))
      })
    case "dup_spans" =>
      Op(kind, "window=15", Docs, ctx => {
        val got = ctx.collect(TextAnalysis.duplicatedSpans(docs, "doc_id", "text", window = 15)
          .select("doc_id", "n_tokens", "dup_windows", "covered_tokens"))
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        val bad = dupSpans.keySet.filter(k => got.get(k) != dupSpans.get(k))
        if (got.size == dupSpans.size && bad.isEmpty) None
        else Some(s"${got.size} docs; ${bad.size} differ from the driver's windows, e.g. ${bad.headOption}")
      })
    case "cosine_pairs" =>
      Op(kind, "threshold=0.95", Vectors, ctx => {
        val rows = ctx.collect(Similarity.cosineNearDupPairs(emb, 0.95))
        val bad = rows.filter { r =>
          val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
          a >= b || math.abs(cosine(vecs(a.toInt), vecs(b.toInt)) - r.getAs[Double]("sim")) > 1e-4 || r.getAs[Double]("sim") < 0.95
        }
        if (bad.nonEmpty) Some(s"${bad.length} pairs out of order or with a wrong similarity")
        else checkDigest(kind, (rows.length.toLong, rows.map(r => r.getAs[Long]("id_a") * 1000003L + r.getAs[Long]("id_b")).sorted.toSeq.hashCode.toLong))
      })
    case "ivf_topk" =>
      // exhaustive probing (nprobe = nlist) makes IVF exact: brute force on the driver
      val expected = (0 until Queries).map { q =>
        q.toLong -> vecs.indices.filter(_ != q).map(n => cosine(vecs(q), vecs(n))).sorted.reverse.take(5)
      }.toMap
      Op(kind, s"queries=$Queries k=5", Vectors, ctx => {
        val got = ctx.collect(Similarity.ivfTopK(emb.where(col("vec_id") < Queries), emb, 5, nlist = 16, nprobe = 16))
          .groupBy(_.getAs[Long]("q_id")).map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim")).toSeq }
        val ok = got.keySet == expected.keySet && expected.forall { case (q, e) =>
          got(q).size == e.size && got(q).zip(e).forall { case (a, b) => math.abs(a - b) < 1e-4 } }
        if (ok) None else Some("top-5 similarities differ from brute force")
      })
    case "curate" =>
      Op(kind, "lang=en quality>=0.5", Docs, ctx => digestAndChecks(ctx, kind,
        Curation.curate(docs, "doc_id", "text", lang = "en", minQuality = 0.5),
        Seq("quality below 0.5" -> (col("quality") < 0.5),
          "ids Dedup.exact drops" -> !col("doc_id").isin(keep: _*)))._1)
    case "token_chunks" =>
      Op(kind, "budget=512", Docs, ctx => {
        val got = ctx.collect(Packing.tokenChunks(docs, "doc_id", "text", "source", budgetTokens = 512)
          .select("doc_id", "n_tokens", "chunk_id", "chunk_offset"))
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        val bad = chunks.keySet.filter(k => got.get(k) != chunks.get(k))
        if (got.size == chunks.size && bad.isEmpty) None
        else Some(s"${got.size} docs; ${bad.size} chunk positions differ, e.g. ${bad.headOption}")
      })
  }

  def probeSet: ProbeSet = ProbeSet(Doc, texts.take(2000).zipWithIndex.map { case (t, i) =>
      Rec(Vector(i.toLong + 1, t, "en", "web")) },
    """{"type":"record","name":"Doc","namespace":"bench","fields":[
      |{"name":"source","type":"string"},{"name":"doc_id","type":"long"},
      |{"name":"n_chars","type":"int","default":-1}]}""".stripMargin,
    v => { val r = v.asInstanceOf[Rec].vs; Rec(Vector(r(3), r(0), -1)) })
}

object CorpusOps {
  /** Metric names (`ops.<name>_s`) of the operators behind each kind. */
  val OperatorNames: Map[String, String] = Map("dedup_exact" -> "dedup_exact",
    "minhash_pairs" -> "minhash_dedup_pairs", "ngram_jaccard" -> "ngram_jaccard",
    "components" -> "connected_components", "doc_features" -> "document_features",
    "dup_spans" -> "duplicated_spans", "cosine_pairs" -> "cosine_near_dup_pairs", "ivf_topk" -> "ivf_topk",
    "curate" -> "curate", "token_chunks" -> "token_chunks")
}
