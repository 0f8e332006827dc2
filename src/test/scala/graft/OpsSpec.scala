package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level specs for the training-data-pipeline operators (dedup,
  * similarity, text analysis) over the driver's sf0.001 test tables. */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-ops-spec")
    .getOrCreate()

  /** Run `body` with AQE off (it wraps plans in AdaptiveSparkPlanExec,
    * opaque to `collect`), then restore the session's previous setting. */
  private def withoutAqe(body: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup keeps one row per distinct text") {
    val d = docs
    val total = d.count()
    val dedup = Dedup.exact(d, "doc_id", "text").count()
    val distinct = d.select("text").distinct().count()
    assert(dedup == distinct)
    assert(dedup <= total)
  }

  test("exact dedup plan never shuffles document text") {
    withoutAqe {
      val plan = Dedup.exact(docs, "doc_id", "text").queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "expected the narrow (digest, id) aggregation shuffle")
      shuffles.foreach { e =>
        assert(!e.child.output.exists(_.name == "text"),
          s"document text rides a shuffle:\n$e")
      }
      val bhj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, "survivor filter must be a broadcast-hash join")
    }
  }

  test("minhash candidate pairs are symmetric-free, thresholded, and real near-dups") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("est_jaccard") >= 0.5)
    }
  }

  test("simhash pairs respect the Hamming radius") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("ngram jaccard inverted-index equals direct set jaccard on a fixture") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e", "x"),
      (2L, "a b c d f", "x"),   // shares 2 of its 3 trigrams with doc 1
      (3L, "q r s t u", "x"),
      (4L, "a b c d e", "y")    // same text, different block — never paired
    ).toDF("doc_id", "text", "source")
    val out = Dedup.ngramJaccard(d, "doc_id", "text", "source", n = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc1 grams {abc,bcd,cde}, doc2 grams {abc,bcd,cdf}: |∩|=2, |∪|=4 → 0.5
    assert(out == Set((1L, 2L, 0.5)))
  }

  test("ngramJaccard prefix orders (sampled vs hash vs df) are result-equivalent") {
    // prefix filtering is lossless under ANY global total order — all three
    // orders must produce the identical pair set on real documents (sampled
    // is exercised at sampleOneIn=1, i.e. every doc feeds the hot ranking,
    // the configuration most likely to expose an order-dependence bug)
    def run(order: String, oneIn: Int = 16) =
      Dedup.ngramJaccard(docs, "doc_id", "text", "source", n = 3,
          threshold = 0.3, prefixOrder = order, sampleOneIn = oneIn)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hash = run("hash")
    val df = run("df")
    val sampled = run("sampled")
    val sampledFull = run("sampled", oneIn = 1)
    assert(hash == df, s"orders disagree: hash-only=${hash -- df} df-only=${df -- hash}")
    assert(sampled == df, s"sampled disagrees: extra=${sampled -- df} missing=${df -- sampled}")
    assert(sampledFull == df,
      s"sampled(1-in-1) disagrees: extra=${sampledFull -- df} missing=${df -- sampledFull}")
    assert(hash.nonEmpty, "expected at least one near-dup pair at t=0.3")
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // contains eval 4-gram
      (2L, "completely unrelated text about something else entirely here"),
      (3L, "quick brown fox jumps high above the fence"),    // shares "quick brown fox jumps"
      (4L, "short doc")                                      // <4 tokens → whole-text gram
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "watch the quick brown fox jumps sequence"),
      (101L, "short doc")                                    // whole-text gram matches doc 4
    ).toDF("doc_id", "text")
    val flagged = graft.ops.Decontamination
      .contaminated(corpus, evalSet, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc1: grams include "the quick brown fox" & "quick brown fox jumps" —
    // eval contributes "the quick brown fox"? eval text grams: "watch the quick brown",
    // "the quick brown fox", "quick brown fox jumps", "brown fox jumps sequence"
    // → doc1 overlaps on 2 grams, doc3 on 1 ("quick brown fox jumps"), doc4 on its whole-text gram
    assert(flagged == Map(1L -> 2L, 3L -> 1L, 4L -> 1L), s"got $flagged")
    val survivors = graft.ops.Decontamination
      .decontaminate(corpus, evalSet, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(2L), s"got $survivors")
    // minOverlap raises the bar: only doc1 has >= 2 overlapping grams
    val strict = graft.ops.Decontamination
      .contaminated(corpus, evalSet, "doc_id", "text", n = 4, minOverlap = 2)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L), s"got $strict")
  }

  test("repetition metrics: fractions match hand-computed fixtures") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a b"),        // toks 6: bigrams [ab,ba,ab,ba,ab] → max 3/5; dup (6-2)/6
      (2L, "x y z"),              // all distinct: bigram max 1/2; dup 0
      (3L, "w"),                  // one token: no bigrams → 0; dup 0
      (4L, "")                    // empty: 0 tokens → both 0
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.repetitionMetrics(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((6L, 3.0 / 5.0, 4.0 / 6.0)), s"got ${out(1L)}")
    assert(out(2L) == ((3L, 0.5, 0.0)), s"got ${out(2L)}")
    assert(out(3L) == ((1L, 0.0, 0.0)), s"got ${out(3L)}")
    assert(out(4L) == ((0L, 0.0, 0.0)), s"got ${out(4L)}")
  }

  test("connected components: exact labels on chains, cliques, and singleton absence") {
    import spark.implicits._
    // graph: chain 1-2-3-4 (diameter 3), clique {10,11,12}, edge {20,21};
    // vertex 30 has no edge and must be ABSENT from the output
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L), s"got $got")

    // a long path exercises the DISTRIBUTED loop's multi-round convergence
    // (maxDriverEdges = 0 forces it; the default would take the bounded
    // driver union-find fast path)
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(path, maxDriverEdges = 0)
      .collect().map(_.getLong(1)).distinct
    assert(labels.toSeq == Seq(0L), "one component spanning the whole path")

    // the safety valve throws instead of returning unconverged labels
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxRounds = 2, maxDriverEdges = 0).collect()
    }

    // regime parity: the driver union-find fast path and the distributed
    // loop produce the IDENTICAL labeling on the same graph
    val viaDriver = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.connectedComponents(pairs, maxDriverEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop, s"driver=$viaDriver loop=$viaLoop")

    // dropNearDups keeps one doc per cluster; singletons (30) pass through
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 10L, 20L, 30L), s"got ${kept.toSeq}")

    // ids keep their native type: string/UUID corpora must cluster, not
    // silently no-op through a long cast
    val spairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c")).toDF("id_a", "id_b")
    val sgot = Dedup.connectedComponents(spairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sgot == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a"),
      s"got $sgot")
    val sdocs = Seq("doc-a", "doc-b", "doc-c", "doc-z").toDF("doc_id")
    val skept = Dedup.dropNearDups(sdocs, "doc_id", spairs)
      .select("doc_id").as[String].collect().sorted
    assert(skept.toSeq == Seq("doc-a", "doc-z"), s"got ${skept.toSeq}")
  }

  test("chunkText: windows, overlap, short tails, and empty docs on hand fixtures") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // shorter than one chunk
      (3L, "  "),                                     // empty after trim: no chunk
      (4L, (1 to 5).map(i => s"x$i").mkString(" "))   // exactly chunkTokens
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.chunkText(d, "doc_id", "text",
        chunkTokens = 5, overlapTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: stride 3, ceil(max(10-2,1)/3)=3 chunks: [1..5],[4..8],[7..10]
    assert(out.filter(_._1 == 1L).map(c => (c._3, c._4)).toSeq == Seq(
      ("w1 w2 w3 w4 w5", 5), ("w4 w5 w6 w7 w8", 5), ("w7 w8 w9 w10", 4)))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b c"))
    assert(!out.exists(_._1 == 3L), "empty doc yields no chunk")
    assert(out.filter(_._1 == 4L).map(_._4).toSeq == Seq(5), "exact fit is one chunk")
  }

  test("PII redaction: counts and typed replacements on hand fixtures") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a.b+c@sub.example.org and 192.168.0.1 and acct 123456789"),
      (2L, "no pii here, just 1234 and v1.2.3.x"),
      (3L, "two mails x@y.io z9@w.co plus 9999999999"),
      (4L, "u123456789@x.io only") // digit run INSIDE an email: one <EMAIL>, zero <ID>
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(d).collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_ipv4"), r.getAs[Int]("n_idnums"),
        r.getAs[String]("text_redacted")))).toMap
    assert(out(1L) == ((1, 1, 1, "mail <EMAIL> and <IP> and acct <ID>")), s"got ${out(1L)}")
    assert(out(2L) == ((0, 0, 0, "no pii here, just 1234 and v1.2.3.x")), s"got ${out(2L)}")
    assert(out(3L) == ((2, 0, 1, "two mails <EMAIL> <EMAIL> plus <ID>")), s"got ${out(3L)}")
    // counts are staged like the redaction: every n_X equals the emitted <X> tokens
    assert(out(4L) == ((1, 0, 0, "<EMAIL> only")), s"got ${out(4L)}")
  }

  test("q44 oracle fixture invariant: no near-1.0 non-colinear neighbor") {
    // q44's IVF-equals-brute-force proof relies on the corpus having NO pair
    // whose cosine rounds to 1.0 at 9 digits without being exactly colinear:
    // a sim >= 0.9999999995 vector in an unprobed cell would break the
    // equivalence. Assert the second-best (different-embedding) similarity
    // for every probe source is bounded WELL away from the rounding cliff,
    // so regenerating the test data cannot silently invalidate the oracle.
    val emb = embeddings
    val best = Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, 10)
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), "n_id")
      .where(col("q_emb") =!= col("n_emb"))
      .groupBy("q_id").agg(max("sim").as("second_best"))
      .collect()
    assert(best.length == 8)
    best.foreach { r =>
      val s = r.getAs[Double]("second_best")
      assert(s < 0.99, s"probe ${r.get(0)}: non-colinear neighbor at sim=$s is " +
        "too close to the 9-digit rounding cliff (oracle construction unsafe)")
    }
  }

  test("lsh bucket handles embeddings wider than 64 dims (no truncation)") {
    import spark.implicits._
    // two identical-direction 384-dim vectors must land in the same bucket;
    // the bucket must depend on components beyond index 63
    val base = Array.tabulate(384)(i => math.sin(i * 0.7).toFloat)
    val tailFlipped = base.clone()
    (64 until 384).foreach(i => tailFlipped(i) = -tailFlipped(i))
    val d = Seq((1L, base.toSeq), (2L, base.map(x => (x * 2.0f)).toSeq), (3L, tailFlipped.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val b = d.select(col("vec_id"), Similarity.lshBucket(col("embedding"), 16, 42L).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b(1L) == b(2L), "scaling must not change the bucket")
    assert(b(1L) != b(3L), "flipping dims ≥64 must change the bucket (truncation bug)")
  }

  test("lshTopK recall@10 vs brute force is at least 0.9") {
    val emb = embeddings
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the synthetic embeddings are near-orthogonal (top-10 sims ~0.3-0.5), so
    // high recall needs many short tables; real clustered corpora use fewer,
    // longer ones
    val approx = Similarity.lshTopK(queries, emb, 10, numPlanes = 4, numTables = 24)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("IVF top-k: recall rises with nprobe and exhaustive probing is exact") {
    val queries = embeddings.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, embeddings, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val approx = Similarity.ivfTopK(queries, embeddings, 10, nlist = 16, nprobe = nprobe)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    assert(r8 > r2, s"recall must rise with nprobe: nprobe=2 → $r2, nprobe=8 → $r8")
    assert(r8 >= 0.7, s"recall@10 with nprobe=8/16 = $r8 (synthetic corpus is unclustered; " +
      "clustered production embeddings give far higher recall at the same nprobe)")
    // probing every cell is exhaustive — structurally identical to brute force
    val all = Similarity.ivfTopK(queries, embeddings, 10, nlist = 16, nprobe = 16)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact)
  }

  test("PQ top-k: ADC shortlist recall rises with shortlist size; codes are m bytes") {
    val queries = embeddings.where(col("vec_id") < 20)
    val cb = Similarity.pqTrain(embeddings, m = 8, ksub = 16)
    assert(cb.m == 8 && cb.ksub == 16 && cb.dsub == 8)
    // codes really are m bytes — the 32x-smaller scan the design claims
    val codes = Similarity.pqEncode(embeddings, cb).select("pq_codes").collect()
    assert(codes.forall(_.getAs[Array[Byte]](0).length == 8))
    // training is deterministic: same seed, same codebook
    assert(Similarity.pqTrain(embeddings, m = 8, ksub = 16).centroids == cb.centroids)

    val exact = Similarity.bruteForceTopK(queries, embeddings, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(shortlist: Int): Double = {
      val approx = Similarity.pqTopK(queries, embeddings, 10, cb, shortlist = shortlist)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r16 = recall(16)
    val r128 = recall(128)
    assert(r128 >= r16, s"recall must rise with shortlist: 16 → $r16, 128 → $r128")
    assert(r128 >= 0.8, s"recall@10 with shortlist=128 = $r128 (unclustered synthetic " +
      "corpus; the ADC ordering must still put most true neighbors up front)")
    // a shortlist covering the corpus is exhaustive: exact re-rank == brute force
    val n = embeddings.count().toInt
    val all = Similarity.pqTopK(queries, embeddings, 10, cb, shortlist = n)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact)
  }

  test("IVF-PQ: recall rises with nprobe; exhaustive probe + corpus shortlist is exact") {
    val queries = embeddings.where(col("vec_id") < 20)
    val cb = Similarity.pqTrain(embeddings, m = 8, ksub = 16)
    val exact = Similarity.bruteForceTopK(queries, embeddings, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int, shortlist: Int): Double = {
      val approx = Similarity.ivfPqTopK(queries, embeddings, 10, cb,
          nlist = 16, nprobe = nprobe, shortlist = shortlist)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r2 = recall(2, 128)
    val r8 = recall(8, 128)
    assert(r8 >= r2, s"recall must rise with nprobe: 2 → $r2, 8 → $r8")
    assert(r8 >= 0.6, s"recall@10 at nprobe=8/16 shortlist=128 = $r8")
    // exhaustive probing + a corpus-wide shortlist degenerates to brute force
    val n = embeddings.count().toInt
    val all = Similarity.ivfPqTopK(queries, embeddings, 10, cb,
        nlist = 16, nprobe = 16, shortlist = n)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact)
  }

  test("topNgrams mines frequent trigrams; short docs contribute nothing") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox", // trigrams: "the quick brown", "quick brown fox"
      "the quick brown dog",
      "tiny doc", // < 3 words: nothing
      "").toDF("text")
    val top = graft.ops.TextAnalysis.topNgrams(docs, "text", n = 3, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.head == ("the quick brown", 2L), s"got ${top.toSeq}")
    assert(top.length == 2 && top(1)._2 == 1L, s"got ${top.toSeq}")
    // n larger than every doc: empty result, not an error
    assert(graft.ops.TextAnalysis.topNgrams(docs, "text", n = 10, k = 5).count() == 0L)
  }

  test("curation pipeline: funnel counts are monotone and match curate()") {
    val f = graft.ops.Curation.funnel(docs, "doc_id", "text").collect()(0)
    val (d, l, q) = (f.getAs[Long]("after_dedup"), f.getAs[Long]("after_lang"),
      f.getAs[Long]("after_quality"))
    assert(d >= l && l >= q && q > 0)
    assert(graft.ops.Curation.curate(docs, "doc_id", "text").count() == q)
  }

  test("curate(sortById) emits id-ordered survivors with the sort BELOW the scoring") {
    // r22 optimization pin: sortById places the total sort under the
    // langId/quality scoring so the range partitioner samples only the
    // deduped (id, text) rows — a sort ABOVE the scoring re-evaluates the
    // expensive expressions a second time during sampling, and predicate
    // pushdown must NOT drag the scoring filters back below the sort (the
    // nondeterministic barrier guards that).
    val sorted = graft.ops.Curation.curate(docs, "doc_id", "text", sortById = true)
    val ids = sorted.select("doc_id").collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted), "survivors must come out id-ordered")
    // same survivors as the unsorted form
    val plain = graft.ops.Curation.curate(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.sorted.sameElements(plain))
    // plan shape: the (single) range exchange sits BELOW every lang_id
    // evaluation — sampling never touches the scoring
    withoutAqe {
      val plan = graft.ops.Curation.curate(docs, "doc_id", "text", sortById = true)
        .queryExecution.executedPlan
      def containsLangId(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.expressions.exists(_.find(_.getClass.getSimpleName == "LangId").isDefined)
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
      }
      assert(exchanges.length == 1, s"expected one range exchange, got ${exchanges.length}")
      val belowSort = exchanges.head.collect { case p if containsLangId(p) => p }
      assert(belowSort.isEmpty,
        "scoring leaked below the range exchange — its sampling pass would re-evaluate langId")
      assert(plan.collect { case p if containsLangId(p) => p }.nonEmpty,
        "scoring must still be present above the exchange")
    }
  }

  test("text features: quality in [0,1], token count zero on blank text") {
    import spark.implicits._
    val d = Seq((1L, "the cat sat on the mat. it was that good."), (2L, "   "), (3L, ""))
      .toDF("doc_id", "text")
    val f = d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(f(1L)._1 == 10)
    assert(f(2L)._1 == 0 && f(3L)._1 == 0)
    f.values.foreach { case (_, q) => assert(q >= 0.0 && q <= 1.0) }
  }

  test("language id picks en/es/de/fr profiles and zh via CJK ratio") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox is in the yard and it is that fast for sure"),
      (2L, "el perro y el gato en la casa con los amigos por una tarde"),
      (3L, "der hund und die katze ist in den garten mit ein freund"),
      (4L, "le chat et le chien dans les jardins pour une promenade sur la route"),
      (5L, "中文文本处理引擎测试")
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh"))
  }

  test("duplicated spans: cross-doc windows mark exactly their token union") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("dup", 15) // exactly one 15-token window
    val d = Seq(
      // share the same 15-token run inside different surroundings
      (1L, words("a", 10) + " " + shared + " " + words("b", 10)),
      (2L, words("c", 5) + " " + shared + " " + words("d", 20)),
      // unique doc: zero duplicated windows
      (3L, words("solo", 40)),
      // a LONGER shared run: 20 shared tokens = 6 overlapping windows whose
      // union must count 20 tokens, not 6 * 15
      (4L, words("x", 3) + " " + words("run", 20) + " " + words("y", 3)),
      (5L, words("z", 7) + " " + words("run", 20)),
      // shorter than the window: contributes nothing, still reported
      (6L, words("tiny", 5))
    ).toDF("doc_id", "text")
    val m = TextAnalysis.duplicatedSpans(d, "doc_id", "text", window = 15)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m(1L) == ((35L, 1L, 15L)), s"got ${m(1L)}")
    assert(m(2L) == ((40L, 1L, 15L)), s"got ${m(2L)}")
    assert(m(3L) == ((40L, 0L, 0L)))
    assert(m(4L)._2 == 6L && m(4L)._3 == 20L, s"20-token overlap union: ${m(4L)}")
    assert(m(5L)._2 == 6L && m(5L)._3 == 20L, s"20-token overlap union: ${m(5L)}")
    assert(m(6L) == ((5L, 0L, 0L)), "sub-window docs report zero exposure")
  }

  test("duplicatedSpans evaluates the window-hash generate exactly once, through a reused exchange") {
    // r21 pin, r22 form: the dup-hash test is a salted two-stage min/max
    // aggregation whose input exchange is SHARED with the row stream the
    // dup-hash set joins back onto — the physical planner must materialize
    // that exchange once (ReusedExchangeExec on the second consumer), so
    // the expensive tokenize+md5 generate runs exactly once. Two
    // regressions are pinned here: a second materialized Generate (the r20
    // join-back disease, measured ~2x the query) and the reuse silently
    // breaking (e.g. column pruning specializing one branch's copy of the
    // exchange — that is why the aggregation also takes max(pos), behind
    // an always-false `__p < 0` guard, so both branches keep `pos`).
    // AQE wraps stages opaquely; assert on the non-AQE physical plan, which
    // exercises the same ReuseExchange machinery.
    import spark.implicits._
    withoutAqe {
      val d = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
      val plan = TextAnalysis.duplicatedSpans(d, "doc_id", "text", window = 2)
        .queryExecution.executedPlan
      val generates = plan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(generates.length == 1,
        s"expected exactly one materialized window-hash Generate, got ${generates.length}")
      val reused = plan.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.length == 1,
        s"expected the salted (h, salt) exchange to be reused by the dup-hash " +
          s"aggregation, got ${reused.length} ReusedExchange nodes")
      // the dup-hash decision must keep a PARTIAL aggregation stage — the
      // skew guard: a hot boilerplate hash collapses map-side inside the
      // salted partitions instead of funneling through one task
      val partialAggs = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.aggregateExpressions.exists(ae =>
              ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial &&
                ae.aggregateFunction.isInstanceOf[
                  org.apache.spark.sql.catalyst.expressions.aggregate.Min]) => a
      }
      assert(partialAggs.nonEmpty,
        "dup-hash min/max aggregation lost its partial (map-side) stage")
    }
  }

  test("duplicatedSpans is exact under a hot boilerplate hash (skew fixture)") {
    // the 100 TB failure mode the salted form guards: ONE window hash
    // occurring in a large share of documents. 400 docs share the same
    // 15-token boilerplate prefix (one hot h per window position) plus a
    // unique tail; results must match the per-doc expectation exactly.
    import spark.implicits._
    val boiler = (0 until 15).map(i => s"license$i").mkString(" ")
    val d = (1 to 400).map { i =>
      (i.toLong, boiler + " " + (0 until 5).map(j => s"u${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val m = TextAnalysis.duplicatedSpans(d, "doc_id", "text", window = 15)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m.size == 400)
    // every doc: 20 tokens, 6 windows, only window at pos 0 (the pure
    // boilerplate one) is shared across docs -> 1 dup window, 15 covered
    m.foreach { case (id, got) =>
      assert(got == ((20L, 1L, 15L)), s"doc $id: $got")
    }
  }

  test("gopher quality rules: each rule trips on its crafted fixture") {
    import spark.implicits._
    val goodBody = ("the quick brown fox jumps over twelve lazy dogs near " +
      "a quiet river bend and every sentence here reads like plain prose " +
      "that would have passed review with no trouble at all because it " +
      "keeps ordinary words of sensible length throughout the entire text " +
      "and it continues for long enough to clear the fifty word minimum " +
      "gate easily with room to spare for good measure")
    val d = Seq(
      (1L, goodBody),                                      // passes everything
      (2L, "too few words to have any chance"),            // word count
      (3L, ("the of " + Seq.fill(60)("a").mkString(" "))), // mean word len < 3
      (4L, ("the of and that " + Seq.fill(60)("word # tag").mkString(" "))), // symbols
      (5L, goodBody + "\n" + Seq.fill(20)("- bullet item").mkString("\n")), // bullets
      (6L, goodBody + "\n" + Seq.fill(20)("trailing line ...").mkString("\n")), // ellipsis lines
      (7L, Seq.fill(60)("zzz qqq xxx").mkString(" ")),     // no stopwords
      (8L, goodBody + " lorem ipsum dolor sit amet"),      // lorem
      (9L, goodBody + " function() { return 1; }")         // brace
    ).toDF("doc_id", "text")
    val flags = TextAnalysis.gopherQualityFlags(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (2 until r.length).map(i => r.get(i)).toSeq).toMap
    def rule(id: Long, name: String): Boolean = {
      val cols = TextAnalysis.gopherQualityFlags(d, "doc_id", "text").columns
      val idx = cols.indexOf(name)
      assert(idx >= 2, s"missing column $name")
      flags(id)(idx - 2).asInstanceOf[Boolean]
    }
    assert(rule(1L, "pass"), s"good doc must pass: ${flags(1L)}")
    assert(!rule(2L, "r_word_count") && !rule(2L, "pass"))
    assert(!rule(3L, "r_mean_word_len") && !rule(3L, "pass"))
    assert(!rule(4L, "r_symbol_ratio") && !rule(4L, "pass"))
    assert(!rule(5L, "r_bullet_lines") && !rule(5L, "pass"))
    assert(!rule(6L, "r_ellipsis_lines") && !rule(6L, "pass"))
    assert(!rule(7L, "r_stopwords") && !rule(7L, "pass"))
    assert(!rule(8L, "r_no_lorem") && !rule(8L, "pass"))
    assert(!rule(9L, "r_no_brace") && !rule(9L, "pass"))
    // empty doc: ratio rules vacuous, the word-count gate still kills it
    val empty = TextAnalysis.gopherQualityFlags(
      Seq((10L, "")).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(!empty.getAs[Boolean]("pass") && !empty.getAs[Boolean]("r_word_count"))
    assert(empty.getAs[Boolean]("r_mean_word_len") &&
      empty.getAs[Boolean]("r_symbol_ratio"))
  }
}
