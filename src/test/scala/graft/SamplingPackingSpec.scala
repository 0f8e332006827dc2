package graft

import graft.ops.{Packing, Sampling, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the deterministic sampling / corpus mixing / sequence packing
  * operators over the driver's sf0.001 documents table. */
class SamplingPackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-sampling-packing-spec")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("hashUnit is uniform-ish and in [0,1)") {
    val h = docs.select(Sampling.hashUnit(col("doc_id")).as("h"))
    val row = h.agg(min("h"), max("h"), avg("h")).head()
    assert(row.getDouble(0) >= 0.0 && row.getDouble(1) < 1.0)
    // 500 uniform draws: mean within ±0.1 of 0.5 w.h.p.
    assert(math.abs(row.getDouble(2) - 0.5) < 0.1)
  }

  test("stratified sample is deterministic, rate-respecting, and drops unlisted strata") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val s1 = Sampling.stratifiedSample(docs, "doc_id", "source", rates).collect()
    val s2 = Sampling.stratifiedSample(docs, "doc_id", "source", rates).collect()
    assert(s1.map(_.getAs[Long]("doc_id")).sorted.sameElements(
      s2.map(_.getAs[Long]("doc_id")).sorted), "re-runs must select identical rows")
    val bySource = s1.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("src0") == totals("src0"), "rate 1.0 keeps the whole stratum")
    assert(!bySource.contains("src2"), "rate 0.0 drops the stratum")
    assert(bySource.keySet.subsetOf(Set("src0", "src1")), "unlisted strata are dropped")
    // 25 docs at rate 0.5: expect ~12, allow wide binomial slack
    assert(bySource.getOrElse("src1", 0) > 2 && bySource("src1") < 23)
  }

  test("temperatureMix flattens the source distribution toward alpha sampling") {
    // synthetic skewed corpus: a big source and a small one
    import spark.implicits._
    val corpus = ((1L to 900L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, "small"))).toDF("doc_id", "source")
    val out = Sampling.temperatureMix(corpus, "doc_id", "source",
      targetRows = 400, alpha = 0.5, salt = "t")
    val by = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected rates: z = sqrt(900)+sqrt(100) = 40; big: 400*30/40/900 = 1/3,
    // small: 400*10/40/100 = 1.0 (capped) — the small source keeps
    // EVERYTHING while the big one downsamples: the alpha<1 flattening
    assert(by("small") == 100L, by.toString)
    assert(by("big") > 200L && by("big") < 400L, by.toString)
    // deterministic: identical re-runs
    val again = Sampling.temperatureMix(corpus, "doc_id", "source",
      targetRows = 400, alpha = 0.5, salt = "t")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(out.select("doc_id").collect().map(_.getLong(0)).sorted))
    // alpha = 1 reproduces proportional sampling: equal rates across strata
    val prop = Sampling.temperatureMix(corpus, "doc_id", "source",
      targetRows = 500, alpha = 1.0, salt = "t")
    val byProp = prop.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate = 500/1000 for every stratum; shares stay roughly proportional
    assert(byProp("big").toDouble / byProp("small") > 5.0, byProp.toString)
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(corpus, "doc_id", "source", targetRows = 0) }
  }

  test("splitByGroup: groups never straddle splits, weights respected, deterministic") {
    import spark.implicits._
    // 200 groups x 5 rows — a near-dup "cluster" must land whole
    val corpus = (0L until 1000L).map(i => (i, i / 5L)).toDF("doc_id", "grp")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitByGroup(corpus, "grp", splits, salt = "s")
    assert(out.count() == 1000L, "every row is assigned")
    // group integrity: one split per group
    val perGroup = out.groupBy("grp")
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("n"))
      .where("n > 1").count()
    assert(perGroup == 0L, "a group straddled splits")
    // share sanity over 200 groups: train gets the bulk
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit("train") > 600L && bySplit("train") < 950L, bySplit.toString)
    assert(bySplit.keySet == Set("train", "valid", "test"), bySplit.toString)
    // deterministic re-run
    val again = Sampling.splitByGroup(corpus, "grp", splits, salt = "s")
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(again.sameElements(out.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted))
    // refusals
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(corpus, "grp", Seq("a" -> 0.5, "b" -> 0.4)) }
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(corpus, "grp", Seq("a" -> 0.5, "a" -> 0.5)) }
    intercept[IllegalArgumentException] {
      Sampling.splitByGroup(corpus, "grp", Seq("a" -> 1.5, "b" -> -0.5)) }
    // a null group key fails the ROW loudly instead of silently landing in
    // the last (eval) split
    val withNull = corpus.withColumn("grp",
      org.apache.spark.sql.functions.when(col("doc_id") === 0L,
        org.apache.spark.sql.functions.lit(null)).otherwise(col("grp")))
    val eNull = intercept[Exception] {
      Sampling.splitByGroup(withNull, "grp", splits, salt = "s").collect() }
    assert(eNull.getMessage.contains("null group key") ||
      Option(eNull.getCause).exists(_.getMessage.contains("null group key")),
      eNull.getMessage)
  }

  test("different salts draw different samples") {
    val rates = Map("src0" -> 0.5, "src1" -> 0.5, "src2" -> 0.5, "src3" -> 0.5)
    val a = Sampling.stratifiedSample(docs, "doc_id", "source", rates, salt = "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(docs, "doc_id", "source", rates, salt = "b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a != b, "independent salts should not select identical subsets")
  }

  test("weightedMix: integer weights give exact copy counts, fractions sample") {
    val weights = Map("src0" -> 2.0, "src1" -> 0.5, "src2" -> 2.5)
    val m = Sampling.weightedMix(docs, "doc_id", "source", weights)
      .groupBy("source").agg(countDistinct("epoch").as("n_epochs"),
        count(lit(1)).as("n_rows")).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_epochs"), r.getAs[Long]("n_rows"))).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("src0")._1 == 2 && m("src0")._2 == 2 * totals("src0"),
      "weight 2.0 = exactly two full epochs")
    assert(m("src1")._1 == 1 && m("src1")._2 < totals("src1"),
      "weight 0.5 = one partially-sampled epoch")
    // 2.5: epochs 0,1 full + epoch 2 sampled at 0.5
    assert(m("src2")._1 == 3 && m("src2")._2 > 2 * totals("src2") &&
      m("src2")._2 < 3 * totals("src2"))
    assert(!m.contains("src3"), "unweighted strata are dropped")
  }

  test("weightedMix fractional epochs are independent across epoch index") {
    // weight 1.5: epoch 0 is full; epoch 1 is a hash sample — the sampled
    // subset must differ from what a salt-free epoch-0 sample would give
    // (the per-epoch salt drives independence)
    val m = Sampling.weightedMix(docs, "doc_id", "source", Map("src0" -> 1.5))
    val epoch1 = m.where(col("epoch") === 1).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val epoch0 = m.where(col("epoch") === 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(epoch1.subsetOf(epoch0) && epoch1.size < epoch0.size)
  }

  test("tokenChunks covers every token exactly once per shard") {
    val c = Packing.tokenChunks(docs, "doc_id", "text", "source", 512)
    // per shard: offsets are the running token total (gapless, no overlap)
    val perShard = c.orderBy("source", "doc_id")
      .select("source", "n_tokens", "chunk_id", "chunk_offset").collect()
      .groupBy(_.getAs[String]("source"))
    perShard.foreach { case (_, rows) =>
      var expectBefore = 0L
      rows.foreach { r =>
        val chunkId = r.getAs[Long]("chunk_id")
        val off = r.getAs[Long]("chunk_offset")
        assert(chunkId == expectBefore / 512 && off == expectBefore % 512,
          s"doc must start at the running token offset: $r (expected before=$expectBefore)")
        expectBefore += r.getAs[Long]("n_tokens")
      }
    }
    // chunk ids are dense per shard: max chunk == floor((total-1)/512) for
    // nonempty shards
    val chk = c.groupBy("source").agg(max("chunk_id").as("mx"),
      sum("n_tokens").as("tot")).collect()
    chk.foreach { r =>
      val tot = r.getAs[Long]("tot")
      if (tot > 0)
        assert(r.getAs[Long]("mx") <= (tot - 1) / 512,
          "no chunk can start past the last token")
    }
  }

  test("corpusStats quantiles follow the rank rule exactly") {
    val stats = Packing.corpusStats(docs, "source", "text")
      .where(col("stratum") === "src0").head()
    val toks = docs.where(col("source") === "src0")
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
      .collect().map(_.getLong(0)).sorted
    val n = toks.length
    assert(stats.getAs[Long]("n_docs") == n)
    assert(stats.getAs[Long]("total_tokens") == toks.sum)
    def rankQ(q: Double) = toks(math.ceil(q * n).toInt - 1)
    assert(stats.getAs[Long]("p50_tokens") == rankQ(0.5))
    assert(stats.getAs[Long]("p90_tokens") == rankQ(0.9))
    assert(stats.getAs[Long]("p99_tokens") == rankQ(0.99))
  }

  test("corpusStatsApprox sketches land within the guaranteed rank error") {
    val approx = Packing.corpusStatsApprox(docs, "source", "text")
      .where(col("stratum") === "src0").head()
    val toks = docs.where(col("source") === "src0")
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
      .collect().map(_.getLong(0)).sorted
    val n = toks.length
    // exact aggregates are exact regardless of the sketch
    assert(approx.getAs[Long]("n_docs") == n)
    assert(approx.getAs[Long]("total_tokens") == toks.sum)
    // each sketched quantile must be an actual token count whose rank is
    // within n/accuracy (+1 for the discrete-rank convention gap) of q*n
    for (q <- Seq(0.5, 0.9, 0.99)) {
      val got = approx.getAs[Long](s"p${(q * 100).toInt}_tokens")
      assert(toks.contains(got), s"p$q=$got is not an observed value")
      val lo = toks.count(_ < got)       // smallest rank holding this value
      val hi = toks.count(_ <= got)      // largest rank holding this value
      val target = q * n
      val slack = n.toDouble / 10000 + 1
      assert(lo - slack <= target && target <= hi + slack,
        s"p$q=$got rank window [$lo,$hi] too far from ${target} (n=$n)")
    }
  }

  test("corpusStatsApproxChecked: exact quantiles match corpusStats, bounds hold") {
    val checked = Packing.corpusStatsApproxChecked(docs, "source", "text")
    val exact = Packing.corpusStats(docs, "source", "text")
    // the exact columns are byte-identical to the q43 report
    val joined = checked.as("c").join(exact.as("e"), "stratum")
    assert(joined.where(
      col("c.n_docs") =!= col("e.n_docs") ||
      col("c.total_tokens") =!= col("e.total_tokens") ||
      col("c.p50_tokens") =!= col("e.p50_tokens") ||
      col("c.p90_tokens") =!= col("e.p90_tokens") ||
      col("c.p99_tokens") =!= col("e.p99_tokens")).isEmpty,
      "checked report's exact columns must equal corpusStats")
    // at test scale eps < 1 row, so the sketch bound must hold everywhere —
    // this is the oracle contract (DuckDB asserts the same literals TRUE)
    assert(checked.where(!col("p50_in_bound") || !col("p90_in_bound") ||
      !col("p99_in_bound")).isEmpty, "a sketch violated its rank bound")
  }

  test("sampling plans are shuffle-free map-side filters") {
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sampling.stratifiedSample(docs, "doc_id", "source",
        Map("src0" -> 0.5)).queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"stratified sample must not shuffle:\n$plan")
      val mixPlan = Sampling.weightedMix(docs, "doc_id", "source",
        Map("src0" -> 2.5)).queryExecution.executedPlan
      val mixShuffles = mixPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(mixShuffles.isEmpty, s"weightedMix must not shuffle:\n$mixPlan")
      // temperatureMix: ONE tiny count aggregation trains the rates
      // driver-side; the SAMPLING pass itself is a shuffle-free map filter
      val tmPlan = Sampling.temperatureMix(docs, "doc_id", "source",
        targetRows = 50).queryExecution.executedPlan
      val tmShuffles = tmPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(tmShuffles.isEmpty, s"temperatureMix sampling must not shuffle:\n$tmPlan")
      // splitByGroup: a pure map-side expression, zero exchanges
      val spPlan = Sampling.splitByGroup(docs, "source",
        Seq("train" -> 0.9, "test" -> 0.1)).queryExecution.executedPlan
      val spShuffles = spPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(spShuffles.isEmpty, s"splitByGroup must not shuffle:\n$spPlan")
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("exactSamplePerStratum: exact sizes, determinism, two-phase equals global rank") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sample = Sampling.exactSamplePerStratum(docs, "doc_id", "source", n = 7, salt = "t")
    val sizes = sample.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (s, total) =>
      assert(sizes.getOrElse(s, 0L) == math.min(7L, total), s"stratum $s") }

    // deterministic across runs and partition layouts
    val again = Sampling.exactSamplePerStratum(
      docs.repartition(13), "doc_id", "source", n = 7, salt = "t")
    assert(sample.select("doc_id").as[Long].collect().sorted.toSeq ==
      again.select("doc_id").as[Long].collect().sorted.toSeq)

    // two-phase result == straight global rank by the same hash
    val h = Sampling.hashUnit(col("doc_id"), lit("t"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(h.asc, col("doc_id").asc)
    val direct = docs.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 7).select("doc_id").as[Long].collect().sorted
    assert(sample.select("doc_id").as[Long].collect().sorted.toSeq == direct.toSeq)
  }

  test("tokenBudgetSelect keeps exactly the best-score prefix within budget") {
    import spark.implicits._
    val d = Seq(
      (1L, 0.9, 10L), (2L, 0.8, 20L), (3L, 0.8, 30L), (4L, 0.7, 25L), (5L, 0.6, 5L)
    ).toDF("id", "score", "tok")
    // rank order (score desc, id): 1(cum 10) 2(30) 3(60) 4(85) 5(90)
    def sel(budget: Long) = Sampling
      .tokenBudgetSelect(d, "id", "score", "tok", budget, partitions = 3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(sel(60) == Seq(1L, 2L, 3L), "budget lands exactly on doc 3's cum")
    assert(sel(59) == Seq(1L, 2L), "doc 3 would cross the budget")
    assert(sel(0) == Seq())
    assert(sel(1000) == Seq(1L, 2L, 3L, 4L, 5L))
    // tie on score: lower id ranks first (2 before 3)
    assert(sel(30) == Seq(1L, 2L))
    // selection is invariant to the partition count (prefix math, not luck)
    val one = Sampling.tokenBudgetSelect(d, "id", "score", "tok", 60, partitions = 1)
      .select("id").as[Long].collect().sorted.toSeq
    val many = Sampling.tokenBudgetSelect(d, "id", "score", "tok", 60, partitions = 8)
      .select("id").as[Long].collect().sorted.toSeq
    assert(one == sel(60) && many == sel(60))
  }
}
