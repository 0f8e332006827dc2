package graft

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are materialized through the `noop` sink so
  * Catalyst cannot prune away the work being measured (a bare count() would
  * let column pruning skip e.g. the Avro decode entirely). Failures are
  * reported per-query via the `ok` map — a broken query must not masquerade
  * as a fast one. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)

    // warm up the JVM + filesystem + codegen/agg/join/window/text paths once,
    // outside any query's timing (the first query touching a path otherwise
    // absorbs its JIT + Janino compile time); a bad data dir must still
    // produce the JSON line (all not-ok)
    try {
      import org.apache.spark.sql.functions.sum
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      noop(spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10000)
        .groupBy("l_returnflag").agg(sum("l_quantity")))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
        .persist()
      noop(graft.ops.Dedup.minhashDedupPairs(docs, "doc_id", "text"))
      noop(graft.ops.Dedup.ngramJaccard(docs, "doc_id", "text", "source"))
      noop(graft.ops.TextAnalysis.documentFeatures(docs, "doc_id", "text"))
      docs.unpersist()
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64).persist()
      noop(graft.ops.Similarity.cosineNearDupPairs(emb, 0.99, numPlanes = 4, numTables = 4))
      emb.unpersist()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }

    // Median-of-N per query: single-run timings on this host swing up to
    // 7.5x on identical code (r3 vs r4), so one sample cannot gate a 2x
    // rule. Repeats share the operators' persisted intermediates (caching
    // is part of the plan under test → the median reads steady-state);
    // the cache is dropped BETWEEN queries so Dedup/Similarity persists
    // never accumulate across the run.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // optional comma-separated query-name filter for isolating one query's
    // timing behavior (e.g. SPARK_GRAFT_BENCH_ONLY=q23_minhash_pairs);
    // unknown names are a hard error — a silently-empty filter would emit
    // an "all_ok": true line that reads as a successful full run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // Host-contention hardening (the BENCH_r07 lesson: an adjacent-query
    // slow cluster on UNCHANGED code was 4-6x host noise, proven only by a
    // manual isolation rerun). Two measures make the artifact self-auditing:
    //  1. the 1-minute system load average is sampled at every run start
    //     and reported per query — a slow median under heavy external load
    //     reads as contention, not regression;
    //  2. any query whose median exceeds 3x its own min (the intra-query
    //     contention signature — identical code and cache state cannot
    //     legitimately spread 3x) is re-run `repeats` more times and the
    //     median recomputed over ALL runs, so a contention window must
    //     persist across BOTH windows to survive into the headline number.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage // -1.0 where unsupported
    def median(ts: Seq[Double]): Double = { val s = ts.sorted; s(s.length / 2) }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      def timeRuns(n: Int): Seq[(Double, Boolean, Double)] = (1 to n).map { _ =>
        val l0 = loadAvg
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        ((System.nanoTime() - t0) / 1e9, ok, l0)
      }
      val first = timeRuns(repeats)
      // run 1 legitimately pays persist population (cache is cleared between
      // queries), so a cold first run tripping the 3x spread is NOT the
      // contention signature — judge the spread over warm runs 2..n only
      val warm = first.drop(1)
      val suspect = repeats > 2 && first.forall(_._2) &&
        median(warm.map(_._1)) > 3 * warm.map(_._1).min
      if (suspect) System.err.println(
        s"[bench] $name median/min > 3x (${first.map(_._1).map(v => f"$v%.2f").mkString(",")}) — retrying")
      val runs = if (suspect) first ++ timeRuns(repeats) else first
      spark.catalog.clearCache()
      (name, median(runs.map(_._1)), runs.forall(_._2), runs.map(_._1),
        runs.map(_._3), suspect)
    }
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // the harness tail-captures stdout with a bounded window: with 100+
    // queries the full-name per-query dict alone overflows it and the
    // FIRST ~30 queries' numbers fall out of the artifact (the BENCH_r15
    // lesson). The compact line therefore keys queries by their qNN id
    // only ("q01_agg" -> "q01") — ids are unique by construction — which
    // keeps every query's number inside the captured tail; the full file
    // keeps full names.
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    require(results.map(r => shortKey(r._1)).distinct.length == results.length,
      "bench: short query keys collide; fix query naming")
    val qsShort = results.map { case (k, v, _, _, _, _) =>
      "\"" + shortKey(k) + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val oks = results.map { case (k, _, ok, _, _, _) => "\"" + k + "\":" + ok }
      .mkString("{", ",", "}")
    val allRuns = results.map { case (k, _, _, rs, _, _) =>
      "\"" + k + "\":" + rs.map(v => f"$v%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loads = results.map { case (k, _, _, _, ls, _) =>
      "\"" + k + "\":" + ls.map(v => f"$v%.2f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val retried = results.collect { case (k, _, _, _, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // steady-state = fastest run: repeats share persisted intermediates, so
    // the min reads the plan's warm cost with cache population (a one-time
    // amortized cost at production reuse) excluded — report it alongside the
    // median so persist-population doesn't masquerade as plan cost
    val steady = results.map { case (k, _, _, rs, _, _) => "\"" + k + "\":" + f"${rs.min}%.3f" }
      .mkString("{", ",", "}")
    val total = f"${results.collect { case (_, v, true, _, _, _) => v }.sum}%.3f"
    val totalSteady = f"${results.collect { case (_, _, true, rs, _, _) => rs.min }.sum}%.3f"
    val allOk = results.forall(_._3)
    // stdout gets a COMPACT line (the harness parses the last stdout line as
    // JSON and may tail-truncate long output); the file keeps the full
    // diagnostics (per-run samples, load averages, retry markers)
    val failed = results.collect { case (k, _, false, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsShort,"total_steady":$totalSteady,"all_ok":$allOk,"failed":$failed,"repeats":$repeats,"n_queries":${results.length},"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"steady_state":$steady,"total_steady":$totalSteady,"ok":$oks,"all_ok":$allOk,"repeats":$repeats,"runs":$allRuns,"load_1m":$loads,"retried":$retried,"n_queries":${results.length},"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench-latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not write target/bench-latest.json: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
