package perfbench

import java.nio.file.Files
import scala.collection.immutable.ListMap

/** Turns one run's measurements into metrics, prints them as a table and, as
  * the last line of standard output, the JSON result. Untraced runs print the
  * end-to-end metrics; traced runs print the per-layer metrics that every
  * workload has, and write the rest of the per-layer metrics, the span file
  * and the tracing overhead to the report directory. */
final case class Report(workload: String, cycle: Seq[String], setupS: Double, setupRounds: Seq[Double],
                        warmupS: Double,
                        results: Seq[OpResult], w: Window, nCores: Int,
                        probes: Seq[(String, Double, String)],
                        extra: Seq[(String, Double, String)],
                        warmupProblems: Seq[String], traced: Boolean) {
  type M = (String, Double, String)

  private val n = results.size
  private val failed = results.count(_.problem.isDefined)
  private val lat = results.map(_.seconds)
  private val byKind = results.groupBy(_.kind)

  /** One typical cycle: each kind's median over the window, summed over the
    * kinds of a cycle. A slow stretch of the host or a collection that hits
    * a few operations moves it less than a sum over every operation would. */
  private def typicalCycle(f: OpResult => Double): Double =
    cycle.map(k => Main.median(byKind(k).map(f))).sum
  private val cycleS = typicalCycle(_.seconds)

  /** The gated end-to-end metrics: set-up time, and process CPU per
    * operation in the median cycle. The process CPU clock ticks in 10 ms
    * steps, too coarse for single operations; a cycle runs for seconds. */
  def endToEnd: Seq[M] = Seq(
    ("setup_s", setupS, "s"),
    ("cpu_ms_per_op", Main.median(w.cycleCpuNs.map(_.toDouble)) / 1e6 / cycle.size, "ms"))

  /** End-to-end figures that are not gated: wall-time throughput and
    * latency, which a slow stretch of a shared host moves by a third for
    * minutes at a time; figures that are zero on a correct run, or too
    * unsteady between runs (the peak resident set follows when collections
    * happened; a percentile over a mix of kinds jumps from one kind's level
    * to another's), or defined for one workload only. */
  def endToEndInfo: Seq[M] = Seq(
    ("ops_per_s", cycle.size / cycleS, "op/s"),
    ("rows_per_s", typicalCycle(_.rows.toDouble) / cycleS, "rows/s"),
    ("latency_p50_s", Main.quantile(lat, 0.5), "s"),
    ("latency_p90_s", Main.quantile(lat, 0.9), "s"),
    ("latency_p90_samples_beyond", (n - math.ceil(0.9 * n)).toDouble, "count"),
    ("window_ops_per_s", n / w.wallS, "op/s"),
    ("window_cpu_ms_per_op", w.cpuNs / 1e6 / n, "ms"),
    ("peak_rss_mb", Counters.peakRssMb, "MB"),
    ("error_rate", failed.toDouble / n, "ratio"),
    ("ops", n.toDouble, "count"),
    ("warmup_s", warmupS, "s"),
    ("warmup_cycles", w.warmupCycles.toDouble, "count"),
    ("window_s", w.wallS, "s"),
    ("window_cycles", w.cycles.toDouble, "count"),
    ("window_jit_ms", w.jitMs.toDouble, "ms"),
    ("window_codegen_compiles", w.codegenCompiles.toDouble, "count"),
    ("setup_cold_s", setupRounds.head, "s")) ++
    setupRounds.tail.zipWithIndex.map { case (s, i) => (s"setup_round_${i + 1}", s, "s") }

  private def sumExec: ExecCounts = { val c = new ExecCounts; results.foreach(r => c += r.exec); c }
  private def sumPlan: PlanCounts = {
    val c = new PlanCounts
    results.foreach { r =>
      val p = r.plan
      c.queries += p.queries; c.analysisMs += p.analysisMs; c.optimizationMs += p.optimizationMs
      c.planningMs += p.planningMs; c.scans += p.scans; c.columnarScans += p.columnarScans
      c.splits += p.splits; c.scanRowsOut += p.scanRowsOut; c.blocksRead += p.blocksRead
      c.bytesRead += p.bytesRead; c.filesWritten += p.filesWritten
      c.rowsWritten += p.rowsWritten; c.bytesWritten += p.bytesWritten
    }
    c
  }

  /** Per-layer metrics present on every workload (the gated list of the traced run). */
  def perLayer: Seq[M] = {
    val e = sumExec
    val p = sumPlan
    Seq(
      ("plans.analysis_s", p.analysisMs / 1e3 / n, "s"),
      ("plans.optimization_s", p.optimizationMs / 1e3 / n, "s"),
      ("plans.planning_s", p.planningMs / 1e3 / n, "s"),
      ("exec.jobs", e.jobs.toDouble / n, "count"),
      ("exec.stages", e.stages.toDouble / n, "count"),
      ("exec.tasks", e.tasks.toDouble / n, "count"),
      ("exec.executor_cpu_s", e.cpuNs / 1e9 / n, "s"),
      ("exec.executor_run_s", e.runMs / 1e3 / n, "s"),
      ("exec.task_wait_s", e.waitMs / 1e3 / n, "s"),
      ("exec.slot_busy_ratio", e.busyMs / 1e3 / (lat.sum * nCores), "ratio"),
      ("exec.shuffle_write_bytes", e.shuffleWrite.toDouble / n, "B"),
      ("exec.shuffle_read_bytes", e.shuffleRead.toDouble / n, "B"),
      ("jvm.gc_s", w.gcS, "s"),
      ("jvm.gc_count", w.gcCount.toDouble, "count"),
      ("jvm.jit_ms", w.jitMs.toDouble, "ms"),
      ("jvm.heap_used_peak_mb", w.heapPeakMb, "MB")) ++ probes
  }

  /** Per-layer metrics that apply to some workloads only, for the report file. */
  def perLayerOther: Seq[M] = {
    val e = sumExec
    val p = sumPlan
    val scanOps = results.filter(_.plan.scans > 0)
    val scan =
      if (p.scans == 0) Nil
      else Seq(
        ("sources.scan.plan_s", scanOps.map(_.planPhaseS).sum / scanOps.size, "s"),
        ("sources.scan.splits", p.splits.toDouble / p.scans, "count"),
        ("sources.scan.blocks_read", p.blocksRead.toDouble / p.scans, "count"),
        ("sources.scan.bytes_read", p.bytesRead.toDouble / p.scans, "B"),
        ("sources.scan.rows_out", p.scanRowsOut.toDouble / p.scans, "count"),
        ("sources.scan.bytes_read_per_row_out", p.bytesRead.toDouble / math.max(1L, p.scanRowsOut), "B"),
        ("sources.scan.columnar_share", p.columnarScans.toDouble / p.scans, "ratio"))
    val commit =
      if (p.filesWritten == 0) Nil
      else Seq(
        ("sources.commit.files_written", p.filesWritten.toDouble, "count"),
        ("sources.commit.rows_written", p.rowsWritten.toDouble, "count"),
        ("sources.commit.bytes_written", p.bytesWritten.toDouble, "B"))
    val fs =
      Seq(("fs.read_ops", w.fs._1.toDouble, "count"), ("fs.write_ops", w.fs._2.toDouble, "count"),
        ("fs.bytes_read", w.fs._3.toDouble, "B"), ("fs.bytes_written", w.fs._4.toDouble, "B"))
    val perKind = byKind.toSeq.sortBy(_._1).map { case (k, rs) =>
      (s"kind.$k.latency_p50_s", Main.median(rs.map(_.seconds)), "s")
    }
    Seq(("exec.spill_bytes", e.spill.toDouble / n, "B"),
      ("exec.failed_tasks", e.failedTasks.toDouble, "count")) ++ scan ++ commit ++ fs ++ extra ++ perKind
  }

  private def table(title: String, ms: Seq[M]): Unit = {
    println(s"# $title")
    ms.foreach { case (k, v, u) => println(f"#   $k%-44s $v%16.6f $u") }
  }

  private def jsonMetrics(ms: Seq[M]): ListMap[String, ListMap[String, Any]] =
    ListMap(ms.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*)

  def emit(args: Main.Args, info: ListMap[String, Any], spans: Spans): Unit = {
    val out = args.outDir.toPath
    Files.createDirectories(out)
    val stem = s"$workload-seed${args.seed}-trace${if (traced) 1 else 0}"
    warmupProblems.foreach(p => System.err.println(s"[perfbench] warm-up WRONG: $p"))
    val correct = failed == 0 && warmupProblems.isEmpty
    println("# run " + Json.write(info))
    table("end-to-end" + (if (traced) " (traced run, for the overhead only)" else ""), endToEnd ++ endToEndInfo)
    val files = Seq.newBuilder[(String, String)]
    files += "report" -> out.resolve(s"$stem.json").toString
    val all =
      if (!traced) endToEnd ++ endToEndInfo
      else {
        val overhead = tracingOverhead(out.resolve(s"$workload-seed${args.seed}-trace0.json"))
        val self = spans.selfSecondsByLayer.toSeq.sortBy(_._1).map { case (l, s) => (s"self_s.$l", s, "s") }
        table("per-layer", perLayer)
        table("per-layer (workload-specific)", perLayerOther)
        table("self time by layer (span minus children)", self)
        table("tracing overhead (traced vs untraced run of this seed)", overhead)
        val spanFile = out.resolve(s"$stem-spans.json")
        spans.writeJson(spanFile)
        files += "spans" -> spanFile.toString
        val probeSpans = out.resolve(s"$stem-probe-spans.json")
        if (Files.exists(probeSpans)) files += "probe spans" -> probeSpans.toString
        perLayer ++ perLayerOther ++ self ++ overhead
      }
    val ops = results.map { r =>
      ListMap("kind" -> r.kind, "params" -> r.params, "s" -> r.seconds, "rows" -> r.rows, "ok" -> r.problem.isEmpty)
    }
    Files.write(out.resolve(s"$stem.json"), Json.write(info ++ ListMap(
      "correct" -> correct, "metrics" -> jsonMetrics(all),
      "end_to_end" -> jsonMetrics(endToEnd ++ endToEndInfo), "ops" -> ops)).getBytes("UTF-8"))
    files.result().foreach { case (k, v) => println(s"# $k file: $v") }
    val metrics = if (traced) perLayer else endToEnd
    println(Json.write(ListMap("correct" -> correct, "attempted" -> n, "failed" -> failed,
      "metrics" -> jsonMetrics(metrics))))
  }

  /** Relative cost of tracing: the traced run's figures against the untraced
    * run of the same workload and seed, when that run's report exists. */
  private def tracingOverhead(untraced: java.nio.file.Path): Seq[M] = {
    if (!Files.exists(untraced)) return Seq(("overhead.untraced_report_found", 0.0, "count"))
    val e2e = Json.read(untraced).path("end_to_end")
    val mine = (endToEnd ++ endToEndInfo).map { case (k, v, _) => k -> v }.toMap
    Seq("ops_per_s", "cpu_ms_per_op", "latency_p50_s", "latency_p90_s").flatMap { k =>
      Some(e2e.path(k).path("value")).filter(_.isNumber).map(_.asDouble).map { u =>
        val rel = if (k == "ops_per_s") u / mine(k) - 1.0 else mine(k) / u - 1.0
        (s"overhead.$k", rel, "ratio")
      }
    }
  }
}

/** JSON through the Jackson that ships with Spark. Objects are written in
  * insertion order (`ListMap`). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: java.nio.file.Path): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(path.toFile)
}
