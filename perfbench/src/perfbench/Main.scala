package perfbench

import java.io.File
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload. `run` performs it through the engine's public
  * surfaces and returns None when the answer matched the independently
  * computed expectation, or a description of the mismatch. `rows` is the
  * input rows the operation completes (datums decoded, rows committed,
  * table rows read, documents processed). */
final case class Op(kind: String, params: String, rows: Long, run: Ctx => Option[String])

/** A seeded workload. `setup` builds inputs and tables from the seed under a
  * fresh directory; it is called several times per run and only the last
  * call's state serves the warm-up and the measured operations. */
trait Workload {
  def name: String
  /** Operation kinds of one cycle, with multiplicity. Every seed runs the
    * same kinds the same number of times; the seed orders them and picks
    * their parameters. */
  def cycle: Seq[String]
  /** Whether ops change state that later ops read. A stateful workload keeps
    * the cycle's order, and is set up afresh before every measured cycle
    * (outside the timed window), so that every measured cycle starts from
    * the same state, however many cycles the warm-up or the window ran.
    * Those set-ups are its timed set-up rounds. */
  def stateful: Boolean = false
  /** Least whole cycles in the measured window. */
  def minCycles: Int = 1
  def setup(ctx: Ctx, dir: File, rnd: Random): Unit
  /** Frees what a setup holds (cached frames) before the next setup. */
  def release(ctx: Ctx): Unit = ()
  def op(kind: String, rnd: Random): Op
  /** A hash of the inputs the last setup generated: two seeds must differ here. */
  def inputDigest: Int
  /** Avro inputs for the kernel and framing probes, drawn from this workload's own data. */
  def probeSet: ProbeSet
  /** Called once before the measured window starts. */
  def startWindow(ctx: Ctx): Unit = ()
  /** Called before and after each measured cycle, outside the timed window. */
  def beforeCycle(ctx: Ctx): Unit = ()
  def afterCycle(ctx: Ctx): Unit = ()
  /** Workload-specific metrics (name, value, unit) for the report. */
  def extraMetrics(ctx: Ctx, results: Seq[OpResult], w: Window): Seq[(String, Double, String)] = Nil
}

final case class OpResult(kind: String, params: String, seconds: Double, rows: Long,
                          problem: Option[String], exec: ExecCounts, plan: PlanCounts,
                          planPhaseS: Double)

/** What operations see of the run: the session, the tracer and helpers that
  * run a query or statement in traced phases when tracing is on. */
final class Ctx(val spark: SparkSession, val spans: Spans, val nCores: Int, execL: ExecListener) {
  def trace: Boolean = spans.enabled
  private val sc = spark.sparkContext
  /** Seconds spent forcing `executedPlan` in the current operation (traced runs only). */
  var planPhaseS = 0.0

  /** Spark jobs started so far in the measured window (traced runs only). */
  def jobsSoFar(): Long = { org.apache.spark.perfbench.Bus.drain(sc); execL.totalJobs }

  /** Runs `body` as a traced phase; Spark jobs it submits become its children. */
  def phase[T](name: String, layer: String)(body: => T): T =
    if (!trace) body
    else spans(name, layer) {
      val prev = sc.getLocalProperty(ExecListener.SpanProp)
      sc.setLocalProperty(ExecListener.SpanProp, spans.current.toString)
      try body finally sc.setLocalProperty(ExecListener.SpanProp, prev)
    }

  /** Collects a query. Traced runs force analysis, optimization and physical
    * planning as separate phases before execution. */
  def collect(df: => DataFrame): Array[Row] =
    if (!trace) df.collect()
    else {
      val d = phase("analyze", "plans") { val d = df; d.queryExecution.analyzed; d }
      phase("optimize", "plans")(d.queryExecution.optimizedPlan)
      val t = System.nanoTime()
      phase("plan", "plans")(d.queryExecution.executedPlan)
      planPhaseS += (System.nanoTime() - t) / 1e9
      phase("execute", "exec")(d.collect())
    }
}

object Main {
  /** Timed set-ups per run of a workload that is not stateful, after the
    * warm-up; `setup_s` is their median. */
  val SetupRounds = 3
  /** Least warm-up before the measured window. */
  val WarmupSeconds = 6

  /** `probesOnly`: set up once and run the kernel and framing probes only,
    * writing their metrics to `probesFile`. Otherwise a traced run takes the
    * probe metrics from `probesFile`, which a probes-only run wrote. */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runDir: File, outDir: File, gitSha: String, sourceSha: String,
                        probesOnly: Boolean, probesFile: Option[File])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("run-dir")).getAbsoluteFile, new File(need("out-dir")).getAbsoluteFile,
      m.getOrElse("git-sha", "none"), m.getOrElse("source-sha", "none"),
      m.get("probes-only").contains("1"), m.get("probes-file").map(new File(_).getAbsoluteFile))
  }

  def workload(name: String): Workload = name match {
    case "payload-decode" => new PayloadDecode
    case "ocf-scan" => new OcfScanWorkload
    case "ocf-commit" => new OcfCommitWorkload
    case "corpus-ops" => new CorpusOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(nCores: Int, runDir: File): SparkSession = {
    // The settings graft.Bench runs with, plus the two rules it installs,
    // and one more: a code-generation cache larger than Spark's default of
    // 100 classes. A corpus-ops cycle generates more distinct classes than
    // that, so with the default every op compiled about 15 classes afresh, and
    // the measured time depended on how much of that code the JIT had reached.
    val spark = SparkSession.builder()
      .master(s"local[$nCores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nCores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "spark-warehouse").getPath)
      .config("spark.sql.catalog.g", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.g.warehouse", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.AvroDecodePruning.install(spark)
    graft.plans.RuntimeFilterSplit.install(spark)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val nCores = math.min(nproc, 4)
    val load0 = Counters.loadAvg1m
    val t0 = System.nanoTime()
    val spark = session(nCores, args.runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val spans = new Spans(args.trace)
    val execL = new ExecListener(spans)
    val ctx = new Ctx(spark, spans, nCores, execL)
    val wl = workload(args.workload)
    val planL = new PlanListener
    var exitCode = 0
    try {
      if (args.probesOnly) runProbes(args, ctx, wl)
      else {
        val report = spans("run", "bench", "seed" -> args.seed.toString) {
          spans(s"workload ${wl.name}", "bench") { runWorkload(args, ctx, wl, execL, planL, nCores) }
        }
        val info = ListMap[String, Any](
          "workload" -> wl.name, "seed" -> args.seed, "seconds" -> args.seconds,
          "trace" -> (if (args.trace) 1 else 0), "git_sha" -> args.gitSha, "source_sha256" -> args.sourceSha,
          "nproc" -> nproc, "local_cores" -> nCores,
          "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
          "load_1m" -> load0, "session_start_s" -> sessionS, "input_digest" -> wl.inputDigest,
          "kinds_per_cycle" -> ListMap(wl.cycle.groupBy(identity).toSeq.sortBy(_._1).map { case (k, v) => k -> v.size }: _*))
        report.emit(args, info, spans)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exitCode = 1
    } finally {
      spark.stop()
    }
    sys.exit(exitCode)
  }

  /** Sets up once and runs the kernel and framing probes; writes their
    * metrics to `probesFile` and their spans to the report directory. */
  def runProbes(args: Args, ctx: Ctx, wl: Workload): Unit = {
    val dir = new File(args.runDir, "probes")
    dir.mkdirs()
    wl.setup(ctx, dir, new Random(args.seed))
    val metrics = ctx.spans("probes", "bench", "seed" -> args.seed.toString)(Probes.run(ctx.spans, wl.probeSet))
    val out = args.probesFile.getOrElse(throw new IllegalArgumentException("missing --probes-file"))
    java.nio.file.Files.write(out.toPath, Json.write(ListMap(
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "metrics" -> metrics.map { case (k, v, u) => ListMap("name" -> k, "value" -> v, "unit" -> u) }))
      .getBytes("UTF-8"))
    args.outDir.mkdirs()
    ctx.spans.writeJson(new File(args.outDir, s"${wl.name}-seed${args.seed}-trace1-probe-spans.json").toPath)
  }

  def runWorkload(args: Args, ctx: Ctx, wl: Workload, execL: ExecListener, planL: PlanListener,
                  nCores: Int): Report = {
    val spark = ctx.spark
    val warmupProblems = mutable.ArrayBuffer.empty[String]
    def runOp(op: Op): OpResult = {
      ctx.planPhaseS = 0.0
      val t = System.nanoTime()
      val problem =
        try ctx.spans(s"op ${op.kind}", "bench", "kind" -> op.kind, "params" -> op.params)(op.run(ctx))
        catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t) / 1e9
      val (ex, pl) =
        if (ctx.trace) { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); (execL.take(), planL.take()) }
        else (new ExecCounts, new PlanCounts)
      problem.foreach(p => System.err.println(s"[perfbench] ${op.kind} ${op.params}: WRONG: $p"))
      OpResult(op.kind, op.params, secs, op.rows, problem, ex, pl, ctx.planPhaseS)
    }
    /** Sets the workload up in a fresh directory from the seed; returns seconds taken. */
    def setup(label: String): Double = {
      val dir = new File(args.runDir, label)
      dir.mkdirs()
      val t = System.nanoTime()
      ctx.spans(label, "bench")(wl.setup(ctx, dir, new Random(args.seed)))
      (System.nanoTime() - t) / 1e9
    }

    // A cold set-up, untimed: class loading and first code generation happen
    // here. Its state serves the warm-up.
    val coldSetupS = setup("setup0")
    // Warm-up: each kind once, then whole cycles until WarmupSeconds have
    // passed, so that class loading, code generation and most JIT
    // compilation happen before timing. Warm-up answers are checked too.
    val w0 = System.nanoTime()
    var warmCycles = 0
    ctx.spans("warm-up", "bench") {
      val warm = new Random(args.seed ^ 0x5eedL)
      def run(kinds: Seq[String]): Unit = kinds.foreach { k =>
        runOp(wl.op(k, warm)).problem.foreach(p => warmupProblems += s"$k: $p")
      }
      run(wl.cycle.distinct)
      while (System.nanoTime() - w0 < WarmupSeconds * 1000000000L) {
        run(if (wl.stateful) wl.cycle else warm.shuffle(wl.cycle))
        warmCycles += 1
      }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    // Timed set-ups, warm; the last one's state serves the measured window.
    // A stateful workload is set up before each measured cycle instead. A
    // traced run reports no set-up time and sets up once.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    if (!wl.stateful) (1 to (if (ctx.trace) 1 else SetupRounds)).foreach { round =>
      wl.release(ctx)
      setupTimes += setup(s"setup$round")
    }

    if (ctx.trace) {
      spark.sparkContext.addSparkListener(execL)
      spark.listenerManager.register(planL)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      execL.take(); planL.take()
    }
    wl.startWindow(ctx)
    val opRnd = new Random(args.seed * 1000003L + 17L)
    val results = mutable.ArrayBuffer.empty[OpResult]
    val meter = new Meter
    Counters.resetHeapPeak()
    val budgetNs = args.seconds * 1000000000L
    // Whole cycles only, so every run completes the same mix of kinds.
    var cycles = 0
    while (cycles < wl.minCycles || meter.wallNs < budgetNs) {
      if (wl.stateful) { wl.release(ctx); setupTimes += setup(s"cycle$cycles") }
      wl.beforeCycle(ctx)
      val kinds = if (wl.stateful) wl.cycle else opRnd.shuffle(wl.cycle)
      meter.start()
      kinds.foreach { k => results += runOp(wl.op(k, opRnd)) }
      meter.stop()
      wl.afterCycle(ctx)
      cycles += 1
    }
    val window = meter.window(cycles, warmCycles, Counters.heapPeakBytes / 1048576.0)

    val probes =
      if (!ctx.trace) Seq.empty[(String, Double, String)]
      else {
        val f = args.probesFile.getOrElse(throw new IllegalArgumentException("a traced run needs --probes-file"))
        Json.read(f.toPath).path("metrics").elements().asScala.toSeq
          .map(m => (m.path("name").asText, m.path("value").asDouble, m.path("unit").asText))
      }
    val extra = wl.extraMetrics(ctx, results.toSeq, window)
    val opsProbe =
      if (!ctx.trace) Nil
      else {
        wl.release(ctx)
        ctx.spans("ops probe", "bench")(OpsProbe.run(ctx, new File(args.runDir, "ops-probe"), args.seed))
      }
    Report(wl.name, wl.cycle, median(setupTimes.toSeq), coldSetupS +: setupTimes.toSeq, warmupS, results.toSeq,
      window, nCores, probes ++ opsProbe, extra, warmupProblems.toSeq, ctx.trace)
  }
}

/** The measured window: wall time, process CPU, GC, JIT and Hadoop `file`
  * statistics summed over its timed cycles, the process CPU of each cycle,
  * and the peak heap use. */
final case class Window(wallS: Double, cpuNs: Long, cycleCpuNs: Seq[Long], gcS: Double, gcCount: Long, jitMs: Long,
                        heapPeakMb: Double, fs: (Long, Long, Long, Long), cycles: Int, warmupCycles: Int,
                        codegenCompiles: Long)

/** Sums counter deltas over the timed segments of the measured window. */
final class Meter {
  var wallNs = 0L
  private var cpuNs, gcMs, gcCount, jitMs, compiles = 0L
  private val cycleCpuNs = mutable.ArrayBuffer.empty[Long]
  private val fs = Array(0L, 0L, 0L, 0L)
  private var at: (Long, Long, (Long, Long), Long, (Long, Long, Long, Long), Long) = null

  private def now = (System.nanoTime(), Counters.processCpuNs, Counters.gc, Counters.jitMs, Counters.fs,
    Counters.codegenCompiles)
  def start(): Unit = at = now
  def stop(): Unit = {
    val (t, c, g, j, f, k) = now
    compiles += k - at._6
    wallNs += t - at._1; cpuNs += c - at._2; cycleCpuNs += c - at._2; gcMs += g._1 - at._3._1; gcCount += g._2 - at._3._2
    jitMs += j - at._4
    fs(0) += f._1 - at._5._1; fs(1) += f._2 - at._5._2; fs(2) += f._3 - at._5._3; fs(3) += f._4 - at._5._4
  }
  def window(cycles: Int, warmupCycles: Int, heapPeakMb: Double): Window =
    Window(wallNs / 1e9, cpuNs, cycleCpuNs.toSeq, gcMs / 1e3, gcCount, jitMs, heapPeakMb, (fs(0), fs(1), fs(2), fs(3)),
      cycles, warmupCycles, compiles)
}
