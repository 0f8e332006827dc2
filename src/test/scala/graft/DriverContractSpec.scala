package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver harness contract itself: a typo'd oracle key or a
  * broken flagship would silently cost correctness rows at round end. */
class DriverContractSpec extends AnyFunSuite {

  /** `getOrCreate()` returns any session already running in this JVM and
    * ignores the builder's settings, so the settings the tests plan under
    * are set on the session itself, checked, and restored to their previous
    * values afterwards. */
  private def withSessionConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) =>
      spark.conf.set(k, v)
      assert(spark.conf.get(k) == v, s"session setting $k did not take effect")
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val planSettings = Seq(
    "spark.sql.shuffle.partitions" -> "2", "spark.sql.session.timeZone" -> "UTC")

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("every declared query has an oracle (or is on the declared exception list)") {
    // the driver records a weaker rows-only check for these — each needs a
    // spec-pinned reason, never an accident:
    //  - q105: greedy byte-level BPE is not SQL-expressible; BpeSpec pins
    //    the counts with hand-derived fixtures and a byte-lossless property
    val declaredOracleLess = Set("q105_bpe_packing")
    assert(declaredOracleLess.subsetOf(SparkEntry.queries.keySet),
      "stale exception list")
    assert(declaredOracleLess.intersect(SparkEntry.oracleSql.keySet).isEmpty,
      "exception list entries that DO have oracles")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
      declaredOracleLess
    assert(missing.isEmpty, s"queries lacking an oracle: $missing")
  }

  test("the flagship entry() returns rows on sf0.001 (driver smoke contract)") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-contract-spec")
      .getOrCreate()
    withSessionConf(spark, planSettings: _*) {
      assert(SparkEntry.entry(spark).count() > 0)
    }
  }

  test("oracle SQL contains no unescaped control characters that would break JSON dumping") {
    // Verify.q() escapes them, but flag early if an oracle picks up e.g. a
    // raw tab that makes diffs confusing
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("\r"), s"$name oracle contains a carriage return")
    }
  }

  test("sort-early queries keep their range sort BELOW the expensive stage (ordering contract pin)") {
    // The header's declared exception: these queries' total output order
    // comes from a range Sort placed UNDER an order-preserving expensive
    // stage (codec mapPartitions, avro roundtrip projections, curation
    // scoring). This pin asserts, per query, that (a) exactly one
    // range-partitioned exchange exists, and (b) nothing expensive —
    // no mapPartitions/object stage, no Generate, no custom graft
    // expression — sits BELOW it, so the range sampler can never
    // re-execute the heavy stage. If a Spark upgrade reorders or drops
    // the early sort, this fails here instead of at the round-end oracle.
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-contract-spec")
      .getOrCreate()
    withSessionConf(spark,
        planSettings :+ ("spark.sql.adaptive.enabled" -> "false"): _*) {
      val sortEarly = Seq("q12_avro_roundtrip", "q30_multimodal_stats",
        "q33_curation", "q53_wav_audio_meta", "q54_pnm_image_meta",
        "q55_pnm_resize", "q59_y4m_video_meta", "q60_y4m_frame_sample",
        "q65_text_chunking")
      def heavy(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case _: org.apache.spark.sql.execution.ObjectConsumerExec => true
        case _: org.apache.spark.sql.execution.GenerateExec => true
        case other => other.expressions.exists(_.find(e =>
          e.getClass.getName.startsWith("graft.")).isDefined)
      }
      sortEarly.foreach { name =>
        val plan = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
          .queryExecution.executedPlan
        val ranges = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
        }
        assert(ranges.length == 1,
          s"$name: expected exactly one range exchange, got ${ranges.length}")
        val heavyBelow = ranges.head.collect { case p if heavy(p) => p }
        assert(heavyBelow.isEmpty,
          s"$name: expensive stage leaked below the range exchange — " +
            s"sampling would re-execute it: ${heavyBelow.map(_.nodeName)}")
        spark.catalog.clearCache()
      }
    }
  }
}
