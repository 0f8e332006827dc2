package graft

import org.apache.spark.sql.SparkSession

/** The session the `Bench`, `Verify` and `Explain` mains run under: one
  * builder, so a plan dumped by `Explain` is the plan `Bench` times and
  * `Verify` checks. `cpus` sets both the local master and the shuffle
  * partition count; the two graft optimizer rules are installed on it. */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events stores TIMESTAMP(NANOS) parquet; read as long, convert in-query
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local test tables are single small files; split them so scans keep
      // the parallelism a production many-file layout would have
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.AvroDecodePruning.install(spark)
    graft.plans.RuntimeFilterSplit.install(spark)
    spark
  }
}
