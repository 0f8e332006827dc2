package graft

import graft.plans.AvroDecodePruning
import graft.spark.{AvroDecode, AvroJsonPaths, AvroParsedJson, GraftSparkExtensions}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions`-style packaging: a session built with
  * [[GraftSparkExtensions]] has the SQL surface and the pruning rule with
  * no imperative registration, and does what a session from
  * [[GraftSession.build]] (which installs the rule imperatively) does. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // a fresh session on the shared context, with extensions applied
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkExtensions)
      .appName("graft-extensions-spec")
      .getOrCreate()
  }

  test("SQL functions resolve without registerAll") {
    val json = spark.sql(
      s"SELECT fn_decode_avro_binary('${SparkEntry.goldenOcfHex}') AS j")
      .collect()(0).getString(0)
    assert(json.contains("\"Alyssa\"") && json.contains("\"Ben\""))
    // a second surface, via the generic decode path
    val row = spark.sql(
      s"""SELECT avro_ocf_decode(unhex('${SparkEntry.goldenOcfHex}'),
         |'${SparkEntry.userSchemaJson.replace("\n", " ")}') AS arr""".stripMargin)
      .selectExpr("size(arr) AS n").collect()(0)
    assert(row.getInt(0) == 2)
  }

  test("the pruning optimizer rule is active in extension-built sessions") {
    import org.apache.spark.sql.functions._
    val p = java.nio.file.Files.createTempDirectory("graft-ext-prune").toString
    val schemaJson: String =
      """{"type":"record","name":"W","fields":[
        |{"name":"a","type":"int"},{"name":"big","type":"string"}]}""".stripMargin
    locally {
      import spark.implicits._
      (0 until 10).map(i => (i, "x" * 100)).toDF("a", "big")
        .select(graft.spark.functions.to_avro(struct(col("a"), col("big")), schemaJson).as("bin"))
        .write.mode("overwrite").parquet(p)
    }
    val df = spark.read.parquet(p)
      .select(graft.spark.functions.from_avro(col("bin"), schemaJson).as("r"))
      .select(col("r.a").as("a"))
    val readers = df.queryExecution.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
      case d: AvroDecode => graft.avro.AvroSchemaParser
        .parse(d.readerSchemaJson.getOrElse(d.writerSchemaJson))
        .asInstanceOf[graft.avro.ARecord].fields.map(_.name)
    }))
    assert(readers.nonEmpty && readers.forall(_ == Seq("a")),
      s"expected pruned reader [a]; got $readers")
    assert(df.orderBy("a").collect().map(_.getInt(0)).toSeq == (0 until 10))
  }

  test("both install paths rewrite both JSON round-trip shapes") {
    import org.apache.spark.sql.functions._
    val w = """{"type":"record","name":"R","fields":[
              |{"name":"id","type":"long"},{"name":"s","type":"string"}]}""".stripMargin
    val t = org.apache.spark.sql.types.DataType.fromDDL("struct<id:bigint,s:string>")
    val p = java.nio.file.Files.createTempDirectory("graft-ext-json").toString
    spark.range(10).select(graft.spark.functions.to_avro(
        struct(col("id"), col("id").cast("string").as("s")), w).as("payload"))
      .write.mode("overwrite").parquet(p)
    /** Each shape's rows, after asserting its optimized plan reads directly. */
    def shapes(s: SparkSession): Seq[Seq[String]] = {
      val j = col("j")
      val payload = s.read.parquet(p)
      val gets = payload.select(graft.spark.functions.avro_decode_json(col("payload"), w).as("j"))
        .select(get_json_object(j, "$.id").as("a"), get_json_object(j, "$.s").as("b"))
      // the whole struct: a field access would let Spark prune from_json's schema
      val parses = payload.select(from_json(
        graft.spark.functions.avro_decode_json(col("payload"), w), t).as("v"))
      Seq(gets -> ((e: Any) => e.isInstanceOf[AvroJsonPaths]),
          parses -> ((e: Any) => e.isInstanceOf[AvroParsedJson])).map { case (df, direct) =>
        val plan = df.queryExecution.optimizedPlan
        assert(plan.exists(_.expressions.exists(_.exists(direct))), plan)
        df.collect().map(r => if (r.size == 1) r.getStruct(0).mkString("|") else r.mkString("|"))
          .sorted.toSeq
      }
    }
    val want = Seq.fill(2)((0 until 10).map(i => s"$i|$i").sorted)
    // injected (injectOptimizerRule): nothing installed imperatively
    assert(!spark.experimental.extraOptimizations.contains(AvroDecodePruning))
    assert(shapes(spark) == want)
    // installed (experimental.extraOptimizations) on a session with no extensions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val built = GraftSession.build("2")
      assert(built ne spark)
      assert(built.experimental.extraOptimizations.contains(AvroDecodePruning))
      assert(shapes(built) == want)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
