package graft

import graft.plans.AvroDecodePruning
import graft.spark.{AvroDecode, functions => gfn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Decode-time column pruning: the optimizer rewrites AvroDecode with a
  * reader schema restricted to the consumed fields, so dropped writer
  * fields are wire-skipped, never materialized. */
class AvroDecodePruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-pruning-spec")
      .getOrCreate()
    AvroDecodePruning.install(s)
    s
  }

  private val schemaJson =
    """{"type":"record","name":"W","fields":[
      |{"name":"a","type":"int"},{"name":"big","type":"string"},
      |{"name":"c","type":"long"}]}""".stripMargin

  // parquet-backed so ConvertToLocalRelation can't constant-fold the decode
  private lazy val encodedPath: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-prune").toString
    (0 until 100).map(i => (i, "x" * 1000, i.toLong)).toDF("a", "big", "c")
      .select(gfn.to_avro(struct(col("a"), col("big"), col("c")), schemaJson).as("bin"))
      .write.mode("overwrite").parquet(p)
    p
  }
  private def encoded = spark.read.parquet(encodedPath)

  private def decodedReaderFields(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.flatMap(node => node.expressions.flatMap(_.collect {
      case d: AvroDecode =>
        graft.avro.AvroSchemaParser
          .parse(d.readerSchemaJson.getOrElse(d.writerSchemaJson))
          .asInstanceOf[graft.avro.ARecord].fields.map(_.name)
    }))

  test("partial field access prunes the reader schema and skips the rest") {
    val df = encoded
      .select(gfn.from_avro(col("bin"), schemaJson).as("r"))
      .select(col("r.a").as("a"), col("r.c").as("c"))
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(_ == Seq("a", "c")),
      s"expected pruned reader [a, c]; got $readers\n${df.queryExecution.optimizedPlan}")
    // and the results are identical to the unpruned decode
    val rows = df.orderBy("a").collect()
    assert(rows.length == 100)
    assert(rows(7).getInt(0) == 7 && rows(7).getLong(1) == 7L)
  }

  test("a Filter consumer prunes through the decode alias") {
    val df = encoded
      .select(gfn.from_avro(col("bin"), schemaJson).as("r"))
      .where(col("r.a") % 2 === 0)
      .select(col("r.c").as("c"))
    // filter pushdown splits the decode: the Filter keeps its own copy for
    // `a`, the Project one for `c` — each must be pruned to just its field
    // (in particular the 1000-byte `big` is wire-skipped in both)
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(r => r == Seq("a") || r == Seq("c")),
      s"expected per-consumer pruned readers [a]/[c]; got $readers\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().map(_.getLong(0)).sorted.take(3).toSeq == Seq(0L, 2L, 4L))
  }

  test("an Aggregate consumer prunes through the decode alias") {
    val df = encoded
      .select(gfn.from_avro(col("bin"), schemaJson).as("r"))
      .groupBy((col("r.a") % 5).as("g"))
      .agg(sum(col("r.c")).as("s"))
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(_ == Seq("a", "c")),
      s"expected pruned reader [a, c]; got $readers\n${df.queryExecution.optimizedPlan}")
    assert(df.count() == 5)
  }

  private val listSchemaJson =
    """{"type":"record","name":"L","fields":[
      |{"name":"a","type":"int"},{"name":"big","type":"string"},
      |{"name":"tags","type":{"type":"array","items":"string"}}]}""".stripMargin

  private lazy val listPath: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-prune-list").toString
    (0 until 20).map(i => (i, "x" * 500, Seq(s"t$i", s"u$i"))).toDF("a", "big", "tags")
      .select(gfn.to_avro(struct(col("a"), col("big"), col("tags")), listSchemaJson).as("bin"))
      .write.mode("overwrite").parquet(p)
    p
  }

  test("a Generate consumer prunes the decode it explodes") {
    val df = spark.read.parquet(listPath)
      .select(explode(gfn.from_avro(col("bin"), listSchemaJson).getField("tags")).as("t"))
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(_ == Seq("tags")),
      s"expected pruned reader [tags]; got $readers\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 20).flatMap(i => Seq(s"t$i", s"u$i")).sorted)
  }

  test("a join condition prunes its decode") {
    val keys = spark.range(0, 100, 7).toDF("k")
    val df = encoded.join(keys, gfn.from_avro(col("bin"), schemaJson).getField("a") === col("k"))
      .select(col("k"))
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(_ == Seq("a")),
      s"expected pruned reader [a]; got $readers\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L by 7L))
  }

  private val nestedSchemaJson =
    """{"type":"record","name":"N","fields":[
      |{"name":"id","type":"int"},
      |{"name":"meta","type":{"type":"record","name":"M","fields":[
      |  {"name":"ts","type":"long"},{"name":"blob","type":"string"},
      |  {"name":"tag","type":"string"}]}},
      |{"name":"big","type":"string"}]}""".stripMargin

  private lazy val nestedPath: String = {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-prune-nested").toString
    (0 until 50).map(i => (i, (i.toLong * 10, "y" * 500, s"t$i"), "z" * 500))
      .toDF("id", "meta", "big")
      .select(gfn.to_avro(struct(col("id"), col("meta").cast(
        "struct<ts:bigint,blob:string,tag:string>"), col("big")), nestedSchemaJson).as("bin"))
      .write.mode("overwrite").parquet(p)
    p
  }

  test("nested field access prunes the sub-record reader") {
    val df = spark.read.parquet(nestedPath)
      .select(gfn.from_avro(col("bin"), nestedSchemaJson).as("r"))
      .select(col("r.id").as("id"), col("r.meta.ts").as("ts"))
    val readers = decodedReaderFields(df)
    // top level pruned to [id, meta]; meta pruned to [ts] (blob/tag skipped)
    assert(readers.nonEmpty && readers.forall(_ == Seq("id", "meta")),
      s"expected top-level [id, meta]; got $readers\n${df.queryExecution.optimizedPlan}")
    val metaFields = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case d: AvroDecode =>
        graft.avro.AvroSchemaParser
          .parse(d.readerSchemaJson.getOrElse(d.writerSchemaJson))
          .asInstanceOf[graft.avro.ARecord].fields.collect {
            case f if f.name == "meta" =>
              f.schema.asInstanceOf[graft.avro.ARecord].fields.map(_.name)
          }
    }).flatten)
    assert(metaFields.nonEmpty && metaFields.forall(_ == Seq("ts")),
      s"expected meta pruned to [ts]; got $metaFields")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 50 && rows(7).getInt(0) == 7 && rows(7).getLong(1) == 70L)
  }

  test("mixed nested and whole-sub-struct access keeps that subtree") {
    val df = spark.read.parquet(nestedPath)
      .select(gfn.from_avro(col("bin"), nestedSchemaJson).as("r"))
      .select(col("r.meta").as("m"), col("r.meta.ts").as("ts"))
    val readers = decodedReaderFields(df)
    // top level pruned to [meta]; meta kept whole (a use stops at it)
    assert(readers.nonEmpty && readers.forall(_ == Seq("meta")),
      s"expected top-level [meta]; got $readers\n${df.queryExecution.optimizedPlan}")
    val rows = df.orderBy("ts").collect()
    assert(rows.length == 50 && rows(3).getStruct(0).getString(2) == "t3")
  }

  test("pruned plans return identical results for every access-path combination") {
    // a session WITHOUT the rule is the reference semantics; ordinal
    // remapping bugs at any depth would diverge silently otherwise
    val pristine = spark.newSession()
    val accessSets: Seq[Seq[String]] = Seq(
      Seq("r.id"), Seq("r.meta.ts"), Seq("r.meta.blob", "r.id"),
      Seq("r.meta.ts", "r.meta.tag"), Seq("r.big", "r.meta.tag"),
      Seq("r.id", "r.meta.ts", "r.big"), Seq("r.meta", "r.meta.ts"),
      Seq("r.meta.tag", "r.meta.blob", "r.meta.ts"))
    for (cols <- accessSets) {
      def run(s: org.apache.spark.sql.SparkSession): Seq[String] = s.read.parquet(nestedPath)
        .select(gfn.from_avro(col("bin"), nestedSchemaJson).as("r"))
        .select(cols.zipWithIndex.map { case (c, i) => col(c).cast("string").as(s"c$i") }: _*)
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(run(spark) == run(pristine), s"pruned result diverges for $cols")
    }
  }

  test("corrupt-record (quarantine) decodes are never pruned") {
    // the trailing _corrupt_record field has no Avro counterpart — the rule
    // must leave the decode alone (a prune here used to throw on the
    // out-of-range ordinal, and would change which corruptions are detected)
    val df = encoded.select(gfn.from_avro_permissive(
        col("bin"), schemaJson, "_corrupt_record").as("r"))
      .select(col("r.a").as("a"), col("r._corrupt_record").isNull.as("clean"))
    val decodes = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect { case d: AvroDecode => d })
    }.flatten
    assert(decodes.nonEmpty)
    assert(decodes.forall(_.readerSchemaJson.isEmpty),
      "quarantine decode must keep the full reader schema")
    val rows = df.collect()
    assert(rows.length == 100 && rows.forall(_.getBoolean(1)))
  }

  test("whole-struct access is left untouched") {
    val df = encoded.select(gfn.from_avro(col("bin"), schemaJson).as("r"))
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(_ == Seq("a", "big", "c")))
    assert(df.count() == 100)
  }

  test("mixed whole-struct and field access keeps the full schema (conservative)") {
    val df = encoded
      .select(gfn.from_avro(col("bin"), schemaJson).as("r"))
      .select(col("r"), col("r.a").as("a"))
    val readers = decodedReaderFields(df)
    assert(readers.nonEmpty && readers.forall(_ == Seq("a", "big", "c")))
    assert(df.count() == 100)
  }
}
