package graft

import graft.avro._
import graft.framing.{KplDeaggregator, SpringHeaders}
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.spark.{functions => gfn}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is written with a total ORDER BY and engine-portable arithmetic
  * (exact decimal sums, integer-space scoring, one final double division) so
  * the DuckDB oracle reproduces results bit-for-bit. Column names are aliased
  * identically on both sides — the driver's compare sorts columns by name.
  *
  * DECLARED EXCEPTION (sort-early, r21/r22): q12, q30, q33, q53, q54, q55,
  * q59, q60 carry their total sort BELOW an expensive pure per-row stage
  * (avro roundtrip, multimodal codecs, curation scoring) instead of above
  * it, because a global orderBy ABOVE such a stage makes the range
  * partitioner re-execute the whole stage a second time to sample partition
  * bounds. Output order is identical — the stages above each early sort are
  * order-preserving per-row projections / `mapPartitions` with monotone
  * keys — and the shape is PINNED by DriverContractSpec's sort-early plan
  * test, so a Spark upgrade that stops preserving the order fails a spec,
  * not just the round-end oracle.
  */
object SparkEntry {

  // ---- fixtures -----------------------------------------------------------

  /** Row 1 of the reference's Redshift event fixture — one complete OCF file
    * with two example.avro.User records (Alyssa/Ben).
    * (reference: avro-file-udf/payload.json:11) */
  val goldenOcfHex: String =
    "4f626a0104146176726f2e636f646563086e756c6c166176726f2e736368656d61ba037b22747970" +
    "65223a20227265636f7264222c20226e616d65223a202255736572222c20226e616d657370616365" +
    "223a20226578616d706c652e6176726f222c20226669656c6473223a205b7b2274797065223a2022" +
    "737472696e67222c20226e616d65223a20226e616d65227d2c207b2274797065223a205b22696e74" +
    "222c20226e756c6c225d2c20226e616d65223a20226661766f726974655f6e756d626572227d2c20" +
    "7b2274797065223a205b22737472696e67222c20226e756c6c225d2c20226e616d65223a20226661" +
    "766f726974655f636f6c6f72227d5d7d009eeefde491b1497c504abe61a8cc79c1042c0c416c7973" +
    "7361008004020642656e000e00067265649eeefde491b1497c504abe61a8cc79c1"

  val userSchemaJson: String =
    """{"type": "record", "name": "User", "namespace": "example.avro", "fields": [
      |{"type": "string", "name": "name"},
      |{"type": ["int", "null"], "name": "favorite_number"},
      |{"type": ["string", "null"], "name": "favorite_color"}]}""".stripMargin

  private val nationSchemaJson =
    """{"type":"record","name":"nation","fields":[
      |{"name":"n_nationkey","type":"int"},
      |{"name":"n_name","type":"string"},
      |{"name":"n_regionkey","type":"int"}]}""".stripMargin

  private val regionSchemaJson =
    """{"type":"record","name":"region","fields":[
      |{"name":"r_regionkey","type":"int"},
      |{"name":"r_name","type":"string"}]}""".stripMargin

  private val lineitemAvroSchemaJson =
    """{"type":"record","name":"lineitem_slice","fields":[
      |{"name":"l_orderkey","type":"long"},
      |{"name":"l_linenumber","type":"int"},
      |{"name":"l_quantity","type":"double"},
      |{"name":"l_returnflag","type":"string"},
      |{"name":"l_shipdate","type":{"type":"long","logicalType":"timestamp-micros"}}]}""".stripMargin

  private val ordersWriterJson =
    """{"type":"record","name":"orders_slice","fields":[
      |{"name":"o_orderkey","type":"long"},
      |{"name":"o_custkey","type":"long"},
      |{"name":"o_orderstatus","type":"string"},
      |{"name":"o_totalprice","type":"double"}]}""".stripMargin

  private val customerWriterJson =
    """{"type":"record","name":"customer","fields":[
      |{"name":"c_custkey","type":"long"},
      |{"name":"c_name","type":"string"},
      |{"name":"c_acctbal","type":"double"}]}""".stripMargin

  /** The cold half of the wire-type matrix in one record: decimal over bytes
    * AND fixed, date, enum, fixed, map, time-millis, time-micros.
    * (reference: python-udf/avro/io.py:284-319 logical types,
    * io.py:824-979 complex types, schema.py:512-1068.) */
  private val wireTypesSchemaJson =
    """{"type":"record","name":"wt","fields":[
      |{"name":"k","type":"int"},
      |{"name":"b","type":"boolean"},
      |{"name":"f","type":"float"},
      |{"name":"raw","type":"bytes"},
      |{"name":"arr","type":{"type":"array","items":"long"}},
      |{"name":"dec_b","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
      |{"name":"dec_f","type":{"type":"fixed","name":"dfx","size":8,"logicalType":"decimal","precision":10,"scale":2}},
      |{"name":"d","type":{"type":"int","logicalType":"date"}},
      |{"name":"u","type":{"type":"string","logicalType":"uuid"}},
      |{"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN","BLUE"]}},
      |{"name":"fx","type":{"type":"fixed","name":"fx4","size":4}},
      |{"name":"m","type":{"type":"map","values":"long"}},
      |{"name":"tm","type":{"type":"int","logicalType":"time-millis"}},
      |{"name":"tu","type":{"type":"long","logicalType":"time-micros"}},
      |{"name":"tsm","type":{"type":"long","logicalType":"timestamp-millis"}}]}""".stripMargin

  /** Reader schema exercising the resolution engine: field projection
    * (c_acctbal dropped), numeric promotion (long→double on c_custkey) and
    * reader-default fill (c_loyalty). (reference: python-udf/avro/io.py:990-1039) */
  private val customerReaderJson =
    """{"type":"record","name":"customer","fields":[
      |{"name":"c_custkey","type":"double"},
      |{"name":"c_name","type":"string"},
      |{"name":"c_loyalty","type":"string","default":"none"}]}""".stripMargin

  // ---- helpers ------------------------------------------------------------

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Age threshold for sweeping another run's landing dir: a dir younger
    * than this may belong to a CONCURRENT run whose scan hasn't happened yet,
    * so it is left alone. */
  private val sweepAgeMs = 60L * 60L * 1000L

  /** /tmp landing dir for the OCF file-based queries. The app-id suffix
    * isolates concurrent bench/correctness runs sharing /tmp. Sibling dirs
    * with the same prefix but a DIFFERENT app id are swept only when their
    * mtime is over an hour old — a younger sibling may belong to a LIVE
    * concurrent run (deleting between its write and its scan would fail or
    * corrupt that run), while hour-old ones are leftovers that would
    * accumulate forever. The sweep deletes recursively (a leftover may
    * contain subdirs); the current app's own dir is emptied for
    * deterministic re-runs. Option-guarded listFiles covers a non-directory
    * squatter. */
  private def landingDir(s: SparkSession, prefix: String): java.io.File = {
    def deleteRecursively(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
      if (!f.delete() && f.exists())
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"graft: could not delete stale landing path $f")
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val mine = prefix + s.sparkContext.applicationId
    val cutoff = System.currentTimeMillis() - sweepAgeMs
    Option(tmp.listFiles).foreach(_.foreach { d =>
      if (d.getName.startsWith(prefix) && d.getName != mine && d.isDirectory &&
          d.lastModified() < cutoff)
        deleteRecursively(d)
    })
    val out = new java.io.File(tmp, mine)
    if (out.isDirectory)
      Option(out.listFiles).foreach(_.foreach(deleteRecursively))
    out
  }

  private def oneBinaryRow(s: SparkSession, bytes: Array[Byte]): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(Row(bytes)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))

  private def oneStringRow(s: SparkSession, v: String, name: String): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(Row(v)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.StringType))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_topk")(spark, "/root/testdata/sf0.001")

  // ---- the query inventory -------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- built-in relational demos over the TPC-H-ish tables (SURVEY §2.3-2.7)

    // Aggregation: TPC-H Q1 flavor. Sums ride exact DECIMAL(18,2) so every
    // engine produces the identical double after the final round+cast.
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)")
            .as("sum_base_price"),
          expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE)")
            .as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Join: customer ⋈ orders ⋈ lineitem, top-10 revenue orders in one
    // segment. Dimension side is broadcast — no shuffle of the fact table
    // beyond the groupBy on its natural key.
    "q03_join_topk" -> ((s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      broadcast(cust)
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE)")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // Window: top-3 orders per customer by price (rank + tie-break).
    "q04_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // Sort/limit: global top-20 lineitems (total order via tie-breaks).
    "q05_sort_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    }),

    // Set ops: INTERSECT / EXCEPT / UNION ALL in one result.
    "q06_setops" -> ((s, dir) => {
      val cids = t(s, dir, "customer").select(col("c_custkey").as("id"))
      val oids = t(s, dir, "orders").select(col("o_custkey").as("id"))
      cids.intersect(oids).withColumn("tag", lit("both"))
        .unionAll(cids.except(oids).withColumn("tag", lit("cust_only")))
        .unionAll(oids.except(cids).withColumn("tag", lit("ord_only")))
        .orderBy("tag", "id")
    }),

    // Semi/anti join: customers with vs without a high-value order.
    "q07_semi_anti" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      cust.join(hi, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).withColumn("has_big", lit(1))
        .unionAll(
          cust.join(hi, col("c_custkey") === col("o_custkey"), "left_anti")
            .select(col("c_custkey"), col("c_name")).withColumn("has_big", lit(0)))
        .orderBy("c_custkey")
    }),

    // Event-time tumbling window over the stream-shaped table (§2.12 analog,
    // batch form; the streaming form is tested in StreamingIngestSpec).
    "q08_events_hourly" -> ((s, dir) => {
      // the events table has stored `ts` as TIMESTAMP(NANOS) (read as a
      // nanos LONG under spark.sql.legacy.parquet.nanosAsLong, set in the
      // session setup of Bench/Verify/specs) and as plain TIMESTAMP[us] —
      // adapt to whichever shape this dataset carries
      val ev = t(s, dir, "events")
      val tsExpr = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000"))
        case _ => col("ts")
      }
      ev.withColumn("ts", tsExpr)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)").as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("hour_start", "event_type")
    }),

    // -- the Avro engine itself (SURVEY §2.1, §2.8, §2.9, §2.11)

    // S1/U1: golden OCF payload (the reference's own fixture) → typed rows.
    "q10_avro_golden_ocf" -> ((s, dir) => {
      oneStringRow(s, goldenOcfHex, "payload_hex")
        .select(explode(gfn.avro_ocf_decode(unhex(col("payload_hex")), userSchemaJson)).as("u"))
        .select(col("u.name").as("name"),
          col("u.favorite_number").as("favorite_number"),
          col("u.favorite_color").as("favorite_color"))
        .orderBy("name")
    }),

    // U2: the SQL-registered hex→JSON UDF, exact reference output string.
    "q11_avro_ocf_json_udf" -> ((s, dir) => {
      gfn.registerAll(s)
      oneStringRow(s, goldenOcfHex, "payload_hex")
        .selectExpr("fn_decode_avro_binary(payload_hex) AS json")
    }),

    // F1-F17 encode+decode round-trip over real data (long/int/double/string/
    // timestamp-micros logical type), partition-local throughout.
    "q12_avro_roundtrip" -> ((s, dir) => {
      // Sort FIRST, on the scan's own columns: a global orderBy above the
      // roundtrip would range-SAMPLE its child to pick partition bounds,
      // re-executing the whole encode→decode subtree a second time (measured
      // 2.6s vs 0.7s for the roundtrip alone at sf0.1). The roundtrip is a
      // per-row projection, so sorting the raw rows first yields the
      // identical output ordering with the sampling pass touching only the
      // parquet scan (oracle-verified equivalent).
      t(s, dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .select(gfn.to_avro(
          struct(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"), col("l_shipdate")),
          lineitemAvroSchemaJson).as("payload"))
        .select(gfn.from_avro(col("payload"), lineitemAvroSchemaJson).as("r"))
        .select(col("r.l_orderkey").as("l_orderkey"),
          col("r.l_linenumber").as("l_linenumber"),
          col("r.l_quantity").as("l_quantity"),
          col("r.l_returnflag").as("l_returnflag"),
          to_date(col("r.l_shipdate")).as("l_shipdate"))
    }),

    // G5/P1: reader≠writer resolution — projection, long→double promotion,
    // reader-default fill — against a plain-SQL oracle.
    "q13_avro_resolution" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(gfn.to_avro(
          struct(col("c_custkey"), col("c_name"), col("c_acctbal")),
          customerWriterJson).as("payload"))
        .select(gfn.from_avro(col("payload"), customerWriterJson, customerReaderJson).as("r"))
        .select(col("r.c_custkey").as("c_custkey"), col("r.c_name").as("c_name"),
          col("r.c_loyalty").as("c_loyalty"))
        .orderBy("c_custkey")
    }),

    // U3/S11: bare-datum decode to the reference's exact JSON text
    // (Python json.dumps formatting, key order = writer field order).
    "q14_avro_json" -> ((s, dir) => {
      t(s, dir, "nation")
        .select(gfn.avro_decode_json(
          gfn.to_avro(struct(col("n_nationkey"), col("n_name")),
            """{"type":"record","name":"n","fields":[
              |{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"string"}]}""".stripMargin),
          """{"type":"record","name":"n","fields":[
            |{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"string"}]}""".stripMargin).as("json"))
        .orderBy("json")
    }),

    // S2/C2: OCF write with the deflate codec → S1 read back. The 25-row
    // nation table is a fixture here; the payload is built once driver-side.
    "q15_ocf_deflate_roundtrip" -> ((s, dir) => {
      val schema = AvroSchemaParser.parse(nationSchemaJson).asInstanceOf[ARecord]
      val rows = t(s, dir, "nation").orderBy("n_nationkey").collect()
      val datums = rows.map(r => AvroRecord(schema,
        Array[Any](r.getInt(0), r.getString(1), r.getInt(2))))
      val payload = Ocf.writeAll(schema, datums.toIndexedSeq, "deflate")
      oneBinaryRow(s, payload)
        .select(explode(gfn.avro_ocf_decode(col("payload"), nationSchemaJson)).as("n"))
        .select(col("n.n_nationkey").as("n_nationkey"), col("n.n_name").as("n_name"),
          col("n.n_regionkey").as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // S2 at engine level: rows → block-buffered OCF payloads (partition-
    // local mapPartitions sink, deflate codec, multi-block via the 64 KB
    // sync interval) → S1 decode back. Round-trips the whole container
    // format under Spark, not just the kernel writer.
    "q32_ocf_sink_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_shipdate"))
      graft.spark.OcfSink.payloads(li, lineitemAvroSchemaJson,
          codecName = "deflate", datumsPerPayload = 20000)
        // A payload blob is the decode unit of parallelism: spread the ~30
        // blobs across all slots before exploding (an opaque-blob shuffle of
        // a few MB; at production payload counts partitions already exceed
        // slots and this repartition is a near-no-op). Without it decode
        // parallelism stays capped at the sink's input partition count.
        .repartition(s.sparkContext.defaultParallelism)
        // Generator form: decodes block-by-block, never materializes the
        // 20k-datum array per payload
        .select(gfn.avro_ocf_explode(col("payload"), lineitemAvroSchemaJson))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), to_date(col("l_shipdate")).as("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F-matrix cold half through the ENGINE encoder+decoder: decimal(bytes),
    // decimal(fixed), date, enum, fixed, map, time-millis and time-micros
    // round-trip via to_avro → from_avro, plus a general (non-nullable)
    // ["int","string"] union round-tripped ENGINE-SIDE in the
    // struct-of-members form (the set member's position selects the write
    // branch — no driver-side fixture, fully distributed).
    "q34_avro_wire_types" -> ((s, dir) => {
      val unionSchemaJson = """["int","string"]"""
      val uDf = t(s, dir, "nation").select(
        col("n_nationkey").as("k"),
        gfn.to_avro(struct(
          when(col("n_nationkey") % 2 === 0, col("n_nationkey") * 11).as("member0"),
          when(col("n_nationkey") % 2 =!= 0, col("n_name")).as("member1")),
          unionSchemaJson).as("up"))
      val encoded = t(s, dir, "nation").select(
        col("n_nationkey").as("k"),
        gfn.to_avro(struct(
          col("n_nationkey").as("k"),
          (col("n_nationkey") % 2 === 0).as("b"),
          // Spark division promotes to double; the quarter values are exact
          // in float, so the round-trip through FLOAT stays bit-exact
          (col("n_nationkey").cast("float") / lit(4.0f)).cast("float").as("f"),
          unhex(lpad(hex(col("n_nationkey") * 7), 6, "0")).as("raw"),
          array((col("n_nationkey") * 2).cast("long"),
            (col("n_nationkey") * 3 + 1).cast("long")).as("arr"),
          expr("CAST(n_nationkey + 0.25 AS DECIMAL(10,2))").as("dec_b"),
          expr("CAST(n_nationkey * 2 + 0.5 AS DECIMAL(10,2))").as("dec_f"),
          expr("DATE'2024-01-01' + n_nationkey").as("d"),
          concat(lpad(hex(col("n_nationkey")), 8, "0"), lit("-0000-4000-8000-"),
            lpad(hex(col("n_nationkey")), 12, "0")).as("u"),
          element_at(array(lit("RED"), lit("GREEN"), lit("BLUE")),
            (col("n_nationkey") % 3 + 1).cast("int")).as("color"),
          unhex(lpad(hex(col("n_nationkey")), 8, "0")).as("fx"),
          map(lit("k1"), (col("n_nationkey") * 10).cast("long"),
            lit("k2"), col("n_regionkey").cast("long")).as("m"),
          (col("n_nationkey") * 1000 + 123).cast("int").as("tm"),
          (col("n_nationkey") * 1000000L + 456).cast("long").as("tu"),
          timestamp_millis(col("n_nationkey") * 1000L + 5).as("tsm")),
          wireTypesSchemaJson).as("p"))
      encoded.join(broadcast(uDf), "k")
        .select(gfn.from_avro(col("p"), wireTypesSchemaJson).as("r"),
          gfn.from_avro(col("up"), unionSchemaJson).as("u"))
        .select(col("r.k").as("k"),
          col("r.b").as("b"),
          col("r.f").cast("double").as("f"),
          hex(col("r.raw")).as("raw_hex"),
          element_at(col("r.arr"), 1).as("arr_1"),
          element_at(col("r.arr"), 2).as("arr_2"),
          col("r.dec_b").cast("double").as("dec_b"),
          col("r.dec_f").cast("double").as("dec_f"),
          col("r.d").as("d"),
          col("r.u").as("uuid"),
          col("r.color").as("color"),
          hex(col("r.fx")).as("fx_hex"),
          element_at(col("r.m"), "k1").as("m_k1"),
          element_at(col("r.m"), "k2").as("m_k2"),
          col("r.tm").as("tm"), col("r.tu").as("tu"),
          date_format(col("r.tsm"), "yyyy-MM-dd HH:mm:ss.SSS").as("tsm"),
          col("u.member0").as("u_int"), col("u.member1").as("u_str"))
        .orderBy("k")
    }),

    // C3/C4 at engine level: the q32 sink→scan round-trip with the snappy
    // and zstandard codecs (q15/q32 exercise deflate; these close the codec
    // matrix at driver level). (reference: python-udf/avro/codecs.py:129-186.)
    "q35_ocf_snappy_roundtrip" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.spark.OcfSink.payloads(c, customerWriterJson,
          codecName = "snappy", datumsPerPayload = 500)
        .select(gfn.avro_ocf_explode(col("payload"), customerWriterJson))
        .orderBy("c_custkey")
    }),

    "q36_ocf_zstd_roundtrip" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.spark.OcfSink.payloads(c, customerWriterJson,
          codecName = "zstandard", datumsPerPayload = 500)
        .select(gfn.avro_ocf_explode(col("payload"), customerWriterJson))
        .orderBy("c_custkey")
    }),

    // U5 PERMISSIVE at driver level: every third payload is deterministically
    // truncated by one byte (the string field's length header then overruns —
    // decode MUST fail), and PERMISSIVE maps exactly those to null rows while
    // the rest decode on the same path. FAILFAST's whole-batch contract is
    // spec-proven (ErrorContractSpec); this row-level recovery contract is
    // the production half.
    "q46_permissive_decode" -> ((s, dir) => {
      val schemaJson =
        """{"type":"record","name":"N","fields":[
          |{"name":"nk","type":"int"},{"name":"name","type":"string"}]}""".stripMargin
      val enc = t(s, dir, "nation").select(col("n_nationkey").as("k"),
        gfn.to_avro(struct(col("n_nationkey").as("nk"), col("n_name").as("name")),
          schemaJson).as("p"))
      enc
        .withColumn("p", when(col("k") % 3 === 0,
          expr("substring(p, 1, length(p) - 1)")).otherwise(col("p")))
        .select(col("k"), gfn.from_avro_permissive(col("p"), schemaJson).as("r"))
        .select(col("k"), col("r.name").as("name"), col("r").isNull.as("corrupt"))
        .orderBy("k")
    }),

    // F14 at full width: a THREE-branch general union (int | string | record)
    // round-tripped engine-side in the struct-of-members form — exactly one
    // member set per row, branch selected by position, including the NESTED
    // RECORD branch the writer supports (CatalystAvro.scala:325-367,
    // reference union spec: python-udf/avro/io.py:384-392,726-741).
    "q52_union3_roundtrip" -> ((s, dir) => {
      val u3 =
        """["int","string",{"type":"record","name":"pt","fields":[
          |{"name":"x","type":"long"},{"name":"y","type":"long"}]}]""".stripMargin
      val enc = t(s, dir, "nation").select(
        col("n_nationkey").as("k"),
        gfn.to_avro(struct(
          when(col("n_nationkey") % 3 === 0, col("n_nationkey") * 11).as("member0"),
          when(col("n_nationkey") % 3 === 1, col("n_name")).as("member1"),
          when(col("n_nationkey") % 3 === 2,
            struct((col("n_nationkey") * 2).cast("long").as("x"),
              (col("n_nationkey") + 100).cast("long").as("y"))).as("member2")),
          u3).as("p"))
      enc.select(col("k"), gfn.from_avro(col("p"), u3).as("u"))
        .select(col("k"),
          col("u.member0").as("u_int"),
          col("u.member1").as("u_str"),
          col("u.member2.x").as("pt_x"),
          col("u.member2.y").as("pt_y"))
        .orderBy("k")
    }),

    // U5 third mode: same planted corruption as q46, but quarantine-and-
    // continue — the corrupt row keeps its RAW datum bytes in a trailing
    // _corrupt_record binary field (Spark's from_json idiom) instead of
    // vanishing into an all-null row. bytes_match proves the retained bytes
    // are EXACTLY the planted payload (null-safe equality covers clean rows).
    "q46b_permissive_corrupt" -> ((s, dir) => {
      val schemaJson =
        """{"type":"record","name":"N","fields":[
          |{"name":"nk","type":"int"},{"name":"name","type":"string"}]}""".stripMargin
      val enc = t(s, dir, "nation").select(col("n_nationkey").as("k"),
        gfn.to_avro(struct(col("n_nationkey").as("nk"), col("n_name").as("name")),
          schemaJson).as("p"))
      enc
        .withColumn("p", when(col("k") % 3 === 0,
          expr("substring(p, 1, length(p) - 1)")).otherwise(col("p")))
        .select(col("k"), col("p"),
          gfn.from_avro_permissive(col("p"), schemaJson, "_corrupt_record").as("r"))
        .select(col("k"),
          col("r.name").as("name"),
          col("r._corrupt_record").isNotNull.as("corrupt"),
          (col("r._corrupt_record") <=> when(col("k") % 3 === 0, col("p")))
            .as("bytes_match"))
        .orderBy("k")
    }),

    // S1 path-based: OCF files LANDED IN A DIRECTORY and batch-scanned back
    // (the reference's file-path-first shape, datafile.py:292-426) — writes
    // one .avro file per payload blob eagerly, then reads through the
    // binaryFile source + lazy OCF generator. Decode parallelism = file
    // count, the production layout's natural unit.
    "q45_ocf_dir_scan" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val payloads = graft.spark.OcfSink.payloads(c, customerWriterJson,
        codecName = "deflate", datumsPerPayload = 100)
      val out = landingDir(s, "graft_q45_ocf_")
      graft.spark.OcfFiles.writePayloadFiles(payloads, out.getAbsolutePath)
      graft.spark.OcfFiles.scanDirectory(s, out.getAbsolutePath, customerWriterJson)
        .orderBy("c_custkey")
    }),

    // S1 at the 100 TB shape: ONE large OCF file, split INTRA-file on its
    // sync markers by the DataSource V2 reader (`format("graft-ocf")`,
    // reference datafile.py:39,380-394), with column pruning pushed into
    // the decode — only the two aggregated fields are decoded, the other
    // two are varint skips. splitSize=64 KB fans the single file into
    // ~size/64KB parallel tasks: the plan that survives a 10 GB file on a
    // 1000-executor cluster, where the binaryFile path (q45) would
    // serialize on file count.
    "q50_ocf_split_scan" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val payloads = graft.spark.OcfSink.payloads(o.coalesce(1), ordersWriterJson,
        codecName = "deflate", datumsPerPayload = Int.MaxValue)
      val out = landingDir(s, "graft_q50_ocf_")
      graft.spark.OcfFiles.writePayloadFiles(payloads, out.getAbsolutePath)
      s.read.format("graft-ocf")
        .option("splitSize", (64 * 1024).toString)
        .load(out.getAbsolutePath)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)")
            .as("total"))
        .orderBy("o_orderstatus")
    }),

    // P1 at depth: a NESTED-record OCF scanned via `graft-ocf` with a nested
    // projection — `meta.status` is the only leaf the decoder materializes;
    // o_orderkey and the sibling leaves meta.price / meta.priority become
    // type-directed wire skips (reference python-udf/avro/io.py:793-822,
    // 990-1039). On a 100 TB wide-nested corpus this is the difference
    // between decoding one string per row and decoding the whole subtree.
    "q51_ocf_nested_prune" -> ((s, dir) => {
      val nestedJson =
        """{"type":"record","name":"orders_nested","fields":[
          |{"name":"o_orderkey","type":"long"},
          |{"name":"meta","type":{"type":"record","name":"orders_meta","fields":[
          |  {"name":"status","type":"string"},
          |  {"name":"price","type":"double"},
          |  {"name":"priority","type":"string"}]}}]}""".stripMargin
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"),
          col("o_orderpriority").as("priority")).as("meta"))
      val payloads = graft.spark.OcfSink.payloads(o.coalesce(1), nestedJson,
        codecName = "deflate", datumsPerPayload = Int.MaxValue)
      val out = landingDir(s, "graft_q51_ocf_")
      graft.spark.OcfFiles.writePayloadFiles(payloads, out.getAbsolutePath)
      s.read.format("graft-ocf")
        .option("splitSize", (64 * 1024).toString)
        .load(out.getAbsolutePath)
        .groupBy(col("meta.status").as("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    // Aggregate pushdown: a bare count(*) over the DSv2 scan never reads a
    // block BODY — each split sums its blocks' row-count varints (~20 bytes
    // read per block, no decompression, no datum decode) and Spark sums the
    // per-split partials. At 100 TB this turns a full-corpus count into a
    // block-header walk reading ~0.1% of the bytes.
    "q56_ocf_count_pushdown" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val payloads = graft.spark.OcfSink.payloads(o.coalesce(1), ordersWriterJson,
        codecName = "deflate", datumsPerPayload = Int.MaxValue)
      val out = landingDir(s, "graft_q56_ocf_")
      graft.spark.OcfFiles.writePayloadFiles(payloads, out.getAbsolutePath)
      s.read.format("graft-ocf")
        .option("splitSize", (64 * 1024).toString)
        .load(out.getAbsolutePath)
        .groupBy().count()
    }),

    // S2 at the 100 TB shape: the DataSource V2 WRITE path. Each task
    // streams its partition straight into one OCF file (dot-prefixed temp,
    // renamed on job commit — a half-written job is never visible), so the
    // sink fans out exactly as wide as the upstream plan with no driver
    // funnel; reading the files back through the splittable scan closes the
    // producer→consumer loop the reference spreads across
    // datafile.py:140-289 (writer) and :292-479 (reader).
    "q58_ocf_v2_write" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))
      val out = landingDir(s, "graft_q58_ocf_")
      l.repartition(4)
        .write.format("graft-ocf").mode("overwrite")
        .option("codec", "deflate")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf")
        .option("splitSize", (64 * 1024).toString)
        .load(out.getAbsolutePath)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // Partitioned V2 write + partition-pruned read: documents land as
    // lang=<value>/ hive-style directories (values dropped from file
    // contents, stored only in the path), then the scan prunes to ONE
    // partition from the pushed filter — the pruned files' headers are
    // never even read. At 100 TB directory partitioning is the single
    // most-used layout tool; this closes the write→prune loop.
    "q67_partitioned_write_read" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q67_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("source")
    }),

    // File-skipping stats: the sink stamps per-file n_chars min/max into
    // the OCF header (statsColumns); range-partitioned files get disjoint
    // ranges, and the scan's pushed predicate then excludes non-matching
    // files from the plan header-only — same trick as q56's COUNT(*)
    // pushdown, applied to selection. Spec-proven that only matching files
    // plan splits (OcfDataSourceSpec "stats skipping").
    "q68_stats_skip_scan" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val out = landingDir(s, "graft_q68_ocf_")
      d.repartitionByRange(4, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
        .write.format("graft-ocf").mode("overwrite")
        .option("statsColumns", "n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("n_chars") >= 80)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
    }),

    // Runtime (dynamic partition pruning) filtering: a broadcast join keyed
    // on the partition column hands its key set to the scan at EXECUTION
    // time (SupportsRuntimeFiltering), so only the joined languages' files
    // are opened — no literal predicate anywhere in the query. The 100 TB
    // "join the partitioned corpus against a small dim" shape.
    "q71_dpp_join" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q71_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .save(out.getAbsolutePath)
      import s.implicits._
      val dim = Seq(("en", 1.0), ("fr", 0.5)).toDF("lang", "weight")
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .join(broadcast(dim), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars") * col("weight")).cast("double").as("weighted_chars"))
        .orderBy("lang")
    }),

    // Bloom file skipping: per-file Bloom filters (bloomColumns) stamped in
    // the OCF header answer the predicate range stats cannot — a point
    // lookup on a high-cardinality key spread across every file. Ids are
    // round-robined so every file's [min,max] spans the whole domain (range
    // skipping is useless by construction); the bloom prunes non-matching
    // files header-only (spec-proven in OcfDataSourceSpec). The 100 TB
    // "find these three documents in the corpus" needle query.
    "q73_bloom_point_lookup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val out = landingDir(s, "graft_q73_ocf_")
      d.repartition(8)
        .write.format("graft-ocf").mode("overwrite")
        .option("bloomColumns", "doc_id")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("doc_id").isin(42L, 137L, 411L))
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Consumed partition filters + aggregate pushdown: a predicate whose
    // every attribute is a partition column is applied EXACTLY by file
    // pruning (a file has one partition tuple), so the source consumes it
    // instead of returning it residual — Spark drops the post-scan Filter
    // and the grouped COUNT/MAX pushdown fires THROUGH the WHERE clause.
    // "Count docs per selected language" over 100 TB: partition dirs
    // pruned exactly, survivors answered from block headers + stamps.
    "q76_filtered_agg_pushdown" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val out = landingDir(s, "graft_q76_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .option("statsColumns", "doc_id")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("lang").isin("en", "fr", "de"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),

    // Block-index scan: blockIndex=true stamps a PER-BLOCK min/max index
    // into the OCF header; a range predicate over the sorted column then
    // prunes splits INSIDE the file, block-aligned (no sync scan), before
    // any data I/O — row-group pruning for OCF. At 100 TB, file-level
    // stats stop helping once files are GBs; the block index keeps
    // selective scans proportional to the MATCHING bytes, not file count.
    // Spec-proven over trashed non-matching blocks in OcfDataSourceSpec.
    "q75_block_index_scan" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val out = landingDir(s, "graft_q75_ocf_")
      // the SINK requests the clustering sort (sortColumns) — the caller
      // hands over unsorted data and the layout is a storage property
      d.coalesce(1)
        .write.format("graft-ocf").mode("overwrite")
        .option("statsColumns", "n_chars").option("blockIndex", "true")
        .option("blockBytes", "4096").option("sortColumns", "n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("n_chars") >= 500L)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Grouped aggregate pushdown: GROUP BY a partition column with
    // COUNT(*)/MIN/MAX never decodes a datum — each file belongs to exactly
    // one partition tuple, so its partial is already per-group: counts walk
    // ~20-byte block headers, min/max come from plan-time header stamps,
    // group values ride the path. The 100 TB "profile the corpus by date"
    // query at ~0.1% of the bytes. Spec-proven over trashed block bodies.
    "q74_grouped_agg_pushdown" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val out = landingDir(s, "graft_q74_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .option("statsColumns", "doc_id")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),

    // Top-k pushdown (X50): the sink's sortColumns ordered these files and
    // its tracker CERTIFIED each one (graft.sortedBy header stamp); the
    // ORDER BY+LIMIT below pushes as a partial TopN, so every split decodes
    // at most 10 rows instead of its whole range, and the scan also reports
    // its per-partition ordering (SupportsReportOrdering) so layout-
    // satisfied local sorts vanish from plans. At 100 TB `ORDER BY ts
    // LIMIT k` over time-sorted landings is a ~k-rows-per-split query, not
    // a corpus scan. Cap + refusal shapes spec-proven in OcfDataSourceSpec;
    // the stamp's honesty (verified row-by-row, dropped on any inversion)
    // in OcfMetricsSpec.
    "q80_topk_pushdown" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q80_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").mode("overwrite")
        .option("sortColumns", "n_chars,doc_id")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .orderBy(col("n_chars"), col("doc_id"))
        .limit(10)
    }),

    // Typed partition columns: an INT-derived bucket column partitions the
    // layout, the read side re-infers IntegerType from the directory values
    // (schema round-trips the write), and the range predicate below is
    // consumed with NUMERIC comparison — bins 10..22 survive `> 9`, which a
    // string-typed partition column would lexically drop ("10" < "9").
    // Date/int partitioning is the norm at 100 TB (hourly/daily landings);
    // typed pruning is what keeps `WHERE day >= X` a directory-level
    // operation. Inference/declared-schema/date round-trips spec-proven in
    // OcfDataSourceSpec.
    "q81_typed_partitions" -> ((s, dir) => {
      // DIV 40 yields bins 1..13 on this corpus — enough to cross the 9/10
      // lexical boundary without exploding the directory count (each task
      // writes one file per bin it sees; 2 tasks x 13 bins bounds the
      // listing the repeated read then pays)
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        expr("CAST(n_chars DIV 40 AS INT)").as("chars_bin"))
      val out = landingDir(s, "graft_q81_ocf_")
      d.repartition(2)
        .write.format("graft-ocf").partitionBy("chars_bin").mode("overwrite")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("chars_bin") > 9)
        .groupBy(col("chars_bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("chars_bin")
    }),

    // AVG pushdown (stretch on X49): Spark's partial aggregate pushdown
    // decomposes AVG into SUM + COUNT, which the scan answers from the
    // exact header stamps — a grouped per-language mean over 100 TB reads
    // NOTHING but file headers. Refusal on unstamped files (and the exact
    // plan shape) spec-proven in OcfDataSourceSpec.
    "q85_avg_pushdown" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q85_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .option("statsColumns", "n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .groupBy(col("lang"))
        .agg(expr("CAST(round(avg(n_chars), 6) AS DOUBLE)").as("avg_chars"))
        .orderBy("lang")
    }),

    // Nested-field stats (statsColumns=a.b): the sink stamps min/max for a
    // LEAF inside a struct under its dotted name, and the scan's
    // nested-predicate pushdown then skips whole files on a nested range
    // filter — header-only, like parquet's leaf stats at depth. The
    // surviving rows re-filter as usual (skipping is conservative).
    // File-count proof + nested MIN/MAX/COUNT pushdown in OcfDataSourceSpec.
    "q84_nested_stats_skip" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        struct(col("n_chars").cast("long").as("n_chars"), col("lang")).as("meta"))
      val out = landingDir(s, "graft_q84_ocf_")
      d.repartitionByRange(4, col("meta.n_chars"), col("doc_id"))
        .write.format("graft-ocf").mode("overwrite")
        .option("statsColumns", "meta.n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("meta.n_chars") >= 300L)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("meta.n_chars")).cast("long").as("sum_chars"),
          min(col("meta.n_chars")).cast("long").as("min_chars"),
          max(col("meta.n_chars")).cast("long").as("max_chars"))
    }),

    // V2 TableCatalog SQL surface: CREATE TABLE / INSERT INTO / SELECT
    // through a registered catalog (graft.sources.GraftCatalog) — the
    // reference's own premise is a SQL warehouse over Avro payloads
    // (README.md:9-19). A catalog table is the SAME engine as the path
    // API, so the partition filter below is consumed and directory-pruned
    // identically, and the grouped aggregate pushes down. DDL lifecycle
    // (create/drop/rename, empty-table reads, typed partitions through
    // DDL) spec-proven in GraftCatalogSpec.
    "q83_sql_catalog" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q83",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q83_wh_")
      s.conf.set("spark.sql.catalog.graft_q83.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q83.corpus")
      s.sql(
        """CREATE TABLE IF NOT EXISTS graft_q83.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT, lang STRING)
          |USING `graft-ocf` PARTITIONED BY (lang)""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("graft_q83_src")
      s.sql(
        """INSERT OVERWRITE graft_q83.corpus.docs
          |SELECT doc_id, source, n_chars, lang FROM graft_q83_src""".stripMargin)
      s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q83.corpus.docs WHERE lang = 'en'
          |GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Schema evolution through DDL: ALTER TABLE ADD COLUMN appends a
    // nullable column whose value in files written BEFORE the alter comes
    // from Avro reader-default resolution (null) — no data rewritten. The
    // half-then-half insert below lands the corpus across the two schema
    // epochs and reads back as one uniform frame. Old-file null fill +
    // refusals spec-proven in GraftCatalogSpec.
    "q86_schema_evolution" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q86",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q86_wh_")
      s.conf.set("spark.sql.catalog.graft_q86.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q86.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q86.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q86.corpus.docs (doc_id BIGINT, lang STRING)
          |USING `graft-ocf` PARTITIONED BY (lang)""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("graft_q86_src")
      s.sql(
        """INSERT INTO graft_q86.corpus.docs
          |SELECT doc_id, lang FROM graft_q86_src WHERE doc_id % 2 = 0""".stripMargin)
      s.sql("ALTER TABLE graft_q86.corpus.docs ADD COLUMN n_chars BIGINT")
      s.sql(
        """INSERT INTO graft_q86.corpus.docs
          |SELECT doc_id, n_chars, lang FROM graft_q86_src WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(
        """SELECT lang, count(*) AS n_docs, count(n_chars) AS n_evolved,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q86.corpus.docs GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // Copy-on-write row-level operations (X57): DELETE, UPDATE and MERGE
    // INTO with arbitrary (non-partition) predicates through the catalog
    // SQL surface. Spark plans the group-based rewrite
    // (SupportsRowLevelOperations); the operation's scan prunes to the
    // files that MAY hold matching rows via the same stats/bloom stamps as
    // any read, Spark recomputes those files' surviving rows, and the
    // commit replaces exactly the scanned files — at 100 TB a point delete
    // rewrites a handful of files, never the table. Partition-exact
    // predicates still fold back to the metadata-only delete
    // (OptimizeMetadataOnlyDeleteFromTable). File-granularity proof in
    // GraftCatalogSpec ("copy-on-write DELETE/UPDATE/MERGE rewrite only
    // may-match files").
    "q87_row_level_cow" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q87",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q87_wh_")
      s.conf.set("spark.sql.catalog.graft_q87.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q87.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q87.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q87.corpus.docs (doc_id BIGINT, n_chars BIGINT, lang STRING)
          |USING `graft-ocf` PARTITIONED BY (lang)
          |OPTIONS (statsColumns 'doc_id', bloomColumns 'doc_id')""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("graft_q87_src")
      s.sql(
        """INSERT INTO graft_q87.corpus.docs
          |SELECT doc_id, n_chars, lang FROM graft_q87_src""".stripMargin)
      s.sql("DELETE FROM graft_q87.corpus.docs WHERE doc_id % 7 = 0")
      s.sql(
        """UPDATE graft_q87.corpus.docs SET n_chars = n_chars + 1000
          |WHERE doc_id % 5 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft_q87.corpus.docs t
          |USING (SELECT doc_id, n_chars, lang FROM graft_q87_src
          |       WHERE doc_id % 11 = 0) s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 100000
          |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars, lang)
          |  VALUES (s.doc_id, -1, s.lang)""".stripMargin)
      s.sql(
        """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q87.corpus.docs GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // SQL-callable maintenance (X60): `CALL g.system.compact(...)` rewrites
    // a fragmented landing (one file per insert x task here; half a million
    // files for a year of 1-minute streaming epochs at scale) into
    // size-bounded files through the same verified scan/sink paths as any
    // query — stats/bloom stamps preserved, so the compacted table keeps
    // every pushdown. The aggregate AFTER the CALL proves the rewrite is
    // lossless. Procedure mechanics (file counts, vacuum, unknown-procedure
    // refusal) spec-proven in GraftCatalogSpec.
    "q88_compact_call" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q88",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q88_wh_")
      s.conf.set("spark.sql.catalog.graft_q88.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q88.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q88.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q88.corpus.docs (doc_id BIGINT, n_chars BIGINT, lang STRING)
          |USING `graft-ocf` OPTIONS (statsColumns 'doc_id,n_chars')""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("graft_q88_src")
      // fragment the landing: one INSERT per lang → many small files
      s.sql("SELECT DISTINCT lang FROM graft_q88_src").collect().map(_.getString(0))
        .sorted.foreach { lg =>
          s.sql(s"""INSERT INTO graft_q88.corpus.docs
                   |SELECT doc_id, n_chars, lang FROM graft_q88_src
                   |WHERE lang = '$lg'""".stripMargin)
        }
      s.sql("CALL graft_q88.system.compact(`table` => 'corpus.docs')")
      s.sql(
        """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id
          |FROM graft_q88.corpus.docs GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // Runtime file skipping on a DATA column: the scan advertises its
    // bloom-stamped doc_id for runtime filtering
    // (SupportsRuntimeFiltering), so a broadcast join's key set prunes
    // non-containing files at EXECUTION time — the "needle join against a
    // huge corpus" shape with no literal predicate anywhere in the query.
    // At 100 TB this is what turns a 10k-file probe join into ~the handful
    // of file opens the keys actually live in. Direct file-count proof in
    // OcfDataSourceSpec ("runtime filtering skips files on stats/bloom-
    // stamped DATA columns").
    "q82_runtime_data_skip" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val out = landingDir(s, "graft_q82_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").mode("overwrite")
        .option("bloomColumns", "doc_id")
        .save(out.getAbsolutePath)
      import s.implicits._
      val keys = Seq(3L, 57L, 120L, 255L).toDF("doc_id")
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .join(broadcast(keys), "doc_id")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Z-order clustering (X47): rows land along the Morton curve of
    // (doc_id, n_chars), so per-file min/max stamps stay tight on BOTH
    // columns — the n_chars range predicate below skips files even though
    // it is not the leading sort column. At 100 TB this makes stats
    // skipping serve every frequent predicate column at once instead of
    // one; two-dimensional skip counts are spec-proven in LayoutSpec
    // against a lexicographic-sort control.
    "q78_zorder_scan" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q78_ocf_")
      ops.Layout.zorderBy(d, 8, "doc_id", "n_chars")
        .write.format("graft-ocf").mode("overwrite")
        .option("statsColumns", "doc_id,n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .where(col("n_chars") >= 200L && col("n_chars") < 400L)
        .orderBy("doc_id")
    }),

    // SUM/COUNT(col) aggregate pushdown: the sink stamps each file's exact
    // non-null count and exact integral sum alongside min/max
    // (statsColumns), and the grouped profile below is answered ENTIRELY
    // from file headers — no block is read, decompressed, or decoded. At
    // 100 TB a per-partition token/char accounting query costs one header
    // pread per file instead of a full corpus scan. Exactness is
    // spec-proven over deliberately corrupted block bodies in
    // OcfDataSourceSpec; SUM over floating columns is refused by design
    // (accumulation order), which the same spec pins.
    "q77_sum_pushdown" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q77_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .option("statsColumns", "doc_id,n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .groupBy(col("lang"))
        .agg(sum(col("n_chars")).as("sum_chars"),
          count(col("n_chars")).as("n_vals"),
          min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    }),

    // Storage-partitioned scan: the source REPORTS its hive layout to Spark
    // as a KeyGroupedPartitioning (SupportsReportPartitioning + per-split
    // HasPartitionKey), so this group-by on the partition column plans
    // WITHOUT an Exchange — each task aggregates the partition it read, no
    // re-hash of the corpus. At 100 TB the saved shuffle IS the query cost:
    // the data is already grouped on disk. Spec-proven exchange-free plan
    // in OcfDataSourceSpec.
    "q72_storage_partitioned_agg" -> ((s, dir) => {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"), col("lang"))
      val out = landingDir(s, "graft_q72_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").partitionBy("lang").mode("overwrite")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").option("reportPartitioning", "true")
        .load(out.getAbsolutePath)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("lang")
    }),

    // MIN/MAX aggregate pushdown answered from the header stamps: with
    // statsColumns on the sink, min/max/count over the directory is a
    // plan-time header read plus a block-header walk — zero data bytes
    // decoded (spec-proven exact over corrupted block bodies). The 100 TB
    // "profile the corpus" query at ~0.1% I/O.
    "q70_minmax_pushdown" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val out = landingDir(s, "graft_q70_ocf_")
      d.repartition(4)
        .write.format("graft-ocf").mode("overwrite")
        .option("statsColumns", "doc_id,n_chars")
        .save(out.getAbsolutePath)
      s.read.format("graft-ocf").load(out.getAbsolutePath)
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          count(lit(1)).as("n_docs"))
    }),

    // C5: bzip2 closes the codec matrix 5/5 at driver level; nation keeps
    // the (slow) codec's bench cost trivial.
    "q39_ocf_bzip2_roundtrip" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      graft.spark.OcfSink.payloads(n, nationSchemaJson,
          codecName = "bzip2", datumsPerPayload = 10)
        .select(gfn.avro_ocf_explode(col("payload"), nationSchemaJson))
        .orderBy("n_nationkey")
    }),

    // S9: writer schema resolved THROUGH THE REGISTRY keyed by a stream-name
    // COLUMN — two streams with different schemas decode in one expression,
    // the Glue per-stream path. Payloads are engine-encoded (to_avro) from
    // the tables; no driver-side fixture.
    "q37_registry_stream" -> ((s, dir) => {
      val nSchema = """{"type":"record","name":"n","fields":[
        |{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"string"}]}""".stripMargin
      val rSchema = """{"type":"record","name":"r","fields":[
        |{"name":"r_regionkey","type":"int"},{"name":"r_name","type":"string"}]}""".stripMargin
      val registry = graft.framing.SchemaRegistry.inMemory(
        "nation-stream" -> nSchema, "region-stream" -> rSchema)
      val nations = t(s, dir, "nation").select(lit("nation-stream").as("stream"),
        gfn.to_avro(struct(col("n_nationkey"), col("n_name")), nSchema).as("payload"))
      val regions = t(s, dir, "region").select(lit("region-stream").as("stream"),
        gfn.to_avro(struct(col("r_regionkey"), col("r_name")), rSchema).as("payload"))
      nations.unionAll(regions)
        .select(col("stream"),
          gfn.registry_decode_json(col("stream"), col("payload"), registry).as("json"))
        .orderBy("stream", "json")
    }),

    // SURVEY §7.4 mode (b): VARIANT-returning decode for late-bound registry
    // streams — two streams with DIFFERENT schemas land in one VariantType
    // column (the engine-native SUPER), then per-stream fields come back out
    // with variant_get. try_variant_get nulls the path the other stream
    // lacks, which is exactly the semi-structured contract.
    "q69_variant_decode" -> ((s, dir) => {
      val nSchema = """{"type":"record","name":"n","fields":[
        |{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"string"}]}""".stripMargin
      val rSchema = """{"type":"record","name":"r","fields":[
        |{"name":"r_regionkey","type":"int"},{"name":"r_name","type":"string"}]}""".stripMargin
      val registry = graft.framing.SchemaRegistry.inMemory(
        "nation-stream" -> nSchema, "region-stream" -> rSchema)
      val nations = t(s, dir, "nation").select(lit("nation-stream").as("stream"),
        gfn.to_avro(struct(col("n_nationkey"), col("n_name")), nSchema).as("payload"))
      val regions = t(s, dir, "region").select(lit("region-stream").as("stream"),
        gfn.to_avro(struct(col("r_regionkey"), col("r_name")), rSchema).as("payload"))
      nations.unionAll(regions)
        .select(col("stream"),
          gfn.registry_decode_variant(col("stream"), col("payload"), registry).as("v"))
        .select(col("stream"),
          coalesce(expr("try_variant_get(v, '$.n_nationkey', 'int')"),
            expr("try_variant_get(v, '$.r_regionkey', 'int')")).as("key"),
          coalesce(expr("try_variant_get(v, '$.n_name', 'string')"),
            expr("try_variant_get(v, '$.r_name', 'string')")).as("name"))
        .orderBy("stream", "key")
    }),

    // S7/S8/S4 composed: KPL aggregate → Spring embedded headers → bare-datum
    // decode, oracle-checked against the source table.
    "q16_spring_kpl" -> ((s, dir) => {
      val schema = AvroSchemaParser.parse(regionSchemaJson).asInstanceOf[ARecord]
      val writer = new AvroDatumWriter(schema)
      val rows = t(s, dir, "region").orderBy("r_regionkey").collect()
      val framed = rows.map { r =>
        val body = writer.toBytes(AvroRecord(schema, Array[Any](r.getInt(0), r.getString(1))))
        SpringHeaders.frame(Seq("contentType" -> "application/vnd.region.v1+avro"), body)
      }
      val kpl = KplDeaggregator.encode(KplDeaggregator.Aggregated(
        partitionKeys = Seq("pk0"), explicitHashKeys = Seq.empty,
        records = framed.map(KplDeaggregator.KplRecord(0, None, _)).toIndexedSeq))
      oneBinaryRow(s, kpl)
        .select(explode(gfn.kpl_deaggregate(col("payload"))).as("sub"))
        .select(gfn.spring_extract(col("sub")).as("ex"))
        .select(col("ex.headers").getItem("contentType").as("content_type"),
          gfn.from_avro(col("ex.body"), regionSchemaJson).as("r"))
        .select(col("content_type"), col("r.r_regionkey").as("r_regionkey"),
          col("r.r_name").as("r_name"))
        .orderBy("r_regionkey")
    }),

    // S12: SUPER materialization — decoded JSON text → VariantType
    // (`parse_json`, the Spark analog of Redshift's `json_parse` → SUPER,
    // README.md:16-17) → typed field extraction with variant_get.
    "q19_super_variant" -> ((s, dir) => {
      gfn.registerAll(s)
      oneStringRow(s, goldenOcfHex, "payload_hex")
        .selectExpr("parse_json(fn_decode_avro_binary(payload_hex)) AS v")
        .selectExpr(
          "variant_get(v, '$[0].name', 'string') AS name0",
          "variant_get(v, '$[1].name', 'string') AS name1",
          "variant_get(v, '$[1].favorite_number', 'int') AS fav1")
    }),

    // G6: typed compatibility-checker results over a fixed evolution matrix
    // (promotions, unions, projections, defaults, enum defaults, fixed size,
    // names/aliases) — the registry-style "can R read W?" surface.
    "q17_compat_check" -> ((s, dir) => {
      val writerRec = """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string"}]}""".stripMargin
      val writerEnum = """{"type":"enum","name":"E","symbols":["A","B","C"]}"""
      val cases: Seq[(String, String, String)] = Seq(
        ("enum_default_absorbs",
          """{"type":"enum","name":"E","symbols":["A","B"],"default":"A"}""", writerEnum),
        ("enum_missing_symbols",
          """{"type":"enum","name":"E","symbols":["A","B"]}""", writerEnum),
        ("fixed_size_mismatch",
          """{"type":"fixed","name":"F","size":4}""",
          """{"type":"fixed","name":"F","size":8}"""),
        ("int_reads_long", "\"int\"", "\"long\""),
        ("long_reads_int", "\"long\"", "\"int\""),
        ("name_mismatch",
          """{"type":"record","name":"X","fields":[{"name":"a","type":"int"}]}""",
          """{"type":"record","name":"Y","fields":[{"name":"a","type":"int"}]}"""),
        ("record_missing_default",
          """{"type":"record","name":"R","fields":[
            |{"name":"a","type":"int"},{"name":"c","type":"int"}]}""".stripMargin, writerRec),
        ("record_projection",
          """{"type":"record","name":"R","fields":[{"name":"a","type":"long"}]}""", writerRec),
        ("union_missing_branch", """["null","int"]""", """["null","int","string"]"""),
        ("union_widening", """["null","long"]""", """["null","int"]"""))
      val rows = cases.map { case (name, r, w) =>
        val res = graft.avro.Compatibility.check(
          AvroSchemaParser.parse(r), AvroSchemaParser.parse(w))
        Row(name, res.isCompatible, res.incompatibilities.map(_.kind.name).mkString(","))
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("case_name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("compatible",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("kinds",
            org.apache.spark.sql.types.StringType))))
        .orderBy("case_name")
    }),

    // U4 as ONE expression: KPL → Spring headers → registry → decode → one
    // JSON array string per input row (reference Lambda per-row contract).
    "q18_spring_kpl_all" -> ((s, dir) => {
      val schema = AvroSchemaParser.parse(regionSchemaJson).asInstanceOf[ARecord]
      val writer = new AvroDatumWriter(schema)
      val rows = t(s, dir, "region").orderBy("r_regionkey").collect()
      val framed = rows.map { r =>
        val body = writer.toBytes(AvroRecord(schema, Array[Any](r.getInt(0), r.getString(1))))
        SpringHeaders.frame(Seq("contentType" -> "application/vnd.region.v1+avro"), body)
      }
      val kpl = KplDeaggregator.encode(KplDeaggregator.Aggregated(
        partitionKeys = Seq("pk0"), explicitHashKeys = Seq.empty,
        records = framed.map(KplDeaggregator.KplRecord(0, None, _)).toIndexedSeq))
      oneBinaryRow(s, kpl)
        .select(gfn.spring_kpl_decode_all(col("payload"),
          Map("application/vnd.region.v1+avro" -> regionSchemaJson)).as("json"))
    }),

    // -- LLM-data-pipeline operators over documents/embeddings

    // Exact dedup groups (hash-groupBy on a 16-byte digest, not on text).
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("digest")),

    // Text quality/statistics features, integer arithmetic + one division.
    // Corpus-wide frequent n-gram mining (X67): the boilerplate-detection
    // primitive — the crawl's top shared trigrams are its navigation
    // chrome and license footers. Built-ins end to end: the gram fan-out
    // codegens, partial counts combine map-side, and the shuffle carries
    // (ngram, count) pairs only — documents never leave their partitions.
    "q91_top_ngrams" -> ((s, dir) =>
      graft.ops.TextAnalysis.topNgrams(t(s, dir, "documents"), "text", n = 3, k = 20)),

    // Hash-bucketed tables (X69): both sides land as `bucket(8, doc_id)`
    // layouts, so the MERGE-hinted equi-join is satisfied straight from the
    // scans' KeyGroupedPartitioning — storage-partitioned, no exchange on
    // either side (spec-proven in OcfBucketSpec; at 100 TB the elided
    // shuffle of both tables IS the query's cost). The point-lookup side
    // benefit: WHERE doc_id = v reads 1/8 of the files with no stamps.
    "q92_bucketed_join" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q92",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q92_wh_")
      s.conf.set("spark.sql.catalog.graft_q92.warehouse", wh.getAbsolutePath)
      // benign globally: key grouping stays opt-in per table
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q92.corpus")
      s.sql(
        """CREATE TABLE IF NOT EXISTS graft_q92.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf` PARTITIONED BY (bucket(8, doc_id))
          |OPTIONS (reportPartitioning 'true')""".stripMargin)
      s.sql(
        """CREATE TABLE IF NOT EXISTS graft_q92.corpus.quality
          |(doc_id BIGINT, lang STRING)
          |USING `graft-ocf` PARTITIONED BY (bucket(8, doc_id))
          |OPTIONS (reportPartitioning 'true')""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("graft_q92_src")
      s.sql(
        """INSERT OVERWRITE graft_q92.corpus.docs
          |SELECT doc_id, source, n_chars FROM graft_q92_src""".stripMargin)
      s.sql(
        """INSERT OVERWRITE graft_q92.corpus.quality
          |SELECT doc_id, lang FROM graft_q92_src""".stripMargin)
      s.sql(
        """SELECT /*+ MERGE(q) */ q.lang, d.source, count(*) AS n_docs,
          |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q92.corpus.docs d
          |JOIN graft_q92.corpus.quality q ON d.doc_id = q.doc_id
          |GROUP BY q.lang, d.source ORDER BY q.lang, d.source""".stripMargin)
    }),

    // Snapshot time travel (X71): two INSERT commits produce manifests v1
    // and v2; VERSION AS OF pins each — the same table reports different
    // row sets per version, both aggregated in one result. DROP+CREATE per
    // run keeps the version numbers deterministic under bench repeats.
    "q94_time_travel" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q94",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q94_wh_")
      s.conf.set("spark.sql.catalog.graft_q94.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q94.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q94.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q94.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q94_src")
      s.sql(
        """INSERT INTO graft_q94.corpus.docs
          |SELECT doc_id, source, n_chars FROM graft_q94_src
          |WHERE doc_id % 2 = 0""".stripMargin)
      s.sql(
        """INSERT INTO graft_q94.corpus.docs
          |SELECT doc_id, source, n_chars FROM graft_q94_src
          |WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(
        """SELECT 1 AS version, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q94.corpus.docs VERSION AS OF 1
          |UNION ALL
          |SELECT 2 AS version, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q94.corpus.docs VERSION AS OF 2
          |ORDER BY version""".stripMargin)
    }),

    // Incremental append scan (X78): the same two-commit table as q94, but
    // read with startingVersion=1 — only the rows whose FILES were
    // committed after v1 (here: the odd doc_ids of commit 2), resolved by
    // manifest path-set difference with zero data reads or row diffing.
    // The "process only what arrived since the last run" primitive of an
    // incremental training-data pipeline.
    "q96_incremental_read" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q96",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q96_wh_")
      s.conf.set("spark.sql.catalog.graft_q96.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q96.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q96.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q96.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q96_src")
      s.sql(
        """INSERT INTO graft_q96.corpus.docs
          |SELECT doc_id, source, n_chars FROM graft_q96_src
          |WHERE doc_id % 2 = 0""".stripMargin)
      s.sql(
        """INSERT INTO graft_q96.corpus.docs
          |SELECT doc_id, source, n_chars FROM graft_q96_src
          |WHERE doc_id % 2 = 1""".stripMargin)
      s.read.option("startingVersion", "1")
        .table("graft_q96.corpus.docs")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // Zero-rewrite schema evolution (X79): RENAME COLUMN records the old
    // name as an Avro reader-field ALIAS (old files resolve their data into
    // the new name), DROP COLUMN turns the files' field into a wire skip.
    // Half the corpus is written under the OLD shape, half under the new —
    // and the final aggregate must see one uniform frame.
    "q97_rename_evolution" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q97",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q97_wh_")
      s.conf.set("spark.sql.catalog.graft_q97.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q97.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q97.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q97.corpus.docs
          |(doc_id BIGINT, nc BIGINT, junk STRING, lang STRING)
          |USING `graft-ocf`""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"), col("lang"))
        .createOrReplaceTempView("graft_q97_src")
      s.sql(
        """INSERT INTO graft_q97.corpus.docs
          |SELECT doc_id, n_chars, 'legacy', lang FROM graft_q97_src
          |WHERE doc_id % 2 = 0""".stripMargin)
      s.sql("ALTER TABLE graft_q97.corpus.docs RENAME COLUMN nc TO n_chars")
      s.sql("ALTER TABLE graft_q97.corpus.docs DROP COLUMN junk")
      s.sql(
        """INSERT INTO graft_q97.corpus.docs
          |SELECT doc_id, n_chars, lang FROM graft_q97_src
          |WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q97.corpus.docs
          |GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // ADD COLUMN DEFAULT evolution (X80): the pre-ALTER half of the corpus
    // materializes the declared constant via the Avro READER DEFAULT (zero
    // bytes rewritten), the post-ALTER half writes real values — and the
    // grouped aggregate must see both cohorts exactly.
    "q98_default_evolution" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q98",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q98_wh_")
      s.conf.set("spark.sql.catalog.graft_q98.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q98.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q98.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q98.corpus.docs
          |(doc_id BIGINT, n_chars BIGINT)
          |USING `graft-ocf`""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q98_src")
      s.sql(
        """INSERT INTO graft_q98.corpus.docs
          |SELECT doc_id, n_chars FROM graft_q98_src
          |WHERE doc_id % 2 = 0""".stripMargin)
      s.sql(
        """ALTER TABLE graft_q98.corpus.docs
          |ADD COLUMN cohort STRING DEFAULT 'legacy'""".stripMargin)
      s.sql(
        """INSERT INTO graft_q98.corpus.docs
          |SELECT doc_id, n_chars, 'fresh' FROM graft_q98_src
          |WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(
        """SELECT cohort, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q98.corpus.docs
          |GROUP BY cohort ORDER BY cohort""".stripMargin)
    }),

    // Write-audit-publish (X83): half the corpus lands on MAIN, half on a
    // BRANCH (invisible to main); the audit read sees base+branch, then
    // fast_forward publishes and the final main aggregate covers both
    // halves — the manifest-gated visibility pipeline end to end.
    "q99_wap_branch" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q99",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q99_wh_")
      s.conf.set("spark.sql.catalog.graft_q99.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q99.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q99.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q99.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      src.createOrReplaceTempView("graft_q99_src")
      s.sql(
        """INSERT INTO graft_q99.corpus.docs
          |SELECT * FROM graft_q99_src WHERE doc_id % 2 = 0""".stripMargin)
      s.sql("CALL graft_q99.system.create_branch(table => 'corpus.docs', name => 'staging')")
      src.where(col("doc_id") % 2 === 1)
        .writeTo("graft_q99.corpus.docs").option("branch", "staging").append()
      // audit gate: the branch must hold the FULL corpus before publishing —
      // a partial branch write (evens only, or a failed staging append)
      // must fail the audit, not fast-forward into main
      val expected = src.count()
      val audited = s.read.option("branch", "staging")
        .table("graft_q99.corpus.docs").count()
      require(audited == expected,
        s"audit failed: branch holds $audited rows, corpus has $expected")
      s.sql("CALL graft_q99.system.fast_forward(table => 'corpus.docs', name => 'staging')")
      s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q99.corpus.docs
          |GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Zero-rewrite type widening (X86): half the corpus lands as INT
    // n_chars, the column widens to BIGINT via Avro promotion, the other
    // half lands wide — and the aggregate must see one uniform BIGINT
    // column across both file generations.
    "q102_type_widening" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q102",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q102_wh_")
      s.conf.set("spark.sql.catalog.graft_q102.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q102.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q102.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q102.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars INT)
          |USING `graft-ocf`""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .createOrReplaceTempView("graft_q102_src")
      s.sql(
        """INSERT INTO graft_q102.corpus.docs
          |SELECT doc_id, source, n_chars FROM graft_q102_src
          |WHERE doc_id % 2 = 0""".stripMargin)
      s.sql("ALTER TABLE graft_q102.corpus.docs ALTER COLUMN n_chars TYPE BIGINT")
      s.sql(
        """INSERT INTO graft_q102.corpus.docs
          |SELECT doc_id, source, CAST(n_chars AS BIGINT) FROM graft_q102_src
          |WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(max(n_chars) AS BIGINT) AS max_chars
          |FROM graft_q102.corpus.docs
          |GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Merge-on-read position deletes (X87): a point-ish DELETE on a
    // merge-on-read table writes (file, pos) delete files — zero data
    // bytes rewritten — and the scan applies them ('mor' phase); CALL
    // rewrite_position_deletes folds them into clean files ('folded'
    // phase). Both phases must agree with the oracle's logical view.
    // Streaming change-data-feed (X95): the change feed as a micro-batch
    // source whose offset is the table version. The feed streams the
    // table's whole life — inserts, MoR delete rows, and an equality
    // upsert's delete+insert generations — into a memory sink, run to
    // completion here so the oracle can check the exact change log.
    "q109_streaming_cdf" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q109",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q109_wh_")
      s.conf.set("spark.sql.catalog.graft_q109.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q109.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q109.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q109.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`
          |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      src.createOrReplaceTempView("graft_q109_src")
      s.sql("INSERT INTO graft_q109.corpus.docs SELECT * FROM graft_q109_src") // v1
      s.sql("DELETE FROM graft_q109.corpus.docs WHERE doc_id % 11 = 3")        // v2
      src.where(col("doc_id") % 13 === 2)
        .select(col("doc_id"), lit("cdc").as("source"),
          (col("n_chars") + 500L).as("n_chars"))
        .writeTo("graft_q109.corpus.docs").option("upsertKeys", "doc_id")
        .append()                                                              // v3
      val ckpt = landingDir(s, "graft_q109_ck_")
      s.catalog.dropTempView("graft_q109_feed")
      val q = s.readStream.format("graft-ocf-changes")
        .option("startingVersion", "0")
        .load(new java.io.File(wh, "corpus/docs").getAbsolutePath)
        .writeStream.format("memory").queryName("graft_q109_feed")
        .option("checkpointLocation", ckpt.getAbsolutePath).start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q109_feed")
        .select(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"),
          col("doc_id"), col("n_chars"))
        .orderBy("commit_version", "change_type", "doc_id")
    }),

    // Streaming CDF over an IDENTITY-PARTITIONED layout (X95 extension):
    // the partition columns are re-inferred from the manifest's file
    // paths and each change part ships its file's values as per-row
    // constants, so the feed carries the table's full schema. A tiny
    // splitSize also forces the position-free parts (inserts, equality
    // deletes) through the split-tiling path — exactness across many
    // splits of one file is part of what the oracle checks.
    "q111_partitioned_cdf" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q111",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q111_wh_")
      s.conf.set("spark.sql.catalog.graft_q111.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q111.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q111.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q111.corpus.docs
          |(doc_id BIGINT, n_chars BIGINT, lang STRING)
          |USING `graft-ocf` PARTITIONED BY (lang)
          |OPTIONS (`write.delete.mode` 'merge-on-read')""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("lang"))
      src.createOrReplaceTempView("graft_q111_src")
      s.sql("INSERT INTO graft_q111.corpus.docs SELECT * FROM graft_q111_src") // v1
      s.sql("DELETE FROM graft_q111.corpus.docs WHERE doc_id % 11 = 3")        // v2
      src.where(col("doc_id") % 13 === 2)
        .select(col("doc_id"), (col("n_chars") + 500L).as("n_chars"), col("lang"))
        .writeTo("graft_q111.corpus.docs").option("upsertKeys", "doc_id")
        .append()                                                              // v3
      val ckpt = landingDir(s, "graft_q111_ck_")
      s.catalog.dropTempView("graft_q111_feed")
      val q = s.readStream.format("graft-ocf-changes")
        .option("startingVersion", "0")
        .option("splitSize", "8192")
        .load(new java.io.File(wh, "corpus/docs").getAbsolutePath)
        .writeStream.format("memory").queryName("graft_q111_feed")
        .option("checkpointLocation", ckpt.getAbsolutePath).start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_q111_feed")
        .select(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"),
          col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("commit_version", "change_type", "doc_id")
    }),

    // Nested ADD COLUMN evolution (X102): a field appended INSIDE a
    // struct after data landed — pre-ALTER files materialize null at
    // depth through the reader schema's nested defaults, zero rewrite.
    "q116_nested_evolution" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q116",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q116_wh_")
      s.conf.set("spark.sql.catalog.graft_q116.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q116.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q116.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q116.corpus.docs
          |(doc_id BIGINT, meta STRUCT<n_chars: BIGINT>)
          |USING `graft-ocf`""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q116_src")
      s.sql(
        """INSERT INTO graft_q116.corpus.docs
          |SELECT doc_id, named_struct('n_chars', n_chars)
          |FROM graft_q116_src WHERE doc_id % 2 = 0""".stripMargin)     // era A
      s.sql(
        """ALTER TABLE graft_q116.corpus.docs
          |ADD COLUMN meta.lang STRING""".stripMargin)
      // nested ADD with a declared DEFAULT: era-A files (already on disk)
      // materialize the CONSTANT at depth — an existence default, zero
      // rewrite; era-B writes carry an explicit value
      s.sql(
        """ALTER TABLE graft_q116.corpus.docs
          |ADD COLUMN meta.qual STRING DEFAULT 'unscored'""".stripMargin)
      s.sql(
        """INSERT INTO graft_q116.corpus.docs
          |SELECT doc_id, named_struct('n_chars', n_chars, 'lang', lang,
          |  'qual', CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END)
          |FROM graft_q116_src WHERE doc_id % 2 = 1""".stripMargin)     // era B
      s.sql(
        """SELECT coalesce(meta.lang, '<none>') AS lang2, meta.qual AS qual,
          |  count(*) AS n_docs, CAST(sum(meta.n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q116.corpus.docs
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // The `.changes` metadata table (X101): the change-data-feed as a
    // plain SQL TABLE — `SELECT * FROM cat.ns.t.changes` replays the full
    // exact-or-refuse log from genesis (Iceberg `t.changes` analog),
    // sharing the streaming feed's planner. The per-commit change
    // aggregate must reconstruct exactly what each commit did.
    "q115_changes_table" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q115",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q115_wh_")
      s.conf.set("spark.sql.catalog.graft_q115.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q115.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q115.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q115.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`
          |OPTIONS (statsColumns 'doc_id', `write.delete.mode` 'merge-on-read')
          |""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q115_src")
      s.sql("INSERT INTO graft_q115.corpus.docs SELECT * FROM graft_q115_src") // v1
      s.sql("DELETE FROM graft_q115.corpus.docs WHERE doc_id % 10 = 3")        // v2
      s.table("graft_q115_src").where(col("doc_id") % 6 === 1)
        .select(col("doc_id"), lit("cdc").as("source"),
          (col("n_chars") + 777L).as("n_chars"))
        .writeTo("graft_q115.corpus.docs").option("upsertKeys", "doc_id")
        .append()                                                              // v3
      s.sql(
        """SELECT _commit_version AS commit_version,
          |  _change_type AS change_type,
          |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids
          |FROM graft_q115.corpus.docs.changes
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // Hidden-transform partition-spec evolution (X100): a table partitioned
    // months(ts) evolves to days(ts) mid-life; era-A files stay under their
    // `_p_months_ts=` dirs, era-B lands under `_p_days_ts=`, and the scan
    // prunes each file through the self-describing levels its own path
    // carries. The aggregate (with a ts-range filter that exercises both
    // eras' pruning) must equal the oracle over the union.
    "q114_partition_evolution" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q114",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q114_wh_")
      s.conf.set("spark.sql.catalog.graft_q114.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q114.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q114.corpus.ev")
      s.sql(
        """CREATE TABLE graft_q114.corpus.ev
          |(event_id BIGINT, ts TIMESTAMP, event_type STRING)
          |USING `graft-ocf` PARTITIONED BY (months(ts))""".stripMargin)
      t(s, dir, "events").select(col("event_id"), col("ts"), col("event_type"))
        .createOrReplaceTempView("graft_q114_src")
      s.sql(
        """INSERT INTO graft_q114.corpus.ev
          |SELECT * FROM graft_q114_src WHERE event_id % 2 = 0""".stripMargin)
      s.sql(
        """ALTER TABLE graft_q114.corpus.ev
          |SET TBLPROPERTIES ('transformPartitions'='days(ts)')""".stripMargin)
      s.sql(
        """INSERT INTO graft_q114.corpus.ev
          |SELECT * FROM graft_q114_src WHERE event_id % 2 = 1""".stripMargin)
      s.sql(
        """SELECT event_type, count(*) AS n_events,
          |  CAST(sum(event_id) AS BIGINT) AS sum_ids
          |FROM graft_q114.corpus.ev
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // Bucket-count evolution (X103): a bucket(4, doc_id) table evolves to
    // 8 buckets mid-life; era-A files keep their bare `_bucket=` level
    // (genesis modulus 4), era-B lands era-stamped under `_bucket8=`, and
    // point lookups prune each file under ITS OWN era's modulus. Phase
    // 'mixed' aggregates across both eras; phase 'unified' repeats the
    // aggregate after a compact migrates every visible file to the current
    // modulus (which also restores storage-partitioned reporting). Both
    // phases must equal the same plain-SQL oracle.
    "q117_bucket_evolution" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q117",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q117_wh_")
      s.conf.set("spark.sql.catalog.graft_q117.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q117.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q117.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q117.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf` PARTITIONED BY (bucket(4, doc_id))""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q117_src")
      s.sql(
        """INSERT INTO graft_q117.corpus.docs
          |SELECT * FROM graft_q117_src WHERE doc_id % 2 = 0""".stripMargin)
      s.sql(
        """ALTER TABLE graft_q117.corpus.docs
          |SET TBLPROPERTIES ('numBuckets'='8')""".stripMargin)
      s.sql(
        """INSERT INTO graft_q117.corpus.docs
          |SELECT * FROM graft_q117_src WHERE doc_id % 2 = 1""".stripMargin)
      def agg(phase: String) = s.sql(
        s"""SELECT '$phase' AS phase, source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM graft_q117.corpus.docs
           |WHERE doc_id < 300 OR doc_id IN (301, 302, 303)
           |GROUP BY source""".stripMargin)
      val mixed = agg("mixed")
      // Cache + materialize the mixed-era aggregate itself BEFORE the
      // compact flips the layout, so the union's first leg pins the
      // genuinely mixed-era scan (old-era files pruning under their own
      // modulus) rather than re-scanning the unified layout at write time.
      mixed.cache(); mixed.count()
      s.sql("CALL graft_q117.system.compact(table => 'corpus.docs')")
      val out = mixed.unionAll(agg("unified"))
        .orderBy(col("phase"), col("source"))
      out
    }),

    // CDC replication loop closed (X99): the source table's streaming
    // change feed (X95) pipes into the apply-changes sink — insert/update
    // rows upsert, delete rows land ONLY their equality-delete key — so a
    // mirror tracks the source exactly, row deletions included, one source
    // commit per epoch (the in-batch contract: an equality delete kills
    // strictly older generations only). The result reads from the MIRROR.
    "q113_cdc_mirror" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q113",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q113_wh_")
      s.conf.set("spark.sql.catalog.graft_q113.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q113.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q113.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q113.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`
          |OPTIONS (statsColumns 'doc_id', `write.delete.mode` 'merge-on-read')
          |""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      src.createOrReplaceTempView("graft_q113_src")
      s.sql("INSERT INTO graft_q113.corpus.docs SELECT * FROM graft_q113_src") // v1
      src.where(col("doc_id") % 6 === 1)
        .select(col("doc_id"), lit("cdc").as("source"),
          (col("n_chars") + 777L).as("n_chars"))
        .writeTo("graft_q113.corpus.docs").option("upsertKeys", "doc_id")
        .append()                                                              // v2
      s.sql("DELETE FROM graft_q113.corpus.docs WHERE doc_id % 10 = 3")        // v3
      src.where(col("doc_id") % 9 === 4)
        .select(col("doc_id"), lit("cdc2").as("source"),
          (col("n_chars") + 111L).as("n_chars"))
        .writeTo("graft_q113.corpus.docs").option("upsertKeys", "doc_id")
        .append()                                                              // v4
      val mirror = landingDir(s, "graft_q113_mirror_")
      val ckpt = landingDir(s, "graft_q113_ck_")
      val q = s.readStream.format("graft-ocf-changes")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(new java.io.File(wh, "corpus/docs").getAbsolutePath)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"))
        .writeStream.option("checkpointLocation", ckpt.getAbsolutePath)
        .format("graft-ocf")
        .option("upsertKeys", "doc_id")
        .option("changeColumn", "_change_type")
        .outputMode("append")
        .start(mirror.getAbsolutePath)
      try q.processAllAvailable() finally q.stop()
      s.read.format("graft-ocf").load(mirror.getAbsolutePath)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("source")
    }),

    // CDF update pairing (X104, opt-in): `updateImages=true` re-tags an
    // upsert commit's delete+insert rows sharing a key as update_preimage/
    // update_postimage (Delta CDF parity) — a killed key with no re-insert
    // stays 'delete', a fresh key stays 'insert'. The per-commit change
    // aggregate must reconstruct each commit under the paired taxonomy.
    "q118_update_pairing" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q118",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q118_wh_")
      s.conf.set("spark.sql.catalog.graft_q118.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q118.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q118.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q118.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf` OPTIONS (statsColumns 'doc_id')""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      src.createOrReplaceTempView("graft_q118_src")
      s.sql("INSERT INTO graft_q118.corpus.docs SELECT * FROM graft_q118_src") // v1
      // v2: ONE upsert batch mixing updates of existing keys (doc_id%6=1)
      // with fresh keys (doc_id+10000000 for doc_id%7=2) — the paired feed
      // must split it into update pairs vs plain inserts BY KEY
      src.where(col("doc_id") % 6 === 1)
        .select(col("doc_id"), lit("cdc").as("source"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionAll(src.where(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("fresh").as("source"), col("n_chars")))
        .writeTo("graft_q118.corpus.docs").option("upsertKeys", "doc_id")
        .append()                                                              // v2
      // v3: apply-changes keys-only delete (equality delete with NO
      // re-insert) — stays a plain 'delete' even in paired mode
      src.where(col("doc_id") % 10 === 3)
        .select(col("doc_id"), lit("x").as("source"), lit(0L).as("n_chars"),
          lit("delete").as("ct"))
        .write.format("graft-ocf").mode("append")
        .option("upsertKeys", "doc_id").option("changeColumn", "ct")
        .save(new java.io.File(wh, "corpus/docs").getAbsolutePath)             // v3
      s.read.option("updateImages", "true")
        .table("graft_q118.corpus.docs.changes")
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("sum_ids"))
        .orderBy("commit_version", "change_type")
        .select("commit_version", "change_type", "n_rows", "sum_ids")
    }),

    // Columnar embedding store (X108): the engine's OWN table format holds
    // array<float> vectors and the scan rides the VECTORIZED lane — arrays
    // and maps of scalars decode as offset+child vectors, so the single
    // most common LLM-pipeline storage shape (embeddings / token lists in
    // the lake) gets batch decode instead of per-row reads. The top-k
    // re-rank over the round-tripped store equals q26's brute-force oracle
    // on the source parquet, proving the array decode is value-exact.
    "q119_columnar_embedding_store" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q119",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q119_wh_")
      s.conf.set("spark.sql.catalog.graft_q119.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q119.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q119.corpus.emb")
      s.sql(
        """CREATE TABLE graft_q119.corpus.emb
          |(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)
          |USING `graft-ocf` OPTIONS (statsColumns 'vec_id')""".stripMargin)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_q119_src")
      s.sql(
        """INSERT INTO graft_q119.corpus.emb
          |SELECT vec_id, embedding, label FROM graft_q119_src""".stripMargin)
      val emb = s.table("graft_q119.corpus.emb")
      // the point of the query: the array column must NOT drop the scan to
      // the row lane (pre-X108 it dragged the whole scan off the fast path)
      require(emb.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "q119: the array<float> scan must ride the columnar lane")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, 5)
        .select(col("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // Scoped incremental compaction (X98): maintenance at 100 TB must be
    // O(touched partition), never O(table). A fragmented, upsert-burdened
    // partitioned table compacts ONE partition (`where` rides the scan's
    // own prune stack; equality deletes still burdening other partitions
    // are kept, and can't re-kill the new files — newer seq), then the
    // whole table. The aggregate must be identical at every phase.
    "q112_scoped_compact" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q112",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q112_wh_")
      s.conf.set("spark.sql.catalog.graft_q112.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q112.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q112.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q112.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf` PARTITIONED BY (source)
          |OPTIONS (statsColumns 'doc_id')""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      // three fragmenting appends per partition
      for (r <- 0 until 3)
        src.where(col("doc_id") % 3 === r)
          .writeTo("graft_q112.corpus.docs").append()
      // CDC upsert burdens every admitted older file with its keys
      src.where(col("doc_id") % 6 === 1)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 777L).as("n_chars"))
        .writeTo("graft_q112.corpus.docs").option("upsertKeys", "doc_id")
        .append()
      def agg(phase: String) = {
        val a = s.sql(
          """SELECT source, count(*) AS n_docs,
            |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
            |FROM graft_q112.corpus.docs GROUP BY source""".stripMargin)
          .withColumn("phase", lit(phase))
        // materialize now: later maintenance rewrites the files
        s.createDataFrame(
          java.util.Arrays.asList(a.collect(): _*), a.schema)
      }
      val mor = agg("mor")
      s.sql("CALL graft_q112.system.compact(table => 'corpus.docs', " +
        "where => \"source = 'src3'\")")
      val scoped = agg("scoped")
      s.sql("CALL graft_q112.system.compact(table => 'corpus.docs')")
      mor.unionByName(scoped).unionByName(agg("full"))
        .select(col("phase"), col("source"), col("n_docs"), col("sum_chars"))
        .orderBy("phase", "source")
    }),

    // Streaming upsert sink (X96): CDC epochs stream INTO the table —
    // each micro-batch commits its insert files plus an equality-delete
    // key file killing every older generation of the epoch's keys
    // (O(epoch) write cost, no target scan). Three epochs: backfill, then
    // two correction batches whose keys overlap; the table must read as
    // last-writer-wins per doc_id.
    "q110_streaming_upsert" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q110",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q110_wh_")
      s.conf.set("spark.sql.catalog.graft_q110.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q110.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q110.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q110.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Long)]
      val ckpt = landingDir(s, "graft_q110_ck_")
      val q = in.toDF().toDF("doc_id", "source", "n_chars")
        .writeStream.option("checkpointLocation", ckpt.getAbsolutePath)
        .option("upsertKeys", "doc_id")
        .toTable("graft_q110.corpus.docs")
      try {
        def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
          df.collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        in.addData(rows(src)) // epoch 0: backfill
        q.processAllAvailable()
        in.addData(rows(src.where(col("doc_id") % 7 === 1)
          .select(col("doc_id"), lit("u1").as("source"),
            (col("n_chars") + 1000L).as("n_chars"))))
        q.processAllAvailable() // epoch 1
        in.addData(rows(src.where(col("doc_id") % 5 === 2)
          .select(col("doc_id"), lit("u2").as("source"),
            (col("n_chars") + 2000L).as("n_chars"))))
        q.processAllAvailable() // epoch 2
      } finally q.stop()
      s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q110.corpus.docs GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Merge-on-read equality deletes (X94): a CDC batch upserts keyed on
    // doc_id with NO target scan — the commit lands insert files plus
    // equality-delete key files that kill every OLDER row with those keys.
    // Phase 'mor' reads through the key filters; phase 'folded' re-reads
    // after rewrite_position_deletes folds them into clean files.
    "q108_equality_upsert" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q108",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q108_wh_")
      s.conf.set("spark.sql.catalog.graft_q108.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q108.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q108.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q108.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf` OPTIONS (statsColumns 'doc_id')""".stripMargin)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      src.createOrReplaceTempView("graft_q108_src")
      s.sql("INSERT INTO graft_q108.corpus.docs SELECT * FROM graft_q108_src")
      // the CDC batch: corrected rows for every doc_id % 6 = 1, keyed upsert
      src.where(col("doc_id") % 6 === 1)
        .select(col("doc_id"), lit("cdc").as("source"),
          (col("n_chars") + 777L).as("n_chars"))
        .writeTo("graft_q108.corpus.docs").option("upsertKeys", "doc_id")
        .append()
      def agg(phase: String) = s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q108.corpus.docs GROUP BY source""".stripMargin)
        .withColumn("phase", lit(phase))
      val mor = agg("mor")
      // materialize BEFORE the fold rewrites the files
      val morRows = mor.collect()
      val morCached = s.createDataFrame(
        java.util.Arrays.asList(morRows: _*), mor.schema)
      s.sql("CALL graft_q108.system.rewrite_position_deletes(table => 'corpus.docs')")
      morCached.unionByName(agg("folded"))
        .select(col("phase"), col("source"), col("n_docs"), col("sum_chars"))
        .orderBy("phase", "source")
    }),

    "q103_mor_delete" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q103",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q103_wh_")
      s.conf.set("spark.sql.catalog.graft_q103.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q103.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q103.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q103.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`
          |OPTIONS (statsColumns 'doc_id', `write.delete.mode` 'merge-on-read')""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q103_src")
      s.sql("INSERT INTO graft_q103.corpus.docs SELECT * FROM graft_q103_src")
      s.sql("DELETE FROM graft_q103.corpus.docs WHERE doc_id % 7 = 3")
      def agg(phase: String) = s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graft_q103.corpus.docs GROUP BY source""".stripMargin)
        .withColumn("phase", lit(phase))
      val mor = agg("mor")
      // materialize BEFORE the fold rewrites the files (#strata rows only)
      val morRows = mor.collect()
      val morCached = s.createDataFrame(
        java.util.Arrays.asList(morRows: _*), mor.schema)
      s.sql("CALL graft_q103.system.rewrite_position_deletes(table => 'corpus.docs')")
      morCached.unionByName(agg("folded"))
        .select(col("phase"), col("source"), col("n_docs"), col("sum_chars"))
        .orderBy("phase", "source")
    }),

    // Change-data-feed (X92): the per-commit inserts/deletes recovered
    // from snapshot diffs and the position-deleted rows of each target
    // file — a MoR DELETE emits its lost rows, a MoR UPDATE its
    // delete+insert pair. The oracle
    // recomputes the exact same feed from the flat corpus.
    "q107_change_feed" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q107",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q107_wh_")
      s.conf.set("spark.sql.catalog.graft_q107.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q107.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q107.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q107.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`
          |OPTIONS (`write.delete.mode` 'merge-on-read',
          |  `write.update.mode` 'merge-on-read')""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q107_src")
      s.sql("INSERT INTO graft_q107.corpus.docs SELECT * FROM graft_q107_src")
      s.sql("DELETE FROM graft_q107.corpus.docs WHERE doc_id % 11 = 3")
      s.sql(
        """UPDATE graft_q107.corpus.docs
          |SET n_chars = n_chars + 500 WHERE doc_id % 13 = 2""".stripMargin)
      // flip to copy-on-write and DELETE: the feed recovers the CoW
      // commit's rows from the replaced-vs-replacement multiset diff
      s.sql(
        """ALTER TABLE graft_q107.corpus.docs
          |SET TBLPROPERTIES ('write.delete.mode'='copy-on-write')""".stripMargin)
      s.sql("DELETE FROM graft_q107.corpus.docs WHERE doc_id % 17 = 4")
      graft.sources.GraftChanges.changes(s,
          new java.io.File(wh, "corpus/docs").getAbsolutePath, 1L)
        .select(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"),
          col("doc_id"), col("n_chars"))
        .orderBy("commit_version", "change_type", "doc_id")
    }),

    // Merge-on-read UPDATE (X87): the correction writes delete files for
    // the old positions plus fresh data files for the replacements — no
    // existing data file rewritten — and the read folds all three
    // generations (original, deletes, replacements) into one logical view.
    "q106_mor_update" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q106",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q106_wh_")
      s.conf.set("spark.sql.catalog.graft_q106.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q106.corpus")
      s.sql("DROP TABLE IF EXISTS graft_q106.corpus.docs")
      s.sql(
        """CREATE TABLE graft_q106.corpus.docs
          |(doc_id BIGINT, source STRING, n_chars BIGINT)
          |USING `graft-ocf`
          |OPTIONS (statsColumns 'doc_id',
          |  `write.delete.mode` 'merge-on-read',
          |  `write.update.mode` 'merge-on-read')""".stripMargin)
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView("graft_q106_src")
      s.sql("INSERT INTO graft_q106.corpus.docs SELECT * FROM graft_q106_src")
      s.sql(
        """UPDATE graft_q106.corpus.docs
          |SET n_chars = n_chars + 1000 WHERE doc_id % 9 = 5""".stripMargin)
      s.sql(
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(max(n_chars) AS BIGINT) AS max_chars
          |FROM graft_q106.corpus.docs
          |GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Hidden partitioning (X88): events land in a days(ts)-transformed
    // layout — the raw-ts range predicate prunes whole day directories
    // (file-prune proof in OcfTransformsSpec) while the query stays on the
    // data column; the oracle recomputes from the flat parquet.
    "q104_hidden_partitioning" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.graft_q104",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = landingDir(s, "graft_q104_wh_")
      s.conf.set("spark.sql.catalog.graft_q104.warehouse", wh.getAbsolutePath)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q104.ev")
      s.sql("DROP TABLE IF EXISTS graft_q104.ev.events")
      s.sql(
        """CREATE TABLE graft_q104.ev.events
          |(event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          | event_type STRING, value DOUBLE)
          |USING `graft-ocf` PARTITIONED BY (days(ts))""".stripMargin)
      val ev = t(s, dir, "events")
      val tsExpr = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts DIV 1000"))
        case _ => col("ts")
      }
      ev.withColumn("ts", tsExpr)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value").cast("double").as("value"))
        .createOrReplaceTempView("graft_q104_src")
      s.sql("INSERT INTO graft_q104.ev.events SELECT * FROM graft_q104_src")
      s.sql(
        """SELECT event_type, count(*) AS n_events,
          |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value
          |FROM graft_q104.ev.events
          |WHERE ts >= timestamp'2024-01-02 00:00:00'
          |  AND ts < timestamp'2024-01-04 00:00:00'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // Cross-document repeated-substring exposure (X73, Lee et al. 2022):
    // 15-token sliding windows hashed portably (md5), windows recurring in
    // >= 2 distinct docs mark their spans, and the per-doc union of marked
    // spans measures how much of each document is shared boilerplate —
    // the signal substring-level dedup strips and doc-level dedup misses.
    "q95_dup_spans" -> ((s, dir) =>
      graft.ops.TextAnalysis.duplicatedSpans(
        t(s, dir, "documents"), "doc_id", "text", window = 15)
        .where(col("dup_windows") > 0)
        .orderBy(col("doc_id"))),

    // Gopher/C4 quality-rule funnel (X70): per-rule boolean flags from the
    // published filtering heuristics, aggregated into a per-source funnel —
    // which rule kills how many documents. Integer-exact arithmetic keeps
    // every flag oracle-reproducible; one zero-shuffle map pass then a
    // (source, counts)-only aggregation.
    "q93_quality_rules" -> ((s, dir) => {
      val flags = graft.ops.TextAnalysis.gopherQualityFlags(
        t(s, dir, "documents"), "doc_id", "text", keepCols = Seq("source"))
      def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L))
      flags.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        fails("r_word_count").as("f_word_count"),
        fails("r_mean_word_len").as("f_mean_word_len"),
        fails("r_symbol_ratio").as("f_symbol_ratio"),
        fails("r_alpha_words").as("f_alpha_words"),
        fails("r_bullet_lines").as("f_bullet_lines"),
        fails("r_ellipsis_lines").as("f_ellipsis_lines"),
        fails("r_stopwords").as("f_stopwords"),
        fails("r_no_lorem").as("f_no_lorem"),
        fails("r_no_brace").as("f_no_brace"))
        .orderBy("source")
    }),

    "q21_text_features" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val text = col("text")
      // quality is derived from the SELECTED counts — the count expressions
      // (lambda/regex, outside codegen CSE) each evaluate exactly once
      d.select(col("doc_id"),
          TextAnalysis.charCount(text).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(text).cast("long").as("n_tokens"),
          TextAnalysis.subwordCount(text).cast("long").as("n_subwords"),
          TextAnalysis.punctCount(text).cast("long").as("n_punct"),
          TextAnalysis.stopwordCount(text).cast("long").as("n_stopwords"))
        .withColumn("quality", TextAnalysis.qualityScoreFromCounts(
          col("n_chars"), col("n_tokens"), col("n_stopwords"), col("n_punct")))
        .orderBy("doc_id")
    }),

    // Token-budget corpus selection: rank by the (verified) q21 quality
    // score, keep the best-docs prefix whose running token total fits a
    // 20k-token budget. The global prefix sum is the scalable two-phase
    // form — range exchange + per-partition windows + a partitions-sized
    // offsets array — never a single-partition global window.
    "q63_token_budget_mix" -> ((s, dir) => {
      val text = col("text")
      val feats = t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.charCount(text).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(text).cast("long").as("n_tokens"),
          TextAnalysis.punctCount(text).cast("long").as("n_punct"),
          TextAnalysis.stopwordCount(text).cast("long").as("n_stopwords"))
        .withColumn("quality", TextAnalysis.qualityScoreFromCounts(
          col("n_chars"), col("n_tokens"), col("n_stopwords"), col("n_punct")))
      ops.Sampling.tokenBudgetSelect(feats, "doc_id", "quality", "n_tokens", 20000L)
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(round(quality, 9) AS DOUBLE)").as("quality"))
        .orderBy("doc_id")
    }),

    // Exact-N per-stratum sample: 20 docs per source by deterministic key
    // hash — the fixed-size companion to q40's rate-based stratified
    // sample; two-phase rank keeps a hot stratum off a single task.
    "q66_exact_stratum_sample" -> ((s, dir) =>
      ops.Sampling.exactSamplePerStratum(
          t(s, dir, "documents"), "doc_id", "source", n = 20, salt = "r12")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // RAG-style chunking: 32-token windows with 8-token overlap — a pure
    // generator fan-out (split → sequence → explode → slice), zero shuffle,
    // zero UDF; the oracle re-slices the same token lists in SQL.
    "q65_text_chunking" -> ((s, dir) =>
      // sort-early, see q12: chunks generate in ascending chunk_idx per doc,
      // so the final orderBy's sampling pass must not re-run the generator
      ops.TextAnalysis.chunkText(
          t(s, dir, "documents").orderBy("doc_id"), "doc_id", "text",
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_idx")),

    // Language ID + order-sensitive fingerprint (custom expressions; no SQL
    // oracle — driver records the weaker rows-only check).
    "q22_lang_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs, exact-verified: banded LSH proposes
    // candidates (no O(n²)), exact word-3-gram Jaccard filters at 0.7 — the
    // reported similarity is exact, so the all-pairs DuckDB oracle matches.
    "q23_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          expr("CAST(round(jaccard, 9) AS DOUBLE)").as("jaccard"))
        .orderBy("id_a", "id_b")),

    // SimHash near-dup pairs (pigeonhole chunk bucketing + bit_count verify).
    "q24_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // Near-dup CLUSTERING: connected components over the q24 candidate
    // pairs by iterative min-label propagation (exact convergence, lineage
    // checkpointed per round). Only (id, label) pairs shuffle; rounds =
    // largest component diameter. The oracle walks the same graph with a
    // recursive CTE.
    "q62_neardup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("doc_id")),

    // Leakage-safe splitting (X85): near-dup clusters (q62's labels) are
    // the assignment unit, so no near-duplicate pair can straddle
    // train/eval; singleton docs group as themselves. Deterministic md5
    // cut at cumulative weights — the oracle recomputes everything,
    // including the same float partial sums.
    "q101_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = Dedup.connectedComponents(
        Dedup.simhashPairs(docs, "doc_id", "text"))
      ops.Sampling.splitByGroup(
          docs.join(comp, Seq("doc_id"), "left")
            .withColumn("grp", coalesce(col("component"), col("doc_id"))),
          "grp", Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
          salt = "r15")
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // the filter face of q62: corpus minus every non-canonical cluster
    // member — text never shuffles, the loser set rides a broadcast
    "q64_neardup_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropNearDups(docs, "doc_id",
          Dedup.simhashPairs(docs, "doc_id", "text"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Blocked n-gram Jaccard over word shingles (exact set similarity).
    "q25_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text", "source",
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          expr("CAST(round(jaccard, 9) AS DOUBLE)").as("jaccard"))
        .orderBy("id_a", "id_b")),

    // Flagship curation pipeline: exact dedup → language filter → quality
    // floor — each stage an already-verified primitive, composed.
    // sort-early, see q12: curate(sortById) places the total sort BELOW its
    // langId+quality scoring, so the range partitioner samples only the
    // deduped (id, text) rows — an orderBy above curate re-evaluated the
    // expensive scoring projections a second time (plan-proven in
    // plans/r22/q33_curation_before.txt); output order is identical (the
    // projections and filters above the sort are per-row).
    "q33_curation" -> ((s, dir) =>
      ops.Curation.curate(t(s, dir, "documents"),
          "doc_id", "text", lang = "en", minQuality = 0.5, sortById = true)
        .select(col("doc_id"), col("lang_pred"),
          expr("CAST(round(quality, 9) AS DOUBLE)").as("quality"))),

    // X31: benchmark decontamination — the train/test-contamination guard
    // every corpus release runs (8-gram overlap, the production shape). The
    // eval set is drawn FROM the corpus (doc_id % 50 = 0) so overlap is
    // planted by construction: every eval doc flags at least itself, plus
    // any corpus doc sharing an 8-gram (near-dups). The eval gram set
    // broadcasts; only matching (doc, gram) hits ever shuffle.
    "q47_decontam_flags" -> ((s, dir) =>
      ops.Decontamination.contaminated(
          t(s, dir, "documents"),
          t(s, dir, "documents").where(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 8)
        .orderBy("id")),

    // X31's shipping half: the corpus with flagged documents REMOVED
    // (broadcast anti-join against the small flag set).
    "q48_decontam_filter" -> ((s, dir) =>
      ops.Decontamination.decontaminate(
          t(s, dir, "documents"),
          t(s, dir, "documents").where(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 8)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // X32: Gopher/C4-style repetition/boilerplate metrics — per-row sorted-
    // array fold, zero shuffle (one map-side pass over the corpus).
    "q49_repetition_metrics" -> ((s, dir) =>
      ops.TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(round(top_bigram_frac, 9) AS DOUBLE)").as("top_bigram_frac"),
          expr("CAST(round(dup_token_frac, 9) AS DOUBLE)").as("dup_token_frac"))
        .orderBy("doc_id")),

    // X-op: PII scrub — the map-side detect+redact pass every training
    // pipeline runs first. PII is PLANTED deterministically (an email, an
    // IPv4, a 9+-digit account number per doc) so the oracle can re-plant
    // and re-scrub identically; patterns are engine-portable (no \b, no
    // lookaround) so Java regex and the oracle's RE2 agree byte-for-byte.
    // Whole-stage codegen'd regexp built-ins, zero shuffle.
    "q61_pii_redaction" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via 10.0."),
          col("doc_id") % 256, lit(".7 acct "),
          col("doc_id") * 1000003 + 123456789).as("text"))
      ops.TextAnalysis.redactPii(planted, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_idnums"),
          md5(col("text_redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Brute-force exact cosine top-k (the ANN correctness baseline).
    "q26_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, 5)
        .select(col("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // ANN at PRODUCTION parameters, on the production-shaped task: the
    // probes are deterministic perturbations of corpus vectors (a noisy
    // duplicate looking for its source, sim ≈ 0.995), and 8 planes ×
    // 16 tables finds the source with per-probe miss ~5e-11 while touching
    // ~16/256 of the corpus per probe — 16× less candidate work than brute
    // force. (Recall at these parameters is additionally spec-proven with
    // planted duplicates in LshRecallSpec; corpus-wide low-threshold scans,
    // where LSH cannot win, are declared exactly — see q27.)
    "q28_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 8).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "CAST(x * (CASE WHEN i % 2 = 0 THEN 1.1D ELSE 0.9D END) AS FLOAT))")
          .as("embedding"))
      Similarity.lshTopK(probes, emb, 1, numPlanes = 8, numTables = 16)
        .select((col("q_id") - lit(1000000L)).as("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id")
    }),

    // Product quantization ANN (X63): the corpus scans as m-BYTE codes
    // (32x smaller than the fp32 vectors at dim=64/m=8) scored by ADC
    // table lookups — one m x ksub LUT per query, m lookups per corpus
    // row instead of a dim-wide dot product — then an exact cosine
    // re-rank on only the shortlisted true vectors. Recall at this
    // (shortlist=64, near-identical probes) configuration is 1, so the
    // exact brute-force top-1 oracle applies; the recall/shortlist curve
    // is spec-proven in OpsSpec.
    "q89_pq_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 8).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "CAST(x * (CASE WHEN i % 2 = 0 THEN 1.1D ELSE 0.9D END) AS FLOAT))")
          .as("embedding"))
      val cb = Similarity.pqTrain(emb, m = 8, ksub = 16)
      Similarity.pqTopK(probes, emb, 1, cb, shortlist = 64)
        .select((col("q_id") - lit(1000000L)).as("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id")
    }),

    // IVF-PQ (X64, the FAISS IndexIVFPQ composition) at the oracle-able
    // configuration: exhaustive probing (results independent of where
    // k-means put the cells) with a shortlist wide enough for recall 1 on
    // the near-identical probes. Exercises the full pipeline — coarse cell
    // assignment, per-cell ADC scoring over m-byte codes, exact re-rank.
    // The sub-exhaustive recall/cost curve is spec-proven in OpsSpec.
    "q90_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 8).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "CAST(x * (CASE WHEN i % 2 = 0 THEN 1.1D ELSE 0.9D END) AS FLOAT))")
          .as("embedding"))
      val cb = Similarity.pqTrain(emb, m = 8, ksub = 16)
      Similarity.ivfPqTopK(probes, emb, 1, cb,
          nlist = 16, nprobe = 16, shortlist = 64, trainFraction = 0.5)
        .select((col("q_id") - lit(1000000L)).as("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id")
    }),

    // IVF ANN with EXHAUSTIVE probing (nprobe = nlist), which is
    // structurally identical to brute force — the honest oracle-able
    // configuration (results do not depend on where k-means put the
    // centroids). Exercises the full IVF plumbing: SAMPLED quantizer
    // training (the 100 TB path), partition-local cell assignment, int
    // cell-id probe join with ids only, exact cosine re-rank. The
    // sub-exhaustive recall/cost curve is spec-proven in OpsSpec.
    "q38_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, 5,
          nlist = 16, nprobe = 16, trainFraction = 0.5)
        .select(col("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    // IVF at the RECALL-BEARING configuration (nprobe = 2 of nlist = 16 —
    // 1/8 of the corpus per probe), oracle-able by construction: each probe
    // is an EXACT copy of a corpus vector under a shifted id, and a colinear
    // probe has the identical centroid ranking as its source, so the
    // source's cell is always among the probed cells REGARDLESS of where
    // k-means placed the centroids. Top-1 (sim = 1.0 beats the ≤ 0.52
    // continuous tail; any other sim-1.0 vector is colinear too and shares
    // the cell) therefore provably equals brute force, while the physical
    // plan runs the true sub-exhaustive probe join users run. The corpus
    // assumption this leans on (no NON-colinear pair within 9-digit rounding
    // of sim 1.0) is asserted as a fixture invariant in OpsSpec, so data
    // regeneration cannot silently invalidate the oracle.
    "q44_ivf_subexhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 8).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      Similarity.ivfTopK(probes, emb, 1,
          nlist = 16, nprobe = 2, trainFraction = 0.5)
        .select((col("q_id") - lit(1000000L)).as("q_id"), col("n_id"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"), col("rank"))
        .orderBy("q_id")
    }),

    // Multimodal: typed binary assets → batched partition-local (stub)
    // decode stats. The byte-level decode is a documented deterministic
    // stub (no codec libs in this environment); the schema/batch/partition
    // plumbing is the real contract under test.
    // Sort-early (the q12 lesson), multimodal form: decode runs in
    // mapPartitions, which Catalyst treats as opaque — an orderBy ABOVE it
    // range-samples the decode output, re-running every codec twice per
    // pass. mapPartitions is order-preserving and asset_id is monotone in
    // doc_id, so sorting the scan yields the identical output order with
    // the sampling pass touching only the scan (oracle-verified).
    "q30_multimodal_stats" -> ((s, dir) =>
      ops.Multimodal.decodeStats(ops.Multimodal.syntheticAssets(
        t(s, dir, "documents").orderBy("doc_id")))),

    // Multimodal with a REAL codec: mono PCM-16 WAVs synthesized by the
    // from-scratch RIFF/WAVE writer, parsed back by the real chunk-walking
    // parser (X16 de-stubbed for audio). sum_samples reduces the PCM payload
    // itself, so a wrong data-chunk walk cannot match the oracle.
    "q53_wav_audio_meta" -> ((s, dir) =>
      // sort-early (see q30): codec work must not be range-sampled twice
      ops.Multimodal.audioInfo(
        ops.Multimodal.syntheticWavAssets(
          t(s, dir, "documents").orderBy("doc_id")))),

    // Multimodal with the REAL image codec: binary PPM/PGM synthesized by
    // the from-scratch Netpbm writer, parsed back by the comment-tolerant
    // header scanner (X16 de-stubbed for images). sum_pixels reduces the
    // raster itself, so a wrong raster offset cannot match the oracle.
    "q54_pnm_image_meta" -> ((s, dir) =>
      // sort-early (see q30): codec work must not be range-sampled twice
      ops.Multimodal.imageInfo(
        ops.Multimodal.syntheticPnmAssets(
          t(s, dir, "documents").orderBy("doc_id")))),

    // REAL nearest-neighbor resize: decode → resample pixels → re-encode,
    // then re-parse the resized raster. The oracle recomputes every sampled
    // source pixel arithmetically, so a byte-truncating fake resize (or an
    // off-by-one in the sy/sx mapping) cannot match.
    "q55_pnm_resize" -> ((s, dir) =>
      // sort-early (see q30): codec work must not be range-sampled twice
      ops.Multimodal.imageInfo(
        ops.Multimodal.resizeImages(
          ops.Multimodal.syntheticPnmAssets(
            t(s, dir, "documents").orderBy("doc_id")), 8, 6))),

    // Multimodal with the REAL video codec: uncompressed YUV4MPEG2 clips
    // synthesized by the from-scratch Y4M writer, parsed back frame by
    // frame (X16 completed for video). sum_bytes reduces every plane byte
    // of every frame, so a wrong 4:2:0 plane-size computation or a
    // header-only fake cannot match the oracle.
    "q59_y4m_video_meta" -> ((s, dir) =>
      // sort-early (see q30): codec work must not be range-sampled twice
      ops.Multimodal.videoInfo(
        ops.Multimodal.syntheticY4mAssets(
          t(s, dir, "documents").orderBy("doc_id")))),

    // Frame EXTRACTION composing two real codecs: Y4M parse → luma plane →
    // PGM encode → PNM parse. Every 2nd frame of each clip becomes a real
    // grayscale image whose raster sum the oracle recomputes per
    // (asset, frame) — at 100 TB only the sampled frames' bytes are ever
    // materialized, partition-locally.
    "q60_y4m_frame_sample" -> ((s, dir) =>
      // sort-early (see q30): frames emit in ascending frame_idx (< 100 by
      // construction, <= 7 frames/clip) so asset_id*100+frame_idx stays
      // monotone over the sorted input — the codec chain is never sampled
      ops.Multimodal.imageInfo(
        ops.Multimodal.videoFrameImages(
          ops.Multimodal.syntheticY4mAssets(
            t(s, dir, "documents").orderBy("doc_id")), everyK = 2)
          .select((col("asset_id") * 100 + col("frame_idx")).as("asset_id"),
            col("content")))),

    // Multimodal: video frame sampling — metadata-only relational fan-out
    // (no binary content touched until a later decode stage selects frames).
    "q31_frame_sample" -> ((s, dir) =>
      ops.Multimodal.frameSample(ops.Multimodal.syntheticAssets(t(s, dir, "documents")), 250L)
        .orderBy("asset_id", "frame_idx")),

    // Corpus-wide cosine pairs at a LOW threshold (0.4 sits inside this
    // corpus's continuous similarity tail — no planted duplicates), declared
    // as the exact O(n²) blocked plan it really is: in this regime LSH at
    // full recall does MORE candidate work than the pair space, so the
    // honest plan is exact. The near-duplicate regime (sim ≥ ~0.85), where
    // cosineNearDupPairs wins at production params, is recall-proven with
    // planted duplicates in LshRecallSpec instead.
    "q27_cosine_neardup" -> ((s, dir) =>
      Similarity.cosineAllPairs(t(s, dir, "embeddings"), 0.4)
        .select(col("id_a"), col("id_b"),
          expr("CAST(round(sim, 9) AS DOUBLE)").as("sim"))
        .orderBy("id_a", "id_b")),

    // X48 semantic dedup (SemDeDup family): keep a vector iff no lower-id
    // vector sits within cosine 0.4 — the id-order local minima of the
    // near-neighbor graph (a per-item rule, distinct from q64's
    // one-per-connected-component). Exact candidates here because this
    // corpus's 0.4 tail is continuous (same regime argument as q27); the
    // SemDeDup cluster-scoped and LSH scale paths are spec-proven equal to
    // exact on planted separated clusters (LshRecallSpec).
    "q79_semantic_dedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), 0.4)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")),

    // Deterministic per-stratum sampling: hash-keyed (reproducible under
    // task retry/speculation — rand() is not), pure map-side filter. The
    // rates are exactly-representable binary fractions so the < comparison
    // is bit-identical in any engine.
    "q40_stratified_sample" -> ((s, dir) =>
      ops.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "source",
          sampleRates, salt = "r6")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Temperature-based corpus mixing (X84, the XLM-R/mT5 alpha-sampling
    // recipe): p_i ∝ sqrt(n_i) flattens the source distribution toward a
    // 30k-row target; rates are floored onto a 2^-20 grid so the DuckDB
    // oracle's independent rate recomputation agrees bit-for-bit.
    "q100_temperature_mix" -> ((s, dir) =>
      ops.Sampling.temperatureMix(t(s, dir, "documents"), "doc_id", "source",
          targetRows = 30000, alpha = 0.5, salt = "r15")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Weighted corpus mixing with oversampling (epochs): books-style strata
    // above 1x, web-style below — the standard pretraining mix as one
    // declarative operator (generated epoch fan-out, map-side fractional
    // sampling, no shuffle).
    "q41_corpus_mix" -> ((s, dir) =>
      ops.Sampling.weightedMix(t(s, dir, "documents"), "doc_id", "source",
          mixWeights, salt = "r6")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    // Token-budget sequence packing: concat-then-split chunk assignment per
    // shard (single window shuffle; shards are the scale-out unit).
    "q42_token_packing" -> ((s, dir) =>
      ops.Packing.tokenChunks(t(s, dir, "documents"), "doc_id", "text",
          "source", budgetTokens = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("chunk_id"), col("chunk_offset"))
        .orderBy("doc_id")),

    // Exact-subword packing (X90): q42's shape re-based on the byte-level
    // BPE counter under the frozen graft-bpe-v1 merges table — the budgets
    // a model actually consumes, not the whitespace heuristic. No SQL
    // oracle (greedy BPE is not SQL-expressible); correctness is pinned by
    // BpeSpec's hand-derived fixtures + the driver's rows check, and the
    // counts are deterministic by construction.
    "q105_bpe_packing" -> ((s, dir) =>
      ops.Packing.tokenChunks(t(s, dir, "documents"), "doc_id", "text",
          "source", budgetTokens = 2048,
          counter = c => ops.TextAnalysis.bpeTokenCount(c))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("chunk_id"), col("chunk_offset"))
        .orderBy("doc_id")),

    // Per-stratum corpus report with DISCRETE rank-rule quantiles (integer
    // selection — no interpolation, so the values are engine-exact).
    "q43_corpus_stats" -> ((s, dir) =>
      ops.Packing.corpusStats(t(s, dir, "documents"), "source", "text")
        .select(col("stratum"), col("n_docs"), col("total_tokens"),
          expr("CAST(round(mean_tokens, 9) AS DOUBLE)").as("mean_tokens"),
          col("p50_tokens"), col("p90_tokens"), col("p99_tokens"))
        .orderBy("stratum")),

    // X29 scale path, oracle-comparable form: exact rank-rule quantiles
    // (cross-checked against DuckDB like q43) PLUS one boolean per quantile
    // asserting the percentile_approx sketch value sits within its
    // spec-guaranteed rank window q*n +/- n/accuracy. The oracle asserts the
    // booleans literally TRUE, so a sketch that violated its published bound
    // would hash-mismatch; raw sketch values (engine-specific) never leave
    // the Spark side. corpusStatsApprox itself stays the scale path.
    "q57_corpus_stats_approx" -> ((s, dir) =>
      ops.Packing.corpusStatsApproxChecked(t(s, dir, "documents"), "source", "text")
        .select(col("stratum"), col("n_docs"), col("total_tokens"),
          expr("CAST(round(mean_tokens, 9) AS DOUBLE)").as("mean_tokens"),
          col("p50_tokens"), col("p90_tokens"), col("p99_tokens"),
          col("p50_in_bound"), col("p90_in_bound"), col("p99_in_bound"))
        .orderBy("stratum"))
  )

  /** q40 rates / q41 weights: keyed on the 20 synthetic sources; exactly-
    * representable binary fractions so engine comparisons are bit-identical. */
  private val sampleRates: Map[String, Double] = Map(
    "src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25,
    "src4" -> 0.125, "src5" -> 0.0625, "src6" -> 0.5, "src7" -> 0.25,
    "src8" -> 0.75, "src9" -> 0.5)
  private val mixWeights: Map[String, Double] = Map(
    "src0" -> 2.5, "src1" -> 2.0, "src2" -> 1.5, "src3" -> 1.0,
    "src4" -> 0.75, "src5" -> 0.5, "src6" -> 0.25, "src7" -> 3.0)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops (custom hashing)
    * → driver records a weaker rows-only check. */
  /** The q24 simhash candidate-pair derivation, shared verbatim by the q62
    * connected-components oracle (which wraps it in a recursive CTE) so the
    * two can never drift apart. No ORDER BY — callers append their own. */
  private val simhashPairsOracleSql: String =
    """WITH f AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    list_transform(toks, t ->
      |      list_reduce(
      |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |          list_transform(generate_series(1, length(t)), i -> CAST(unicode(t[i]) AS HUGEINT))),
      |        (acc, c) -> ((acc - (acc % 256) + xor(CAST(acc % 256 AS BIGINT), CAST(c AS BIGINT)))
      |                     * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))) AS th
      |  FROM f),
      |s AS (
      |  SELECT doc_id,
      |    CAST((SELECT coalesce(sum(CASE WHEN 2 * len(list_filter(th, x -> (x // CAST(power(2, b.b) AS HUGEINT)) % 2 = 1)) > len(th)
      |                     THEN CAST(power(2, b.b) AS HUGEINT) ELSE 0 END), 0)
      |     FROM generate_series(0, 63) AS b(b)) AS HUGEINT) AS sh_u
      |  FROM h),
      |sb AS (
      |  SELECT doc_id, CAST(CASE WHEN sh_u >= CAST('9223372036854775808' AS HUGEINT)
      |       THEN sh_u - CAST('18446744073709551616' AS HUGEINT) ELSE sh_u END AS BIGINT) AS sh
      |  FROM s)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      |FROM sb a, sb b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE) AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_topk" ->
      """SELECT o_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q04_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q05_sort_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    "q06_setops" ->
      """SELECT id, tag FROM (
        |  SELECT id, 'both' AS tag FROM (SELECT c_custkey AS id FROM customer INTERSECT SELECT o_custkey AS id FROM orders)
        |  UNION ALL
        |  SELECT id, 'cust_only' AS tag FROM (SELECT c_custkey AS id FROM customer EXCEPT SELECT o_custkey AS id FROM orders)
        |  UNION ALL
        |  SELECT id, 'ord_only' AS tag FROM (SELECT o_custkey AS id FROM orders EXCEPT SELECT c_custkey AS id FROM customer)
        |) ORDER BY tag, id""".stripMargin,

    "q07_semi_anti" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |       THEN 1 ELSE 0 END AS has_big
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q08_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q10_avro_golden_ocf" ->
      """SELECT * FROM (VALUES ('Alyssa', 256, CAST(NULL AS VARCHAR)), ('Ben', 7, 'red'))
        |AS t(name, favorite_number, favorite_color) ORDER BY name""".stripMargin,

    "q11_avro_ocf_json_udf" ->
      """SELECT '[{"name": "Alyssa", "favorite_number": 256, "favorite_color": null}, {"name": "Ben", "favorite_number": 7, "favorite_color": "red"}]' AS json""".stripMargin,

    "q12_avro_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q13_avro_resolution" ->
      """SELECT CAST(c_custkey AS DOUBLE) AS c_custkey, c_name, 'none' AS c_loyalty
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q14_avro_json" ->
      """SELECT '{"n_nationkey": ' || n_nationkey || ', "n_name": "' || n_name || '"}' AS json
        |FROM nation ORDER BY json""".stripMargin,

    "q15_ocf_deflate_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",

    "q16_spring_kpl" ->
      """SELECT 'application/vnd.region.v1+avro' AS content_type, r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q34_avro_wire_types" ->
      """SELECT n_nationkey AS k,
        |  n_nationkey % 2 = 0 AS b,
        |  CAST(CAST(n_nationkey AS FLOAT) / CAST(4.0 AS FLOAT) AS DOUBLE) AS f,
        |  upper(lpad(to_hex(n_nationkey * 7), 6, '0')) AS raw_hex,
        |  CAST(n_nationkey * 2 AS BIGINT) AS arr_1,
        |  CAST(n_nationkey * 3 + 1 AS BIGINT) AS arr_2,
        |  CAST(CAST(n_nationkey + 0.25 AS DECIMAL(10,2)) AS DOUBLE) AS dec_b,
        |  CAST(CAST(n_nationkey * 2 + 0.5 AS DECIMAL(10,2)) AS DOUBLE) AS dec_f,
        |  DATE '2024-01-01' + n_nationkey AS d,
        |  upper(lpad(to_hex(n_nationkey), 8, '0')) || '-0000-4000-8000-' ||
        |    upper(lpad(to_hex(n_nationkey), 12, '0')) AS uuid,
        |  ['RED','GREEN','BLUE'][n_nationkey % 3 + 1] AS color,
        |  upper(lpad(to_hex(n_nationkey), 8, '0')) AS fx_hex,
        |  CAST(n_nationkey * 10 AS BIGINT) AS m_k1,
        |  CAST(n_regionkey AS BIGINT) AS m_k2,
        |  CAST(n_nationkey * 1000 + 123 AS INTEGER) AS tm,
        |  CAST(n_nationkey * 1000000 + 456 AS BIGINT) AS tu,
        |  strftime(epoch_ms(n_nationkey * 1000 + 5), '%Y-%m-%d %H:%M:%S.%g') AS tsm,
        |  CAST(CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey * 11 END AS INTEGER) AS u_int,
        |  CASE WHEN n_nationkey % 2 = 1 THEN n_name END AS u_str
        |FROM nation ORDER BY k""".stripMargin,

    "q35_ocf_snappy_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey""",

    "q36_ocf_zstd_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey""",

    // directory write → binaryFile scan → OCF decode is a pure round-trip
    "q45_ocf_dir_scan" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey""",

    // the split DSv2 scan is a pure round-trip of orders, so the oracle is
    // the same aggregate straight off the parquet table
    "q50_ocf_split_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the nested-OCF scan is a pure round-trip of two orders columns, so the
    // oracle is the same aggregate straight off the parquet table
    "q51_ocf_nested_prune" ->
      """SELECT o_orderstatus AS status, count(*) AS n
        |FROM orders GROUP BY status ORDER BY status""".stripMargin,

    // the pushed count is a pure row count of the round-tripped orders file
    "q56_ocf_count_pushdown" ->
      """SELECT count(*) AS count FROM orders""",

    // the V2 write → split-scan read is a pure round-trip of four lineitem
    // columns, so the oracle is the same aggregate straight off the parquet
    "q58_ocf_v2_write" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // partitioned write → partition-pruned read is a lossless round-trip of
    // documents restricted to one lang, so the oracle aggregates straight
    // off the parquet with the same WHERE
    "q67_partitioned_write_read" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source ORDER BY source""".stripMargin,

    // variant decode round-trips both streams' keys and names losslessly,
    // so the oracle is the same union off the parquet tables
    "q69_variant_decode" ->
      """SELECT stream, key, name FROM (
        |  SELECT 'nation-stream' AS stream, n_nationkey AS key, n_name AS name FROM nation
        |  UNION ALL
        |  SELECT 'region-stream' AS stream, r_regionkey AS key, r_name AS name FROM region
        |) ORDER BY stream, key""".stripMargin,

    // the DPP join is a lossless inner join of documents against the
    // two-language dim, so the oracle computes the same join off parquet
    "q71_dpp_join" ->
      """WITH dim(lang, weight) AS (VALUES ('en', 1.0), ('fr', 0.5))
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(d.n_chars * dim.weight) AS DOUBLE) AS weighted_chars
        |FROM documents d JOIN dim ON d.lang = dim.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // the filtered grouped pushdown is a lossless filter+group of the
    // written data, so the oracle runs straight off the parquet
    "q76_filtered_agg_pushdown" ->
      """SELECT lang, count(*) AS n_docs, max(doc_id) AS max_id
        |FROM documents WHERE lang IN ('en','fr','de')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the block-index scan is a lossless selection of the written data, so
    // the oracle selects straight off the parquet
    "q75_block_index_scan" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE n_chars >= 500 ORDER BY doc_id""".stripMargin,

    // the grouped pushdown is a lossless group-by of the written data, so
    // the oracle groups straight off the parquet
    "q74_grouped_agg_pushdown" ->
      """SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the sorted roundtrip is lossless and the (n_chars, doc_id) order is
    // total, so the pushed top-10 must hash-match the straight SQL top-10
    "q80_topk_pushdown" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang
        |FROM documents ORDER BY n_chars, doc_id LIMIT 10""".stripMargin,

    // header sums and counts are exact longs, so the pushed AVG equals the
    // row-order mean bit-for-bit (one long division on each side)
    "q85_avg_pushdown" ->
      """SELECT lang, CAST(round(avg(n_chars), 6) AS DOUBLE) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the nested roundtrip is lossless, so the nested-predicate profile
    // mirrors the flat query
    "q84_nested_stats_skip" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents WHERE n_chars >= 300""".stripMargin,

    // rows inserted before the ADD COLUMN read the new column as NULL, so
    // count(n_chars)/sum(n_chars) cover only the post-alter half
    "q86_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS n_evolved,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // replays the DELETE / UPDATE / MERGE sequence relationally: drop the
    // %7 rows, bump the %5 survivors, then left-join the %11 merge source —
    // matched rows gain 100000, unmatched source rows re-insert at -1
    "q87_row_level_cow" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang FROM documents
        |), after_delete AS (
        |  SELECT * FROM base WHERE doc_id % 7 <> 0
        |), after_update AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
        |         lang
        |  FROM after_delete
        |), src AS (
        |  SELECT doc_id, n_chars, lang FROM base WHERE doc_id % 11 = 0
        |), merged AS (
        |  SELECT t.doc_id,
        |         CASE WHEN s.doc_id IS NOT NULL THEN t.n_chars + 100000
        |              ELSE t.n_chars END AS n_chars,
        |         t.lang
        |  FROM after_update t LEFT JOIN src s ON t.doc_id = s.doc_id
        |  UNION ALL
        |  SELECT s.doc_id, -1 AS n_chars, s.lang
        |  FROM src s LEFT JOIN after_update t ON s.doc_id = t.doc_id
        |  WHERE t.doc_id IS NULL
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,

    // the fragmented landing + CALL compact is a lossless relayout, so the
    // post-compaction aggregate mirrors a straight aggregate of the source
    "q88_compact_call" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the catalog INSERT is a lossless landing of the documents slice, so
    // the SQL-path aggregate mirrors the straight query
    "q83_sql_catalog" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // the bloom-stamped roundtrip drops no rows, so the broadcast key join
    // mirrors a plain IN-list selection
    "q82_runtime_data_skip" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id IN (3, 57, 120, 255) ORDER BY doc_id""".stripMargin,

    // the partitioned roundtrip drops no rows and the bin range predicate
    // must behave numerically (bins 10..22 > 9), not lexically
    "q81_typed_partitions" ->
      """SELECT CAST(n_chars // 40 AS INTEGER) AS chars_bin,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars // 40 > 9
        |GROUP BY 1 ORDER BY chars_bin""".stripMargin,

    // the z-ordered roundtrip is a lossless relayout of the written data,
    // so the filtered read must hash-match a straight filter of the parquet
    "q78_zorder_scan" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang
        |FROM documents WHERE n_chars >= 200 AND n_chars < 400
        |ORDER BY doc_id""".stripMargin,

    // the header-stamped sums/counts are exact, so the pushed-down profile
    // must hash-match a straight aggregation of the parquet
    "q77_sum_pushdown" ->
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(n_chars) AS n_vals, min(doc_id) AS min_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the bloom-skipped point lookup is a lossless selection of the written
    // data, so the oracle selects straight off the parquet
    "q73_bloom_point_lookup" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id IN (42, 137, 411) ORDER BY doc_id""".stripMargin,

    // the storage-partitioned aggregation is a lossless group-by of the
    // written data, so the oracle groups straight off the parquet
    "q72_storage_partitioned_agg" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // min/max/count pushdown is a lossless aggregate of the written data,
    // so the oracle aggregates straight off the parquet
    "q70_minmax_pushdown" ->
      """SELECT min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars, CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  count(*) AS n_docs FROM documents""".stripMargin,

    // stats-skipped scan is a lossless selection: same filter + aggregates
    // off the parquet
    "q68_stats_skip_scan" ->
      """SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars, CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents WHERE n_chars >= 80""".stripMargin,

    // three-branch union: exactly one member non-null per row, by k mod 3
    "q52_union3_roundtrip" ->
      """SELECT n_nationkey AS k,
        |  CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey * 11 END AS u_int,
        |  CASE WHEN n_nationkey % 3 = 1 THEN n_name END AS u_str,
        |  CASE WHEN n_nationkey % 3 = 2 THEN CAST(n_nationkey * 2 AS BIGINT) END AS pt_x,
        |  CASE WHEN n_nationkey % 3 = 2 THEN CAST(n_nationkey + 100 AS BIGINT) END AS pt_y
        |FROM nation ORDER BY k""".stripMargin,

    // corrupt-record mode: corrupt rows decode to null data fields with the
    // raw bytes retained; bytes_match is proven true row-by-row in Spark
    "q46b_permissive_corrupt" ->
      """SELECT n_nationkey AS k,
        |  CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS name,
        |  n_nationkey % 3 = 0 AS corrupt,
        |  true AS bytes_match
        |FROM nation ORDER BY k""".stripMargin,

    // PERMISSIVE maps exactly the deterministically-corrupted rows to null
    "q46_permissive_decode" ->
      """SELECT n_nationkey AS k,
        |  CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS name,
        |  n_nationkey % 3 = 0 AS corrupt
        |FROM nation ORDER BY k""".stripMargin,

    "q39_ocf_bzip2_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",

    "q37_registry_stream" ->
      """SELECT stream, json FROM (
        |  SELECT 'nation-stream' AS stream,
        |    '{"n_nationkey": ' || n_nationkey || ', "n_name": "' || n_name || '"}' AS json
        |  FROM nation
        |  UNION ALL
        |  SELECT 'region-stream' AS stream,
        |    '{"r_regionkey": ' || r_regionkey || ', "r_name": "' || r_name || '"}' AS json
        |  FROM region
        |) ORDER BY stream, json""".stripMargin,

    "q32_ocf_sink_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q19_super_variant" ->
      """SELECT 'Alyssa' AS name0, 'Ben' AS name1, CAST(7 AS INTEGER) AS fav1""",

    "q17_compat_check" ->
      """SELECT * FROM (VALUES
        |  ('enum_default_absorbs',    true,  ''),
        |  ('enum_missing_symbols',    false, 'missing_enum_symbols'),
        |  ('fixed_size_mismatch',     false, 'fixed_size_mismatch'),
        |  ('int_reads_long',          false, 'type_mismatch'),
        |  ('long_reads_int',          true,  ''),
        |  ('name_mismatch',           false, 'name_mismatch'),
        |  ('record_missing_default',  false, 'reader_field_missing_default_value'),
        |  ('record_projection',       true,  ''),
        |  ('union_missing_branch',    false, 'missing_union_branch'),
        |  ('union_widening',          true,  '')
        |) AS t(case_name, compatible, kinds) ORDER BY case_name""".stripMargin,

    "q18_spring_kpl_all" ->
      """SELECT '[' || string_agg('{"r_regionkey": ' || r_regionkey || ', "r_name": "' || r_name || '"}',
        |  ', ' ORDER BY r_regionkey) || ']' AS json FROM region""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin,

    // identical tokenization and window hashing (md5 of space-joined
    // 15-token slices); interval-union coverage via the same sorted-lag
    // telescope; only docs with at least one duplicated window survive
    "q95_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, i AS pos,
        |    md5(array_to_string(ws[i:i+14], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 14)) AS t(i)
        |  WHERE len(ws) >= 15
        |), dup AS (
        |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |), dw AS (
        |  SELECT w.doc_id, w.pos,
        |    lag(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS prev
        |  FROM wins w WHERE w.h IN (SELECT h FROM dup)
        |), cov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 15
        |                  ELSE least(15, pos - prev) END) AS BIGINT) AS covered_tokens
        |  FROM dw GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  c.dup_windows, c.covered_tokens
        |FROM toks t JOIN cov c ON t.doc_id = c.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // version 1 holds the even doc_ids, version 2 everything — snapshot
    // numbering is deterministic because the query recreates the table
    "q94_time_travel" ->
      """SELECT 1 AS version, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2 AS version, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |ORDER BY version""".stripMargin,

    // the incremental range (1, latest] holds exactly commit 2's files —
    // the odd doc_ids
    "q96_incremental_read" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 1
        |GROUP BY source ORDER BY source""".stripMargin,

    // mixed int/long file generations read as one BIGINT column
    "q102_type_widening" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,

    // the exact feed: v2 deletes the % 11 = 3 docs; v3 pairs a delete of
    // each still-live % 13 = 2 doc with its corrected insert
    "q107_change_feed" ->
      """SELECT CAST(2 AS BIGINT) AS commit_version, 'delete' AS change_type,
        |  doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 11 = 3
        |UNION ALL
        |SELECT 3, 'delete', doc_id, CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 13 = 2 AND doc_id % 11 <> 3
        |UNION ALL
        |SELECT 3, 'insert', doc_id, CAST(n_chars AS BIGINT) + 500
        |FROM documents WHERE doc_id % 13 = 2 AND doc_id % 11 <> 3
        |UNION ALL
        |SELECT 4, 'delete', doc_id,
        |  CAST(CASE WHEN doc_id % 13 = 2 THEN n_chars + 500
        |       ELSE n_chars END AS BIGINT)
        |FROM documents WHERE doc_id % 17 = 4 AND doc_id % 11 <> 3
        |ORDER BY commit_version, change_type, doc_id""".stripMargin,

    // the merge-on-read UPDATE's logical view: every doc once, corrected
    // lengths where doc_id % 9 = 5
    "q106_mor_update" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 9 = 5 THEN n_chars + 1000
        |                ELSE n_chars END) AS BIGINT) AS sum_chars,
        |  CAST(max(CASE WHEN doc_id % 9 = 5 THEN n_chars + 1000
        |                ELSE n_chars END) AS BIGINT) AS max_chars
        |FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,

    // the hidden-partitioned table must agree with the flat parquet on the
    // same raw-ts range
    "q104_hidden_partitioning" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= timestamp'2024-01-02 00:00:00'
        |  AND ts < timestamp'2024-01-04 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // last-writer-wins per doc_id across the three streamed epochs:
    // epoch 2 (doc_id%5=2, 'u2') beats epoch 1 (doc_id%7=1, 'u1') beats
    // the backfill
    "q110_streaming_upsert" ->
      """SELECT CASE WHEN doc_id % 5 = 2 THEN 'u2'
        |            WHEN doc_id % 7 = 1 THEN 'u1'
        |            ELSE source END AS source,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 5 = 2 THEN n_chars + 2000
        |                WHEN doc_id % 7 = 1 THEN n_chars + 1000
        |                ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,

    // the streamed change log: v1 backfill inserts, v2's MoR delete rows,
    // v3's upsert as delete(old generation, minus already-dead)+insert(new)
    "q109_streaming_cdf" ->
      """SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
        |  doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT 2, 'delete', doc_id, CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 3
        |UNION ALL
        |SELECT 3, 'delete', doc_id, CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 13 = 2 AND doc_id % 11 <> 3
        |UNION ALL
        |SELECT 3, 'insert', doc_id, CAST(n_chars AS BIGINT) + 500
        |FROM documents WHERE doc_id % 13 = 2
        |ORDER BY commit_version, change_type, doc_id""".stripMargin,

    // the identity-partitioned feed carries the partition column's values
    // (re-inferred from directory names) on every insert AND delete row
    "q111_partitioned_cdf" ->
      """SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
        |  doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT 2, 'delete', doc_id, lang, CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 3
        |UNION ALL
        |SELECT 3, 'delete', doc_id, lang, CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 13 = 2 AND doc_id % 11 <> 3
        |UNION ALL
        |SELECT 3, 'insert', doc_id, lang, CAST(n_chars AS BIGINT) + 500
        |FROM documents WHERE doc_id % 13 = 2
        |ORDER BY commit_version, change_type, doc_id""".stripMargin,

    // era-A rows (written before meta.lang existed) group under '<none>'
    // and materialize meta.qual's declared DEFAULT ('unscored'); era-B
    // rows carry their lang and an explicit qual inside the struct
    "q116_nested_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 1 THEN lang ELSE '<none>' END AS lang2,
        |  CASE WHEN doc_id % 2 = 0 THEN 'unscored'
        |       WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS qual,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the paired change log (X104): v1 plain inserts; v2's one upsert
    // batch splits BY KEY into update pairs (existing doc_id%6=1, same
    // keys on both sides) and plain inserts (fresh doc_id+10000000 for
    // doc_id%7=2); v3's keys-only delete (doc_id%10=3, no re-insert)
    // stays a plain delete even in paired mode
    "q118_update_pairing" ->
      """SELECT 1 AS commit_version, 'insert' AS change_type,
        |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |UNION ALL
        |SELECT 2, 'insert', count(*), CAST(sum(doc_id + 10000000) AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 2
        |UNION ALL
        |SELECT 2, 'update_postimage', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 1
        |UNION ALL
        |SELECT 2, 'update_preimage', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 1
        |UNION ALL
        |SELECT 3, 'delete', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 10 = 3
        |ORDER BY commit_version, change_type""".stripMargin,

    // q26's brute-force re-rank, but over the vectors ROUND-TRIPPED
    // through the engine's own columnar-scanned table — the oracle reads
    // the source parquet, so any array-decode drift would hash-mismatch
    "q119_columnar_embedding_store" ->
      """SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // the change log's per-commit aggregate: v1 inserts the corpus, v2
    // MoR-deletes doc_id%10=3, v3 upserts doc_id%6=1 (insert + deletes of
    // the keys' surviving older generations — rows v2 already killed do
    // not re-emit)
    "q115_changes_table" ->
      """SELECT 1 AS commit_version, 'insert' AS change_type,
        |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |UNION ALL
        |SELECT 2, 'delete', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT 3, 'delete', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 1 AND doc_id % 10 <> 3
        |UNION ALL
        |SELECT 3, 'insert', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 1
        |ORDER BY commit_version, change_type""".stripMargin,

    // both eras' rows (written under months(ts) and, post-evolution,
    // days(ts)) must aggregate identically to the plain union — the
    // layout split is invisible to results
    "q114_partition_evolution" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // both phases (mixed bucket eras; post-compact unified) must show the
    // identical aggregate — the bucket layout split is invisible to results
    "q117_bucket_evolution" ->
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents
        |  WHERE doc_id < 300 OR doc_id IN (301, 302, 303)
        |  GROUP BY source
        |)
        |SELECT 'mixed' AS phase, source, n_docs, sum_chars FROM agg
        |UNION ALL
        |SELECT 'unified' AS phase, source, n_docs, sum_chars FROM agg
        |ORDER BY phase, source""".stripMargin,

    // the MIRROR (replicated commit-by-commit through the change feed +
    // apply-changes sink) must aggregate identically to the source's
    // final state: upserts applied last-writer-wins, deleted keys absent,
    // a deleted-then-reupserted key present with its newest values
    "q113_cdc_mirror" ->
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 4 THEN 'cdc2'
        |         WHEN doc_id % 6 = 1 THEN 'cdc'
        |         ELSE source END AS source,
        |    CAST(CASE WHEN doc_id % 9 = 4 THEN n_chars + 111
        |              WHEN doc_id % 6 = 1 THEN n_chars + 777
        |              ELSE n_chars END AS BIGINT) AS n_chars
        |  FROM documents
        |  WHERE doc_id % 9 = 4 OR doc_id % 10 <> 3
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM fin GROUP BY source ORDER BY source""".stripMargin,

    // all three phases (through the equality-delete key filters; after a
    // partition-scoped compact; after the full compact) must show the
    // corpus with the CDC batch's n_chars corrections applied
    "q112_scoped_compact" ->
      """WITH upserted AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN doc_id % 6 = 1 THEN n_chars + 777
        |              ELSE n_chars END AS BIGINT) AS n_chars
        |  FROM documents
        |), agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM upserted GROUP BY source
        |)
        |SELECT p.phase, a.source, a.n_docs, a.sum_chars
        |FROM agg a CROSS JOIN (SELECT 'mor' AS phase
        |  UNION ALL SELECT 'scoped' UNION ALL SELECT 'full') p
        |ORDER BY p.phase, a.source""".stripMargin,

    // both phases (reading through the equality-delete key filters; after
    // the fold) must show the corpus with the CDC batch's rows replacing
    // their older generations
    "q108_equality_upsert" ->
      """WITH upserted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 1 THEN 'cdc' ELSE source END AS source,
        |    CAST(CASE WHEN doc_id % 6 = 1 THEN n_chars + 777
        |              ELSE n_chars END AS BIGINT) AS n_chars
        |  FROM documents
        |), agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM upserted GROUP BY source
        |)
        |SELECT p.phase, a.source, a.n_docs, a.sum_chars
        |FROM agg a CROSS JOIN (SELECT 'mor' AS phase UNION ALL SELECT 'folded') p
        |ORDER BY p.phase, a.source""".stripMargin,

    // both phases (reading through delete files; after the fold) must show
    // the corpus minus the deleted rows
    "q103_mor_delete" ->
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents WHERE doc_id % 7 <> 3 GROUP BY source
        |)
        |SELECT p.phase, a.source, a.n_docs, a.sum_chars
        |FROM agg a CROSS JOIN (SELECT 'mor' AS phase UNION ALL SELECT 'folded') p
        |ORDER BY p.phase, a.source""".stripMargin,

    // after fast_forward the published table holds the whole corpus
    "q99_wap_branch" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,

    // pre-ALTER files carry no cohort field: the reader default supplies
    // 'legacy' for exactly the even doc_ids
    "q98_default_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'legacy' ELSE 'fresh' END AS cohort,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // both generations (old-shape files read via alias, new-shape direct)
    // must aggregate as if the table had always had the final schema
    "q97_rename_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // same tokenization (whitespace split of trimmed text), same trimmed
    // non-empty lines, same integer-exact ratio comparisons as the Spark
    // flags; TRUE OR NULL = TRUE makes the empty-denominator guards agree
    "q93_quality_rules" ->
      """WITH m AS (
        |  SELECT source,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS ls,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ell,
        |    contains(lower(text), 'lorem ipsum') AS lorem,
        |    contains(text, '{') AS brace
        |  FROM documents
        |), f AS (
        |  SELECT source,
        |    len(ws) AS n_words,
        |    COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS swc,
        |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
        |    len(list_distinct(list_filter(list_transform(ws, x -> lower(x)),
        |      x -> x IN ('the','be','to','of','and','that','have','with')))) AS stops,
        |    hashes, ell, lorem, brace,
        |    len(ls) AS n_lines,
        |    len(list_filter(ls, l -> starts_with(l, '-') OR starts_with(l, '*'))) AS bullets,
        |    len(list_filter(ls, l -> ends_with(l, '...'))) AS ells
        |  FROM m
        |), r AS (
        |  SELECT source,
        |    (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        |    (n_words = 0 OR (swc >= n_words * 3 AND swc <= n_words * 10)) AS r_mean_word_len,
        |    (n_words = 0 OR (hashes + ell) * 10 <= n_words) AS r_symbol_ratio,
        |    (n_words = 0 OR alpha * 10 >= n_words * 8) AS r_alpha_words,
        |    (n_lines = 0 OR bullets * 10 <= n_lines) AS r_bullet_lines,
        |    (n_lines = 0 OR ells * 10 <= n_lines * 3) AS r_ellipsis_lines,
        |    (stops >= 2) AS r_stopwords,
        |    (NOT lorem) AS r_no_lorem,
        |    (NOT brace) AS r_no_brace
        |  FROM f
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN r_word_count AND r_mean_word_len AND r_symbol_ratio
        |    AND r_alpha_words AND r_bullet_lines AND r_ellipsis_lines
        |    AND r_stopwords AND r_no_lorem AND r_no_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN NOT r_word_count THEN 1 ELSE 0 END) AS BIGINT) AS f_word_count,
        |  CAST(sum(CASE WHEN NOT r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS f_mean_word_len,
        |  CAST(sum(CASE WHEN NOT r_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol_ratio,
        |  CAST(sum(CASE WHEN NOT r_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha_words,
        |  CAST(sum(CASE WHEN NOT r_bullet_lines THEN 1 ELSE 0 END) AS BIGINT) AS f_bullet_lines,
        |  CAST(sum(CASE WHEN NOT r_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT) AS f_ellipsis_lines,
        |  CAST(sum(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS f_stopwords,
        |  CAST(sum(CASE WHEN NOT r_no_lorem THEN 1 ELSE 0 END) AS BIGINT) AS f_no_lorem,
        |  CAST(sum(CASE WHEN NOT r_no_brace THEN 1 ELSE 0 END) AS BIGINT) AS f_no_brace
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // bucketing is layout, invisible to results: the bucketed-table join
    // mirrors a plain self-join of the source frame
    "q92_bucketed_join" ->
      """SELECT q.lang, d.source, count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN documents q ON d.doc_id = q.doc_id
        |GROUP BY q.lang, d.source ORDER BY q.lang, d.source""".stripMargin,

    // identical tokenization (whitespace split, empties dropped) and
    // deterministic (count desc, ngram asc) tie-break on both sides
    "q91_top_ngrams" ->
      """WITH words AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
        |  FROM documents
        |), grams AS (
        |  SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
        |    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS ngram
        |  FROM words WHERE len(ws) >= 3
        |)
        |SELECT ngram, count(*) AS n FROM grams
        |GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 20""".stripMargin,

    "q21_text_features" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9]')) AS BIGINT) AS n_subwords,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |         t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS BIGINT) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, n_chars, n_tokens, n_subwords, n_punct, n_stopwords,
        |  ((CASE WHEN n_tokens = 0 THEN 0
        |         WHEN n_chars * 10 >= n_tokens * 30 AND n_chars * 10 <= n_tokens * 120 THEN 1000
        |         ELSE 0 END)
        |   + (CASE WHEN n_tokens = 0 THEN 0 ELSE least(n_stopwords * 1000 * 5 / n_tokens, 1000) END)
        |   + (CASE WHEN n_chars = 0 THEN 0 WHEN n_punct * 10 <= n_chars THEN 1000 ELSE 0 END)
        |  ) / 3000.0 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,

    // chunking re-done in SQL: same token list, 1-based inclusive slices of
    // 32 at stride 24, chunk count = ceil(max(n-8,1)/24)
    "q65_text_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, nt,
        |    CAST(ceil(CAST(greatest(nt - 8, 1) AS DOUBLE) / 24) AS BIGINT) AS nchunks
        |  FROM n)
        |SELECT doc_id, CAST(f AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[f * 24 + 1 : f * 24 + 32], ' ') AS chunk,
        |  CAST(len(toks[f * 24 + 1 : f * 24 + 32]) AS INTEGER) AS n_tokens
        |FROM c, UNNEST(generate_series(0, nchunks - 1)) AS u(f)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // budget selection re-done in SQL: same quality formula as q21, global
    // running token total via a window, keep rows with cum <= 20000
    "q63_token_budget_mix" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |         t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS BIGINT) AS n_stopwords
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    ((CASE WHEN n_tokens = 0 THEN 0
        |           WHEN n_chars * 10 >= n_tokens * 30 AND n_chars * 10 <= n_tokens * 120 THEN 1000
        |           ELSE 0 END)
        |     + (CASE WHEN n_tokens = 0 THEN 0 ELSE least(n_stopwords * 1000 * 5 / n_tokens, 1000) END)
        |     + (CASE WHEN n_chars = 0 THEN 0 WHEN n_punct * 10 <= n_chars THEN 1000 ELSE 0 END)
        |    ) / 3000.0 AS quality
        |  FROM f),
        |c AS (
        |  SELECT doc_id, n_tokens, quality,
        |    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
        |  FROM q)
        |SELECT doc_id, n_tokens, CAST(round(quality, 9) AS DOUBLE) AS quality
        |FROM c WHERE cum <= 20000 ORDER BY doc_id""".stripMargin,

    // Replicates LangId.detect (stopword-profile voting; tie-break = count
    // desc, then profile first-letter asc, then profile order — the Scala
    // maxBy ordering) and TextHashing.rollingHash (Karp–Rabin base 257 mod
    // 2^64, signed). Exact because the corpus is pure ASCII, so Java charAt
    // == codepoint. The CJK branch never fires on ASCII input.
    "q22_lang_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')[1:500] AS toks,
        |    list_transform(generate_series(1, length(text)), i -> unicode(text[i])) AS cps
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for','on','with'], t))) AS n_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con'], t))) AS n_es,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','in','den','von','zu','mit','ein','eine'], t))) AS n_de,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','dans','que','pour','sur'], t))) AS n_fr,
        |    len(list_filter(toks, t -> list_contains(['il','la','di','che','e','un','una','per','non','sono','con','del'], t))) AS n_it,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(cps, c -> CAST(c AS HUGEINT))),
        |      (acc, c) -> (acc * 257 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM f),
        |r AS (
        |  SELECT doc_id,
        |    (SELECT code FROM (VALUES ('en', n_en, 0, ascii('e')), ('es', n_es, 1, ascii('e')),
        |                              ('de', n_de, 2, ascii('d')), ('fr', n_fr, 3, ascii('f')),
        |                              ('it', n_it, 4, ascii('i'))) AS v(code, n, pos, fc)
        |     ORDER BY n DESC, fc ASC, pos ASC LIMIT 1) AS best,
        |    greatest(n_en, n_es, n_de, n_fr, n_it) AS mx,
        |    CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |              THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT) AS fingerprint
        |  FROM s)
        |SELECT doc_id, CASE WHEN mx = 0 THEN 'und' ELSE best END AS lang_pred, fingerprint
        |FROM r ORDER BY doc_id""".stripMargin,

    // Exact all-pairs word-3-gram Jaccard ≥ 0.7 (same gram definition as
    // Dedup.wordGrams incl. the <3-token fallback). Matches the Spark side
    // because q23 reports EXACT similarity for LSH-proposed candidates and
    // 32 bands × 4 rows proposes a pair at j ≥ 0.7 w.p. ≥ 0.9998.
    "q23_minhash_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, (
        |    WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks)
        |    SELECT CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |                WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                ELSE list_distinct(list_transform(generate_series(1, len(toks)-2),
        |                     i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) END
        |    FROM t) AS grams
        |  FROM documents)
        |SELECT id_a, id_b, CAST(round(jac, 9) AS DOUBLE) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jac
        |  FROM g a, g b
        |  WHERE a.doc_id < b.doc_id AND len(list_intersect(a.grams, b.grams)) > 0)
        |WHERE jac >= 0.7 ORDER BY id_a, id_b""".stripMargin,

    // SimHash-64 (FNV-1a-64 per token, per-bit majority vote) in pure SQL:
    // HUGEINT arithmetic emulates unsigned 64-bit wraparound; the low-byte
    // xor identity works because FNV folds in one byte (< 256) at a time.
    // Recall is structural (4×16-bit pigeonhole covers Hamming ≤ 3), so the
    // all-pairs oracle matches the bucketed Spark plan exactly.
    "q24_simhash_pairs" -> (simhashPairsOracleSql + "\nORDER BY id_a, id_b"),

    // near-dup CLUSTERS: connected components over the q24 pair graph —
    // the oracle re-derives the same pairs, then walks reachability with a
    // recursive CTE and labels each doc with its component's min id
    "q62_neardup_components" ->
      s"""WITH RECURSIVE
        |pairs AS (SELECT id_a, id_b FROM ($simhashPairsOracleSql) q),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b AS a, id_a AS b FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT e.a, w.label FROM e JOIN walk w ON w.id = e.b)
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS component
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    // q62's labels as the split-assignment unit; the cut thresholds are
    // written as the SAME float partial sums Scala's scanLeft computes
    // (0.8 + 0.1 is NOT the literal 0.9 in IEEE doubles)
    "q101_leakage_safe_split" ->
      s"""WITH RECURSIVE
        |pairs AS (SELECT id_a, id_b FROM ($simhashPairsOracleSql) q),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b AS a, id_a AS b FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT e.a, w.label FROM e JOIN walk w ON w.id = e.b),
        |comp AS (SELECT id, CAST(min(label) AS BIGINT) AS lbl FROM walk GROUP BY id),
        |g AS (
        |  SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS grp
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |h AS (
        |  SELECT doc_id,
        |    CAST(('0x'||substr(md5(CAST(grp AS VARCHAR)||'#r15'),1,8)) AS BIGINT)/4294967296.0 AS u
        |  FROM g)
        |SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < (0.8 + 0.1) THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,

    // q62's labeling applied as a filter: drop docs whose component label
    // is a DIFFERENT doc's id; docs outside the pair graph survive
    "q64_neardup_dedup" ->
      s"""WITH RECURSIVE
        |pairs AS (SELECT id_a, id_b FROM ($simhashPairsOracleSql) q),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b AS a, id_a AS b FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT e.a, w.label FROM e JOIN walk w ON w.id = e.b),
        |comp AS (SELECT id, min(label) AS lbl FROM walk GROUP BY id)
        |SELECT d.doc_id, d.source FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |WHERE c.id IS NULL OR c.lbl = d.doc_id ORDER BY d.doc_id""".stripMargin,

    // Exact blocked (same-source) word-3-gram Jaccard ≥ 0.5; <3-token docs
    // have an empty gram set (ngramJaccard contract — no fallback gram).
    "q25_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, source, (
        |    WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks)
        |    SELECT CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |                ELSE list_distinct(list_transform(generate_series(1, len(toks)-2),
        |                     i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) END
        |    FROM t) AS grams
        |  FROM documents)
        |SELECT id_a, id_b, CAST(round(jac, 9) AS DOUBLE) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jac
        |  FROM g a, g b
        |  WHERE a.source = b.source AND a.doc_id < b.doc_id
        |    AND len(list_intersect(a.grams, b.grams)) > 0)
        |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // Word-8-gram overlap vs the planted eval set (doc_id % 50 = 0). The
    // gram CTE mirrors Dedup.wordGrams exactly: distinct grams, <8-token
    // docs collapse to one whole-token-sequence gram, empty text → no gram.
    "q47_decontam_flags" ->
      """WITH g AS (
        |  SELECT doc_id, (
        |    WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks)
        |    SELECT list_distinct(CASE
        |      WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |      WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 7),
        |           i -> array_to_string(toks[i:i+7], ' ')) END)
        |    FROM t) AS grams
        |  FROM documents),
        |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0),
        |dg AS (SELECT doc_id, unnest(grams) AS gram FROM g)
        |SELECT dg.doc_id AS id, count(*) AS n_overlap
        |FROM dg JOIN eg USING (gram)
        |GROUP BY 1 HAVING count(*) >= 1 ORDER BY id""".stripMargin,

    // The shipped filter: corpus minus every doc with >= 1 eval-gram hit.
    "q48_decontam_filter" ->
      """WITH g AS (
        |  SELECT doc_id, (
        |    WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks)
        |    SELECT list_distinct(CASE
        |      WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |      WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(generate_series(1, len(toks) - 7),
        |           i -> array_to_string(toks[i:i+7], ' ')) END)
        |    FROM t) AS grams
        |  FROM documents),
        |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0),
        |dg AS (SELECT doc_id, unnest(grams) AS gram FROM g)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT DISTINCT dg.doc_id FROM dg JOIN eg USING (gram))
        |ORDER BY doc_id""".stripMargin,

    // Max bigram multiplicity via unnest + group-by (equals the engine's
    // sorted-array longest-equal-run fold); token/dup fractions are exact
    // integer arithmetic until the final double division.
    "q49_repetition_metrics" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(generate_series(1, len(toks) - 1),
        |              i -> concat(toks[i], ' ', toks[i+1])) END AS bgs
        |  FROM t),
        |mm AS (
        |  SELECT doc_id, max(c) AS max_mult FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bgs) AS g FROM b) GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(round(CASE WHEN len(bgs) = 0 THEN 0.0
        |    ELSE CAST(mm.max_mult AS DOUBLE) / len(bgs) END, 9) AS DOUBLE) AS top_bigram_frac,
        |  CAST(round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 9) AS DOUBLE) AS dup_token_frac
        |FROM b LEFT JOIN mm USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Exact nearest neighbor of each perturbed probe. The probe floats are
    // reproduced bit-for-bit (float × double literal → double, IEEE-rounded
    // back to float, identical in both engines); the probe's source sits at
    // sim ≈ 0.995 vs a ≤ 0.52 continuous tail, so the exact argmax equals
    // the LSH result (per-probe miss ~5e-11 at 8 planes × 16 tables).
    // exhaustive-probe IVF-PQ with a wide shortlist achieves recall 1 here,
    // so the exact brute-force top-1 oracle applies
    "q90_ivfpq_topk" ->
      """WITH probes AS (
        |  SELECT vec_id AS q_id,
        |    list_transform(generate_series(1, len(embedding)), i ->
        |      CAST(embedding[i] * (CASE WHEN (i - 1) % 2 = 0
        |        THEN CAST(1.1 AS DOUBLE) ELSE CAST(0.9 AS DOUBLE) END) AS FLOAT)) AS qe
        |  FROM embeddings WHERE vec_id < 8)
        |SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT p.q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM probes p, embeddings c)
        |WHERE rank <= 1 ORDER BY q_id""".stripMargin,

    // PQ shortlist + exact re-rank achieves recall 1 here, so the oracle is
    // the same exact brute-force top-1 as the LSH path's
    "q89_pq_ann_topk" ->
      """WITH probes AS (
        |  SELECT vec_id AS q_id,
        |    list_transform(generate_series(1, len(embedding)), i ->
        |      CAST(embedding[i] * (CASE WHEN (i - 1) % 2 = 0
        |        THEN CAST(1.1 AS DOUBLE) ELSE CAST(0.9 AS DOUBLE) END) AS FLOAT)) AS qe
        |  FROM embeddings WHERE vec_id < 8)
        |SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT p.q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM probes p, embeddings c)
        |WHERE rank <= 1 ORDER BY q_id""".stripMargin,

    "q28_ann_topk" ->
      """WITH probes AS (
        |  SELECT vec_id AS q_id,
        |    list_transform(generate_series(1, len(embedding)), i ->
        |      CAST(embedding[i] * (CASE WHEN (i - 1) % 2 = 0
        |        THEN CAST(1.1 AS DOUBLE) ELSE CAST(0.9 AS DOUBLE) END) AS FLOAT)) AS qe
        |  FROM embeddings WHERE vec_id < 8)
        |SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT p.q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM probes p, embeddings c)
        |WHERE rank <= 1 ORDER BY q_id""".stripMargin,

    // The stub decode is byte statistics over UTF-8 content; the ASCII
    // corpus makes bytes == codepoints, so SQL reproduces it exactly.
    "q30_multimodal_stats" ->
      """SELECT doc_id AS asset_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)), i -> unicode(text[i]))) AS BIGINT) AS sum_bytes,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)), i -> unicode(text[i]))) * 1000 // length(text) AS BIGINT) AS mean_byte_x1000,
        |  CAST(16 + length(text) % 64 AS INTEGER) AS width,
        |  CAST(16 + length(text) % 48 AS INTEGER) AS height
        |FROM documents ORDER BY asset_id""".stripMargin,

    // the WAV fixtures are arithmetic: (a%30+1)*160 frames at 16 kHz mono,
    // sample i = (a*31 + i*7) % 2048 - 1024 — every parsed field reproduces
    "q53_wav_audio_meta" ->
      """SELECT doc_id AS asset_id,
        |  16000 AS sample_rate, 1 AS channels, 16 AS bits_per_sample,
        |  CAST((doc_id % 30 + 1) * 160 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 30 + 1) * 10 AS BIGINT) AS duration_ms,
        |  CAST(list_sum(list_transform(generate_series(0, (doc_id % 30 + 1) * 160 - 1),
        |    i -> (doc_id * 31 + i * 7) % 2048 - 1024)) AS BIGINT) AS sum_samples
        |FROM documents ORDER BY asset_id""".stripMargin,

    // the PNM fixtures are arithmetic: (4 + a%13)x(3 + a%11), 3 channels on
    // even ids (P6) / 1 on odd (P5), sample i = (a*31 + i*7) % 256 — parsed
    // dims and the raster sum reproduce in SQL
    "q54_pnm_image_meta" ->
      """SELECT asset_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(ch AS INTEGER) AS channels, 255 AS maxval,
        |  CAST(list_sum(list_transform(generate_series(0, w * h * ch - 1),
        |    i -> (asset_id * 31 + i * 7) % 256)) AS BIGINT) AS sum_pixels
        |FROM (SELECT doc_id AS asset_id, 4 + doc_id % 13 AS w,
        |        3 + doc_id % 11 AS h,
        |        CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
        |      FROM documents)
        |ORDER BY asset_id""".stripMargin,

    // nearest-neighbor to 8x6: target interleaved index j decomposes to
    // ty = j // (8*ch), tx = (j % (8*ch)) // ch, c = j % ch; the sampled
    // source index is ((ty*h//6)*w + tx*w//8)*ch + c and its value follows
    // the same (a*31 + i*7) % 256 fixture formula
    "q55_pnm_resize" ->
      """SELECT asset_id,
        |  8 AS width, 6 AS height,
        |  CAST(ch AS INTEGER) AS channels, 255 AS maxval,
        |  CAST(list_sum(list_transform(generate_series(0, 48 * ch - 1),
        |    j -> (asset_id * 31 +
        |          ((((j // (8 * ch)) * h // 6) * w
        |            + ((j % (8 * ch)) // ch) * w // 8) * ch + j % ch) * 7
        |         ) % 256)) AS BIGINT) AS sum_pixels
        |FROM (SELECT doc_id AS asset_id, 4 + doc_id % 13 AS w,
        |        3 + doc_id % 11 AS h,
        |        CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
        |      FROM documents)
        |ORDER BY asset_id""".stripMargin,

    // PII scrub: plant → count → redact re-done in SQL with the same
    // engine-portable patterns ('g' = replace-all, matching Spark's
    // default); counts are STAGED like the redaction, so each n_X equals
    // the <X> tokens emitted
    "q61_pii_redaction" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com via 10.0.' ||
        |    (doc_id % 256) || '.7 acct ' || (doc_id * 1000003 + 123456789) AS text
        |  FROM documents),
        |staged AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS post_email
        |  FROM planted),
        |staged2 AS (
        |  SELECT doc_id, text, post_email,
        |    regexp_replace(post_email, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS post_ip
        |  FROM staged)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(post_email, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(post_ip, '\d{9,}')) AS INTEGER) AS n_idnums,
        |  md5(regexp_replace(post_ip, '\d{9,}', '<ID>', 'g')) AS redacted_md5
        |FROM staged2 ORDER BY doc_id""".stripMargin,

    // the Y4M fixtures are arithmetic: (8 + a%5*2)x(6 + a%4*2) C420 at
    // (5 + a%5):1 fps, (a%6 + 2) frames, frame f byte i = (a*31+f*17+i*7)%256
    // — parsed geometry/rate and the full-payload byte sum reproduce in SQL
    // (frame bytes fb = w*h*3/2; j decomposes as f = j//fb, i = j%fb)
    "q59_y4m_video_meta" ->
      """SELECT doc_id AS asset_id,
        |  CAST(8 + (doc_id % 5) * 2 AS INTEGER) AS width,
        |  CAST(6 + (doc_id % 4) * 2 AS INTEGER) AS height,
        |  CAST(5 + doc_id % 5 AS INTEGER) AS fps_num, 1 AS fps_den,
        |  CAST(doc_id % 6 + 2 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 6 + 2) * 1000 // (5 + doc_id % 5) AS BIGINT) AS duration_ms,
        |  CAST(list_sum(list_transform(generate_series(0, (doc_id % 6 + 2) * ((8 + (doc_id % 5) * 2) * (6 + (doc_id % 4) * 2) * 3 // 2) - 1),
        |    j -> (doc_id * 31 + (j // ((8 + (doc_id % 5) * 2) * (6 + (doc_id % 4) * 2) * 3 // 2)) * 17
        |          + (j % ((8 + (doc_id % 5) * 2) * (6 + (doc_id % 4) * 2) * 3 // 2)) * 7) % 256)) AS BIGINT) AS sum_bytes
        |FROM documents ORDER BY asset_id""".stripMargin,

    // every 2nd frame's LUMA plane as a PGM image: key = asset*100 + frame,
    // raster sum over the first w*h bytes of that frame's deterministic fill
    "q60_y4m_frame_sample" ->
      """SELECT a * 100 + f AS asset_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  1 AS channels, 255 AS maxval,
        |  CAST(list_sum(list_transform(generate_series(0, w * h - 1),
        |    i -> (a * 31 + f * 17 + i * 7) % 256)) AS BIGINT) AS sum_pixels
        |FROM (SELECT doc_id AS a, 8 + (doc_id % 5) * 2 AS w, 6 + (doc_id % 4) * 2 AS h,
        |        doc_id % 6 + 2 AS n FROM documents),
        |  UNNEST(generate_series(0, n - 1)) AS t(f)
        |WHERE f % 2 = 0
        |ORDER BY asset_id""".stripMargin,

    "q31_frame_sample" ->
      """SELECT asset_id, CAST(g AS BIGINT) AS frame_idx, CAST(g * 250 AS BIGINT) AS ts_ms
        |FROM (SELECT doc_id AS asset_id,
        |        unnest(generate_series(0, (1000 * (1 + doc_id % 30) - 1) // 250)) AS g
        |      FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY asset_id, frame_idx""".stripMargin,

    // Composition of the verified q20/q21/q22 fragments: dedup keep-set,
    // q21's quality arithmetic, q22's language vote, then the two filters.
    "q33_curation" ->
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d AS (
        |  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM keep)),
        |f AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')[1:500] AS toks,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |         t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS BIGINT) AS n_stopwords
        |  FROM d),
        |lang AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for','on','with'], t))) AS n_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con'], t))) AS n_es,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','in','den','von','zu','mit','ein','eine'], t))) AS n_de,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','dans','que','pour','sur'], t))) AS n_fr,
        |    len(list_filter(toks, t -> list_contains(['il','la','di','che','e','un','una','per','non','sono','con','del'], t))) AS n_it
        |  FROM f),
        |scored AS (
        |  SELECT f.doc_id,
        |    CASE WHEN greatest(n_en, n_es, n_de, n_fr, n_it) = 0 THEN 'und'
        |         ELSE (SELECT code FROM (VALUES ('en', n_en, 0, ascii('e')), ('es', n_es, 1, ascii('e')),
        |                                        ('de', n_de, 2, ascii('d')), ('fr', n_fr, 3, ascii('f')),
        |                                        ('it', n_it, 4, ascii('i'))) AS v(code, n, pos, fc)
        |               ORDER BY n DESC, fc ASC, pos ASC LIMIT 1) END AS lang_pred,
        |    ((CASE WHEN n_tokens = 0 THEN 0
        |           WHEN n_chars * 10 >= n_tokens * 30 AND n_chars * 10 <= n_tokens * 120 THEN 1000
        |           ELSE 0 END)
        |     + (CASE WHEN n_tokens = 0 THEN 0 ELSE least(n_stopwords * 1000 * 5 / n_tokens, 1000) END)
        |     + (CASE WHEN n_chars = 0 THEN 0 WHEN n_punct * 10 <= n_chars THEN 1000 ELSE 0 END)
        |    ) / 3000.0 AS quality
        |  FROM f JOIN lang ON f.doc_id = lang.doc_id)
        |SELECT doc_id, lang_pred, CAST(round(quality, 9) AS DOUBLE) AS quality
        |FROM scored WHERE lang_pred = 'en' AND quality >= 0.5
        |ORDER BY doc_id""".stripMargin,

    // Exact all-pairs cosine ≥ 0.4 — the Spark plan is the same exact
    // blocked computation (cosineAllPairs), so this is a direct mirror.
    "q27_cosine_neardup" ->
      """SELECT id_a, id_b, CAST(round(sim0, 9) AS DOUBLE) AS sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim0
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |WHERE sim0 >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // kept = rows with no lower-id near neighbor; the NOT EXISTS mirrors the
    // drop rule literally
    "q79_semantic_dedup" ->
      """SELECT d.vec_id, d.label FROM embeddings d WHERE NOT EXISTS (
        |  SELECT 1 FROM embeddings e WHERE e.vec_id < d.vec_id AND
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(d.embedding AS DOUBLE[])) >= 0.4)
        |ORDER BY d.vec_id""".stripMargin,

    // Exhaustive-probe IVF ≡ brute force, so the q26 oracle applies verbatim.
    "q38_ivf_topk" ->
      """SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Self-probe (exact-copy) top-1 ≡ brute-force top-1 (see the query's
    // colinearity argument); the source itself is the expected hit, so
    // there is no q<>c exclusion.
    "q44_ivf_subexhaustive" ->
      """SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 8)
        |WHERE rank <= 1 ORDER BY q_id""".stripMargin,

    "q26_cosine_topk" ->
      """SELECT q_id, n_id, CAST(round(sim0, 9) AS DOUBLE) AS sim, rank FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim0,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // hashUnit(key, salt) ≡ CAST(('0x'||substr(md5(key||'#'||salt),1,8)) AS
    // BIGINT)/2^32 — engine-portable by construction (md5 hex slicing).
    "q40_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#r6'),1,8)) AS BIGINT)/4294967296.0 <
        |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75 WHEN 'src2' THEN 0.5
        |    WHEN 'src3' THEN 0.25 WHEN 'src4' THEN 0.125 WHEN 'src5' THEN 0.0625
        |    WHEN 'src6' THEN 0.5 WHEN 'src7' THEN 0.25 WHEN 'src8' THEN 0.75
        |    WHEN 'src9' THEN 0.5 END
        |ORDER BY doc_id""".stripMargin,

    // same alpha-sampling arithmetic, recomputed independently: sqrt is
    // correctly rounded IEEE in both engines and the 2^-20 rate grid
    // absorbs any last-ulp normalizer difference
    "q100_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY source
        |), z AS (SELECT sum(sqrt(n) ORDER BY source) AS z FROM c),
        |r AS (
        |  SELECT source,
        |    floor(LEAST(1.0, 30000 * sqrt(n) / (SELECT z FROM z) / n) * 1048576) / 1048576 AS rate
        |  FROM c
        |)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#r15'),1,8)) AS BIGINT)/4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,

    // exact-N per stratum: rank by the SAME hashUnit integer (the /2^32
    // division is order-preserving, so the oracle ranks the raw value)
    "q66_exact_stratum_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#r12'),1,8)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "q41_corpus_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 2.0 WHEN 'src2' THEN 1.5
        |      WHEN 'src3' THEN 1.0 WHEN 'src4' THEN 0.75 WHEN 'src5' THEN 0.5
        |      WHEN 'src6' THEN 0.25 WHEN 'src7' THEN 3.0 END AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source, w,
        |    unnest(generate_series(0, CAST(ceil(w) AS BIGINT) - 1)) AS epoch
        |  FROM w WHERE w IS NOT NULL AND w > 0)
        |SELECT doc_id, source, epoch FROM e
        |WHERE epoch < floor(w)
        |   OR CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#r6|'||CAST(epoch AS VARCHAR)),1,8)) AS BIGINT)/4294967296.0 < w - floor(w)
        |ORDER BY doc_id, epoch""".stripMargin,

    "q42_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(floor(tokens_before / 512.0) AS BIGINT) AS chunk_id,
        |  tokens_before - CAST(floor(tokens_before / 512.0) AS BIGINT) * 512 AS chunk_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q43_corpus_stats" ->
      """WITH t AS (
        |  SELECT source AS stratum,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT stratum, n_tokens,
        |    row_number() OVER (PARTITION BY stratum ORDER BY n_tokens) AS rn,
        |    count(*) OVER (PARTITION BY stratum) AS n
        |  FROM t)
        |SELECT stratum, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 9) AS DOUBLE) AS mean_tokens,
        |  max(CASE WHEN rn = ceil(0.5 * n) THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rn = ceil(0.9 * n) THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rn = ceil(0.99 * n) THEN n_tokens END) AS p99_tokens
        |FROM r GROUP BY stratum ORDER BY stratum""".stripMargin,

    // q57: exact columns are the q43 query verbatim; the *_in_bound booleans
    // are the sketch's cross-engine CONTRACT — the oracle asserts them TRUE,
    // the Spark side computes them from the measured rank of the sketch
    // value, so a bound violation fails the hash compare.
    "q57_corpus_stats_approx" ->
      """WITH t AS (
        |  SELECT source AS stratum,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT stratum, n_tokens,
        |    row_number() OVER (PARTITION BY stratum ORDER BY n_tokens) AS rn,
        |    count(*) OVER (PARTITION BY stratum) AS n
        |  FROM t)
        |SELECT stratum, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 9) AS DOUBLE) AS mean_tokens,
        |  max(CASE WHEN rn = ceil(0.5 * n) THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rn = ceil(0.9 * n) THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rn = ceil(0.99 * n) THEN n_tokens END) AS p99_tokens,
        |  TRUE AS p50_in_bound,
        |  TRUE AS p90_in_bound,
        |  TRUE AS p99_in_bound
        |FROM r GROUP BY stratum ORDER BY stratum""".stripMargin
  )
}
