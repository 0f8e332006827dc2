package graft.spark

import graft.avro.{AvroSchemaParser, Ocf}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, struct}

/** S2 at engine level: DataFrame rows → Avro Object Container File payloads
  * (the message-bus producer / file-sink shape, reference
  * python-udf/avro/datafile.py:140-289).
  *
  * Row→datum encoding rides the codegen'd `to_avro` expression — the one
  * [[CatalystAvroWriter]] encoder the graft-ocf sink writes files with; payload
  * assembly (header, ≤64 KB blocks, sync markers, codec) is partition-local
  * byte bookkeeping in `mapPartitions` — no shuffle, no driver funnel, so
  * the sink scales with executor count like any scan. */
object OcfSink {

  /** Pack every partition's rows into OCF payload blobs of at most
    * `datumsPerPayload` datums each. Output: one `payload: binary` column.
    * Deterministic sync markers (schema-fingerprint-derived) keep output
    * reproducible across runs and engines. */
  def payloads(df: DataFrame, schemaJson: String, codecName: String = "null",
               datumsPerPayload: Int = 5000): DataFrame = {
    require(datumsPerPayload > 0, s"datumsPerPayload must be positive; got $datumsPerPayload")
    val schema = AvroSchemaParser.parse(schemaJson)
    // columns are matched to Avro fields BY NAME (and reordered to schema
    // field order) — positional pairing would silently swap same-typed
    // columns into each other's fields
    val fieldNames = schema match {
      case r: graft.avro.ARecord => r.fields.map(_.name)
      case other => throw new IllegalArgumentException(
        s"OCF sink requires a record schema; got ${other.typeName}")
    }
    val missing = fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"DataFrame lacks columns for Avro fields: ${missing.mkString(", ")} " +
        s"(have: ${df.columns.mkString(", ")})")
    val encoded = df
      .select(functions.to_avro(struct(fieldNames.map(col): _*), schemaJson).as("datum"))
      .select(col("datum")).as(Encoders.BINARY)
    encoded.mapPartitions { datums =>
      datums.grouped(datumsPerPayload).map(group =>
        Ocf.writePreEncoded(schema, group.iterator, codecName))
    }(Encoders.BINARY).toDF("payload")
  }
}
