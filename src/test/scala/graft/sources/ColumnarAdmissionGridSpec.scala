package graft.sources

import graft.avro._
import org.scalatest.funsuite.AnyFunSuite

/** Which scalar (writer, reader) pairs the columnar scan lane admits: 18
  * writer types under 18 reader types, each plain or `["null", T]` on
  * either side, at top level, as array item, as map value and as struct
  * child — 5,184 cells. The golden set below was taken from the lane's
  * admission before its decoder became an emitter over `AvroResolver`'s
  * plan; the lane must keep admitting exactly these cells, so which lane a
  * scan takes does not move. */
class ColumnarAdmissionGridSpec extends AnyFunSuite {

  private val fixed = AFixed("F", None, 4)
  private val scalars: Seq[(String, AvroSchema)] = Seq(
    "null" -> ANull, "boolean" -> ABoolean, "int" -> AInt, "long" -> ALong,
    "float" -> AFloat, "double" -> ADouble, "bytes" -> ABytes, "string" -> AString,
    "fixed" -> fixed, "enum" -> AEnum("E", None, Seq("A", "B")),
    "decimal-bytes" -> ADecimal(9, 2, ABytes), "decimal-fixed" -> ADecimal(9, 2, fixed),
    "date" -> ADate(), "time-millis" -> ATimeMillis(), "time-micros" -> ATimeMicros(),
    "timestamp-millis" -> ATimestampMillis(), "timestamp-micros" -> ATimestampMicros(),
    "uuid" -> AUuid())

  /** The admitted (writer, reader) pairs: one Spark type on both sides, or
    * an Avro promotion into the reader's vector type. They are admitted at
    * every site and in every nullability, except a nullable writer under a
    * plain reader, which admits nothing. */
  private val admittedPairs: Set[(String, String)] = Set(
    "boolean" -> "boolean", "float" -> "float", "double" -> "double", "date" -> "date",
    "int" -> "int", "int" -> "time-millis", "time-millis" -> "int",
    "time-millis" -> "time-millis",
    "long" -> "long", "long" -> "time-micros", "time-micros" -> "long",
    "time-micros" -> "time-micros",
    "timestamp-millis" -> "timestamp-millis", "timestamp-millis" -> "timestamp-micros",
    "timestamp-micros" -> "timestamp-millis", "timestamp-micros" -> "timestamp-micros",
    "string" -> "string", "string" -> "uuid", "string" -> "enum",
    "uuid" -> "string", "uuid" -> "uuid", "uuid" -> "enum",
    "enum" -> "string", "enum" -> "uuid", "enum" -> "enum",
    "bytes" -> "bytes", "bytes" -> "fixed", "fixed" -> "bytes", "fixed" -> "fixed",
    "decimal-bytes" -> "decimal-bytes", "decimal-bytes" -> "decimal-fixed",
    "decimal-fixed" -> "decimal-bytes", "decimal-fixed" -> "decimal-fixed",
    "int" -> "long", "int" -> "time-micros", "int" -> "float", "int" -> "double",
    "long" -> "float", "long" -> "double", "float" -> "double",
    "string" -> "bytes", "string" -> "fixed",
    "bytes" -> "string", "bytes" -> "uuid", "bytes" -> "enum")

  private val sites: Seq[(String, AvroSchema => AvroSchema)] = Seq(
    "top level" -> (t => t),
    "array item" -> (t => AArray(t)),
    "map value" -> (t => AMap(t)),
    "struct child" -> (t => ARecord("S", None, Seq(AField("c", t)))))

  private def recordJson(site: AvroSchema => AvroSchema, t: AvroSchema, nullable: Boolean) =
    AvroSchemaParser.toJson(ARecord("R", None,
      Seq(AField("f", site(if (nullable) AUnion(Seq(ANull, t)) else t)))))

  test("the lane admits exactly the golden scalar cells at every site") {
    val cells = for {
      (siteName, site) <- sites
      writerNullable <- Seq(false, true)
      readerNullable <- Seq(false, true)
      (w, writer) <- scalars
      (r, reader) <- scalars
    } yield {
      val admitted = OcfColumnar.fieldsFor(recordJson(site, reader, readerNullable))
        .flatMap(OcfColumnar.wirePlanFor(recordJson(site, writer, writerNullable), _))
        .isDefined
      val expected = admittedPairs((w, r)) && !(writerNullable && !readerNullable)
      (s"$siteName: writer ${if (writerNullable) s"[null, $w]" else w} under reader " +
        s"${if (readerNullable) s"[null, $r]" else r}", admitted, expected)
    }
    assert(cells.length == 5184)
    val wrong = cells.collect { case (cell, got, want) if got != want =>
      s"$cell: ${if (got) "admitted" else "refused"}" }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    assert(cells.count(_._2) == 540)
  }
}
