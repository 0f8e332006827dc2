package graft.framing

import scala.collection.mutable.ArrayBuffer

/** Kinesis Producer Library aggregated-record de-aggregation.
  *
  * Hand-rolled proto2 wire parse of `AggregatedRecord` (protobuf-java is not a
  * guaranteed dependency). Message shapes:
  * {{{
  * message Record           { required uint64 partition_key_index = 1;
  *                            optional uint64 explicit_hash_key_index = 2;
  *                            required bytes data = 3; repeated Tag tags = 4; }
  * message AggregatedRecord { repeated string partition_key_table = 1;
  *                            repeated string explicit_hash_key_table = 2;
  *                            repeated Record records = 3; }
  * }}}
  * (reference: springcloud-lambda-udf/aggregated_record.proto:1-18,
  * lambda_function.py:142-155 `KPLClient.decode`.)
  */
object KplDeaggregator {
  final case class KplRecord(partitionKeyIndex: Long, explicitHashKeyIndex: Option[Long],
                             data: Array[Byte])
  final case class Aggregated(partitionKeys: Seq[String], explicitHashKeys: Seq[String],
                              records: Seq[KplRecord])

  /** KPL magic prefix `0xF3899AC2`; when present the payload is
    * magic + protobuf + 16-byte MD5 digest of the protobuf. The reference
    * fixture omits it, so both framings are accepted. */
  private val Magic = Array(0xf3.toByte, 0x89.toByte, 0x9a.toByte, 0xc2.toByte)
  private val DigestSize = 16

  /** A payload with the magic prefix whose MD5 trailer does not match is not
    * an aggregate: like the KCL and aws-kinesis-agg deaggregators, return it
    * whole as one record. */
  def decode(payload: Array[Byte]): Aggregated = {
    if (payload.length > Magic.length + DigestSize && payload.startsWith(Magic)) {
      val end = payload.length - DigestSize
      val md5 = java.security.MessageDigest.getInstance("MD5")
      md5.update(payload, Magic.length, end - Magic.length)
      if (java.util.Arrays.equals(md5.digest(), 0, DigestSize, payload, end, payload.length))
        parseAggregated(payload, Magic.length, end)
      else Aggregated(Nil, Nil, Seq(KplRecord(0, None, payload)))
    } else parseAggregated(payload, 0, payload.length)
  }

  /** Sub-payloads, the contract of the reference's `KPLClient.decode`. */
  def subPayloads(payload: Array[Byte]): Seq[Array[Byte]] = decode(payload).records.map(_.data)

  // ---- minimal proto2 wire reader ---------------------------------------
  private final class ProtoReader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        if (pos >= end) throw new IllegalArgumentException("truncated protobuf varint")
        b = buf(pos) & 0xff; pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    /** Read a length prefix and check that many bytes remain. */
    private def readLength(): Int = {
      val n = readVarint()
      if (n < 0 || n > Int.MaxValue) throw new IllegalArgumentException(s"bad protobuf length $n")
      n.toInt
    }
    private def advance(n: Int): Unit = {
      if (n > end - pos) throw new IllegalArgumentException(
        s"truncated protobuf: $n bytes at $pos, ${end - pos} left")
      pos += n
    }
    def readLengthDelimited(): Array[Byte] = {
      val n = readLength()
      val start = pos
      advance(n)
      java.util.Arrays.copyOfRange(buf, start, pos)
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => advance(8)
      case 2 => advance(readLength())
      case 5 => advance(4)
      case other => throw new IllegalArgumentException(s"unsupported protobuf wire type $other")
    }
  }

  private def parseAggregated(buf: Array[Byte], start: Int, end: Int): Aggregated = {
    val r = new ProtoReader(buf, start, end)
    val pks = ArrayBuffer.empty[String]
    val ehks = ArrayBuffer.empty[String]
    val recs = ArrayBuffer.empty[KplRecord]
    while (r.hasMore) {
      val key = r.readVarint()
      val field = (key >> 3).toInt
      val wt = (key & 7).toInt
      (field, wt) match {
        case (1, 2) => pks += new String(r.readLengthDelimited(), "UTF-8")
        case (2, 2) => ehks += new String(r.readLengthDelimited(), "UTF-8")
        case (3, 2) => recs += parseRecord(r.readLengthDelimited())
        case _      => r.skip(wt)
      }
    }
    Aggregated(pks.toSeq, ehks.toSeq, recs.toSeq)
  }

  private def parseRecord(buf: Array[Byte]): KplRecord = {
    val r = new ProtoReader(buf, 0, buf.length)
    var pki = 0L
    var ehki: Option[Long] = None
    var data: Array[Byte] = Array.emptyByteArray
    while (r.hasMore) {
      val key = r.readVarint()
      val field = (key >> 3).toInt
      val wt = (key & 7).toInt
      (field, wt) match {
        case (1, 0) => pki = r.readVarint()
        case (2, 0) => ehki = Some(r.readVarint())
        case (3, 2) => data = r.readLengthDelimited()
        case _      => r.skip(wt)
      }
    }
    KplRecord(pki, ehki, data)
  }

  // ---- encoder (test fixtures; the reference's binary fixture is absent) --
  def encode(agg: Aggregated): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def lenDelim(field: Int, b: Array[Byte]): Unit = {
      varint((field << 3) | 2); varint(b.length.toLong); out.write(b, 0, b.length)
    }
    agg.partitionKeys.foreach(s => lenDelim(1, s.getBytes("UTF-8")))
    agg.explicitHashKeys.foreach(s => lenDelim(2, s.getBytes("UTF-8")))
    agg.records.foreach { rec =>
      val ro = new java.io.ByteArrayOutputStream()
      def rvarint(v0: Long): Unit = {
        var v = v0
        while ((v & ~0x7fL) != 0) { ro.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        ro.write(v.toInt)
      }
      rvarint((1 << 3) | 0); rvarint(rec.partitionKeyIndex)
      rec.explicitHashKeyIndex.foreach { v => rvarint((2 << 3) | 0); rvarint(v) }
      rvarint((3 << 3) | 2); rvarint(rec.data.length.toLong); ro.write(rec.data, 0, rec.data.length)
      lenDelim(3, ro.toByteArray)
    }
    out.toByteArray
  }
}
