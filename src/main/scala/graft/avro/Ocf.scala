package graft.avro

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}
import scala.collection.mutable

/** OCF block compression codecs.
  * (reference: python-udf/avro/codecs.py:99-205 — null/deflate/bzip2/snappy/
  * zstandard, registry by name, unsupported → error.) */
trait AvroCodec {
  def name: String
  def compress(data: Array[Byte]): Array[Byte]
  def decompress(data: Array[Byte]): Array[Byte]
}

object AvroCodecs {
  object NullCodec extends AvroCodec {
    val name = "null"
    def compress(data: Array[Byte]): Array[Byte] = data
    def decompress(data: Array[Byte]): Array[Byte] = data
  }

  /** Raw zlib, −15 window (no zlib header/trailer).
    * (reference: codecs.py:110-126) */
  object DeflateCodec extends AvroCodec {
    val name = "deflate"
    def compress(data: Array[Byte]): Array[Byte] = {
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream(math.max(64, data.length / 2))
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    def decompress(data: Array[Byte]): Array[Byte] = {
      val inf = new Inflater(true)
      inf.setInput(data)
      val out = new ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) throw new AvroEofException("truncated deflate block")
        out.write(buf, 0, n)
      }
      inf.end()
      out.toByteArray
    }
  }

  /** Snappy with big-endian CRC32 of the *uncompressed* data appended.
    * (reference: codecs.py:145-163) */
  object SnappyCodec extends AvroCodec {
    val name = "snappy"
    def compress(data: Array[Byte]): Array[Byte] = {
      val c = org.xerial.snappy.Snappy.compress(data)
      val crc = new CRC32(); crc.update(data)
      val v = crc.getValue
      val out = new Array[Byte](c.length + 4)
      System.arraycopy(c, 0, out, 0, c.length)
      out(c.length) = ((v >> 24) & 0xff).toByte
      out(c.length + 1) = ((v >> 16) & 0xff).toByte
      out(c.length + 2) = ((v >> 8) & 0xff).toByte
      out(c.length + 3) = (v & 0xff).toByte
      out
    }
    def decompress(data: Array[Byte]): Array[Byte] = {
      val body = java.util.Arrays.copyOfRange(data, 0, data.length - 4)
      val un = org.xerial.snappy.Snappy.uncompress(body)
      val crc = new CRC32(); crc.update(un)
      val expected = ((data(data.length - 4) & 0xffL) << 24) |
        ((data(data.length - 3) & 0xffL) << 16) |
        ((data(data.length - 2) & 0xffL) << 8) | (data(data.length - 1) & 0xffL)
      if (crc.getValue != expected)
        throw new AvroEofException("snappy CRC32 mismatch on OCF block")
      un
    }
  }

  object ZstandardCodec extends AvroCodec {
    val name = "zstandard"
    def compress(data: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(data)
    def decompress(data: Array[Byte]): Array[Byte] = {
      // streaming decompress — frame may not carry content size (reference: codecs.py:166-186)
      val in = new java.io.ByteArrayInputStream(data)
      val z = new com.github.luben.zstd.ZstdInputStream(in)
      val out = new ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      var n = z.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = z.read(buf) }
      z.close()
      out.toByteArray
    }
  }

  object Bzip2Codec extends AvroCodec {
    val name = "bzip2"
    def compress(data: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos)
      z.write(data); z.close()
      bos.toByteArray
    }
    def decompress(data: Array[Byte]): Array[Byte] = {
      val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(data))
      val out = new ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      var n = z.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = z.read(buf) }
      z.close()
      out.toByteArray
    }
  }

  val known: Map[String, AvroCodec] = Map(
    NullCodec.name -> NullCodec, DeflateCodec.name -> DeflateCodec,
    SnappyCodec.name -> SnappyCodec, ZstandardCodec.name -> ZstandardCodec,
    Bzip2Codec.name -> Bzip2Codec)

  def apply(name: String): AvroCodec = known.getOrElse(name,
    throw new AvroResolutionException(s"unsupported codec: $name"))
}

final case class OcfHeader(meta: mutable.LinkedHashMap[String, Array[Byte]],
                           sync: Array[Byte]) {
  def schemaJson: String = new String(meta.getOrElse("avro.schema",
    throw new AvroResolutionException("OCF missing avro.schema metadata")), "UTF-8")
  def codecName: String = meta.get("avro.codec").map(new String(_, "UTF-8")).getOrElse("null")
}

/** Avro Object Container File reader/writer.
  *
  * Layout: magic `Obj\x01`, meta `map<string,bytes>` (incl. `avro.schema`,
  * `avro.codec`), 16-byte sync marker; then per block: datum count, compressed
  * byte size, block data, sync marker.
  * (reference: python-udf/avro/datafile.py:35-65 META_SCHEMA, 292-426 reader,
  * 140-289 writer; SYNC_INTERVAL 64000 at datafile.py:39.)
  */
object Ocf {
  val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)
  val SyncSize = 16
  val SyncInterval = 64000 // bytes buffered before block flush (reference: datafile.py:39)

  /** Serialized header bytes: magic, one meta map block, terminator, sync —
    * the exact framing [[readHeader]] parses. Shared by the streaming writer
    * and the stats-stamping header rewrite so the two can never drift. */
  def headerBytes(meta: mutable.LinkedHashMap[String, Array[Byte]],
                  sync: Array[Byte]): Array[Byte] = {
    require(sync.length == SyncSize, s"sync marker must be $SyncSize bytes")
    val h = new AvroBinaryWriter()
    h.writeFixed(Magic)
    h.writeLong(meta.size.toLong)
    meta.foreach { case (k, v) => h.writeString(k); h.writeBytes(v) }
    h.writeLong(0)
    h.writeFixed(sync)
    h.toByteArray
  }

  def readHeader(in: AvroBinaryReader): OcfHeader = {
    val magic = in.readFixed(4)
    if (!java.util.Arrays.equals(magic, Magic))
      throw new AvroResolutionException("not an Avro object container file (bad magic)")
    val meta = mutable.LinkedHashMap.empty[String, Array[Byte]]
    var count = in.readLong()
    while (count != 0) {
      if (count < 0) { count = -count; in.skipLong() }
      var i = 0L
      while (i < count) { meta(in.readString()) = in.readBytes(); i += 1 }
      count = in.readLong()
    }
    OcfHeader(meta, in.readFixed(SyncSize))
  }

  /** One decompressed block: a reader positioned at its first datum plus the
    * datum count. */
  final case class Block(in: AvroBinaryReader, datumCount: Long)

  /** The single block-framing loop shared by every OCF consumer: read the
    * header, then lazily yield decompressed blocks with their sync markers
    * verified. Decoding datums from each block is the caller's concern. */
  def blockIterator(bytes: Array[Byte]): (OcfHeader, Iterator[Block]) = {
    val in = new AvroBinaryReader(bytes)
    val header = readHeader(in)
    val codec = AvroCodecs(header.codecName)
    val blocks = new Iterator[Block] {
      override def hasNext: Boolean = !in.atEnd
      override def next(): Block = {
        val datumCount = in.readLong()
        val byteSize = in.readLong()
        val block = codec.decompress(in.readFixed(byteSize.toInt))
        val sync = in.readFixed(SyncSize)
        if (!java.util.Arrays.equals(sync, header.sync))
          throw new AvroResolutionException("OCF sync marker mismatch (corrupt block boundary)")
        Block(new AvroBinaryReader(block), datumCount)
      }
    }
    (header, blocks)
  }

  /** Decode every datum of an OCF payload (generic representation). */
  def readAll(bytes: Array[Byte], readerSchema: Option[AvroSchema] = None): (AvroSchema, Vector[Any]) = {
    val (header, blocks) = blockIterator(bytes)
    val writerSchema = AvroSchemaParser.parse(header.schemaJson)
    val reader = new AvroDatumReader(writerSchema, readerSchema)
    val out = Vector.newBuilder[Any]
    blocks.foreach { b =>
      var i = 0L
      while (i < b.datumCount) { out += reader.read(b.in); i += 1 }
    }
    (readerSchema.getOrElse(writerSchema), out.result())
  }

  /** Encode datums into a complete OCF payload. Deterministic sync marker
    * derived from the schema fingerprint unless supplied (tests need
    * reproducible bytes; the reference uses random sync, datafile.py:180). */
  def writeAll(schema: AvroSchema, datums: Seq[Any], codecName: String = "null",
               syncOpt: Option[Array[Byte]] = None): Array[Byte] = {
    val writer = new AvroDatumWriter(schema)
    writePreEncoded(schema, datums.iterator.map(writer.toBytes), codecName, syncOpt)
  }

  /** Append datums to an EXISTING container payload (the reference's
    * append-mode reopen, datafile.py:161-177): the original header — schema,
    * codec, sync marker — is reused, new blocks are written with the same
    * sync, and existing bytes are untouched. */
  def append(existing: Array[Byte], datums: Seq[Any]): Array[Byte] = {
    val in = new AvroBinaryReader(existing)
    val header = readHeader(in)
    val schema = AvroSchemaParser.parse(header.schemaJson)
    val tail = writeAll(schema, datums, header.codecName, Some(header.sync))
    // strip the fresh header from the tail: blocks start after magic+meta+sync
    val tailIn = new AvroBinaryReader(tail)
    readHeader(tailIn)
    val blocksStart = tailIn.pos
    val out = new Array[Byte](existing.length + (tail.length - blocksStart))
    System.arraycopy(existing, 0, out, 0, existing.length)
    System.arraycopy(tail, blocksStart, out, existing.length, tail.length - blocksStart)
    out
  }

  /** Assemble an OCF payload from PRE-ENCODED bare datums — the engine sink
    * path: rows are encoded by the codegen'd `to_avro` expression, and block
    * assembly is pure byte bookkeeping (an OCF block body is simply the
    * concatenation of bare datums). Same header/block/sync layout and
    * SyncInterval flush policy as [[writeAll]]. */
  def writePreEncoded(schema: AvroSchema, datums: Iterator[Array[Byte]],
                      codecName: String = "null",
                      syncOpt: Option[Array[Byte]] = None): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new OcfStreamWriter(bos, schema, codecName, syncOpt)
    datums.foreach(w.append)
    w.finish()
    bos.toByteArray
  }
}

/** Incremental OCF writer over any `OutputStream` — the streaming-file face
  * of [[Ocf.writePreEncoded]] (reference: python-udf/avro/datafile.py:140-289
  * DataFileWriter, which likewise buffers datums and seals a block per
  * `SYNC_INTERVAL`). The header (magic, codec+schema meta, sync marker) is
  * emitted at construction; each `append` buffers one pre-encoded datum and
  * seals a block — count varint, size varint, compressed body, sync — once
  * `blockBytes` is buffered. `finish()` seals the tail block but does NOT
  * close the underlying stream (the caller owns file lifecycle / commit
  * protocol). Byte-for-byte identical framing to [[Ocf.writePreEncoded]]:
  * deterministic schema-fingerprint sync unless supplied, flush-after-append
  * policy, so a file written here reads back through every existing OCF
  * consumer. Memory is bounded by one block (~`blockBytes`), so a task can
  * stream arbitrarily many rows to a 100 GB file without heap growth. */
final class OcfStreamWriter(out: java.io.OutputStream, schema: AvroSchema,
                            codecName: String = "null",
                            syncOpt: Option[Array[Byte]] = None,
                            blockBytes: Int = Ocf.SyncInterval,
                            // invoked as each block seals with (offset of the
                            // block's count varint RELATIVE to the end of the
                            // header, rows in the block, block bytes incl.
                            // trailing sync) — relative offsets survive a
                            // later header re-stamp, absolute ones would not
                            onBlockSealed: (Long, Long, Long) => Unit = null,
                            // extra header entries after the codec and schema
                            meta: Seq[(String, Array[Byte])] = Nil) {
  require(blockBytes > 0, s"blockBytes must be positive; got $blockBytes")
  private val codec = AvroCodecs(codecName)
  private val sync = syncOpt.getOrElse {
    java.security.MessageDigest.getInstance("MD5")
      .digest(schema.canonical.getBytes("UTF-8"))
  }
  require(sync.length == Ocf.SyncSize,
    s"sync marker must be ${Ocf.SyncSize} bytes")

  locally {
    val bytes = Ocf.headerBytes(mutable.LinkedHashMap(
      "avro.codec" -> codecName.getBytes("UTF-8"),
      "avro.schema" -> AvroSchemaParser.toJson(schema).getBytes("UTF-8")) ++= meta, sync)
    out.write(bytes, 0, bytes.length)
  }

  private val buf = new AvroBinaryWriter(math.min(blockBytes + 1024, 1 << 20))
  private var blockCount = 0L
  private var total = 0L
  private var sectionBytes = 0L // block-section bytes written so far
  // block framing scratch (count varint, size varint), reused per block
  private val frame = new AvroBinaryWriter(24)

  /** Rows appended so far (across all blocks). */
  def rowCount: Long = total

  def append(datum: Array[Byte]): Unit = {
    buf.writeRaw(datum, 0, datum.length)
    endDatum()
  }

  /** A writer encodes one datum's bytes straight into the block buffer
    * through [[datumEncoder]] and seals it with [[endDatum]] — the zero-copy
    * equivalent of encoding to a scratch array and calling [[append]]. The
    * graft-ocf sink's data and key files and the position-delete files are
    * written this way. A datum must be written COMPLETELY between
    * `endDatum` calls (a throwing encoder aborts the whole file, which the
    * task-level commit protocol already discards). */
  def datumEncoder: AvroBinaryWriter = buf
  def endDatum(): Unit = {
    blockCount += 1
    total += 1
    if (buf.size >= blockBytes) flushBlock()
  }

  private def flushBlock(): Unit = if (blockCount > 0) {
    frame.reset()
    frame.writeLong(blockCount)
    if (codec eq AvroCodecs.NullCodec) {
      // null codec: the block body IS the buffer — stream it out directly
      // instead of materializing a compressed copy
      frame.writeLong(buf.size.toLong)
      frame.writeTo(out)
      buf.writeTo(out)
      out.write(sync, 0, sync.length)
      val len = frame.size.toLong + buf.size + sync.length
      val rel = sectionBytes
      sectionBytes += len
      if (onBlockSealed != null) onBlockSealed(rel, blockCount, len)
    } else {
      val compressed = codec.compress(buf.toByteArray)
      frame.writeLong(compressed.length.toLong)
      frame.writeTo(out)
      out.write(compressed, 0, compressed.length)
      out.write(sync, 0, sync.length)
      val len = frame.size.toLong + compressed.length + sync.length
      val rel = sectionBytes
      sectionBytes += len
      if (onBlockSealed != null) onBlockSealed(rel, blockCount, len)
    }
    buf.reset()
    blockCount = 0
  }

  /** Seal any buffered tail block. Idempotent; does not close `out`. */
  def finish(): Unit = flushBlock()
}
