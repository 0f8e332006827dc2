package perfbench

import java.lang.management.ManagementFactory

import graft.avro.{AvroBinaryReader, AvroDatumReader, AvroDatumWriter, AvroSchemaParser, AvroSkipper, Ocf, OcfStreamWriter}
import graft.framing.{KplDeaggregator, SchemaRegistry, SpringHeaders}

/** Avro inputs for the probes: datums of `schemaJson`, a reader schema that
  * differs from it, and what each datum must resolve to under that reader. */
final case class ProbeSet(schemaJson: String, values: Vector[Any], readerJson: String, resolved: Any => Any)

/** Single-threaded kernel and framing probes of the traced run. Each probe
  * times calls into one public kernel or framing function on the workload's
  * own inputs as thread CPU time, and stops the run if a result differs from
  * what the generator produced. */
object Probes {
  private val threads = ManagementFactory.getThreadMXBean
  /** Thread CPU a probe runs for untimed after its checked first pass, so
    * that the JIT has compiled it, and then timed, at least. */
  val WarmCpuNs = 300000000L
  val MinCpuNs = 60000000L
  val Codecs = Seq("null", "deflate", "snappy", "zstandard")
  val ReadCodecs = Codecs :+ "bzip2"

  final class ProbeFailure(msg: String) extends RuntimeException(msg)
  private def check(ok: Boolean, what: => String): Unit = if (!ok) throw new ProbeFailure(s"probe: $what")

  /** Runs `pass` once untimed (pass 0, which checks results), then untimed
    * for [[WarmCpuNs]] of thread CPU, then timed until it has used
    * [[MinCpuNs]]; returns CPU seconds per timed pass. */
  private def cpuPerPass(spans: Spans, name: String, layer: String)(pass: Int => Unit): Double = {
    def cpu = threads.getCurrentThreadCpuTime
    spans(name, layer)(pass(0))
    var n = 1
    val w0 = cpu
    while (cpu - w0 < WarmCpuNs) { pass(n); n += 1 }
    var passes = 0
    val t0 = cpu
    while (passes < 2 || cpu - t0 < MinCpuNs) {
      spans(name, layer)(pass(n))
      n += 1
      passes += 1
    }
    (cpu - t0) / 1e9 / passes
  }

  def run(spans: Spans, p: ProbeSet): Seq[(String, Double, String)] = {
    val aSchema = Avro.parse(p.schemaJson)
    val aReader = Avro.parse(p.readerJson)
    val enc = Avro.encoder(aSchema)
    val bare = p.values.map(enc)
    val mb = bare.map(_.length.toLong).sum / 1e6
    val schema = AvroSchemaParser.parse(p.schemaJson)
    val readerSchema = AvroSchemaParser.parse(p.readerJson)

    val reader = new AvroDatumReader(schema)
    val decoded = new Array[Any](bare.size)
    val decode = cpuPerPass(spans, "AvroDatumReader.read", "avro") { pass =>
      var i = 0
      while (i < bare.size) { decoded(i) = reader.read(bare(i)); i += 1 }
      if (pass == 0) bare.indices.foreach(i =>
        check(Avro.sameAsEngine(aSchema, p.values(i), decoded(i)), s"datum $i decodes to ${decoded(i)}"))
    }

    val resolver = new AvroDatumReader(schema, Some(readerSchema))
    val resolve = cpuPerPass(spans, "AvroDatumReader.read (resolving)", "avro") { pass =>
      var i = 0
      while (i < bare.size) {
        val d = resolver.read(bare(i))
        if (pass == 0) check(Avro.sameAsEngine(aReader, p.resolved(p.values(i)), d), s"datum $i resolves to $d")
        i += 1
      }
    }

    val skipper = AvroSkipper.compile(schema)
    val skip = cpuPerPass(spans, "AvroSkipper", "avro") { pass =>
      var i = 0
      while (i < bare.size) {
        val in = new AvroBinaryReader(bare(i))
        skipper(in)
        if (pass == 0) check(in.pos == bare(i).length, s"skip of datum $i stops at ${in.pos} of ${bare(i).length}")
        i += 1
      }
    }

    val writer = new AvroDatumWriter(schema)
    val encode = cpuPerPass(spans, "AvroDatumWriter.write", "avro") { pass =>
      var i = 0
      while (i < decoded.length) {
        val b = writer.toBytes(decoded(i))
        if (pass == 0) check(java.util.Arrays.equals(b, bare(i)), s"datum $i re-encodes differently")
        i += 1
      }
    }

    val groups = p.values.grouped(math.max(1, p.values.size / 4)).toVector
    val ocfRead = ReadCodecs.map { codec =>
      val files = groups.map(g => Avro.container(aSchema, g, codec))
      val s = cpuPerPass(spans, s"Ocf.readAll $codec", "avro") { pass =>
        var off = 0
        files.zip(groups).foreach { case (f, g) =>
          val (_, ds) = Ocf.readAll(f)
          if (pass == 0) {
            check(ds.size == g.size, s"$codec container holds ${ds.size} datums, wrote ${g.size}")
            g.indices.foreach(i => check(Avro.sameAsEngine(aSchema, g(i), ds(i)), s"$codec container datum ${off + i}"))
          }
          off += g.size
        }
      }
      (s"avro.ocf_read_mb_per_cpu_s.$codec", mb / s, "MB/cpu-s")
    }

    val ocfWrite = Codecs.map { codec =>
      val s = cpuPerPass(spans, s"OcfStreamWriter $codec", "avro") { pass =>
        val bos = new java.io.ByteArrayOutputStream()
        val w = new OcfStreamWriter(bos, schema, codec)
        bare.foreach(w.append)
        w.finish()
        if (pass == 0) {
          val r = new org.apache.avro.file.DataFileReader[AnyRef](
            new org.apache.avro.file.SeekableByteArrayInput(bos.toByteArray),
            new org.apache.avro.generic.GenericDatumReader[AnyRef](aSchema))
          val back = Iterator.continually(r).takeWhile(_.hasNext).map(_.next(): AnyRef).toVector
          check(back.size == bare.size, s"$codec file written holds ${back.size} datums")
          val w2 = new org.apache.avro.generic.GenericDatumWriter[AnyRef](aSchema)
          back.indices.foreach { i =>
            val out = new java.io.ByteArrayOutputStream()
            val e = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(out, null)
            w2.write(back(i), e); e.flush()
            check(java.util.Arrays.equals(out.toByteArray, bare(i)), s"$codec file written: datum $i differs")
          }
        }
      }
      (s"avro.ocf_write_mb_per_cpu_s.$codec", mb / s, "MB/cpu-s")
    }

    val parseReps = 200
    val parse = cpuPerPass(spans, "AvroSchemaParser.parse", "avro") { _ =>
      var i = 0
      while (i < parseReps) { AvroSchemaParser.parse(p.schemaJson); i += 1 }
    } / parseReps

    // framing: Spring-framed datums, aggregated 20 to a KPL record
    val contentType = "application/vnd.probe.v1+avro"
    val framed = bare.map(b => Framing.spring(Seq("contentType" -> contentType, "id" -> "x"), b))
    val kplGroups = framed.grouped(20).toVector
    val kpls = kplGroups.map(g => Framing.kpl("pk", g))
    val kpl = cpuPerPass(spans, "KplDeaggregator.decode", "framing") { pass =>
      kpls.zip(kplGroups).foreach { case (k, g) =>
        val recs = KplDeaggregator.decode(k).records
        if (pass == 0) check(recs.size == g.size && recs.zip(g).forall { case (r, f) => java.util.Arrays.equals(r.data, f) },
          "KPL record de-aggregates differently")
      }
    }
    val spring = cpuPerPass(spans, "SpringHeaders.extract", "framing") { pass =>
      var i = 0
      while (i < framed.size) {
        val ex = SpringHeaders.extract(framed(i))
        if (pass == 0) check(java.util.Arrays.equals(ex.body, bare(i)) && ex.headers.get("contentType").contains(contentType),
          s"Spring message $i extracts differently")
        i += 1
      }
    }
    val keys = (0 until 8).map(i => s"stream-$i")
    val registry = SchemaRegistry.inMemory(keys.map(_ -> p.schemaJson): _*)
    keys.foreach(registry.get)
    val getReps = 20000
    val regGet = cpuPerPass(spans, "SchemaRegistry.get", "framing") { _ =>
      var i = 0
      while (i < getReps) { registry.get(keys(i & 7)); i += 1 }
    } / getReps

    Seq(
      ("avro.datum_decode_mb_per_cpu_s", mb / decode, "MB/cpu-s"),
      ("avro.resolve_decode_mb_per_cpu_s", mb / resolve, "MB/cpu-s"),
      ("avro.skip_mb_per_cpu_s", mb / skip, "MB/cpu-s"),
      ("avro.datum_encode_mb_per_cpu_s", mb / encode, "MB/cpu-s")) ++ ocfRead ++ ocfWrite ++ Seq(
      ("avro.schema_parse_us", parse * 1e6, "us"),
      ("framing.kpl_records_per_cpu_s", framed.size / kpl, "records/cpu-s"),
      ("framing.spring_extract_per_cpu_s", framed.size / spring, "records/cpu-s"),
      ("framing.registry_get_us", regGet * 1e6, "us"))
  }
}

/** The `ops` layer in every traced run, whatever the workload: after the
  * measured window, each training-data operator of `corpus-ops` is called on
  * that workload's seeded corpus once to warm it, then once more, timed
  * (`ops.<operator>_s`, wall seconds). Both answers are checked; a wrong
  * one stops the run. One timed call per operator keeps a traced run well
  * inside its time limit; `corpus-ops` itself samples each operator in
  * every cycle of its window. */
object OpsProbe {
  def run(ctx: Ctx, dir: java.io.File, seed: Long): Seq[(String, Double, String)] = {
    val c = new CorpusOps
    dir.mkdirs()
    c.setup(ctx, dir, new scala.util.Random(seed))
    val rnd = new scala.util.Random(seed ^ 0x0b5L)
    try c.cycle.distinct.map { k =>
      def call(): Double = {
        val op = c.op(k, rnd)
        val t = System.nanoTime()
        val problem = ctx.spans(s"op ${op.kind}", "ops", "params" -> op.params)(op.run(ctx))
        val s = (System.nanoTime() - t) / 1e9
        problem.foreach(p => throw new Probes.ProbeFailure(s"probe: ${op.kind}: $p"))
        s
      }
      call()
      (s"ops.${CorpusOps.OperatorNames(k)}_s", call(), "s")
    } finally c.release(ctx)
  }
}
