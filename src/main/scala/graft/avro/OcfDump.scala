package graft.avro

/** S13: CLI dump of an Avro Object Container File — one JSON line per datum
  * (the engine's analog of `python -m avro.tool dump`;
  * reference: python-udf/avro/tool.py:129-138). Pure kernel, no Spark
  * session needed: `sbt "runMain graft.avro.OcfDump <file.ocf> [...]"`.
  * `--schema` prints the embedded writer schema instead of the data. */
object OcfDump {
  def main(args: Array[String]): Unit = {
    val (flags, files) = args.partition(_.startsWith("--"))
    if (files.isEmpty) {
      System.err.println("usage: OcfDump [--schema] <file.ocf> [<file.ocf> ...]")
      sys.exit(2)
    }
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      if (flags.contains("--schema")) {
        val header = Ocf.readHeader(new AvroBinaryReader(bytes))
        println(header.schemaJson)
      } else {
        AvroJsonTranscoder.foreachDatum(bytes) { (transcoder, in) =>
          val json = AvroJsonTranscoder.render(transcoder.write(in, _))
          println(new String(json, java.nio.charset.StandardCharsets.US_ASCII))
        }
      }
    }
  }
}
