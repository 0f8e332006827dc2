package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** [[SerializableHadoopConf]] ships a conf by content: equal confs are
  * written once, a mutated conf ships its new content, and every task of a
  * JVM shares one read-only parsed instance per content. */
class SerializableHadoopConfSpec extends AnyFunSuite {

  private def roundTrip(c: SerializableHadoopConf): SerializableHadoopConf = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeObject(c)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf]
  }

  /** A conf whose content no other test ships. */
  private def uniqueConf(): (Configuration, String) = {
    val key = "graft.test.conf." + java.util.UUID.randomUUID()
    val c = new Configuration(false)
    c.set(key, "1")
    (c, key)
  }

  test("two distinct confs with equal content are written once") {
    val (a, key) = uniqueConf()
    val b = new Configuration(false)
    b.set(key, "1")
    assert(a ne b)
    val before = SerializableHadoopConf.writes.get()
    val ra = roundTrip(new SerializableHadoopConf(a))
    val rb = roundTrip(new SerializableHadoopConf(b))
    assert(SerializableHadoopConf.writes.get() - before == 1L)
    assert(ra.value.get(key) == "1")
    assert(ra.value eq rb.value)
  }

  test("a conf mutated after it was shipped ships its new content") {
    val (c, key) = uniqueConf()
    val wrapped = new SerializableHadoopConf(c)
    assert(roundTrip(wrapped).value.get(key) == "1")
    c.set(key, "2")
    c.set(key + ".added", "x")
    val after = roundTrip(wrapped).value
    assert(after.get(key) == "2")
    assert(after.get(key + ".added") == "x")
    // and back: the first content's shipped instance is found again
    c.set(key, "1")
    c.unset(key + ".added")
    assert(roundTrip(wrapped).value.get(key + ".added") == null)
  }

  test("a second round trip returns the shared instance, and it refuses every mutation") {
    val (c, key) = uniqueConf()
    val first = roundTrip(new SerializableHadoopConf(c)).value
    val second = roundTrip(new SerializableHadoopConf(c)).value
    assert(first eq second)
    val mutations: Seq[(String, Configuration => Any)] = Seq(
      "set" -> (_.set(key, "2")),
      "setInt" -> (_.setInt(key, 2)),
      "setBoolean" -> (_.setBoolean(key, true)),
      "setIfUnset" -> (_.setIfUnset(key + ".new", "2")),
      "setClass" -> (_.setClass(key, classOf[String], classOf[Object])),
      "unset" -> (_.unset(key)),
      "clear" -> (_.clear()),
      "addResource" -> (_.addResource(new Configuration(false))),
      "addResource(name)" -> (_.addResource("core-site.xml")),
      "reloadConfiguration" -> (_.reloadConfiguration()),
      "setClassLoader" -> (_.setClassLoader(getClass.getClassLoader)))
    mutations.foreach { case (op, mutate) =>
      val e = intercept[UnsupportedOperationException](mutate(first))
      assert(e.getMessage.contains("read-only") &&
        e.getMessage.contains("SerializableHadoopConf"), s"$op: ${e.getMessage}")
    }
    assert(first.get(key) == "1")
    // a copy is an ordinary mutable conf
    val copy = new Configuration(first)
    copy.set(key, "2")
    assert(copy.get(key) == "2" && first.get(key) == "1")
  }
}
