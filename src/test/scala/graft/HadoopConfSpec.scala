package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ProtoZstFiles, SerializableHadoopConf}

/** [[SerializableHadoopConf]] ships the raw (key, value) pairs of a
  * Hadoop conf to executors: the copy a task deserializes must hold
  * exactly the driver's pairs and answer every `get` alike.
  */
class HadoopConfSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def serialize(c: Configuration): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(new SerializableHadoopConf(c))
    oos.close()
    bos.toByteArray
  }

  private def deserialize(bytes: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[SerializableHadoopConf].value

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  test("a session conf round-trips every raw pair and every get") {
    val sparkKey = "spark.hadoop.graft.roundtrip.key"
    spark.conf.set(sparkKey, "from-session")
    val conf = try ProtoZstFiles.hadoopConf() finally spark.conf.unset(sparkKey)
    assert(Option(conf.getRaw(sparkKey)).orElse(Option(conf.getRaw("graft.roundtrip.key")))
      .contains("from-session"))
    val deprecated = "topology.script.file.name"
    assert(Configuration.isDeprecated(deprecated))
    conf.set(deprecated, "/bin/true")
    conf.set("graft.roundtrip.base", "/data")
    conf.set("graft.roundtrip.expanded", "${graft.roundtrip.base}/x")

    val bytes = serialize(conf)
    val back = deserialize(bytes)
    assert(pairs(back) === pairs(conf))
    assert(back.getRaw("graft.roundtrip.expanded") === "${graft.roundtrip.base}/x")
    assert(back.get("graft.roundtrip.expanded") === "/data/x")
    assert(back.get("net.topology.script.file.name") === "/bin/true")
    for (k <- pairs(conf).keys) assert(back.get(k) === conf.get(k), k)

    // the old form: Configuration.write, with per-property sources
    val old = new ByteArrayOutputStream()
    val out = new DataOutputStream(old)
    conf.write(out)
    out.close()
    info(s"${pairs(conf).size} pairs: ${bytes.length} bytes serialized, " +
      s"${old.size()} bytes by Configuration.write")
    assert(bytes.length < old.size())
  }

  test("an empty conf round-trips empty") {
    val back = deserialize(serialize(new Configuration(false)))
    assert(pairs(back).isEmpty)
  }
}
