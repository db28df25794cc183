package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The conf wire format shared by FlFileJob's broadcasts, the DSv2
  * reader factory and the encode's kernel tasks: a flat key/value list that must rebuild the shipped
  * Configuration entry for entry, under either Spark serializer a
  * broadcast may go through. */
class SerializableConfSpec extends AnyFunSuite with SparkFixture {

  private def entries(c: Configuration): Map[String, String] =
    c.asScala.map(e => e.getKey -> e.getValue).toMap

  test("session Hadoop conf round-trips entry for entry (Java and Kryo)") {
    val nonAscii = "ünïcødé — 日本語 🚀"
    val conf = spark.sessionState.newHadoopConf()
    conf.set("graft.test.nonAscii", nonAscii)
    conf.set("graft.test.empty", "")
    val want = entries(conf)
    assert(want.size > 100, s"session conf unexpectedly small: ${want.size} entries")
    val sparkConf = spark.sparkContext.getConf
    for (ser <- Seq(new JavaSerializer(sparkConf), new KryoSerializer(sparkConf))) {
      val inst = ser.newInstance()
      val back = inst.deserialize[SerializableConf](
        inst.serialize(new SerializableConf(conf))).value
      val got = entries(back)
      val diff = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
      assert(diff.isEmpty, s"${ser.getClass.getSimpleName}: entries differ at " +
        diff.toSeq.sorted.take(10).map(k => s"$k: ${want.get(k)} -> ${got.get(k)}").mkString("; "))
      assert(back.get("graft.test.nonAscii") == nonAscii)
      assert(back.get("graft.test.empty") == "")
    }
  }
}
