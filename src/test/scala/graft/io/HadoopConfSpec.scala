package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.util.SerializableConfiguration

import graft.{GraftSession, SparkSpec}

/** [[HadoopConfPlugin]]: the session's Hadoop conf carries its keys and
  * values without their provenance, so it serializes smaller, and no
  * key from an XML resource gets its provenance back. */
class HadoopConfSpec extends SparkSpec {

  private def keyValues(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** The keys whose recorded provenance names an XML resource. */
  private def fromXml(c: Configuration): Seq[String] =
    c.iterator().asScala.map(_.getKey).filter { k =>
      Option(c.getPropertySources(k)).exists(_.exists(_.endsWith(".xml")))
    }.toSeq

  /** `c` after a `SerializableConfiguration` round trip, as a task
    * reads it, and its serialized size. */
  private def roundTrip(c: Configuration): (Configuration, Int) = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
    (in.readObject().asInstanceOf[SerializableConfiguration].value, bytes.size)
  }

  /** The session's confs: the context's and the copy a query writes with. */
  private def confs(s: SparkSession): Seq[Configuration] =
    Seq(s.sparkContext.hadoopConfiguration, PlanBridge.sessionHadoopConf(s))

  private def assertNoXmlProvenance(s: SparkSession): Unit = confs(s).foreach { c =>
    val keys = fromXml(c)
    assert(keys.size === 0, s"keys keep their XML provenance, e.g. ${keys.take(3)}")
  }

  test("the provenance field exists on this Hadoop version") {
    assert(HadoopConfPlugin.provenance.isDefined)
    assert(spark.conf.get("spark.plugins") === classOf[HadoopConfPlugin].getName)
  }

  test("a task reads the same keys and values as from a conf with provenance, from fewer bytes") {
    val conf = PlanBridge.sessionHadoopConf(spark)
    // The same conf as Hadoop builds it: re-reading its resources
    // records their provenance, and the keys set on it are replayed.
    val stock = new Configuration(conf)
    stock.reloadConfiguration()
    assert(fromXml(stock).size > 1000, "the stock copy must carry XML provenance")
    assert(keyValues(stock) === keyValues(conf))
    val (read, size) = roundTrip(conf)
    val (stockRead, stockSize) = roundTrip(stock)
    assert(keyValues(read) === keyValues(stockRead))
    assert(keyValues(read) === keyValues(conf))
    // 70 KB against 114 KB for the about 1,100 keys of a graft session
    assert(size < stockSize * 0.75, s"$size B serialized, $stockSize B with provenance")
  }

  test("no key keeps its XML provenance in a new session or after a parquet write") {
    assertNoXmlProvenance(spark)
    val dir = Files.createTempDirectory("graft-conf").toString
    spark.range(10).write.parquet(s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() === 10)
    assertNoXmlProvenance(spark)
  }

  // Last: it stops the suite's session and leaves a rebuilt one active.
  test("a session rebuilt after stop() drops the provenance of its new context's conf") {
    val before = spark.sparkContext
    spark.stop()
    val rebuilt = GraftSession.local("graft-test")
    assert(rebuilt.sparkContext ne before)
    assertNoXmlProvenance(rebuilt)
    assert(keyValues(rebuilt.sparkContext.hadoopConfiguration).nonEmpty)
  }
}
