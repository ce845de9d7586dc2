package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop confs graft ships to tasks carry every property of the
  * conf they were built from, and only those, without Hadoop's
  * per-property source records. */
class TxHadoopConfSpec extends graft.SparkSpec {
  private val ser = new JavaSerializer(new SparkConf).newInstance()
  private def bytes(o: AnyRef): Int = ser.serialize(o).limit()
  private def props(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** A session conf with one added key, one changed default and one
    * unset default. */
  private def sessionConf(): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    val (unset, _) = props(new Configuration()).head
    c.set("graft.test.shipped", "yes")
    c.set("io.file.buffer.size", "8192")
    c.unset(unset)
    c
  }

  test("a shipped conf rebuilds exactly its own properties, no sources") {
    val c = sessionConf()
    val shipped = TxParquetIO.shipped(c)
    val back = ser.deserialize[SerializableConfiguration](ser.serialize(shipped))
    assert(props(back.value) === props(c))
    // no gzip-framed source record per property
    val full = bytes(new SerializableConfiguration(c))
    info(s"shipped ${bytes(shipped)} B, SerializableConfiguration $full B")
    assert(bytes(shipped) < full)
    // the receiving side adds none of its own JVM's defaults
    val bare = new Configuration(false)
    bare.set("graft.test.only", "1")
    val one = ser.deserialize[SerializableConfiguration](
      ser.serialize(TxParquetIO.shipped(bare)))
    assert(props(one.value) === Map("graft.test.only" -> "1"))
  }

  test("gate inputs and graft-tx snapshots scan through TxParquetFormat") {
    val root = tmpDir() + "/fmt"
    TxTable.append(graft.Tables.orders(spark, sfDir), root)
    for (df <- Seq(graft.Tables.orders(spark, sfDir),
      TxTable.read(spark, root))) {
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty && scans.forall(
        _.relation.fileFormat.isInstanceOf[TxParquetFormat]),
        df.queryExecution.executedPlan)
    }
  }
}
