package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    // the cluster deployment path: extensions land in the SparkConf, so
    // EVERY session derived from this context (including the Connect
    // service's per-client server-side sessions) gets graft's kernel
    // functions and flag-gated rules — ConnectSmokeSpec proves kernels
    // resolve over Connect only because of this line
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-test").toString

  /** Spark jobs started while `body` runs. The listener bus delivers
    * events asynchronously but in order, so a one-task marker job run
    * after `body` drains it: once the marker's start event arrives,
    * every job `body` started has been counted. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val markerKey = "graft.test.jobsDuringMarker"
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(markerKey) == marker))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(markerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(markerKey, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the marker job")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Stage `rows` through the DSv2 write faces' one writer as a single
    * task would: files `<prefix>[-<n>].parquet`, one per run of one
    * `partCols` tuple, with the facts the writer saw. */
  def stageRows(prefix: String,
    schema: org.apache.spark.sql.types.StructType, partCols: Seq[String],
    rows: Seq[org.apache.spark.sql.Row]): Seq[graft.sources.TxStagedFile] = {
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val w = new graft.sources.TxStagedWriter(prefix, schema, partCols,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    rows.foreach(r =>
      w.write(toRow(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    w.staged()
  }
}
