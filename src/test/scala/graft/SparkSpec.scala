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

  /** Runs `body` with the session confs `kv` set, then restores them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Asserts that the running-total column `total` of `df`'s
    * `RunningTotal` relation comes from a range-partitioned sort plus
    * per-partition offsets, and that no unpartitioned Window (one task
    * over every row) is left in `df`'s plan: the relation sits on a
    * shuffle, more than one of its partitions holds rows, and the
    * partitions' totals follow each other in partition order. With
    * `positions`, the totals are ranks: every partition holds a
    * consecutive run, and the first run starts at 1. Build `df` with
    * AQE coalescing off, or small inputs collapse to one partition. */
  def assertRangeTotals(name: String, df: org.apache.spark.sql.DataFrame,
    total: String = "rn", positions: Boolean = true): Unit = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.catalyst.plans.logical
    val naked = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(naked.isEmpty, s"$name: unpartitioned Window:\n${naked.mkString}")
    val rel = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD
        if r.output.exists(_.name == total) => r
    }
    assert(rel.size == 1, s"$name: expected one relation holding `$total`:\n" +
      df.queryExecution.optimizedPlan.treeString)
    def narrow(r: RDD[_]): Seq[RDD[_]] =
      r +: r.dependencies.flatMap {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => Nil
        case d => narrow(d.rdd)
      }
    assert(narrow(rel.head.rdd).exists(_.dependencies.exists(
      _.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]])),
      s"$name: `$total` does not sit on a shuffle:\n${rel.head.rdd.toDebugString}")
    val at = rel.head.output.indexWhere(_.name == total)
    val runs = rel.head.rdd.mapPartitions { it =>
      val ns = it.map(_.getLong(at)).toArray
      Iterator(if (ns.isEmpty) None else Some((ns.min, ns.max, ns.length)))
    }.collect().flatten.toSeq
    assert(runs.size > 1, s"$name: all rows in one partition")
    assert(runs.sliding(2).forall { case Seq(a, b) => a._2 < b._1 },
      s"$name: partitions not in `$total` order: $runs")
    if (positions) {
      assert(runs.forall { case (lo, hi, n) => hi - lo + 1 == n } &&
        runs.head._1 == 1L && runs.sliding(2).forall {
          case Seq(a, b) => b._1 == a._2 + 1
        }, s"$name: `$total` is not a run of positions from 1: $runs")
    }
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Any): Int = jobNamesDuring(body).size

  /** The Spark jobs started while `body` runs, each named by its last
    * stage's call site; a job AQE starts from its own thread (whose
    * call site names no caller) is named by the exchange it
    * materializes. The listener bus delivers events
    * asynchronously but in order, so a one-task marker job run after
    * `body` drains it: once the marker's start event arrives, every
    * job `body` started has been recorded. */
  def jobNamesDuring(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val markerKey = "graft.test.jobsDuringMarker"
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(markerKey) == marker))
          drained.countDown()
        else {
          val st = j.stageInfos.maxBy(_.stageId)
          val scopes = st.rddInfos.flatMap(_.scope).map(_.name).toSet
          val exchange = Seq("BroadcastExchange", "Exchange").find(scopes)
          jobs.add(exchange.filter(_ => st.name.contains("withThreadLocal"))
            .fold(st.name)(e => s"AQE $e"))
        }
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
    jobs.toArray(Array.empty[String]).toSeq
  }

  /** Stage `rows` through the write faces' one writer as a single
    * task would: files `<prefix>[-<n>].parquet`, one per run of one
    * `partCols` tuple, with the facts the writer saw (string bounds
    * and sketches on `sketchCols`). */
  def stageRows(prefix: String,
    schema: org.apache.spark.sql.types.StructType, partCols: Seq[String],
    rows: Seq[org.apache.spark.sql.Row],
    sketchCols: Seq[String] = Seq.empty): Seq[graft.sources.TxStagedFile] = {
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val w = new graft.sources.TxStagedWriter(prefix, schema, partCols,
      graft.sources.TxStagedWriterFactory.of(spark, "", schema).conf,
      sketchCols)
    rows.foreach(r =>
      w.write(toRow(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    w.staged()
  }
}
