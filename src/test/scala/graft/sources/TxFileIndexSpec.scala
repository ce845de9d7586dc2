package graft.sources

import graft.CountingFileSystem
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** A graft-tx snapshot scans as Spark's own file scan over one
  * `TxFileIndex`: one query execution per read, no per-read parquet
  * resolution, and no listing of a dir the JVM has already listed;
  * change slices, whose paths a recreated root mints again, are
  * listed afresh. */
class TxFileIndexSpec extends graft.SparkSpec
  with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Three appends of 100 rows each, stats on `k`. */
  private def plainTable(name: String): String = {
    val root = tmpDir() + "/" + name
    (0L until 3L).foreach { i =>
      TxTable.append((i * 100 until i * 100 + 100).map(k => (k, s"v$k"))
        .toDF("k", "s"), root, Seq("k"))
    }
    root
  }

  test("a plain snapshot scans as one TxFileIndex; the format face runs one SQL execution") {
    val root = plainTable("fi_plan")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      assert(spark.read.format("graft-tx").load(root)
        .filter(col("k") >= 150L).count() === 150L)
      // the listener bus delivers asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (seen.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(300)
      assert(seen.size === 1, s"executions: ${seen.size}")
    } finally spark.listenerManager.unregister(listener)
    val df = TxTable.read(spark, root).filter(col("k") >= 150L)
    assert(df.collect().length === 150)
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size === 1 &&
      scans.head.relation.location.isInstanceOf[TxFileIndex],
      df.queryExecution.executedPlan.toString)
    // the scan's pushed filter refutes the first dir (k 0..99)
    val all = spark.read.format("graft-tx").load(root).inputFiles.toSet
    val read = scans.head.metrics("numFiles").value
    assert(read > 0 && read < all.size, s"$read of ${all.size} files")
  }

  test("a kept frame and a path view follow the table past a merge-on-read commit") {
    val root = plainTable("fi_follow")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW fi_follow
      USING `graft-tx` OPTIONS (path '$root')""")
    val kept = spark.read.format("graft-tx").load(root)
    assert(spark.table("fi_follow").count() === 300L)
    TxTable.mergeDelta(spark, root, Seq((5L, "U", "u5", 1L),
      (300L, "I", "i300", 2L)).toDF("k", "op", "s", "seq"))
    for (df <- Seq(spark.table("fi_follow"), kept)) {
      assert(df.count() === 301L)
      assert(df.filter(col("k").isin(5L, 300L)).orderBy("k")
        .as[(Long, String)].collect().toSeq === Seq((5L, "u5"), (300L, "i300")))
    }
  }

  /** Upserts `kv` into `root` by key `k` (one copy-on-write commit). */
  private def merge(root: String, kv: Seq[(Long, Double)]): Unit =
    TxTable.merge(spark, root, kv.map { case (k, v) => (k, "U", v, 1L) }
      .toDF("k", "op", "v", "seq"))

  /** The files of the change slice of `root`'s commit `v` (a merge). */
  private def slice(root: String, v: Int): Seq[String] =
    TxTable.changeFileSlices(spark, root, v - 1, v).flatMap(_.files)

  test("a merge's change slice lists the recreated root's own staged files") {
    val root = tmpDir() + "/fi_cf_recreate"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (v <- Seq(20.0, 40.0)) {
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      merge(root, Seq((1L, 1.0), (2L, 2.0)))
      merge(root, Seq((2L, v)))
      val files = slice(root, 2)
      assert(files.nonEmpty && files.forall(f =>
        fs.exists(new org.apache.hadoop.fs.Path(f))), files)
      assert(spark.read.parquet(files: _*).filter(col("k") === 2L)
        .select("v").as[Double].collect().toSet.contains(v))
    }
  }

  test("a merge's change slice leaves out a stager's nested temp dir") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val src = tmpDir() + "/fi_cf_src"
    merge(src, Seq((1L, 1.0), (2L, 2.0)))
    merge(src, Seq((2L, 3.0)))
    val staged = slice(src, 2)
    // a copy of the table whose served slice holds a losing stager's
    // temp dir with a copy of the slice's file
    val root = tmpDir() + "/fi_cf_nested"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(conf)
    FileUtil.copy(fs, new Path(src), fs, new Path(root), false, conf)
    val nested = new Path(root, "_changes/v00000002/.tmp-loser")
    fs.mkdirs(nested)
    FileUtil.copy(fs, new Path(staged.head), fs,
      new Path(nested, new Path(staged.head).getName), false, conf)
    val files = slice(root, 2)
    assert(files.size === staged.size && !files.exists(_.contains("/.tmp-")),
      files)
  }

  test("a second read of an unchanged snapshot lists no dir") {
    val root = plainTable("fi_list")
    def read(): Long = spark.read.format("graft-tx").load(root)
      .filter(col("k") >= 50L).count()
    val calls = withConf(CountingFileSystem.conf: _*) {
      assert(read() === 250L)
      CountingFileSystem.during(assert(read() === 250L))
    }
    info(s"second read: $calls")
    assert(calls.getOrElse("listStatus", 0L) === 0L, calls)
  }

  test("a second Tables.orders load lists nothing") {
    val calls = withConf(CountingFileSystem.conf: _*) {
      graft.Tables.orders(spark, sfDir).count()
      CountingFileSystem.during(graft.Tables.orders(spark, sfDir).count())
    }
    info(s"second orders load: $calls")
    assert(calls.getOrElse("listStatus", 0L) === 0L, calls)
  }

  test("Tables.parquet keys its relation by the schema it was given") {
    val path = tmpDir() + "/fi_known"
    Seq((1L, "a")).toDF("k", "s").write.parquet(path)
    def cols(known: Option[StructType]): Seq[String] =
      graft.Tables.parquet(spark, path, known).schema.fieldNames.toSeq
    assert(cols(None) === Seq("k", "s"))
    assert(cols(Some(new StructType().add("k", LongType))) === Seq("k"))
    assert(cols(None) === Seq("k", "s"))
  }

  test("a plain graft-tx read gate compiles no code on its third run") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Unit = TxTable.timeTravelSqlGateQuery(spark, sfDir).collect()
    run()
    run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
  }
}
