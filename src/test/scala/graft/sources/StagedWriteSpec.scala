package graft.sources

import org.apache.spark.sql.functions._
import graft.CountingFileSystem

/** Every single-dir write stages through the one staged writer: its
  * committed files are exactly the ones the writer tasks reported,
  * moved by rename — no output committer, no rewrite, no rescan. */
class StagedWriteSpec extends graft.SparkSpec {
  import spark.implicits._

  private def dataFiles(root: String, dir: String): Seq[String] =
    new java.io.File(root, dir).listFiles().map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted.toSeq

  private def newDirs(root: String)(body: => Unit): Seq[String] = {
    def dirs = TxTable.resolve(spark, root, -1).entries.map(_.dir).toSet
    val before = if (TxTable.exists(spark, root)) dirs else Set.empty[String]
    body
    (dirs -- before).toSeq
  }

  test("a second Scala append makes few filesystem calls") {
    val root = tmpDir() + "/sw_fs"
    val df = (1L to 1000L).map(k => (k, s"v${k % 7}")).toDF("k", "s")
      .repartition(2)
    TxTable.append(df, root, Seq("k", "s"))
    val calls = withConf(CountingFileSystem.conf: _*) {
      CountingFileSystem.during(TxTable.append(df, root, Seq("k", "s")))
    }
    info(s"second append: $calls")
    // 4 creates (the two staged files, the commit claim, the hint),
    // 6 mkdirs (one per create's parent, the promoted dir, the commit
    // dir), 3 renames (the two promotes, the hint) and 2 deletes (the
    // staging prefix, the old hint): 15. The V1 write's output
    // committer made it 20 — its _temporary dirs, task and job renames
    // and _SUCCESS file are gone.
    assert(calls.getOrElse("rename", 0L) <= 3L, calls)
    assert(calls.values.sum <= 15L, s"second append made: $calls")
  }

  test("a file no committed task lists is never promoted") {
    val root = tmpDir() + "/sw_stray"
    TxTable.append(Seq((0L, "a")).toDF("k", "s"), root, Seq("k"))
    // a task of the write drops a stray file into its own staging
    // prefix once its staged file exists — as a failed or speculative
    // attempt could
    val strayUdf = udf { (k: Long) =>
      if (k == 5L) {
        val staging = new java.io.File(root, "_staging")
        staging.listFiles().filter(_.getName.startsWith("write-")).foreach { d =>
          java.nio.file.Files.write(new java.io.File(d, "part-stray.parquet")
            .toPath, Array[Byte](1, 2, 3))
        }
      }
      k
    }
    val df = (1L to 20L).toDF("k").coalesce(1)
      .select(strayUdf(col("k")).as("k"), lit("b").as("s"))
    val Seq(dir) = newDirs(root)(TxTable.append(df, root, Seq("k")))
    val Seq(f) = dataFiles(root, dir)
    assert(f.matches("part-0-\\d+\\.parquet"), f)
    assert(TxTable.read(spark, root).count() === 21L)
    // the staging prefix, stray file included, is gone
    assert(Option(new java.io.File(root, "_staging").listFiles())
      .forall(_.isEmpty))
  }

  test("a plain append epoch promotes its staged files, job-free") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = tmpDir() + "/sw_epoch"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    TxTable.append(Seq((0L, "a")).toDF("k", "s"), root, Seq("k", "s"))
    val st = TxTable.staging(spark, root, schema, Seq.empty)
    val staged = stageRows(root + "/_staging/z/epoch-3/part-0-7", schema,
      Seq.empty, Seq(Row(1L, "x"), Row(2L, null), Row(3L, "y")),
      sketchCols = Seq("k", "s"))
    var dirs = Seq.empty[String]
    val jobs = jobsDuring {
      dirs = newDirs(root)(TxTable.appendEpoch(spark, root, st, staged,
        Seq("k", "s"), TxTable.Epoch("z", 3L, _ => ())))
    }
    assert(jobs === 0, s"the epoch promote ran $jobs Spark jobs")
    val Seq(dir) = dirs
    assert(dataFiles(root, dir) === Seq("part-0-7.parquet"))
    val e = TxTable.resolve(spark, root, -1).entries.find(_.dir == dir).get
    assert(e.stats("_rows") === ((3L, 3L)))
    assert(e.stats("k") === ((1L, 3L)))
    assert(e.stats("n,s") === ((1L, 1L)))
    assert(e.hstats.keySet === Set("k", "s"))
    assert(TxTable.read(spark, root).count() === 4L)
    // a replay of the epoch commits nothing
    val v = TxTable.latestVersion(spark, root)
    TxTable.appendEpoch(spark, root, st, Seq.empty, Seq("k", "s"),
      TxTable.Epoch("z", 3L, _ => ()))
    assert(TxTable.latestVersion(spark, root) === v)
  }

  test("the streaming sink's plain append epochs keep their staged names") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir() + "/sw_sink"
    val ckpt = tmpDir() + "/sw_sink-ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = input.toDF().toDF("k", "s")
      .writeStream.format("graft-tx").option("path", root)
      .option("statsCols", "k,s")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val entries = TxTable.resolve(spark, root, -1).entries
    assert(entries.nonEmpty)
    entries.foreach { e =>
      assert(dataFiles(root, e.dir).forall(_.matches("part-\\d+-\\d+\\.parquet")),
        s"${e.dir}: ${dataFiles(root, e.dir)}")
    }
    assert(TxTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }
}
