package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThanOrEqual, StringStartsWith}
import graft.sources.{TxTable, TxTableSource}

/** The `graft-tx` format face: spark.read.format / df.write.format /
  * SQL `USING` over TxTable, matching the Scala API bit-for-bit. */
class TxSourceSpec extends SparkSpec {

  private def face(root: String) = spark.read.format("graft-tx").load(root)

  test("format reads match API reads bit-for-bit, including time travel") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-basic"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    Thread.sleep(20)
    val tsBetween = System.currentTimeMillis()
    Thread.sleep(20)
    TxTable.append(Seq((3L, 30.0)).toDF("k", "v"), root)
    // latest
    assert(face(root).collect().toSet ===
      TxTable.read(spark, root).collect().toSet)
    assert(face(root).schema === TxTable.read(spark, root).schema)
    // versionAsOf
    val v1 = spark.read.format("graft-tx").option("versionAsOf", 1).load(root)
    assert(v1.collect().toSet ===
      TxTable.read(spark, root, version = 1).collect().toSet)
    // timestampAsOf (epoch millis) resolves to v1
    val byTs = spark.read.format("graft-tx")
      .option("timestampAsOf", tsBetween).load(root)
    assert(byTs.collect().toSet === v1.collect().toSet)
    // both options together is an error
    intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("versionAsOf", 1)
        .option("timestampAsOf", tsBetween).load(root).collect()
    }
  }

  test("format reads resolve merge-on-read exactly like the API") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-mor"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11.0, 3L), (2L, "D", 0.0, 4L), (3L, "I", 30.0, 5L))
        .toDF("k", "op", "v", "seq"))
    val got = face(root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 11.0, 3L -> 30.0))
    assert(face(root).collect().toSet === TxTable.read(spark, root).collect().toSet)
    // filters pushed through the face respect resolution (value column)
    assert(face(root).filter(col("v") <= 15.0).collect()
      .map(_.getLong(0)).toSet === Set(1L))
  }

  test("colRange options prune dirs, observable via Dataset.inputFiles") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-prune"
    (0 until 4).foreach { i =>
      TxTable.append(
        (i * 100L until i * 100L + 100L).map(k => (k, k * 2.0)).toDF("k", "v"),
        root, statsCols = Seq("k"))
    }
    val all = face(root)
    val pruned = spark.read.format("graft-tx")
      .option("colRange.k", "150,160").load(root)
    assert(all.inputFiles.length > pruned.inputFiles.length,
      s"expected pruning: all=${all.inputFiles.length} pruned=${pruned.inputFiles.length}")
    // only dir #1 (keys 100-199) can intersect [150,160]
    val allDirs = all.inputFiles.map(f => f.split("/data/")(1).split("/")(0)).distinct
    val prunedDirs = pruned.inputFiles.map(f => f.split("/data/")(1).split("/")(0)).distinct
    assert(allDirs.length === 4 && prunedDirs.length === 1, s"$prunedDirs")
    assert(pruned.collect().map(_.getLong(0)).toSet === (150L to 160L).toSet)
    // keyRange option addresses the default range column the same way
    val byKeyRange = spark.read.format("graft-tx")
      .option("keyRange", "150,160").load(root)
    assert(byKeyRange.collect().toSet === pruned.collect().toSet)
  }

  test("pushed filters intersect into dir pruning and stay correct") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-filters"
    (0 until 4).foreach { i =>
      TxTable.append(
        (i * 100L until i * 100L + 100L).map(k => (k, s"s$k")).toDF("k", "s"),
        root, statsCols = Seq("k"))
    }
    val q = face(root).filter(col("k") >= 150L && col("k") <= 160L)
    assert(q.collect().map(_.getLong(0)).toSet === (150L to 160L).toSet)
    val eq = face(root).filter(col("k") === 250L)
    assert(eq.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((250L, "s250")))
    // string pushdown translates without affecting results
    assert(face(root).filter(col("s").startsWith("s25")).count() === 11) // 250..259 + 25
  }

  test("rangesFromFilters translates only contiguous integral shapes") {
    val rs = TxTableSource.rangesFromFilters(Array(
      GreaterThanOrEqual("k", 10L), LessThanOrEqual("k", 20L),
      EqualTo("j", 5), GreaterThan("m", 7L),
      In("n", Array[Any](3L, 9L, 6L)),
      And(GreaterThanOrEqual("a", 1L), LessThanOrEqual("a", 2L)),
      StringStartsWith("s", "x"), EqualTo("t", "str")))
    assert(rs("k") === (10L, 20L))
    assert(rs("j") === (5L, 5L))
    assert(rs("m") === (8L, Long.MaxValue))
    assert(rs("n") === (3L, 9L))
    assert(rs("a") === (1L, 2L))
    assert(!rs.contains("s") && !rs.contains("t"))
    // DATE literals bound in epoch days, the DATE partition key encoding
    val day = java.time.LocalDate.of(2026, 1, 2).toEpochDay
    val ds = TxTableSource.rangesFromFilters(Array(
      EqualTo("d", java.sql.Date.valueOf("2026-01-02")),
      GreaterThan("e", java.time.LocalDate.of(2026, 1, 2))))
    assert(ds("d") === (day, day))
    assert(ds("e") === (day + 1, Long.MaxValue))
  }

  /** Data files the plan of `df` scans, read off its RDD lineage — so a
    * relation's inner snapshot scan counts too. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Seq[String] = r match {
      case f: org.apache.spark.sql.execution.datasources.FileScanRDD =>
        f.filePartitions.flatMap(_.files.map(_.filePath.toPath.toUri.getPath))
      case _ => r.dependencies.flatMap(d => walk(d.rdd))
    }
    walk(df.queryExecution.toRdd).toSet
  }

  /** The Scala `colRanges`, the `colRange.*` options and the equivalent
    * SQL WHERE — on the path face and on a catalog table — select the
    * same data files and the same rows. */
  private def sameSelection(root: String, name: String,
    ranges: Map[String, (Long, Long)], rows: Long, pruned: Boolean): Unit = {
    val where = ranges.map { case (c, (lo, hi)) =>
      s"$c BETWEEN $lo AND $hi" }.mkString(" AND ")
    val byOptions = ranges.foldLeft(spark.read.format("graft-tx")) {
      case (r, (c, (lo, hi))) => r.option(s"colRange.$c", s"$lo,$hi")
    }.load(root)
    face(root).createOrReplaceTempView(s"${name}_path")
    spark.sql(s"CREATE TABLE ${name}_cat USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    try {
      val faces = Seq(
        "read(colRanges)" -> TxTable.read(spark, root, colRanges = ranges),
        "colRange options" -> byOptions,
        "path WHERE" -> spark.sql(s"SELECT * FROM ${name}_path WHERE $where"),
        "catalog WHERE" -> spark.sql(s"SELECT * FROM ${name}_cat WHERE $where"))
      val (files, got) = (scannedFiles(faces.head._2),
        faces.head._2.collect().map(_.toSeq).toSet)
      assert(got.size === rows)
      faces.tail.foreach { case (what, df) =>
        assert(scannedFiles(df) === files, what)
        assert(df.collect().map(_.toSeq).toSet === got, what)
      }
      // inputFiles reports the dirs the triage keeps; the optimizer may
      // still drop a kept scan whose rows the filter folds to nothing
      // (a pre-ADD dir's NULL-filled column)
      def paths(df: org.apache.spark.sql.DataFrame) = df.inputFiles
        .map(new org.apache.hadoop.fs.Path(_).toUri.getPath).toSet
      val (kept, all) = (paths(byOptions), paths(face(root)))
      assert(files.nonEmpty && files.subsetOf(kept))
      if (pruned) assert(kept.size < all.size) else assert(kept === all)
    } finally spark.sql(s"DROP TABLE ${name}_cat")
  }

  test("plain table: Scala ranges, options and SQL WHERE select alike") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-eq-plain"
    (0 until 4).foreach { i =>
      TxTable.append((i * 100L until i * 100L + 100L)
        .map(k => (k, k * 2)).toDF("k", "v"), root, statsCols = Seq("k"))
    }
    sameSelection(root, "eq_plain", Map("k" -> (150L, 160L)), 11L,
      pruned = true)
  }

  test("keyed MoR table: a value-column range selects alike, unpruned") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-eq-mor"
    TxTable.mergeDelta(spark, root, (1L to 100L)
      .map(k => (k, "I", k * 10, k)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root, (1L to 50L)
      .map(k => (k, if (k % 5 == 0) "D" else "U", k * 10 + 1000, 100 + k))
      .toDF("k", "op", "v", "seq"))
    // v in [400, 1200]: keys 51-100 keep k*10 (v >= 510), keys 1-20
    // not deleted moved to k*10+1000 (<= 1200 for k <= 20)
    sameSelection(root, "eq_mor", Map("v" -> (400L, 1200L)), 66L,
      pruned = false)
  }

  test("column-mapped table: ranges on the renamed column select alike") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-eq-mapped"
    (0 until 4).foreach { i =>
      TxTable.append((i * 100L until i * 100L + 100L)
        .map(k => (k, k * 2)).toDF("k", "v"), root, statsCols = Seq("k"))
    }
    TxTable.renameColumn(spark, root, "k", "key")
    sameSelection(root, "eq_mapped", Map("key" -> (150L, 260L)), 111L,
      pruned = true)
  }

  test("null-filled declared column: ranges on it select alike") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-eq-declared"
    (0 until 2).foreach { i =>
      TxTable.append((i * 10L until i * 10L + 10L).map(k => (k, k * 2))
        .toDF("k", "v"), root, statsCols = Seq("k"))
    }
    TxTable.addColumn(spark, root, "x", org.apache.spark.sql.types.LongType)
    (2 until 4).foreach { i =>
      TxTable.append((i * 10L until i * 10L + 10L)
        .map(k => (k, k * 2, (i - 2) * 100L + k % 10)).toDF("k", "v", "x"),
        root, statsCols = Seq("k", "x"))
    }
    // pre-ADD dirs read x as NULL and are opened; the x = 100..109
    // dir is refuted
    sameSelection(root, "eq_declared", Map("x" -> (5L, 7L)), 3L,
      pruned = true)
  }

  test("writes through the format face: append, overwrite, modes") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-write"
    Seq((1L, 1.0)).toDF("k", "v").write.format("graft-tx")
      .mode("append").option("statsCols", "k").save(root)
    Seq((2L, 2.0)).toDF("k", "v").write.format("graft-tx")
      .mode("append").option("statsCols", "k").save(root)
    assert(TxTable.read(spark, root).count() === 2)
    assert(TxTable.latestVersion(spark, root) === 2)
    // the statsCols option recorded stats: a point read prunes
    assert(spark.read.format("graft-tx").option("colRange.k", "1,1")
      .load(root).inputFiles.length <
      spark.read.format("graft-tx").load(root).inputFiles.length)
    Seq((9L, 9.0)).toDF("k", "v").write.format("graft-tx")
      .mode("overwrite").save(root)
    assert(face(root).collect().map(_.getLong(0)).toSet === Set(9L))
    intercept[IllegalStateException] {
      Seq((1L, 1.0)).toDF("k", "v").write.format("graft-tx")
        .mode("errorifexists").save(root)
    }
    Seq((8L, 8.0)).toDF("k", "v").write.format("graft-tx")
      .mode("ignore").save(root)   // table exists: no-op
    assert(face(root).collect().map(_.getLong(0)).toSet === Set(9L))
  }

  test("SQL face: CREATE TABLE USING graft-tx; registerView delegates") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-sql"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    spark.sql("DROP TABLE IF EXISTS tx_face")
    spark.sql(s"CREATE TABLE tx_face USING `graft-tx` OPTIONS (path '$root')")
    try {
      assert(spark.sql("SELECT sum(k) FROM tx_face").collect()(0).getLong(0) === 3L)
      // a catalog table follows the table across commits
      TxTable.append(Seq((4L, 40.0)).toDF("k", "v"), root)
      spark.sql("REFRESH TABLE tx_face")
      assert(spark.sql("SELECT count(*) FROM tx_face").collect()(0).getLong(0) === 3L)
    } finally spark.sql("DROP TABLE IF EXISTS tx_face")
    // registerView pins the CURRENT version through the format face
    TxTable.registerView(spark, "tx_view", root)
    TxTable.append(Seq((5L, 50.0)).toDF("k", "v"), root)
    assert(spark.sql("SELECT count(*) FROM tx_view").collect()(0).getLong(0) === 3L,
      "a registered view must pin its version (repeatable read)")
    TxTable.registerView(spark, "tx_view", root)
    assert(spark.sql("SELECT count(*) FROM tx_view").collect()(0).getLong(0) === 4L)
  }

  test("colRange options resolve mixed-case columns") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-case"
    // DataFrameReader lowercases option KEYS (CaseInsensitiveMap), so
    // `colRange.Price` arrives as `colrange.price` — the relation must
    // resolve it back to the real column or the range silently no-ops
    TxTable.append(Seq((1L, 100L), (2L, 300L)).toDF("k", "Price"), root,
      statsCols = Seq("Price"))
    val got = spark.read.format("graft-tx")
      .option("colRange.Price", "0,200").load(root)
    assert(got.collect().map(_.getLong(0)).toSet === Set(1L),
      "mixed-case colRange must filter, not silently return everything")
  }

  test("timestampAsOf accepts ISO-8601 and local timestamps") {
    assert(TxTableSource.parseTs("1700000000000") === 1700000000000L)
    assert(TxTableSource.parseTs("2023-11-14T22:13:20Z") === 1700000000000L)
    val local = TxTableSource.parseTs("2023-11-14 22:13:20")
    assert(local === java.sql.Timestamp.valueOf("2023-11-14 22:13:20").getTime)
  }

  test("streaming face tails the change feed incrementally, exactly once") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-stream"
    val ckpt = tmpDir() + "/txsrc-stream-ckpt"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    val q = spark.readStream.format("graft-tx").load(root)
      .writeStream.format("memory").queryName("txfeed")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 1 = the v1 inserts, tagged with op/commit_version
      val first = spark.sql("SELECT k, op, commit_version FROM txfeed")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(first === Set((1L, "I", 1L), (2L, "I", 1L)))
      // a new commit arrives while the stream runs → delivered once
      TxTable.append(Seq((3L, 30.0)).toDF("k", "v"), root)
      q.processAllAvailable()
      val all = spark.sql("SELECT k, op, commit_version FROM txfeed")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(all.toSet ===
        Set((1L, "I", 1L), (2L, "I", 1L), (3L, "I", 2L)))
      assert(all.length === 3, "append sink must not re-deliver old commits")
    } finally q.stop()
    // the feed through the streaming face equals the batch change feed
    val batchFeed = TxTable.changes(spark, root)
      .select("k", "op", "commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = spark.sql("SELECT k, op, commit_version FROM txfeed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batchFeed)
  }

  test("streaming face resumes from its checkpoint across restarts") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-resume"
    val ckpt = tmpDir() + "/txsrc-resume-ckpt"
    val outDir = tmpDir() + "/txsrc-resume-out"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    // the file sink supports checkpoint recovery (memory does not)
    def run(): Unit = {
      val q = spark.readStream.format("graft-tx").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // two more commits while the stream is DOWN
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    TxTable.append(Seq((3L, 3.0)).toDF("k", "v"), root)
    run()
    // exactly once across the restart: every version delivered, none
    // twice (the restarted query starts from the checkpointed offset)
    val all = spark.read.parquet(outDir).select("k", "commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(all.sorted === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("streaming face honors startingVersion") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-startv"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    TxTable.append(Seq((3L, 3.0)).toDF("k", "v"), root)
    val q = spark.readStream.format("graft-tx")
      .option("startingVersion", 3).load(root)
      .writeStream.format("memory").queryName("txstartv")
      .option("checkpointLocation", tmpDir() + "/txsrc-startv-ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT k, commit_version FROM txstartv")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((3L, 3L)),
      "startingVersion must skip the earlier history")
  }

  test("streaming sink appends micro-batches exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-append"
    val ckpt = tmpDir() + "/txsink-append-ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("k", "v")
      .writeStream.format("graft-tx").option("path", root)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      assert(TxTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet ===
        Set((1L, 10.0), (2L, 20.0)))
      input.addData((3L, 30.0))
      q.processAllAvailable()
      assert(TxTable.read(spark, root).count() === 3L)
    } finally q.stop()
    // a replayed batch id must be a no-op (the restart path) — the
    // sink scopes its tags by the checkpoint-derived stream identity
    val sid = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(ckpt).toLong & 0xffffffffL)
    val before = TxTable.latestVersion(spark, root)
    TxTable.appendBatch(Seq((9L, 90.0)).toDF("k", "v"), root,
      batchId = 1L, streamId = sid)
    assert(TxTable.latestVersion(spark, root) === before,
      "replaying an already-committed batch id must not commit")
    assert(TxTable.read(spark, root).count() === 3L)
    // …while ANOTHER stream's batch 1 is a different batch entirely
    TxTable.appendBatch(Seq((9L, 90.0)).toDF("k", "v"), root,
      batchId = 1L, streamId = "other-stream")
    assert(TxTable.read(spark, root).count() === 4L,
      "tags are per-stream: a second query's ids must not collide")
  }

  test("streaming sink with keys applies CDC batches as exactly-once deltas") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-cdc"
    val ckpt = tmpDir() + "/txsink-cdc-ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    val q = input.toDF().toDF("k", "op", "v", "seq")
      .writeStream.format("graft-tx").option("path", root)
      .option("keys", "k")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
      q.processAllAvailable()
      input.addData((1L, "U", 11.0, 3L), (2L, "D", 0.0, 4L), (3L, "I", 30.0, 5L))
      q.processAllAvailable()
    } finally q.stop()
    val got = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === Map(1L -> 11.0, 3L -> 30.0))
  }

  test("table-to-table CDC replication through the two streaming faces") {
    import spark.implicits._
    val src = tmpDir() + "/txrepl-src"
    val dst = tmpDir() + "/txrepl-dst"
    val ckpt = tmpDir() + "/txrepl-ckpt"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), src)
    // feed columns (k, v, op, commit_version) → CDC shape for the sink
    def run(): Unit = {
      val q = spark.readStream.format("graft-tx").load(src)
        .selectExpr("k", "op", "v", "commit_version AS seq")
        .writeStream.format("graft-tx").option("path", dst)
        .option("keys", "k")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(TxTable.read(spark, dst).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      Set((1L, 10.0), (2L, 20.0)))
    // more source commits while the pipeline is down; restart catches up
    TxTable.append(Seq((3L, 30.0)).toDF("k", "v"), src)
    run()
    assert(TxTable.read(spark, dst).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      TxTable.read(spark, src).select("k", "v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet,
      "replica must converge to the source snapshot")
  }

  test("streaming face serves replace-style commits via the staged diff") {
    import spark.implicits._
    // CoW merge commits record no per-batch change set — the feed
    // falls back to the keyed snapshot diff, which the DSv2 source
    // stages ONCE under _changes/ and serves as plain files (replays
    // and late subscribers reuse the staged artifact)
    val root = tmpDir() + "/txsrc-stream-cow"
    TxTable.merge(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    TxTable.merge(spark, root,
      Seq((1L, "U", 11.0, 3L), (2L, "D", 0.0, 4L)).toDF("k", "op", "v", "seq"))
    val q = spark.readStream.format("graft-tx").load(root)
      .writeStream.format("memory").queryName("txcow")
      .option("checkpointLocation", tmpDir() + "/txsrc-stream-cow-ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "op", "v", "commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(keyed(spark.sql("SELECT * FROM txcow")) ===
      keyed(TxTable.changes(spark, root)),
      "streamed diff feed must equal the batch change feed")
    // the staged diff is a reusable artifact, one dir per diffed commit
    val staged = new java.io.File(root.stripPrefix("file:"), "_changes")
      .listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(staged === Array("v00000001", "v00000002"))
  }

  test("streaming face requires an existing table and supports MoR delta feeds") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-tx").load(tmpDir() + "/txsrc-missing")
    }
    // delta commits stream their recorded per-batch change rows
    val root = tmpDir() + "/txsrc-stream-mor"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11.0, 3L), (2L, "D", 0.0, 4L)).toDF("k", "op", "v", "seq"))
    val q = spark.readStream.format("graft-tx").load(root)
      .writeStream.format("memory").queryName("txmor")
      .option("checkpointLocation", tmpDir() + "/txsrc-stream-mor-ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT k, op, commit_version FROM txmor")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "I", 1L), (2L, "I", 1L),
      (1L, "U", 2L), (2L, "D", 2L)))
  }

  test("strRange options and pushed string filters prune via string stats") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-strrange"
    TxTable.append(Seq((1L, "apple"), (2L, "banana")).toDF("k", "s"),
      root, statsCols = Seq("s"))
    TxTable.append(Seq((3L, "melon"), (4L, "peach")).toDF("k", "s"),
      root, statsCols = Seq("s"))
    val all = face(root).inputFiles.length
    val opt = spark.read.format("graft-tx")
      .option("strRange.s", "apple,banana").load(root)
    assert(opt.inputFiles.length < all,
      "strRange option must prune dirs, observable via inputFiles")
    assert(opt.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // pushed equality/range filters reach the same string-stats
    // pruning inside the scan (and stay correct)
    assert(face(root).filter(col("s") === "melon").collect()
      .map(_.getLong(0)).toSet === Set(3L))
    assert(face(root).filter(col("s") >= "melon" && col("s") <= "peach")
      .collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    // the filter-derived ranges are implied bounds only: rows outside
    // never leak in, rows inside never drop
    assert(face(root).filter(col("s") > "apple" && col("s") < "peach")
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("sizeInBytes from _bytes stats: small tables auto-broadcast") {
    import spark.implicits._
    val root = tmpDir() + "/txsrc-size"
    TxTable.append((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), root)
    val rel = face(root)
    // the relation reports its true on-disk size, not
    // defaultSizeInBytes (which would veto every broadcast)
    val size = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 10L * 1024 * 1024,
      s"metadata-only sizeInBytes must be table-scale, got $size")
    // and Catalyst auto-broadcasts it in a join against a big side
    val big = spark.range(100000L).toDF("k")
    val plan = big.join(rel, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a small graft-tx table must broadcast:\n$plan")
    // legacy commits without _bytes stats fall back to file listing
    val legacy = tmpDir() + "/txsrc-size-legacy"
    Seq((1L, "a")).toDF("k", "v").write
      .parquet(legacy + "/data/append-legacy")
    val cd = java.nio.file.Paths.get(legacy, "_commits")
    java.nio.file.Files.createDirectories(cd)
    java.nio.file.Files.write(cd.resolve("v00000001"),
      "op:append\ndir:data/append-legacy".getBytes("UTF-8"))
    val lsize = face(legacy).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(lsize > 0 && lsize < 10L * 1024 * 1024,
      s"legacy tables must fall back to listed file lengths, got $lsize")
  }

  test("anonymous sink streams: a second query fails loudly, never drops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-anon"
    // neither queryName nor a checkpointLocation WRITER OPTION: the
    // session-level checkpoint root is the real-world path onto the
    // V1-compat shared "default" replay lineage
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      tmpDir() + "/anon-ckpts")
    try {
      val in1 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double)]
      val q1 = in1.toDF().toDF("k", "v")
        .writeStream.format("graft-tx").option("path", root)
        .outputMode("append").start()
      try {
        in1.addData((1L, 10.0)); q1.processAllAvailable()
      } finally q1.stop()
      assert(TxTable.read(spark, root).count() === 1L)
      // a DIFFERENT anonymous query against the same table restarts
      // its epochs at 0 — inside the first query's committed replay
      // window, where every batch would be silently dropped. The owner
      // marker detects the collision and fails the query loudly.
      val in2 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Double)]
      val q2 = in2.toDF().toDF("k", "v")
        .writeStream.format("graft-tx").option("path", root)
        .outputMode("append").start()
      val err = intercept[Exception] {
        in2.addData((9L, 90.0)); q2.processAllAvailable()
      }
      q2.stop()
      def messages(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + messages(t.getCause)
      assert(messages(err).contains("replay-protection lineage"),
        s"expected the lineage-collision error, got: ${messages(err)}")
      assert(TxTable.read(spark, root).count() === 1L,
        "the second query must neither drop silently nor double-apply")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("batch write face: partitionBy option lands the proven layout") {
    import spark.implicits._
    val root = tmpDir() + "/txwrite-part"
    (1L to 40L).map(i => (i % 4, i)).toDF("p", "k")
      .write.format("graft-tx").option("path", root)
      .option("partitionBy", "p").option("statsCols", "k")
      .mode("append").save()
    // provably clustered: the SPJ face accepts it
    val spj = spark.read.format("graft-tx")
      .option("partitionCol", "p").load(root)
    assert(spj.count() === 40L)
    assert(TxTable.read(spark, root).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length === 4)
    // overwrite + partitionBy is rejected, not silently unpartitioned
    intercept[IllegalArgumentException] {
      (1L to 4L).map(i => (i, i)).toDF("p", "k")
        .write.format("graft-tx").option("path", root)
        .option("partitionBy", "p").mode("overwrite").save()
    }
  }

  test("partitionBy sink: single-write promote into a proven layout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-part"
    val ckpt = tmpDir() + "/txsink-part-ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val q = input.toDF().toDF("day", "k", "v")
      .writeStream.format("graft-tx").option("path", root)
      .option("partitionBy", "day").option("statsCols", "k")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData((1L, 10L, 1.0), (2L, 20L, 2.0), (1L, 11L, 1.1))
      q.processAllAvailable()
      input.addData((2L, 21L, 2.1), (3L, 30L, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L)))
    // the data files are the WRITERS' staged files, promoted by rename
    // (the rewrite path would re-write them under Spark part- names
    // with a compression suffix) — proof the epoch was written ONCE
    val dataFiles = spark.read.format("graft-tx").load(root).inputFiles
    assert(dataFiles.nonEmpty && dataFiles.forall(f =>
      new org.apache.hadoop.fs.Path(f).getName
        .matches("part-\\d+-\\d+-\\d+\\.parquet")),
      s"promoted files must keep their staged names, got $dataFiles")
    // one dir per (epoch, value); each single-valued + null-free on
    // `day` — provable from the commit alone, so the SPJ face accepts
    // the streamed table as partition-clustered (would throw if not)
    val spj = spark.read.format("graft-tx")
      .option("partitionCol", "day").load(root)
    assert(spj.groupBy("day").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 2L), (3L, 1L)))
    // the statsCols column rode the footers into per-dir stats:
    // a k-range read prunes dirs (observable via inputFiles)
    val pruned = TxTable.read(spark, root,
      colRanges = Map("k" -> (30L, 99L)))
    assert(pruned.collect().map(_.getLong(1)).toSet === Set(30L))
    // replaying a committed epoch is a no-op (restart path)
    val sid = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(ckpt).toLong & 0xffffffffL)
    val before = TxTable.latestVersion(spark, root)
    val schema = TxTable.read(spark, root).schema
    TxTable.promotePartitioned(spark, root,
      TxTable.staging(spark, root, schema, Seq("day"), Seq("k")), Seq.empty,
      epoch = Some(TxTable.Epoch(sid, 0L, _ => ())))
    assert(TxTable.latestVersion(spark, root) === before)
  }

  test("partitionBy sink: STRING keys promote by rename, job-free") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-partstr"
    val ckpt = tmpDir() + "/txsink-partstr-ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val q = input.toDF().toDF("day", "k")
      .writeStream.format("graft-tx").option("path", root)
      .option("partitionBy", "day").option("statsCols", "k")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData(("2026-08-01", 10L), ("2026-08-02", 20L),
        ("2026-08-01", 11L))
      q.processAllAvailable()
      input.addData(("2026-08-02", 21L), ("täglich", 30L))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("2026-08-01", 10L), ("2026-08-01", 11L), ("2026-08-02", 20L),
        ("2026-08-02", 21L), ("täglich", 30L)))
    // promoted by RENAME (staged names survive): the writer-observed
    // tuples proved the string layout — footer binary bounds were
    // never consulted, and no second write happened
    val dataFiles = spark.read.format("graft-tx").load(root).inputFiles
    assert(dataFiles.nonEmpty && dataFiles.forall(f =>
      new org.apache.hadoop.fs.Path(f).getName
        .matches("part-\\d+-\\d+-\\d+\\.parquet")),
      s"promoted files must keep their staged names, got " +
        dataFiles.mkString(", "))
    // the streamed table is immediately SPJ-clustered on the string
    // key AND metadata-GROUP-BY-able (sx exact marker + zero nulls)
    val spj = spark.read.format("graft-tx")
      .option("partitionCol", "day").load(root)
    assert(spj.groupBy("day").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("2026-08-01", 2L), ("2026-08-02", 2L), ("täglich", 1L)))
  }

  test("partitionBy sink: NULL partition values fail loudly, not lost") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-partnull"
    val ckpt = tmpDir() + "/txsink-partnull-ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("day", "v")
      .select(when(col("day") > 1L, col("day")).as("day"), col("v"))
      .writeStream.format("graft-tx").option("path", root)
      .option("partitionBy", "day")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    input.addData((1L, 1.0), (2L, 2.0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    q.stop()
    assert(e.getMessage.contains("NULL") ||
      Option(e.getCause).exists(_.getMessage.contains("NULL")),
      s"NULL partition values must be rejected, got: ${e.getMessage}")
  }

  test("partitioned promote runs ZERO Spark jobs on the fast path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = tmpDir() + "/txsink-partzero"
    val schema = StructType(Seq(StructField("day", LongType),
      StructField("k", LongType)))
    // stage two partition-pure files through the writer BEFORE
    // attaching the job counter — only the promote itself must be
    // job-free
    val st = TxTable.staging(spark, root, schema, Seq("day"), Seq("k"))
    val staged = stageRows(root + "/_staging/z/epoch-0/part-0-0", schema,
      Seq("day"), Seq(Row(1L, 10L), Row(1L, 11L), Row(2L, 20L)),
      sketchCols = st.statsCols)
    assert(staged.map(_.partVals) === Seq(Seq(Some(1L)), Seq(Some(2L))))
    val jobs = jobsDuring {
      TxTable.promotePartitioned(spark, root, st, staged,
        epoch = Some(TxTable.Epoch("z", 0L, _ => ())))
    }
    assert(jobs === 0,
      s"the rename-promote must be driver-side metadata only, " +
        s"ran $jobs jobs")
    // and the writer-seen stats are the real write-side grammar:
    // metadata GROUP BY serves per-day counts with zero data I/O, and
    // a k-range read prunes dirs
    assert(TxTable.read(spark, root).count() === 3L)
    val spj = spark.read.format("graft-tx")
      .option("partitionCol", "day").load(root)
    assert(spj.groupBy("day").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 1L)))
    assert(TxTable.read(spark, root, colRanges = Map("k" -> (15L, 99L)))
      .inputFiles.length === 1)
  }

  test("partitionBy sink: a renamed-column table promotes by rename") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-partmapped"
    TxTable.appendPartitionedBy(Seq((1L, 10L, 1.0)).toDF("day", "k", "v"),
      root, Seq("day"), statsCols = Seq("k"))
    // both the partition column and a data column are renamed: the
    // epoch stages under the PHYSICAL names (day, v) and promotes
    TxTable.renameColumn(spark, root, "day", "dt")
    TxTable.renameColumn(spark, root, "v", "value")
    val loaded = face(root).inputFiles.toSet
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val q = input.toDF().toDF("dt", "k", "value")
      .writeStream.format("graft-tx").option("path", root)
      .option("partitionBy", "dt").option("statsCols", "k")
      .option("checkpointLocation", tmpDir() + "/txsink-partmapped-ckpt")
      .outputMode("append").start()
    try {
      input.addData((1L, 11L, 1.1), (2L, 20L, 2.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ===
      Set((1L, 10L, 1.0), (1L, 11L, 1.1), (2L, 20L, 2.0)))
    // the epoch's files keep their staged names under physical dirs
    val epochFiles = face(root).inputFiles.filterNot(loaded)
      .map(new org.apache.hadoop.fs.Path(_))
      .filter(_.getName.matches("part-\\d+-\\d+-\\d+\\.parquet"))
    assert(epochFiles.length === 2 &&
      epochFiles.forall(_.getParent.getName.startsWith("day=")),
      s"the epoch must promote its staged files, got " +
        face(root).inputFiles.mkString(", "))
    // the layout still proves its clustering on the logical name
    assert(spark.read.format("graft-tx").option("partitionCol", "dt")
      .load(root).groupBy("dt").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L), (2L, 1L)))
  }

  test("partitionBy sink: a string value over the stat cap is refused") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/txsink-partcap"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val q = input.toDF().toDF("day", "k")
      .writeStream.format("graft-tx").option("path", root)
      .option("partitionBy", "day")
      .option("checkpointLocation", tmpDir() + "/txsink-partcap-ckpt")
      .outputMode("append").start()
    input.addData(("x" * 49, 1L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + messages(t.getCause)
    assert(messages(e).contains("partition value exceeds 48 UTF-8 bytes"),
      messages(e))
    assert(!TxTable.exists(spark, root) ||
      TxTable.latestVersion(spark, root) === 0)
  }

  test("the staged writer's facts equal the file's footer facts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("y", ByteType),
      StructField("s", ShortType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("str", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("dec", DecimalType(10, 2)),
      StructField("wide", DecimalType(30, 5)),
      StructField("arr", ArrayType(LongType)),
      StructField("none", LongType)))
    def row(n: Int): Row = Row(n % 2 == 0, (n - 3).toByte, (n * 100).toShort,
      n * -7, n.toLong << 40, n * 0.5f, n * -1.25, s"s$n",
      Array[Byte](n.toByte), java.sql.Date.valueOf(s"2026-0${n + 1}-15"),
      new java.sql.Timestamp(n * 86400000L - 5),
      java.time.LocalDateTime.of(2020, 1, n + 1, 0, 0),
      BigDecimal(n * 1.25 - 3), BigDecimal(n).pow(3), Seq(n.toLong, -n.toLong),
      null)
    val nullRow = Row.fromSeq(Seq.fill(schema.length)(null))
    val rows = (1 to 5).map(row) :+ nullRow :+ row(0)
    val Seq(f) = stageRows(tmpDir() + "/facts/part-0-0", schema, Seq.empty,
      rows)
    val p = new org.apache.hadoop.fs.Path(f.path)
    val conf = spark.sessionState.newHadoopConf()
    assert(f.bytes === p.getFileSystem(conf).getFileStatus(p).getLen)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    val blocks = try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    assert(f.rows === blocks.map(_.getRowCount).sum)
    assert(f.rows === 7L && f.partVals === Seq.empty)
    // the footer's facts, folded over row groups: a null count per
    // top-level column, (min, max) per INT32/INT64 column with values
    val chunks = blocks.flatMap(_.getColumns.asScala)
      .filter(_.getPath.size == 1).groupBy(_.getPath.toDotString)
    val nulls = chunks.map { case (c, cs) =>
      c -> cs.map(_.getStatistics.getNumNulls).sum }
    val bounds = chunks.flatMap { case (c, cs) =>
      val sts = cs.map(_.getStatistics).filter(_.hasNonNullValue)
      sts.headOption.collect {
        case _: org.apache.parquet.column.statistics.IntStatistics =>
          val is = sts.map(_.asInstanceOf[
            org.apache.parquet.column.statistics.IntStatistics])
          c -> (is.map(_.getMin.toLong).min, is.map(_.getMax.toLong).max)
        case _: org.apache.parquet.column.statistics.LongStatistics =>
          val ls = sts.map(_.asInstanceOf[
            org.apache.parquet.column.statistics.LongStatistics])
          c -> (ls.map(_.getMin).min, ls.map(_.getMax).max)
      }
    }
    assert(f.nulls === nulls)
    assert(f.bounds === bounds)
    // every INT32/INT64 column with values has bounds; "none" has none
    assert(f.bounds.keySet === Set("y", "s", "i", "l", "dt", "ts", "ntz",
      "dec"))
    assert(f.nulls("none") === 7L && f.nulls("l") === 1L)
  }

  test("maxVersionsPerTrigger drains a backlog in capped micro-batches") {
    import spark.implicits._
    // a stream started against a table with history must NOT admit the
    // whole backlog as one micro-batch: cap at 2 versions/trigger and
    // drain 5 commits with Trigger.AvailableNow — the engine should
    // checkpoint >=3 batches and stop at the pinned head
    val root = tmpDir() + "/txsrc-admission"
    val ckpt = tmpDir() + "/txsrc-admission-ckpt"
    (1 to 5).foreach(i =>
      TxTable.append(Seq((i.toLong, i * 10.0)).toDF("k", "v"), root))
    val q = spark.readStream.format("graft-tx")
      .option("maxVersionsPerTrigger", 2).load(root)
      .writeStream.format("memory").queryName("txadm")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000),
      "AvailableNow must drain the backlog and terminate")
    finally q.stop()
    val rows = spark.sql("SELECT k, commit_version FROM txadm").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet === (1 to 5).map(i => (i.toLong, i.toLong)).toSet,
      "every commit delivered exactly once across the capped batches")
    assert(rows.length === 5)
    val offsets = new java.io.File(ckpt + "/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(offsets.length >= 3,
      s"5 versions at 2/trigger need >=3 batches, got ${offsets.length}")
  }

  test("maxRowsPerTrigger prices versions from commit row stats") {
    import spark.implicits._
    // 3 commits of 2 rows each at a 2-row budget: one version per
    // micro-batch (the second version's rows would exceed the budget)
    val root = tmpDir() + "/txsrc-rowcap"
    val ckpt = tmpDir() + "/txsrc-rowcap-ckpt"
    (1 to 3).foreach(i => TxTable.append(
      Seq((i.toLong, 1.0), (i + 10L, 2.0)).toDF("k", "v"), root))
    val q = spark.readStream.format("graft-tx")
      .option("maxRowsPerTrigger", 2).load(root)
      .writeStream.format("memory").queryName("txrowcap")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    val rows = spark.sql("SELECT k FROM txrowcap").collect()
      .map(_.getLong(0))
    assert(rows.length === 6 && rows.toSet ===
      Set(1L, 2L, 3L, 11L, 12L, 13L))
    val offsets = new java.io.File(ckpt + "/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(offsets.length === 3,
      s"2-row budget must admit one 2-row version per batch, " +
        s"got ${offsets.length}")
  }

  test("maxBytesPerTrigger prices versions from commit byte stats") {
    import spark.implicits._
    // a 1-byte budget is below every commit's `_bytes` stat, so each
    // micro-batch admits exactly ONE version (the >=1-version progress
    // guarantee) — 4 commits drain as 4 batches, nothing lost
    val root = tmpDir() + "/txsrc-bytecap"
    val ckpt = tmpDir() + "/txsrc-bytecap-ckpt"
    (1 to 4).foreach(i =>
      TxTable.append(Seq((i.toLong, i * 10.0)).toDF("k", "v"), root))
    val q = spark.readStream.format("graft-tx")
      .option("maxBytesPerTrigger", 1).load(root)
      .writeStream.format("memory").queryName("txbytecap")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    val rows = spark.sql("SELECT k, commit_version FROM txbytecap")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet === (1 to 4).map(i => (i.toLong, i.toLong)).toSet)
    val offsets = new java.io.File(ckpt + "/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(offsets.length === 4,
      s"1-byte budget must admit one version per batch, got ${offsets.length}")
  }

  test("SQL FOR VERSION/TIMESTAMP AS OF serves catalog tables, " +
    "bit-identical to the versionAsOf option read") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val root = tmpDir() + "/txsrc-ttsql"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    // commit mtimes have 1s granularity on some filesystems: space
    // the versions so the timestamp boundary is unambiguous
    Thread.sleep(1100)
    val tsV1 = System.currentTimeMillis()
    Thread.sleep(1100)
    // v2 renames v -> val (metadata only); v3 appends under new names
    TxTable.renameColumn(spark, root, "v", "value")
    TxTable.append(Seq((3L, 30.0)).toDF("k", "value"), root)
    spark.sql(
      s"CREATE TABLE tt_sql USING `graft-tx` OPTIONS (path '$root')")
    try {
      def opt(v: Int) = spark.read.format("graft-tx")
        .option("versionAsOf", v).load(root)
      val sqlV1 = spark.sql("SELECT * FROM tt_sql FOR VERSION AS OF 1")
      // the pinned version serves under ITS OWN column names
      assert(sqlV1.columns.toSeq === Seq("k", "v"))
      assert(sqlV1.collect().toSet === opt(1).collect().toSet)
      val sqlV2 = spark.sql("SELECT * FROM tt_sql FOR VERSION AS OF 2")
      assert(sqlV2.columns.toSeq === Seq("k", "value"))
      assert(sqlV2.collect().toSet === opt(2).collect().toSet)
      // latest (no travel) still resolves through the delegate
      assert(spark.sql("SELECT * FROM tt_sql").collect().toSet ===
        TxTable.read(spark, root).collect().toSet)
      // timestamp form: an instant between v1 and v2 pins v1
      val lit = new java.sql.Timestamp(tsV1).toInstant
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
        .replace("T", " ")
      val byTs = spark.sql(
        s"SELECT * FROM tt_sql FOR TIMESTAMP AS OF '$lit'")
      assert(byTs.columns.toSeq === Seq("k", "v"))
      assert(byTs.collect().toSet === opt(1).collect().toSet)
      // a non-graft table still gets the standard unsupported error
      spark.sql("CREATE TABLE tt_plain (k LONG) USING parquet")
      try {
        val e = intercept[Exception] {
          spark.sql("SELECT * FROM tt_plain FOR VERSION AS OF 1").collect()
        }
        assert(e.getMessage.toLowerCase.contains("time travel"),
          e.getMessage)
      } finally spark.sql("DROP TABLE tt_plain")
    } finally spark.sql("DROP TABLE tt_sql")
  }

  test("batch readChangeFeed: inclusive version range, CDC rows " +
    "without Scala") {
    import spark.implicits._
    val root = tmpDir() + "/tx-cdf"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
        .toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11.0, 3L)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      Seq((2L, "D", 0.0, 4L)).toDF("k", "op", "v", "seq"))
    val full = spark.read.format("graft-tx")
      .option("readChangeFeed", "true").load(root)
    assert(full.columns.contains("op") &&
      full.columns.contains("commit_version"))
    assert(full.count() === 4)
    // startingVersion is INCLUSIVE: from v2 the feed is the U and D
    val fromV2 = spark.read.format("graft-tx")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(root)
    assert(fromV2.select("op").as[String].collect().sorted.toSeq ===
      Seq("D", "U"))
    // endingVersion inclusive too: [2, 2] is exactly the U
    val only2 = spark.read.format("graft-tx")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .option("endingVersion", "2").load(root)
    assert(only2.select("op").as[String].collect().toSeq === Seq("U"))
    // a feed read refuses snapshot pinning options
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("readChangeFeed", "true")
        .option("versionAsOf", "1").load(root).collect()
    }
    assert(e.getMessage.contains("startingVersion"))
  }

  test("readChangeFeed from pure SQL (temp view USING) and " +
    "rename-stable physical names") {
    import spark.implicits._
    val root = tmpDir() + "/tx-cdf-sql"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L)).toDF("k", "op", "v", "seq"))
    // rename v -> price: the FEED keeps speaking the stable physical
    // name, so a downstream CDC consumer survives the rename
    TxTable.renameColumn(spark, root, "v", "price")
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 12.0, 2L)).toDF("k", "op", "price", "seq"))
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW cdf_sql USING `graft-tx`
         |OPTIONS (path '$root', readChangeFeed 'true',
         |         startingVersion '1')""".stripMargin)
    val rows = spark.sql(
      "SELECT k, op, v, commit_version FROM cdf_sql ORDER BY commit_version")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getLong(3))).toSeq ===
      Seq((1L, "I", 10.0, 1L), (1L, "U", 12.0, 3L)))
  }

  test("readChangeFeed timestamp bounds resolve against commit mtimes") {
    import spark.implicits._
    val root = tmpDir() + "/tx-cdf-ts"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L)).toDF("k", "op", "v", "seq"))
    Thread.sleep(1100) // local-FS mtimes are second-granular
    val mid = System.currentTimeMillis()
    Thread.sleep(1100)
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11.0, 2L)).toDF("k", "op", "v", "seq"))
    // starting at mid: only the commit AT or AFTER the instant (the U)
    val from = spark.read.format("graft-tx")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", mid.toString).load(root)
    assert(from.select("op").as[String].collect().toSeq === Seq("U"))
    // ending at mid: only what existed AT or BEFORE it (the I)
    val until = spark.read.format("graft-tx")
      .option("readChangeFeed", "true")
      .option("endingTimestamp", mid.toString).load(root)
    assert(until.select("op").as[String].collect().toSeq === Seq("I"))
    // mixing version and timestamp forms on the same bound refuses
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("startingTimestamp", mid.toString).load(root).collect()
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }
}
