package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.TxTable
import graft.streaming.Streams

class TxTableSpec extends SparkSpec {

  test("append commits are snapshots: latest reads the union, time travel reads history") {
    import spark.implicits._
    val root = tmpDir() + "/tx-append"
    val v1 = TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    val v2 = TxTable.append(Seq((3L, 30.0)).toDF("k", "v"), root)
    assert((v1, v2) === (1, 2))
    assert(TxTable.read(spark, root).count() === 3)
    assert(TxTable.read(spark, root, version = 1).count() === 2)
    assert(TxTable.history(spark, root).map(h => (h._1, h._2)) ===
      Seq((1, "append"), (2, "append")))
  }

  test("overwrite replaces contents atomically; the old version stays readable") {
    import spark.implicits._
    val root = tmpDir() + "/tx-ow"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.overwrite(Seq((9L, 9.0), (8L, 8.0)).toDF("k", "v"), root)
    val now = TxTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(now === Set(9L, 8L))
    assert(TxTable.read(spark, root, version = 1).collect()
      .map(_.getLong(0)).toSet === Set(1L))
  }

  test("merge applies CDC semantics copy-on-write") {
    import spark.implicits._
    val root = tmpDir() + "/tx-merge"
    TxTable.merge(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L), (2L, "U", 25.0, 3L))
        .toDF("k", "op", "v", "seq"))
    TxTable.merge(spark, root,
      Seq((1L, "U", 11.0, 4L), (2L, "D", 0.0, 5L), (3L, "I", 30.0, 6L))
        .toDF("k", "op", "v", "seq"))
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t === Map(1L -> 11.0, 3L -> 30.0))
    // every batch is a committed version: pre-merge state is re-readable
    val t1 = TxTable.read(spark, root, version = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t1 === Map(1L -> 10.0, 2L -> 25.0))
  }

  test("commit conflict retries against the winner's snapshot") {
    import spark.implicits._
    val root = tmpDir() + "/tx-race"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    // simulate a concurrent writer claiming v2 between our read and commit:
    // pre-create the v2 commit file the way a racing append would
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Path = new org.apache.hadoop.fs.Path(root + "/_commits", "v00000001")
    val v1Len = fs.getFileStatus(v1Path).getLen.toInt
    val v1Buf = new Array[Byte](v1Len)
    val in = fs.open(v1Path)
    try in.readFully(v1Buf) finally in.close()
    val racer = new org.apache.hadoop.fs.Path(root + "/_commits", "v00000002")
    val out = fs.create(racer, false)
    out.write((new String(v1Buf, "UTF-8") + "\ndir:data/append-racer")
      .getBytes("UTF-8")); out.close()
    // our append must detect the conflict and land at v3, keeping v2's dirs
    val v = TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    assert(v === 3)
    val dirs = TxTable.history(spark, root)
    assert(dirs.map(_._1) === Seq(1, 2, 3))
    assert(dirs.last._3 === 3, "v3 must reference v2's dirs plus its own")
  }

  test("vacuum drops data outside the retention horizon, keeps the latest") {
    import spark.implicits._
    val root = tmpDir() + "/tx-vac"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.overwrite(Seq((2L, 2.0)).toDF("k", "v"), root)
    TxTable.vacuum(spark, root, retainLast = 1)
    // latest still reads; v1's orphaned dir is gone
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet === Set(2L))
    val dataDir = new java.io.File(root, "data")
    assert(dataDir.listFiles().length === 1, "only the live snapshot's dir survives")
  }

  test("delta merges resolve merge-on-read and compact back to one dir") {
    import spark.implicits._
    val root = tmpDir() + "/tx-mor"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L), (2L, "U", 25.0, 3L))
        .toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11.0, 4L), (2L, "D", 0.0, 5L), (3L, "I", 30.0, 6L))
        .toDF("k", "op", "v", "seq"))
    // merge-on-read resolution == the copy-on-write result
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t === Map(1L -> 11.0, 3L -> 30.0))
    // pre-delta versions time-travel with resolution applied
    val t1 = TxTable.read(spark, root, version = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t1 === Map(1L -> 10.0, 2L -> 25.0))
    // compaction folds the deltas into ONE materialized dir
    val v3 = TxTable.compactSnapshot(spark, root)
    assert(v3 === 3)
    assert(TxTable.history(spark, root).last === ((3, "compact", 1)))
    val tc = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tc === t)
  }

  test("merge-on-read never shuffles the base: broadcast anti-join on delta keys") {
    import spark.implicits._
    val root = tmpDir() + "/tx-mor-plan"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    TxTable.compactSnapshot(spark, root) // one materialized base dir
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11.0, 3L), (3L, "I", 30.0, 4L)).toDF("k", "op", "v", "seq"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = TxTable.read(spark, root)
      assert(df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
        Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
      val plan = df.queryExecution.executedPlan
      val baseScans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("compact-")) => f
      }
      assert(baseScans.nonEmpty, "sanity: the compacted base must be scanned")
      // the 100 TB property: no shuffle exchange anywhere above the base scan
      val shuffledScans = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          s.collectLeaves().collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
      }.flatten
      assert(!shuffledScans.exists(
        _.relation.location.rootPaths.exists(_.toString.contains("compact-"))),
        "the base dir must never sit under a shuffle exchange")
      assert(plan.toString.contains("BroadcastHashJoin") &&
        plan.toString.contains("LeftAnti"),
        "delta keys must broadcast into an anti join against the base")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a full-row append after deltas upserts at its commit position") {
    import spark.implicits._
    val root = tmpDir() + "/tx-mor-append"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    // an append lands AFTER the delta: its rows override earlier
    // entries per key (k=1), and keys it doesn't carry survive (k=2)
    TxTable.append(Seq((1L, 99.0), (3L, 30.0)).toDF("k", "v"), root)
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t === Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0))
    // a later delta still overrides the appended rows
    TxTable.mergeDelta(spark, root,
      Seq((3L, "D", 0.0, 9L)).toDF("k", "op", "v", "seq"))
    val t2 = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t2 === Map(1L -> 99.0, 2L -> 20.0))
  }

  test("a non-conflict IOException surfaces after one attempt, not 10 recomputes") {
    import spark.implicits._
    val root = tmpDir() + "/tx-ioerr"
    val control = tmpDir() + "/tx-ioerr-control"
    Seq(root, control).foreach(TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), _))
    val changes = Seq((2L, "I", 2.0, 1L)).toDF("k", "op", "v", "seq")
    // the Spark jobs of one merge attempt, on an identical table
    val once = jobsDuring { TxTable.merge(spark, control, changes) }
    // plant a trap: the next claim path is a symlink into a missing dir,
    // so create() fails with a genuine I/O error and exists() stays false
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(root, "_commits", "v00000002"),
      java.nio.file.Paths.get(root, "missing-dir", "x"))
    val jobs = jobsDuring {
      intercept[java.io.IOException] { TxTable.merge(spark, root, changes) }
    }
    // exactly ONE content attempt, not ten
    assert(once > 0 && jobs === once,
      "the O(table) merge recompute must not be retried")
    // and the aborted attempt's merge dir is deleted with it
    assert(!new java.io.File(root, "data").listFiles()
      .exists(_.getName.startsWith("merge-")))
  }

  test("streaming delta upsert: O(batch) commits, compaction folds on schedule") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/tx-mor-stream"
    val input = MemoryStream[(Long, String, Double, Long)]
    val changes = input.toDF().toDF("k", "op", "v", "seq")
    val q = Streams.upsertTxDeltaBatches(changes, root, compactEvery = 2).start()
    input.addData((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
    q.processAllAvailable()
    input.addData((1L, "U", 11.0, 3L), (2L, "D", 0.0, 4L), (3L, "I", 30.0, 5L))
    q.processAllAvailable(); q.stop()
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t === Map(1L -> 11.0, 3L -> 30.0))
    // batch 0 = delta, batch 1 = delta then compact
    assert(TxTable.history(spark, root).map(_._2) ===
      Seq("delta", "delta", "compact"))
  }

  test("merge-on-read generalizes past (k, v): wide schema, non-k key, multi value columns") {
    import spark.implicits._
    val root = tmpDir() + "/tx-mor-wide"
    // 5-column change stream keyed on `id`: two value columns survive
    // resolution; the key declaration is recorded in the commit and
    // read back without the reader naming it
    TxTable.mergeDelta(spark, root,
      Seq((10L, "I", "alice", 1.0, 1L), (20L, "I", "bob", 2.0, 2L),
        (20L, "U", "bob2", 2.5, 3L))
        .toDF("id", "op", "name", "score", "seq"), keyCols = Seq("id"))
    TxTable.mergeDelta(spark, root,
      Seq((10L, "U", "alice2", 1.5, 4L), (20L, "D", "", 0.0, 5L),
        (30L, "I", "carol", 3.0, 6L))
        .toDF("id", "op", "name", "score", "seq"), keyCols = Seq("id"))
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(t === Map(10L -> (("alice2", 1.5)), 30L -> (("carol", 3.0))))
    // compaction carries the key declaration and the same schema
    TxTable.compactSnapshot(spark, root)
    val tc = TxTable.read(spark, root)
    assert(tc.columns.toSeq === Seq("id", "name", "score"))
    assert(tc.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getDouble(2)))).toMap === t)
    // a later delta over the compacted base still resolves (and the
    // wrong key declaration is rejected instead of corrupting)
    TxTable.mergeDelta(spark, root,
      Seq((30L, "U", "carol2", 3.5, 7L)).toDF("id", "op", "name", "score", "seq"),
      keyCols = Seq("id"))
    assert(TxTable.read(spark, root).filter(col("id") === 30L)
      .collect()(0).getString(1) === "carol2")
    intercept[IllegalArgumentException] {
      TxTable.mergeDelta(spark, root,
        Seq((1L, "I", "x", 0.0, 8L)).toDF("k", "op", "name", "score", "seq"),
        keyCols = Seq("k"))
    }
  }

  test("copy-on-write merge generalizes: multi value columns keyed on id") {
    import spark.implicits._
    val root = tmpDir() + "/tx-cow-wide"
    TxTable.merge(spark, root,
      Seq((1L, "I", "a", 10.0, 1L), (2L, "I", "b", 20.0, 2L))
        .toDF("id", "op", "name", "score", "seq"), keyCols = Seq("id"))
    TxTable.merge(spark, root,
      Seq((1L, "U", "a2", 11.0, 3L), (2L, "D", "", 0.0, 4L),
        (3L, "I", "c", 30.0, 5L))
        .toDF("id", "op", "name", "score", "seq"), keyCols = Seq("id"))
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(t === Map(1L -> (("a2", 11.0)), 3L -> (("c", 30.0))))
  }

  test("data skipping: a point lookup opens 1 of N data dirs") {
    import spark.implicits._
    val root = tmpDir() + "/tx-skip"
    // three appended dirs with disjoint key ranges, stats recorded
    TxTable.append((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    TxTable.append((101L to 200L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    TxTable.append((201L to 300L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    val hit = TxTable.read(spark, root, keyRange = Some((150L, 150L)))
    // pruning is visible in the file listing itself: only the middle
    // dir's files are inputs
    assert(hit.inputFiles.nonEmpty)
    val allDirs = new java.io.File(root, "data").listFiles().map(_.getName).toSet
    val hitDirs = hit.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(allDirs.size === 3)
    assert(hitDirs.size === 1, s"expected 1 pruned-to dir, got $hitDirs")
    assert(hit.collect().map(_.getLong(0)).toSeq === Seq(150L))
    // an un-statted table never prunes (and still answers)
    val full = TxTable.read(spark, root, keyRange = Some((999L, 999L)))
    assert(full.count() === 0)
  }

  test("multi-column data skipping: a range box prunes on every statted column") {
    import spark.implicits._
    val root = tmpDir() + "/tx-skip-multi"
    // four dirs tiling a 2-d (k, t) grid; stats recorded for BOTH axes
    for {
      (kLo, tLo) <- Seq((0L, 0L), (0L, 100L), (100L, 0L), (100L, 100L))
    } TxTable.append(
      (0L until 50L).map(i => (kLo + i, tLo + i, i * 1.0)).toDF("k", "t", "v"),
      root, statsCols = Seq("k", "t"))
    // a box touching one tile opens exactly one dir
    val box = TxTable.read(spark, root,
      colRanges = Map("k" -> (120L, 130L), "t" -> (120L, 130L)))
    val dirs = box.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(dirs.size === 1, s"2-d box must prune to one tile, got $dirs")
    assert(box.collect().map(_.getLong(0)).sorted ===
      (120L to 130L).toArray)
    // a one-axis range prunes to that axis's stripe (two tiles)
    val stripe = TxTable.read(spark, root, colRanges = Map("t" -> (0L, 49L)))
    val stripeDirs = stripe.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(stripeDirs.size === 2, s"stripe must open two tiles, got $stripeDirs")
    // keyRange still addresses the FIRST statted column
    assert(TxTable.read(spark, root, keyRange = Some((10L, 10L))).count() === 2)
  }

  test("stats declarations survive compaction of a plain statted table") {
    import spark.implicits._
    val root = tmpDir() + "/tx-compact-stats"
    TxTable.append((1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    TxTable.append((51L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    TxTable.compactSnapshot(spark, root)
    // post-compaction appends still prune against the compacted dir
    TxTable.append((101L to 150L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    val probe = TxTable.read(spark, root, keyRange = Some((120L, 120L)))
    val dirs = probe.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(dirs.forall(_.startsWith("append-")),
      s"the high-key probe must skip the compacted low-key dir: $dirs")
    assert(probe.count() === 1)
  }

  test("z-order layout composes with multi-column skipping: box reads prune most tiles") {
    import spark.implicits._
    val root = tmpDir() + "/tx-skip-z"
    def z(x: Long, y: Long): Long = (0 until 21).map(i =>
      (((x >> i) % 2) << (2 * i)) + (((y >> i) % 2) << (2 * i + 1))).sum
    // a 32x32 grid committed as 8 chunks in z-order: every chunk's
    // bounding box is tight in BOTH axes (a row-major layout would
    // stripe one axis across every chunk)
    val pts = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .sortBy { case (x, y) => z(x, y) }
    pts.grouped(128).foreach { chunk =>
      TxTable.append(chunk.toDF("x", "y"), root, statsCols = Seq("x", "y"))
    }
    val box = TxTable.read(spark, root,
      colRanges = Map("x" -> (0L, 7L), "y" -> (0L, 7L)))
    val dirs = box.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(dirs.size <= 2,
      s"an 8x8 box over a z-ordered 32x32 grid must prune to <=2 of 8 tiles, got ${dirs.size}")
    assert(box.count() === 64)
  }

  test("data skipping composes with merge-on-read: out-of-range deltas are pruned") {
    import spark.implicits._
    val root = tmpDir() + "/tx-skip-mor"
    TxTable.mergeDelta(spark, root,
      (1L to 100L).map(k => (k, "I", k * 1.0, k)).toDF("k", "op", "v", "seq"))
    TxTable.compactSnapshot(spark, root)
    // a delta over high keys only: stats exclude the probed low key
    TxTable.mergeDelta(spark, root,
      Seq((90L, "U", 999.0, 200L)).toDF("k", "op", "v", "seq"))
    val probe = TxTable.read(spark, root, keyRange = Some((5L, 5L)))
    val probedDirs = probe.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    assert(probedDirs.forall(_.startsWith("compact-")),
      s"the low-key probe must not open the high-key delta: $probedDirs")
    assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((5L, 5.0)))
    // the delta still applies where it IS in range
    val hi = TxTable.read(spark, root, keyRange = Some((90L, 90L)))
    assert(hi.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((90L, 999.0)))
  }

  test("change feed: recorded commits replay O(batch); compaction emits nothing") {
    import spark.implicits._
    val root = tmpDir() + "/tx-feed"
    TxTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root) // v1
    TxTable.mergeDelta(spark, root, Seq((2L, "U", 25.0, 1L), (3L, "I", 30.0, 2L))
      .toDF("k", "op", "v", "seq"))                                  // v2
    TxTable.compactSnapshot(spark, root)                             // v3
    val feed = TxTable.changes(spark, root)
      .select("commit_version", "op", "k", "v").as[(Long, String, Long, Double)]
      .collect().toSet
    assert(feed === Set(
      (1L, "I", 1L, 10.0), (1L, "I", 2L, 20.0),  // append => inserts
      (2L, "U", 2L, 25.0), (2L, "I", 3L, 30.0))) // delta replayed verbatim
    // tail from a checkpoint: only the delta batch
    assert(TxTable.changes(spark, root, fromV = 1, toV = 2)
      .select("k").as[Long].collect().toSet === Set(2L, 3L))
    // empty range over a live table: empty frame, feed schema intact
    val empty = TxTable.changes(spark, root, fromV = 3)
    assert(empty.columns.contains("commit_version") && empty.count() === 0)
  }

  test("change feed: replace-style commits fall back to a keyed snapshot diff") {
    import spark.implicits._
    val root = tmpDir() + "/tx-feed-diff"
    TxTable.merge(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq")) // v1
    TxTable.merge(spark, root,
      Seq((1L, "U", 11.0, 3L), (2L, "D", 0.0, 4L), (3L, "I", 30.0, 5L))
        .toDF("k", "op", "v", "seq"))                                            // v2
    val feed = TxTable.changes(spark, root)
      .select("commit_version", "op", "k", "v").as[(Long, String, Long, Double)]
      .collect().toSet
    // v1 diffs against empty => all inserts; v2's diff recovers U/D/I
    // (the 'D' carries the last-seen value)
    assert(feed === Set(
      (1L, "I", 1L, 10.0), (1L, "I", 2L, 20.0),
      (2L, "U", 1L, 11.0), (2L, "D", 2L, 20.0), (2L, "I", 3L, 30.0)))
    // an un-keyed overwrite has no row identity to diff on
    val root2 = tmpDir() + "/tx-feed-unkeyed"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root2)
    TxTable.overwrite(Seq((9L, 9.0)).toDF("k", "v"), root2)
    intercept[IllegalArgumentException] {
      TxTable.changes(spark, root2).collect()
    }
  }

  test("streaming upsert into the transactional table equals the plain-parquet upsert") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/tx-stream"
    val input = MemoryStream[(Long, String, Double, Long)]
    val changes = input.toDF().toDF("k", "op", "v", "seq")
    val q = Streams.upsertTxBatches(changes, root).start()
    input.addData((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L), (2L, "U", 25.0, 3L))
    q.processAllAvailable()
    input.addData((1L, "U", 11.0, 4L), (2L, "D", 0.0, 5L), (3L, "I", 30.0, 6L))
    q.processAllAvailable(); q.stop()
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t === Map(1L -> 11.0, 3L -> 30.0))
    // one committed version per micro-batch — batch-boundary time travel
    assert(TxTable.latestVersion(spark, root) === 2)
  }

  test("restore makes an old version the forward state; the mistake stays in history") {
    import spark.implicits._
    val root = tmpDir() + "/tx-restore"
    TxTable.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), root)   // v1 good
    TxTable.overwrite(Seq((666L, 0.0)).toDF("k", "v"), root)         // v2 bad load
    val v3 = TxTable.restore(spark, root, toVersion = 1)
    assert(v3 === 3)
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L))
    // the bad version remains auditable
    assert(TxTable.read(spark, root, version = 2).collect()
      .map(_.getLong(0)).toSet === Set(666L))
    assert(TxTable.history(spark, root).map(_._2) ===
      Seq("append", "overwrite", "restore"))
    // and the metadata row count follows the restore
    assert(TxTable.rowCount(spark, root) === Some(2L))
  }

  test("shallow clone: zero-copy branch, independent evolution") {
    import spark.implicits._
    val src = tmpDir() + "/tx-clone-src"
    val dst = tmpDir() + "/tx-clone-dst"
    TxTable.append((1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v"),
      src, statsCols = Seq("k"))
    TxTable.append(Seq((2000L, 0.0)).toDF("k", "v"), src)
    // clone v1 (before the second append): pinned-version branch
    TxTable.cloneAt(spark, src, dst, version = 1)
    assert(TxTable.read(spark, dst).count() === 1000)
    // METADATA-ONLY: the clone owns no data files at all
    assert(!new java.io.File(dst, "data").exists,
      "a shallow clone must not copy any data")
    // stats traveled: pruning works against the borrowed dirs
    assert(TxTable.rowCount(spark, dst) === Some(1000L))
    // independent evolution in BOTH directions
    TxTable.append(Seq((5000L, 5.0)).toDF("k", "v"), dst)
    assert(TxTable.read(spark, dst).count() === 1001)
    assert(TxTable.read(spark, src).count() === 1001, // 1000 + 2000L row
      "the source must never see the clone's writes")
    // the clone's feed replays its borrowed content as inserts
    assert(TxTable.changes(spark, dst).count() === 1001)
    // compaction materializes the clone: no borrowed dirs remain
    TxTable.compactSnapshot(spark, dst)
    assert(TxTable.read(spark, dst).inputFiles.forall(_.contains("tx-clone-dst")),
      "compaction must move the clone onto its own files")
    assert(TxTable.read(spark, dst).count() === 1001)
    // a cloned-then-compacted table survives source vacuum
    TxTable.overwrite(Seq((1L, 1.0)).toDF("k", "v"), src)
    TxTable.vacuum(spark, src, retainLast = 1)
    assert(TxTable.read(spark, dst).count() === 1001,
      "a materialized clone must survive source vacuum")
  }

  test("OCC stress: 8 concurrent writers, every commit lands exactly once") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir() + "/tx-occ-stress"
    TxTable.append(Seq((0L, 0.0)).toDF("k", "v"), root)
    // 8 threads x 3 appends, all racing the same version counter
    val futures = (1 to 8).map { w =>
      Future {
        (1 to 3).foreach { i =>
          TxTable.append(Seq((w * 100L + i, w * 1.0)).toDF("k", "v"), root)
        }
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    // every commit claimed a distinct version; nothing lost or doubled
    assert(TxTable.latestVersion(spark, root) === 25)
    assert(TxTable.read(spark, root).count() === 25)
    assert(TxTable.rowCount(spark, root) === Some(25L))
    val keys = TxTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(keys.size === 25, "all 25 distinct keys must survive the races")
    // the history is a gap-free chain of appends
    assert(TxTable.history(spark, root).map(_._1) === (1 to 25))
    // and the change feed replays the whole racing load coherently
    assert(TxTable.changes(spark, root).count() === 25)
  }

  test("OCC stress, keyed path: racing deltas and a compaction all serialize losslessly") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir() + "/tx-occ-keyed"
    TxTable.mergeDelta(spark, root,
      Seq((0L, "I", 0.0, 0L)).toDF("k", "op", "v", "seq"))
    // 4 writers race distinct-key delta batches; a 5th races compactions
    val writers = (1 to 4).map { w =>
      Future {
        (1 to 3).foreach { i =>
          TxTable.mergeDelta(spark, root,
            Seq((w * 100L + i, "I", w * 1.0, (w * 10 + i).toLong))
              .toDF("k", "op", "v", "seq"))
        }
      }
    }
    val compactor = Future {
      (1 to 2).foreach { _ => TxTable.compactSnapshot(spark, root) }
    }
    Await.result(Future.sequence(writers :+ compactor), 180.seconds)
    // 1 seed + 12 deltas + 2 compactions = 15 gap-free versions
    assert(TxTable.latestVersion(spark, root) === 15)
    assert(TxTable.history(spark, root).map(_._1) === (1 to 15))
    // whatever interleaving won each claim, no delta was lost
    val keys = TxTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(keys.size === 13, s"all 13 keys must survive, got ${keys.size}")
  }

  test("describeHistory: metadata-only, vacuumed-safe, carries tags and keys") {
    import spark.implicits._
    val root = tmpDir() + "/tx-desc-history"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 2.0, 1L)).toDF("k", "op", "v", "seq"),
      batchId = Some(7L), streamId = "s1")
    TxTable.compactSnapshot(spark, root)
    val h = TxTable.describeHistory(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(6)))
    assert(h.map(x => (x._1, x._2)).toSeq ===
      Seq((1, "append"), (2, "delta"), (3, "compact")))
    assert(h(1)._5 === "k", "delta commit records its key declaration")
    assert(h(1)._6.contains("s1:7"), "stream batch tag surfaces")
    assert(h(2)._4 === 0L, "compaction resolves deltas away")
    // a rename surfaces in the audit trail's columns field
    TxTable.renameColumn(spark, root, "v", "amount")
    val h2 = TxTable.describeHistory(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(7)))
    assert(h2.last === ((4, "rename", "k,amount")))
    assert(h2(2)._3 === "", "identity-mapped versions report no remap")
    // vacuumed versions drop from the history instead of throwing
    TxTable.vacuum(spark, root, retainLast = 1)
    assert(TxTable.describeHistory(spark, root).collect().map(_.getInt(0))
      .toSeq === Seq(4))
  }

  test("vacuum keeps nested-dir layouts (zopt buckets, partitioned appends)") {
    import spark.implicits._
    // OPTIMIZE ZORDER and appendPartitioned commit NESTED dirs
    // (data/zopt-x/_b=0, data/append-x/day=1); vacuum's liveness test
    // must credit a top-level dir when any live entry sits UNDER it,
    // or vacuum deletes the current snapshot's data
    val root = tmpDir() + "/tx-vacuum-nested"
    TxTable.append((0L until 256L).map(k => (k, k % 16, k / 16))
      .toDF("k", "x", "y"), root)
    TxTable.optimizeZOrder(spark, root, "x", "y", nDirs = 4)
    TxTable.vacuum(spark, root, retainLast = 1)
    assert(TxTable.read(spark, root).count() === 256L,
      "vacuum must not delete the live z-ordered snapshot")
    val root2 = tmpDir() + "/tx-vacuum-part"
    TxTable.appendPartitioned((0L until 100L).map(k => (k, k % 5))
      .toDF("k", "day"), root2, "day")
    TxTable.appendPartitioned((100L until 120L).map(k => (k, k % 5))
      .toDF("k", "day"), root2, "day")
    TxTable.vacuum(spark, root2, retainLast = 1)
    assert(TxTable.read(spark, root2).count() === 120L,
      "vacuum must not delete live partitioned appends")
  }

  test("vacuum truncates the change-replay horizon with a clear error") {
    import spark.implicits._
    val root = tmpDir() + "/tx-vac-feed"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    TxTable.append(Seq((3L, 3.0)).toDF("k", "v"), root)
    TxTable.vacuum(spark, root, retainLast = 1)
    val e = intercept[IllegalArgumentException] {
      TxTable.changes(spark, root, fromV = 0)
    }
    assert(e.getMessage.contains("vacuum"),
      s"the error must name the cause, got: ${e.getMessage}")
  }

  test("rowCount answers COUNT(*) from commit metadata; deltas force a real read") {
    import spark.implicits._
    val root = tmpDir() + "/tx-rowcount"
    TxTable.append((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), root)
    TxTable.append((101L to 150L).map(k => (k, k * 1.0)).toDF("k", "v"), root)
    assert(TxTable.rowCount(spark, root) === Some(150L))
    assert(TxTable.rowCount(spark, root, version = 1) === Some(100L))
    assert(TxTable.rowCount(spark, root).get ===
      TxTable.read(spark, root).count())
    // a pending delta's net cardinality needs resolution: no guess
    val root2 = tmpDir() + "/tx-rowcount-mor"
    TxTable.mergeDelta(spark, root2,
      Seq((1L, "I", 1.0, 1L), (1L, "D", 0.0, 2L)).toDF("k", "op", "v", "seq"))
    assert(TxTable.rowCount(spark, root2).isEmpty)
    // compaction materializes: metadata answers again
    TxTable.compactSnapshot(spark, root2)
    assert(TxTable.rowCount(spark, root2) ===
      Some(TxTable.read(spark, root2).count()))
  }

  test("appendChecked: constraint violations abort before any data is written") {
    import spark.implicits._
    val root = tmpDir() + "/tx-constraints"
    TxTable.appendChecked(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"),
      root, notNull = Seq("k", "v"), uniqueKey = Seq("k"))
    // a null value in a NOT NULL column rejects the whole batch
    intercept[IllegalArgumentException] {
      TxTable.appendChecked(
        Seq((Some(3L), Some(30.0)), (Some(4L), None)).toDF("k", "v"),
        root, notNull = Seq("k", "v"), uniqueKey = Seq("k"))
    }
    // an in-batch duplicate key rejects
    intercept[IllegalArgumentException] {
      TxTable.appendChecked(Seq((5L, 1.0), (5L, 2.0)).toDF("k", "v"),
        root, uniqueKey = Seq("k"))
    }
    // a key clashing with the EXISTING snapshot rejects
    intercept[IllegalArgumentException] {
      TxTable.appendChecked(Seq((1L, 99.0)).toDF("k", "v"),
        root, uniqueKey = Seq("k"))
    }
    // nothing was committed or written by the failed batches
    assert(TxTable.latestVersion(spark, root) === 1)
    assert(TxTable.read(spark, root).count() === 2)
    assert(new java.io.File(root, "data").listFiles().length === 1,
      "rejected batches must leave no data dirs behind")
    // a clean batch proceeds
    TxTable.appendChecked(Seq((3L, 30.0)).toDF("k", "v"),
      root, notNull = Seq("k"), uniqueKey = Seq("k"))
    assert(TxTable.read(spark, root).count() === 3)
  }

  test("appendChecked: concurrent overlapping-key writers cannot both commit") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir() + "/tx-constraints-race"
    TxTable.appendChecked(Seq((0L, 0.0)).toDF("k", "v"),
      root, uniqueKey = Seq("k"))
    // 6 writers race the SAME key: the old code validated each against
    // the pre-race snapshot and let every one commit; the in-retry
    // re-probe must let exactly one through, whatever the interleaving
    val results = Await.result(Future.sequence((1 to 6).map { w =>
      Future {
        scala.util.Try(TxTable.appendChecked(
          Seq((42L, w * 1.0)).toDF("k", "v"), root, uniqueKey = Seq("k")))
      }
    }), 120.seconds)
    assert(results.count(_.isSuccess) === 1,
      s"exactly one writer of key 42 may commit, got ${results.count(_.isSuccess)}")
    val t = TxTable.read(spark, root)
    assert(t.filter(col("k") === 42L).count() === 1,
      "the committed snapshot must hold exactly one row for the raced key")
    // the unique-key invariant holds over the whole table
    assert(t.count() === t.select("k").distinct().count())
  }

  test("readAsOf serves retained versions after vacuum instead of throwing") {
    import spark.implicits._
    val root = tmpDir() + "/tx-vac-asof"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    Thread.sleep(20)
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    Thread.sleep(20)
    TxTable.append(Seq((3L, 3.0)).toDF("k", "v"), root)
    TxTable.vacuum(spark, root, retainLast = 2)   // v1's commit file is gone
    // a timestamp in the retained window resolves to the newest retained
    // version at-or-before it — the vacuumed v1 must be skipped, not FNF
    val now = System.currentTimeMillis() + 1000
    assert(TxTable.readAsOf(spark, root, now).count() === 3)
    // a timestamp older than the horizon errors clearly
    val e = intercept[IllegalArgumentException] {
      TxTable.readAsOf(spark, root, 1000L)
    }
    assert(e.getMessage.contains("vacuum"))
  }

  test("colRanges on a VALUE column applies after merge-on-read resolution") {
    import spark.implicits._
    val root = tmpDir() + "/tx-mor-valrange"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10L, 1L), (2L, "I", 20L, 2L), (3L, "I", 30L, 3L))
        .toDF("k", "op", "v", "seq"))
    // v of key 1 leaves [0,15]; key 2 is deleted carrying v=0; key 3 enters it
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 100L, 4L), (2L, "D", 0L, 5L), (3L, "U", 12L, 6L))
        .toDF("k", "op", "v", "seq"))
    val got = TxTable.read(spark, root, colRanges = Map("v" -> (0L, 15L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the old code pre-filtered the tail on v: key 1's U row (v=100) was
    // dropped so its STALE base row (v=10) survived, and key 2's D row
    // (carried v=0... in range, but a D carrying an out-of-range value
    // resurfaces the same way) — resolved-then-filtered is the contract
    assert(got === Map(3L -> 12L),
      s"only key 3's RESOLVED value is in range, got $got")
    // sanity: the unfiltered resolution agrees
    val full = TxTable.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === Map(1L -> 100L, 3L -> 12L))
    // and key ranges (safe pre-resolution) still prune + filter correctly
    val byKey = TxTable.read(spark, root, keyRange = Some((3L, 9L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKey === Map(3L -> 12L))
  }

  test("pruning away every delta keeps resolution semantics and value ranges") {
    import spark.implicits._
    val root = tmpDir() + "/tx-prune-all-deltas"
    // base keys 1-10 (two get out-of-range v), then a delta far away
    // in key space, then a full-row append that upserts key 2
    TxTable.mergeDelta(spark, root,
      (1L to 10L).map(k => (k, "I", k * 10L, k)).toDF("k", "op", "v", "seq"))
    TxTable.compactSnapshot(spark, root)
    TxTable.mergeDelta(spark, root,
      Seq((100L, "I", 1L, 11L)).toDF("k", "op", "v", "seq"))
    TxTable.append(Seq((2L, 999L)).toDF("k", "v"), root)
    // keyRange (1,10) prunes the delta dir (keys 100+); the surviving
    // base + post-delta append must STILL resolve later-wins (key 2 ->
    // 999, not both rows) and the value range must STILL apply
    val got = TxTable.read(spark, root, keyRange = Some((1L, 10L)),
      colRanges = Map("v" -> (0L, 100L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=2 resolved to 999 (out of v-range, dropped); k=1..10 except 2
    val expect = (1L to 10L).filter(_ != 2L).map(k => k -> k * 10L).toMap
    assert(got === expect, s"got $got")
    // and with ONLY the key range: k=2 must appear exactly once, as 999
    val byKey = TxTable.read(spark, root, keyRange = Some((1L, 10L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(byKey.length === 10, s"later-wins must dedup: ${byKey.toSeq.sorted}")
    assert(byKey.toMap.apply(2L) === 999L)
  }

  test("compactDirs folds only the smallest dirs; the big base is never rewritten") {
    import spark.implicits._
    val root = tmpDir() + "/tx-optimize"
    TxTable.append((1L to 5000L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, statsCols = Seq("k"))        // the big base
    (1 to 5).foreach(i => TxTable.append(
      Seq((10000L + i, i * 1.0)).toDF("k", "v"), root, statsCols = Seq("k")))
    val bigDir = {
      val (fs, rp) = (new org.apache.hadoop.fs.Path(root), ())
      new java.io.File(root, "data").listFiles()
        .maxBy(d => d.listFiles().map(_.length()).sum).getName
    }
    TxTable.compactDirs(spark, root, maxDirs = 3)
    // content intact, dir count bounded, base untouched
    assert(TxTable.read(spark, root).count() === 5005)
    val dirs = TxTable.history(spark, root).last._3
    assert(dirs === 3, s"expected 3 dirs after compaction, got $dirs")
    val liveDirs = {
      val v = TxTable.latestVersion(spark, root)
      TxTable.read(spark, root).inputFiles.map(f =>
        new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet
    }
    assert(liveDirs.contains(bigDir), "the big dir must survive by reference")
    // stats survive: a point probe into the base prunes the folded dir
    val probe = TxTable.read(spark, root, keyRange = Some((42L, 42L)))
    assert(probe.inputFiles.forall(_.contains(bigDir)))
    // idempotent below the threshold
    val v = TxTable.latestVersion(spark, root)
    assert(TxTable.compactDirs(spark, root, maxDirs = 3) === v)
    // keyed tables refuse
    val root2 = tmpDir() + "/tx-optimize-keyed"
    TxTable.mergeDelta(spark, root2,
      Seq((1L, "I", 1.0, 1L)).toDF("k", "op", "v", "seq"))
    intercept[IllegalArgumentException] {
      TxTable.compactDirs(spark, root2, maxDirs = 1)
    }
  }

  test("registerView: SQL queries see the registered snapshot, not later commits") {
    import spark.implicits._
    val root = tmpDir() + "/tx-view"
    TxTable.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), root)
    TxTable.registerView(spark, "tx_view_t", root)
    assert(spark.sql("SELECT sum(k) FROM tx_view_t").collect()(0).getLong(0) === 3L)
    // a later commit is invisible until re-registration (snapshot read)
    TxTable.append(Seq((10L, 10.0)).toDF("k", "v"), root)
    assert(spark.sql("SELECT count(*) FROM tx_view_t").collect()(0).getLong(0) === 2L)
    TxTable.registerView(spark, "tx_view_t", root)
    assert(spark.sql("SELECT count(*) FROM tx_view_t").collect()(0).getLong(0) === 3L)
    spark.catalog.dropTempView("tx_view_t")
  }

  test("MoR schema evolution: a widened delta batch resolves, old rows null-filled") {
    import spark.implicits._
    val root = tmpDir() + "/tx-mor-evolve"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    // the widened batch adds a `w` column
    TxTable.mergeDelta(spark, root,
      Seq((2L, "U", 25.0, "x", 3L), (3L, "I", 30.0, "y", 4L))
        .toDF("k", "op", "v", "w", "seq"))
    val t = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), Option(r.getAs[String]("w")))))
      .toMap
    assert(t === Map(
      1L -> ((10.0, None)),         // pre-widening row: w is null
      2L -> ((25.0, Some("x"))),    // overridden by the widened batch
      3L -> ((30.0, Some("y")))))
    // compaction materializes the evolved schema; later reads are flat
    TxTable.compactSnapshot(spark, root)
    val tc = TxTable.read(spark, root)
    assert(tc.columns.toSet === Set("k", "v", "w"))
    assert(tc.count() === 3)
  }

  test("exactly-once: a replayed micro-batch id is skipped, not double-applied") {
    import spark.implicits._
    val root = tmpDir() + "/tx-once"
    val batch = Seq((1L, "I", 10.0, 1L)).toDF("k", "op", "v", "seq")
    val v1 = TxTable.mergeDelta(spark, root, batch, batchId = Some(7L))
    // the at-least-once replay: same batch id arrives again
    val v2 = TxTable.mergeDelta(spark, root, batch, batchId = Some(7L))
    assert(v1 === 1 && v2 === 1, "replay must return the existing version")
    assert(TxTable.latestVersion(spark, root) === 1)
    assert(TxTable.read(spark, root).count() === 1)
    // the NEXT batch id commits normally
    val v3 = TxTable.mergeDelta(spark, root,
      Seq((2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"), batchId = Some(8L))
    assert(v3 === 2 && TxTable.read(spark, root).count() === 2)
    // batch ids are per-commit, not inherited: replaying id 7 AFTER id
    // 8 re-applies (only the latest commit guards the replay window,
    // matching foreachBatch's restart semantics of re-running only the
    // last uncommitted batch)
    assert(TxTable.changes(spark, root).count() === 2)
  }

  test("timestamp time travel: readAsOf picks the last commit at or before the instant") {
    import spark.implicits._
    val root = tmpDir() + "/tx-asof"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // commit mtimes are second-granular on some filesystems
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    assert(TxTable.readAsOf(spark, root, afterV1).count() === 1)
    assert(TxTable.readAsOf(spark, root, System.currentTimeMillis()).count() === 2)
    intercept[IllegalArgumentException] {
      TxTable.readAsOf(spark, root, afterV1 - 3600000L)
    }
  }

  test("schema evolution: a widened append reads back by name, old rows null-filled") {
    import spark.implicits._
    val root = tmpDir() + "/tx-evolve"
    TxTable.append(Seq((1L, 10.0)).toDF("k", "v"), root)
    TxTable.append(Seq((2L, 20.0, "eu")).toDF("k", "v", "region"), root)
    val now = TxTable.read(spark, root)
    assert(now.columns.toSet === Set("k", "v", "region"))
    val rows = now.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("region"))).toMap
    assert(rows === Map(1L -> None, 2L -> Some("eu")))
    // time travel predates the widening: original schema untouched
    assert(TxTable.read(spark, root, version = 1).columns.toSet === Set("k", "v"))
    // same-schema tables keep the single multi-path scan (no union in
    // the plan — one scan node reads both dirs)
    val root2 = tmpDir() + "/tx-flat"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root2)
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root2)
    val flat = TxTable.read(spark, root2)
    assert(!flat.queryExecution.executedPlan.toString.contains("Union"))
    assert(flat.count() === 2)
  }

  test("a continuously-loaded table is tailable: streaming delta commits replay as the change feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmpDir() + "/tx-stream-feed"
    val input = MemoryStream[(Long, String, Double, Long)]
    val changes = input.toDF().toDF("k", "op", "v", "seq")
    val q = Streams.upsertTxDeltaBatches(changes, root, compactEvery = 0).start()
    input.addData((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
    q.processAllAvailable()
    // a downstream consumer checkpoints at the current version...
    val checkpoint = TxTable.latestVersion(spark, root)
    input.addData((1L, "U", 11.0, 3L), (3L, "I", 30.0, 4L))
    q.processAllAvailable(); q.stop()
    // ...and tails exactly the micro-batches committed since
    val tail = TxTable.changes(spark, root, fromV = checkpoint)
      .select("op", "k", "v").as[(String, Long, Double)].collect().toSet
    assert(tail === Set(("U", 1L, 11.0), ("I", 3L, 30.0)))
    // the full feed replays the whole load, version-tagged per batch
    assert(TxTable.changes(spark, root).count() === 4)
  }

  test("replay tags survive interleaved commits and compaction") {
    import spark.implicits._
    val root = tmpDir() + "/tx-replay-carry"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L)).toDF("k", "op", "v", "seq"),
      batchId = Some(7L), streamId = "s1")
    // interleaved commits that do NOT carry their own batch id: a
    // plain delta and a compaction — both used to erase the tag and
    // reopen the replay window
    TxTable.mergeDelta(spark, root,
      Seq((2L, "I", 20.0, 2L)).toDF("k", "op", "v", "seq"))
    TxTable.compactSnapshot(spark, root)
    val v = TxTable.latestVersion(spark, root)
    // the restarted stream replays batch 7 — must be a no-op
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L)).toDF("k", "op", "v", "seq"),
      batchId = Some(7L), streamId = "s1")
    assert(TxTable.latestVersion(spark, root) === v,
      "a replayed batch after interleaved commits must not re-apply")
    assert(TxTable.read(spark, root).count() === 2L)
    // the stream's NEXT batch still commits
    TxTable.mergeDelta(spark, root,
      Seq((3L, "I", 30.0, 3L)).toDF("k", "op", "v", "seq"),
      batchId = Some(8L), streamId = "s1")
    assert(TxTable.read(spark, root).count() === 3L)
  }

  test("all-dirs-pruned reads keep the full evolved schema") {
    import spark.implicits._
    val root = tmpDir() + "/tx-prune-schema"
    TxTable.append(Seq((1L, 10.0)).toDF("k", "v"), root,
      statsCols = Seq("k"))
    // widened commit adds v2
    TxTable.append(Seq((2L, 20.0, "x")).toDF("k", "v", "v2"), root,
      statsCols = Seq("k"))
    val pruned = TxTable.read(spark, root,
      colRanges = Map("k" -> (999999L, 1000000L)))
    assert(pruned.count() === 0L)
    assert(pruned.columns.toSet === Set("k", "v", "v2"),
      "an empty pruned read must still expose columns from widened commits")
  }

  test("optimizeZOrder: both dimensions prune after the rewrite, content identical") {
    import spark.implicits._
    val root = tmpDir() + "/tx-zopt"
    // row-major arrival: the worst layout for the y dimension — and
    // only x declared for stats, so y can't prune at all pre-optimize
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    pts.grouped(128).foreach { chunk =>
      TxTable.append(chunk.toDF("x", "y"), root, statsCols = Seq("x"))
    }
    val before = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val feedBefore = TxTable.changes(spark, root).count()
    def dirsOf(ranges: Map[String, (Long, Long)]): Int =
      TxTable.read(spark, root, colRanges = ranges).inputFiles.map(f =>
        new java.io.File(new java.net.URI(f)).getParentFile.getName).toSet.size
    assert(dirsOf(Map("y" -> (0L, 7L))) === 8,
      "pre-optimize, a y range must scan every dir")
    TxTable.optimizeZOrder(spark, root, "x", "y", nDirs = 8)
    // content-identical rewrite…
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before)
    // …that the change feed correctly ignores (op = compact)
    assert(TxTable.changes(spark, root).count() === feedBefore)
    // y<8 zeroes the two top y bits ⇒ 4 of 8 Morton eighths survive
    val yDirs = dirsOf(Map("y" -> (0L, 7L)))
    assert(yDirs <= 4, s"y range must prune the z layout, scanned $yDirs")
    // and a box on both dims prunes harder than either alone
    val boxDirs = dirsOf(Map("x" -> (0L, 7L), "y" -> (0L, 7L)))
    assert(boxDirs <= 2, s"an 8x8 box must touch <=2 of 8 tiles, got $boxDirs")
    // time travel still reads the pre-optimize layout
    assert(TxTable.read(spark, root, version = 8).count() === 1024L)
  }

  test("optimizeZOrderN: a 3-dim box opens no more dirs than the 2-dim layout") {
    import spark.implicits._
    // identical content into two tables; one clustered on (x,y), the
    // other on (x,y,z) — the 3-dim box lookup must be served at least
    // as well by the 3-dim interleave (the third dim prunes too)
    val pts = for (x <- 0L until 16L; y <- 0L until 16L; z <- 0L until 16L)
      yield (x, y, z)
    val df = pts.toDF("x", "y", "z")
    val root2 = tmpDir() + "/tx-zopt3-2d"
    val root3 = tmpDir() + "/tx-zopt3-3d"
    TxTable.append(df, root2); TxTable.append(df, root3)
    TxTable.optimizeZOrder(spark, root2, "x", "y", nDirs = 8)
    TxTable.optimizeZOrderN(spark, root3, Seq("x", "y", "z"), nDirs = 8)
    val box = Map("x" -> (0L, 7L), "y" -> (0L, 7L), "z" -> (0L, 7L))
    def dirsOf(root: String): Int =
      TxTable.read(spark, root, colRanges = box).inputFiles.map(f =>
        new java.io.File(new java.net.URI(f)).getParentFile.getName)
        .toSet.size
    // content identical under both layouts
    assert(TxTable.read(spark, root3, colRanges = box).count() === 512L)
    assert(TxTable.read(spark, root2, colRanges = box).count() === 512L)
    val (d2, d3) = (dirsOf(root2), dirsOf(root3))
    assert(d3 <= d2, s"3-dim layout must serve the 3-dim box at least " +
      s"as well as the 2-dim layout: $d3 vs $d2 dirs")
    // the half-range box zeroes each dim's top bit ⇒ 1 of 8 octants
    assert(d3 <= 2, s"a half-range 3-dim box must touch <=2 of 8 dirs, got $d3")
  }

  test("optimizeZOrder resolves keyed snapshots and stays writable") {
    import spark.implicits._
    val root = tmpDir() + "/tx-zopt-keyed"
    // bigint value column: the resolved snapshot exposes (k, v) only
    // (seq is resolution bookkeeping), and z dims must be integral
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10L, 1L), (2L, "I", 20L, 2L)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      Seq((1L, "U", 11L, 3L)).toDF("k", "op", "v", "seq"))
    TxTable.optimizeZOrder(spark, root, "k", "v", nDirs = 2)
    def state(): Map[Long, Long] = TxTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(state() === Map(1L -> 11L, 2L -> 20L),
      "optimize must resolve merge-on-read before rewriting")
    // the optimized table keeps its key declaration: deltas still apply
    TxTable.mergeDelta(spark, root,
      Seq((2L, "D", 0L, 4L)).toDF("k", "op", "v", "seq"))
    assert(state() === Map(1L -> 11L))
  }

  test("vacuum sweeps aged orphan scratch (_changes/.tmp-*, _staging epochs)") {
    import spark.implicits._
    val root = tmpDir() + "/tx-vac-orphan"
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    def mk(rel: String, aged: Boolean): java.io.File = {
      val f = new java.io.File(root, rel)
      f.mkdirs()
      val inner = new java.io.File(f, "part-x")
      java.nio.file.Files.write(inner.toPath, Array[Byte](1))
      if (aged) { inner.setLastModified(old); f.setLastModified(old) }
      f
    }
    // a crashed change-diff staging (aged) vs one in flight (fresh);
    // a crashed sink epoch (aged) vs a live one (fresh)
    val agedTmp = mk("_changes/.tmp-dead", aged = true)
    val freshTmp = mk("_changes/.tmp-live", aged = false)
    val agedEpoch = mk("_staging/streamA/epoch-1", aged = true)
    val freshEpoch = mk("_staging/streamA/epoch-2", aged = false)
    TxTable.vacuum(spark, root, retainLast = 2)
    assert(!agedTmp.exists, "aged .tmp-* diff must be swept")
    assert(freshTmp.exists, "a fresh staging race must be left alone")
    assert(!agedEpoch.exists, "aged sink epoch must be swept")
    assert(freshEpoch.exists, "a live epoch must be left alone")
    assert(TxTable.read(spark, root).count() === 2)
  }

  test("renameColumn is metadata-only; every version keeps its own names") {
    import spark.implicits._
    val root = tmpDir() + "/tx-ren"
    TxTable.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root) // v1
    val dirsBefore = "dir:(data/[^|\n]+)".r
      .findAllMatchIn(commitText(root, 1)).map(_.group(1)).toSet
    assert(TxTable.renameColumn(spark, root, "v", "amount") === 2)
    // metadata-only: the rename commit references exactly v1's dirs
    assert("dir:(data/[^|\n]+)".r.findAllMatchIn(commitText(root, 2))
      .map(_.group(1)).toSet === dirsBefore)
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "amount"))
    assert(TxTable.read(spark, root, version = 1).columns.toSeq
      === Seq("k", "v"), "time travel must serve v1 under its own names")
    // appends after the rename speak the NEW name and interop with
    // old files (which physically still carry 'v')
    TxTable.append(Seq((3L, 30L)).toDF("k", "amount"), root) // v3
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // DML speaks the new name too
    TxTable.deleteWhere(spark, root, "amount >= 30")
    TxTable.updateWhere(spark, root, "k = 1", Map("amount" -> "amount + 5"))
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 15L), (2L, 20L)))
    // compaction materializes the rename: files are born as 'amount'
    // and the mapping resets
    val vc = TxTable.compactSnapshot(spark, root)
    assert(!commitText(root, vc).contains("colmap:") ||
      commitText(root, vc).contains("\ncolmap:\n") ||
      commitText(root, vc).endsWith("colmap:"),
      "compaction must reset the mapping")
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "amount"))
    // a zero-copy clone borrows the files AND the mapping: v3 is
    // pre-compaction, so its files physically still carry 'v'
    val cloneRoot = tmpDir() + "/tx-ren-clone"
    TxTable.cloneAt(spark, root, cloneRoot, version = 3)
    assert(TxTable.read(spark, cloneRoot).columns.toSeq
      === Seq("k", "amount"))
    // invalid / conflicting renames fail loudly
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, root, "missing", "x")
    }
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, root, "k", "amount")
    }
  }

  test("dropColumn tombstones the physical name — no data resurrection") {
    import spark.implicits._
    val root = tmpDir() + "/tx-drop"
    TxTable.append(Seq((1L, 10L, "x"), (2L, 20L, "y"))
      .toDF("k", "v", "tag"), root) // v1
    TxTable.dropColumn(spark, root, "tag") // v2
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "v"))
    assert(TxTable.read(spark, root, version = 1).columns.toSeq
      === Seq("k", "v", "tag"), "time travel still serves the dropped column")
    // re-adding 'tag' binds a FRESH physical: the dropped values of
    // rows 1/2 must never leak back in
    TxTable.append(Seq((3L, 30L, "z")).toDF("k", "v", "tag"), root) // v3
    val rows = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(rows === Map(1L -> null, 2L -> null, 3L -> "z"))
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, root, "nope")
    }
  }

  test("rename on a keyed table: deltas keep resolving under the new name") {
    import spark.implicits._
    val root = tmpDir() + "/tx-ren-keyed"
    TxTable.mergeDelta(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
        .toDF("k", "op", "v", "seq")) // v1
    TxTable.renameColumn(spark, root, "k", "id") // v2
    // callers now address the key as 'id'; resolution still works
    TxTable.mergeDelta(spark, root,
      Seq((2L, "U", 25.0, 3L), (3L, "I", 30.0, 4L))
        .toDF("id", "op", "v", "seq"), keyCols = Seq("id")) // v3
    val got = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(TxTable.read(spark, root).columns.toSeq === Seq("id", "v"))
    assert(got === Set((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    // the change feed speaks the STABLE physical name: CDC consumers
    // survive the rename without redeploys
    assert(TxTable.changes(spark, root).columns.contains("k"))
    // dropping a key column refuses
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, root, "id")
    }
  }

  private def commitText(root: String, v: Int): String = {
    val p = java.nio.file.Paths.get(root, "_commits", f"v$v%08d")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("deleteWhere triage: pruned dirs carry over by name, contained dirs drop as metadata") {
    import spark.implicits._
    val root = tmpDir() + "/tx-del"
    // four key-range dirs with k stats: [0,9] [10,19] [20,29] [30,39]
    (0 to 3).foreach { i =>
      TxTable.append((i * 10 until i * 10 + 10).map(k => (k.toLong, k * 1.5))
        .toDF("k", "v"), root, statsCols = Seq("k"))
    }
    val before = commitText(root, 4)
    val dirOf = "dir:(data/[^|\n]+)".r.findAllMatchIn(before)
      .map(_.group(1)).toSeq
    assert(dirOf.length === 4)
    // metadata-only: the predicate covers dir 0 (k in [0,9], no NULLs)
    TxTable.deleteWhere(spark, root, "k <= 9")
    // straddling delete bounded to k <= 19 (dir 0 is gone): dir 1
    // rewrites, 2/3 prune
    TxTable.deleteWhere(spark, root, "k % 2 = 0 AND k <= 19")
    val after = commitText(root, 6)
    assert(!after.contains(dirOf(0)), "contained dir must drop")
    assert(!after.contains(dirOf(1)), "straddling dir must be rewritten")
    assert(after.contains(dirOf(2)) && after.contains(dirOf(3)),
      "disjoint dirs must carry over untouched")
    val got = TxTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(got === (10 to 39).filterNot(k => k % 2 == 0 && k <= 19)
      .map(_.toLong).toSet)
    // the pre-delete snapshot still time-travels
    assert(TxTable.read(spark, root, version = 4).count() === 40)
  }

  test("deleteWhere: no-match dirs carry over; delete-all leaves a readable empty table") {
    import spark.implicits._
    val root = tmpDir() + "/tx-del-all"
    TxTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root,
      statsCols = Seq("k"))
    val v1 = commitText(root, 1)
    // predicate matches nothing: the dir survives by name (no rewrite)
    TxTable.deleteWhere(spark, root, "k > 100")
    assert(commitText(root, 2).contains(
      "dir:(data/[^|\n]+)".r.findFirstMatchIn(v1).get.group(1)))
    TxTable.deleteWhere(spark, root, "k >= 0")
    assert(TxTable.read(spark, root).count() === 0)
    assert(TxTable.read(spark, root, version = 2).count() === 2)
  }

  test("rewritten dirs carry exact write-time stats (observe-fold)") {
    import spark.implicits._
    // delete/update rewrites compute their commit-line stats ON the
    // rewrite action (observeStats) instead of a post-write rescan —
    // this pins that the observed min/max still drive exact triage
    val root = tmpDir() + "/tx-obsstat"
    TxTable.append((0L to 19L).map(k => (k, k * 2)).toDF("k", "v"),
      root, statsCols = Seq("k", "v"))
    // partial delete rewrites the dir; survivors are k in [5,19]
    TxTable.deleteWhere(spark, root, "k < 5")
    val c2 = commitText(root, 2)
    val newDir = "dir:(data/delete-[^|\n]+)".r
      .findFirstMatchIn(c2).get.group(1)
    assert(c2.contains("k=5:19"), s"observed k bounds must be exact: $c2")
    // a delete disjoint from the NEW box must carry the dir BY NAME —
    // only possible if the observed stats were recorded exactly
    TxTable.deleteWhere(spark, root, "k >= 30")
    assert(commitText(root, 3).contains(newDir))
    // update rewrite: SET moves v out of its old range; the observed
    // stats must describe the NEW values
    TxTable.updateWhere(spark, root, "k >= 0", Map("v" -> "v + 1000"))
    val c4 = commitText(root, 4)
    assert(c4.contains("v=1010:1038"),
      s"observed v bounds must describe the post-SET values: $c4")
    assert(TxTable.read(spark, root).agg(
      org.apache.spark.sql.functions.sum("v")).head.getLong(0) ===
      (5L to 19L).map(_ * 2 + 1000).sum)
  }

  test("updateWhere: old-row semantics, triage, and swap-safe multi-SET") {
    import spark.implicits._
    val root = tmpDir() + "/tx-upd"
    (0 to 1).foreach { i =>
      TxTable.append((i * 10 until i * 10 + 10)
        .map(k => (k.toLong, k.toDouble, k * 100.0)).toDF("k", "a", "b"),
        root, statsCols = Seq("k"))
    }
    val before = commitText(root, 2)
    val dirs = "dir:(data/[^|\n]+)".r.findAllMatchIn(before)
      .map(_.group(1)).toSeq
    // swap a and b where k is even, bounded to dir 0's box: every SET
    // must read the OLD row or the swap degenerates to a copy
    TxTable.updateWhere(spark, root, "k % 2 = 0 AND k <= 9",
      Map("a" -> "b", "b" -> "a"))
    val after = commitText(root, 3)
    assert(!after.contains(dirs(0)) && after.contains(dirs(1)))
    val rows = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    (0 to 9).foreach { k =>
      if (k % 2 == 0) assert(rows(k.toLong) === ((k * 100.0, k.toDouble)))
      else assert(rows(k.toLong) === ((k.toDouble, k * 100.0)))
    }
    (10 to 19).foreach { k => assert(rows(k.toLong) === ((k.toDouble, k * 100.0))) }
    // unknown SET column refuses; no-match predicate carries dirs over
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, root, "k >= 0", Map("nope" -> "1"))
    }
    TxTable.updateWhere(spark, root, "k > 100", Map("a" -> "a + 1"))
    assert(commitText(root, 4).contains(dirs(1)))
  }

  test("appendPartitioned: per-partition entries; a partition delete is pure metadata") {
    import spark.implicits._
    val root = tmpDir() + "/tx-part"
    val df = (0 until 40).map(i => (i.toLong % 4, i.toLong, s"r$i"))
      .toDF("p", "k", "s")
    TxTable.appendPartitioned(df, root, "p")
    val c1 = commitText(root, 1)
    assert("dir:(data/[^|\n]+)".r.findAllMatchIn(c1).size === 4,
      "one snapshot entry per partition value")
    assert(TxTable.read(spark, root).count() === 40)
    // the partition column survives in the files
    assert(TxTable.read(spark, root).select("p").distinct().count() === 4)
    // partition-bounded delete: `p = 2` covers the p=2 dir, which
    // drops from the snapshot without any rewrite (no new data dir)
    val dirsBefore = "dir:(data/[^|\n]+)".r.findAllMatchIn(c1)
      .map(_.group(1)).toSet
    TxTable.deleteWhere(spark, root, "p = 2")
    val c2 = commitText(root, 2)
    val dirsAfter = "dir:(data/[^|\n]+)".r.findAllMatchIn(c2)
      .map(_.group(1)).toSet
    assert(dirsAfter === dirsBefore.filterNot(_.contains("p=2")),
      "partition delete must drop exactly the covered dir, rewriting none")
    assert(TxTable.read(spark, root).filter(col("p") === 2).count() === 0)
    assert(TxTable.read(spark, root).count() === 30)
    // bounded reads prune to the matching partition dirs
    val pruned = TxTable.read(spark, root, colRanges = Map("p" -> (1L, 1L)))
    assert(pruned.count() === 10)
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics)") {
    import spark.implicits._
    val root = tmpDir() + "/tx-del-null"
    // v is nullable: rows 1/3 have NULL v, rows 2/4 have values
    TxTable.append(Seq(
      (1L, Option.empty[Double]), (2L, Some(5.0)),
      (3L, Option.empty[Double]), (4L, Some(50.0))).toDF("k", "v"), root)
    // DELETE WHERE v > 10 removes only row 4 — the NULL-v rows must
    // survive (pred evaluates NULL, not TRUE), matching DuckDB/ANSI
    TxTable.deleteWhere(spark, root, "v > 10")
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
    // a dir whose rows ALL have NULL pred is a no-match carry-over:
    // same dir name survives in the commit, no rewrite staged
    val root2 = tmpDir() + "/tx-del-null2"
    TxTable.append(Seq((1L, Option.empty[Double]),
      (2L, Option.empty[Double])).toDF("k", "v"), root2)
    val before = commitText(root2, 1)
    TxTable.deleteWhere(spark, root2, "v > 10")
    assert(commitText(root2, 2).contains(
      "dir:(data/[^|\n]+)".r.findFirstMatchIn(before).get.group(1)),
      "all-NULL-pred dir must carry over by name, not rewrite")
    assert(TxTable.read(spark, root2).count() === 2)
  }

  test("appendPartitioned is one-pass: job count independent of partition count") {
    import spark.implicits._
    val root = tmpDir() + "/tx-part-onepass"
    val df = (0L until 2000L).map(k => (k % 50, k)).toDF("p", "k")
    val jobs = jobsDuring {
      TxTable.appendPartitioned(df, root, "p", statsCols = Seq("k"))
    }
    // one clustered write + one grouped stats pass (+ footer probes);
    // the per-value loop this replaced ran 50+ jobs here
    assert(jobs <= 6, s"appendPartitioned ran $jobs jobs for 50 partitions")
    // layout and stats are unchanged by the one-pass path
    assert("dir:(data/[^|\n]+)".r.findAllMatchIn(commitText(root, 1)).size
      === 50)
    assert(TxTable.read(spark, root).count() === 2000)
    val pruned = TxTable.read(spark, root, colRanges = Map("p" -> (7L, 7L)))
    assert(pruned.count() === 40)
    assert(pruned.agg(min("k"), max("k")).collect()(0)
      === org.apache.spark.sql.Row(7L, 1957L))
  }

  test("appendPartitioned rejects NULL partition values loudly") {
    import spark.implicits._
    val root = tmpDir() + "/tx-part-null"
    val df = Seq((Some(1L), 10L), (Option.empty[Long], 20L))
      .toDF("p", "k")
    val e = intercept[IllegalArgumentException] {
      TxTable.appendPartitioned(df, root, "p")
    }
    assert(e.getMessage.contains("NULL"),
      "error must name the NULL-partition cause")
  }

  test("deleteWhere refuses un-compacted MoR snapshots") {
    import spark.implicits._
    val root = tmpDir() + "/tx-del-mor"
    TxTable.merge(spark, root, Seq((1L, "I", 5.0, 1L)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root, Seq((2L, "I", 6.0, 2L)).toDF("k", "op", "v", "seq"))
    val e = intercept[IllegalArgumentException] {
      TxTable.deleteWhere(spark, root, "v > 0")
    }
    assert(e.getMessage.contains("compactSnapshot"))
    // after compaction the same delete applies cleanly
    TxTable.compactSnapshot(spark, root)
    TxTable.deleteWhere(spark, root, "v > 5.5")
    assert(TxTable.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L))
  }

  test("bloom index prunes dirs a point lookup cannot touch, result-identical") {
    import spark.implicits._
    val root = tmpDir() + "/tx-bloom"
    // 4 dirs with DISJOINT id populations but identical [0,399]-ish
    // spreads per any range stat: ids interleave mod 4
    (0L to 3L).foreach { i =>
      TxTable.append((0L until 100L).map(j => (j * 4 + i, s"g$i"))
        .toDF("id", "grp"), root)
    }
    assert(TxTable.buildBloomIndex(spark, root, "id") === 4)
    // a rebuild is incremental: nothing new to index
    assert(TxTable.buildBloomIndex(spark, root, "id") === 0)
    // one probe lives in exactly one dir; fpp=1% over 4 dirs means
    // pruning to 1 dir is the overwhelmingly likely outcome — accept
    // <= 2 to keep the test fpp-robust
    val (kept, total) = TxTable.bloomSurvivingDirs(spark, root, "id",
      Seq(41L))
    assert(total === 4 && kept.size <= 2, s"kept ${kept.size} of $total")
    val got = TxTable.readBloomFiltered(spark, root, "id", Seq(41L, 86L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((41L, "g1"), (86L, "g2")))
    // absent probes return empty, never error
    assert(TxTable.readBloomFiltered(spark, root, "id", Seq(100000L))
      .count() === 0L)
    // un-indexed dirs always read: append a new dir, probe its rows
    TxTable.append(Seq((100001L, "g4")).toDF("id", "grp"), root)
    assert(TxTable.readBloomFiltered(spark, root, "id", Seq(100001L))
      .count() === 1L)
    // MoR snapshots are refused
    val root2 = tmpDir() + "/tx-bloom-mor"
    TxTable.merge(spark, root2, Seq((1L, "I", 5.0, 1L)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root2, Seq((2L, "I", 6.0, 2L)).toDF("k", "op", "v", "seq"))
    val e = intercept[IllegalArgumentException] {
      TxTable.readBloomFiltered(spark, root2, "v", Seq(5.0))
    }
    assert(e.getMessage.contains("compactSnapshot"))
  }

  test("appendPartitioned on a renamed stats column keys stats physically") {
    import spark.implicits._
    val root = tmpDir() + "/tx-part-ren"
    TxTable.append(Seq((0L, 0L, 9L)).toDF("k", "v", "p"), root,
      statsCols = Seq("v"))                          // v1: physical 'v'
    TxTable.renameColumn(spark, root, "v", "amount") // v2: metadata only
    // partitioned append addressing the NEW logical name: the stats
    // aggregate runs over the PHYSICAL read-back (files carry 'v'), so
    // logically-addressed stats used to throw AnalysisException here —
    // and, when they resolved, silently disabled pruning (entry stats
    // keyed by logical names that prune lookups never match)
    val df = (1L to 40L).map(k => (k, k * 10L, k / 10L))
      .toDF("k", "amount", "p")
    TxTable.appendPartitioned(df, root, "p", statsCols = Seq("amount"))
    assert(TxTable.read(spark, root).count() === 41L)
    val all = TxTable.read(spark, root).inputFiles.length
    val pruned = TxTable.read(spark, root,
      colRanges = Map("amount" -> (10L, 90L)))
    assert(pruned.inputFiles.length < all,
      "physically-keyed entry stats must let the logical range prune dirs")
    assert(pruned.collect().map(_.getLong(0)).toSet === (1L to 9L).toSet)
  }

  test("restore to a pre-rename version rolls the names back") {
    import spark.implicits._
    val root = tmpDir() + "/tx-restore-names"
    TxTable.append(Seq((1L, 10L)).toDF("k", "v"), root)        // v1
    TxTable.renameColumn(spark, root, "v", "amount")           // v2
    TxTable.append(Seq((2L, 20L)).toDF("k", "amount"), root)   // v3
    TxTable.restore(spark, root, 1)                            // v4
    // without an explicit colmap reset, commitRetry would re-inject
    // HEAD's mapping and the restored snapshot would keep the rename
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "v"),
      "restore must roll names back with the data")
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L)))
    // the rename era stays time-travelable under ITS OWN names
    assert(TxTable.read(spark, root, version = 3).columns.toSeq
      === Seq("k", "amount"))
    // appends after the rollback speak the rolled-back name
    TxTable.append(Seq((3L, 30L)).toDF("k", "v"), root)        // v5
    assert(TxTable.read(spark, root).collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("change feed crosses a mapping-reset rebirth coherently") {
    import spark.implicits._
    val root = tmpDir() + "/tx-feed-reset"
    TxTable.merge(spark, root,
      Seq((1L, "I", 10.0, 1L), (2L, "I", 20.0, 2L))
        .toDF("k", "op", "v", "seq"))                // v1
    TxTable.renameColumn(spark, root, "v", "amount") // v2 (metadata)
    // the rebirth: a merge after the rename births files under
    // 'amount' — the boundary diff used to select unresolved columns
    TxTable.merge(spark, root,
      Seq((1L, "U", 11.0, 3L), (3L, "I", 30.0, 4L))
        .toDF("k", "op", "amount", "seq"))           // v3, colmap reset
    val feed = TxTable.changes(spark, root)
    // ONE coherent namespace across the boundary: the range end's
    // physical names (pre-reset batches are renamed into it)
    assert(feed.columns.toSet ===
      Set("k", "op", "amount", "commit_version"))
    val got = feed.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getLong(3))).toSet
    assert(got === Set((1L, "I", 10.0, 1L), (2L, "I", 20.0, 1L),
      (1L, "U", 11.0, 3L), (3L, "I", 30.0, 3L)))
    // the boundary slice alone (the streaming/staged-diff path);
    // merge is an upsert, so key 2 carries over unchanged — no D row
    val last = TxTable.changes(spark, root, fromV = 2)
    assert(last.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "U"), (3L, "I")))
  }

  test("optimizeCompact packs small dirs, carries large dirs by name") {
    import spark.implicits._
    val root = tmpDir() + "/tx-optimize"
    (0 until 4).foreach { i =>
      TxTable.append((0 until 10).map(j => ((i * 10 + j).toLong, i.toLong))
        .toDF("k", "v"), root, statsCols = Seq("k"))
    }
    TxTable.append((1000 until 60000).map(j => (j.toLong, 9L))
      .toDF("k", "v"), root, statsCols = Seq("k"))
    val before = commitText(root, 5)
    val bigDir = "dir:(data/[^|\n]+)".r.findAllMatchIn(before)
      .map(_.group(1)).toSeq.last
    val want = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val v = TxTable.optimizeCompact(spark, root, targetBytes = 64 * 1024)
    assert(v === 6)
    val after = commitText(root, 6)
    val dirsAfter = "dir:(data/[^|\n]+)".r.findAllMatchIn(after)
      .map(_.group(1)).toSeq
    assert(dirsAfter.length === 2,
      s"4 small dirs must pack into one: $dirsAfter")
    assert(dirsAfter.contains(bigDir),
      "the large dir must carry by name, unopened")
    assert(after.contains("statscol:k"), "stats header must carry")
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === want,
      "packing must preserve the multiset exactly")
    // nothing left to pack → no empty commit
    assert(TxTable.optimizeCompact(spark, root,
      targetBytes = 64 * 1024) === 6)
    // a column mapping CARRIES across the pack (renames stay
    // metadata; only compactSnapshot materializes them)
    TxTable.renameColumn(spark, root, "v", "amount") // v7
    val v8 = TxTable.optimizeCompact(spark, root, targetBytes = 1L << 40)
    assert(v8 === 8)
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "amount"))
    assert(commitText(root, v8).contains("amount=v"),
      "the colmap must carry, not reset")
    assert(TxTable.read(spark, root, version = 5).columns.toSeq
      === Seq("k", "v"), "time travel keeps pre-rename names")
    // MoR snapshots are refused
    val root2 = tmpDir() + "/tx-optimize-mor"
    TxTable.mergeDelta(spark, root2,
      Seq((1L, "I", 1.0, 1L)).toDF("k", "op", "v", "seq"))
    val e = intercept[IllegalArgumentException] {
      TxTable.optimizeCompact(spark, root2)
    }
    assert(e.getMessage.contains("delta-free"))
  }

  test("string stats prune dirs; truncated bounds stay sound") {
    import spark.implicits._
    val root = tmpDir() + "/tx-strstats"
    TxTable.append(Seq((1L, "apple"), (2L, "banana")).toDF("k", "s"),
      root, statsCols = Seq("s"))
    TxTable.append(Seq((3L, "melon"), (4L, "peach")).toDF("k", "s"),
      root, statsCols = Seq("s"))
    // a dir of 61-char strings sharing a 60-char prefix: the stored
    // max truncates at 48 bytes and must round UP (prefix successor)
    val longA = "a" * 60 + "x"
    val longB = "a" * 60 + "z"
    TxTable.append(Seq((5L, longA), (6L, longB)).toDF("k", "s"),
      root, statsCols = Seq("s"))
    val all = TxTable.read(spark, root).inputFiles.length
    // a band inside dir 1 only: dirs 2 and 3 must be skipped
    val r1 = TxTable.read(spark, root,
      strRanges = Map("s" -> ("apple", "banana")))
    assert(r1.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(r1.inputFiles.length < all,
      "string range must prune dirs, not just filter rows")
    // the truncated dir is still admitted for a query inside its true
    // range (a plain truncated max would wrongly exclude it)...
    val r2 = TxTable.read(spark, root,
      strRanges = Map("s" -> ("a" * 60 + "w", "a" * 60 + "y")))
    assert(r2.collect().map(_.getLong(0)).toSet === Set(5L))
    // ...and a range just above the truncated prefix's successor
    // prunes every dir
    val r3 = TxTable.read(spark, root, strRanges = Map("s" -> ("ab", "ac")))
    assert(r3.count() === 0L)
  }

  test("deleteWhere triages string boxes: disjoint carries, contained drops") {
    import spark.implicits._
    val root = tmpDir() + "/tx-del-str"
    Seq(("aa", "ab"), ("ma", "mb"), ("xa", "xb")).zipWithIndex.foreach {
      case ((s1, s2), i) =>
        TxTable.append(Seq((i * 2L, s1), (i * 2L + 1, s2)).toDF("k", "s"),
          root, statsCols = Seq("s"))
    }
    val before = commitText(root, 3)
    val dirs = "dir:(data/[^|\n]+)".r.findAllMatchIn(before)
      .map(_.group(1)).toSeq
    assert(dirs.length === 3)
    TxTable.deleteWhere(spark, root, "s >= 'm' AND s <= 'n'")
    val after = commitText(root, 4)
    assert(after.contains(dirs(0)) && after.contains(dirs(2)),
      "string-disjoint dirs must carry by name, unopened")
    assert(!after.contains(dirs(1)),
      "a dir contained in the exact string box must drop as metadata")
    assert(!after.contains("data/delete-"), "no rewrite may be staged")
    assert(TxTable.read(spark, root).collect().map(_.getString(1)).toSet
      === Set("aa", "ab", "xa", "xb"))
  }

  private def withRollover[T](n: Int)(body: => T): T = {
    spark.conf.set("spark.graft.manifestRollover", n.toString)
    try body finally spark.conf.unset("spark.graft.manifestRollover")
  }

  test("manifest rollover keeps append commits metadata-O(1)") {
    import spark.implicits._
    val root = tmpDir() + "/tx-manifest"
    withRollover(4) {
      (0 until 10).foreach { i =>
        TxTable.append((i * 10 until i * 10 + 10)
          .map(k => (k.toLong, i.toLong)).toDF("k", "v"),
          root, statsCols = Seq("k"))
      }
      val t10 = commitText(root, 10)
      assert(t10.contains("include:_manifests/m-"),
        "10 appends past a rollover of 4 must reference manifests")
      val inline = "(?m)^(dir:|delta:)".r.findAllIn(t10).length
      assert(inline < 4, s"inline entry tail must stay under the " +
        s"rollover, got $inline:\n$t10")
      // expansion serves reads and time travel exactly
      assert(TxTable.read(spark, root).count() === 100)
      assert(TxTable.read(spark, root).agg(sum("k")).head.getLong(0)
        === (0L until 100L).sum)
      assert(TxTable.read(spark, root, version = 4).count() === 40)
      assert(TxTable.read(spark, root, version = 7).count() === 70)
      // dir pruning composes with manifests (stats live in the entry
      // lines wherever they sit)
      val pruned = TxTable.read(spark, root, keyRange = Some((0L, 9L)))
      assert(pruned.inputFiles.length <
        TxTable.read(spark, root).inputFiles.length)
      assert(pruned.count() === 10)
      // history expands includes for its entry counts
      val h = TxTable.describeHistory(spark, root)
        .select("version", "n_entries").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(h(10) === 10 && h(4) === 4)
      // metadata-only COUNT(*) still answers from the commit
      assert(TxTable.rowCount(spark, root) === Some(100L))
    }
  }

  test("DML re-includes intact manifests; only the broken one inlines") {
    import spark.implicits._
    val root = tmpDir() + "/tx-manifest-dml"
    withRollover(4) {
      (0 until 8).foreach { i =>
        TxTable.append((i * 10 until i * 10 + 10)
          .map(k => (k.toLong, i.toLong)).toDF("k", "v"),
          root, statsCols = Seq("k"))
      }
      val t8 = commitText(root, 8)
      val incs = "include:[^\n]+".r.findAllIn(t8).toSeq
      assert(incs.length === 2, s"8 appends at rollover 4 → 2 manifests: $t8")
      // a bounded delete inside the FIRST manifest's key space: the
      // second manifest's block survives intact and must collapse
      // back to its include line, not re-list its entries
      TxTable.deleteWhere(spark, root, "k = 15")
      val t9 = commitText(root, 9)
      assert(t9.contains(incs(1)),
        s"the untouched manifest must re-include:\n$t9")
      assert(!t9.contains(incs(0)),
        "the manifest containing the rewritten dir must break open")
      assert("(?m)^dir:".r.findAllIn(t9).length === 4,
        s"only the broken manifest's 4 dirs may inline:\n$t9")
      assert(TxTable.read(spark, root).count() === 79)
      assert(TxTable.read(spark, root)
        .filter(col("k") === 15L).count() === 0)
    }
  }

  test("vacuum drops manifests with their commits, keeps referenced ones") {
    import spark.implicits._
    val root = tmpDir() + "/tx-manifest-vac"
    withRollover(4) {
      (0 until 8).foreach { i =>
        TxTable.append((i * 10 until i * 10 + 10)
          .map(k => (k.toLong, i.toLong)).toDF("k", "v"),
          root, statsCols = Seq("k"))
      }
      def manifests(): Long = {
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(root, "_manifests"))
        try s.filter(p => p.getFileName.toString.startsWith("m-")).count()
        finally s.close()
      }
      assert(manifests() === 2)
      // retained head still references both manifests → both survive
      TxTable.vacuum(spark, root, retainLast = 1)
      assert(manifests() === 2)
      assert(TxTable.read(spark, root).count() === 80)
      // a full rewrite stops referencing them → the next vacuum drops
      // them with the expired commits, immediately (no age gate: they
      // are provably superseded)
      TxTable.compactSnapshot(spark, root)
      TxTable.vacuum(spark, root, retainLast = 1)
      assert(manifests() === 0,
        "superseded manifests must go with their commits")
      assert(TxTable.read(spark, root).count() === 80)
    }
  }

  test("restore and clone carry manifested snapshots zero-copy") {
    import spark.implicits._
    val root = tmpDir() + "/tx-manifest-restore"
    withRollover(4) {
      (0 until 6).foreach { i =>
        TxTable.append(Seq((i.toLong, i.toLong)).toDF("k", "v"),
          root, statsCols = Seq("k"))
      }
      TxTable.overwrite(Seq((99L, 99L)).toDF("k", "v"), root) // v7
      // restore to the manifested v6: the include line carries, the
      // restore commit does not re-list the table
      TxTable.restore(spark, root, 6)
      assert(commitText(root, 8).contains("include:_manifests/m-"))
      assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet
        === (0L until 6L).toSet)
      // a clone of the manifested snapshot expands to absolute paths
      val dst = tmpDir() + "/tx-manifest-clone"
      TxTable.cloneAt(spark, root, dst)
      assert(TxTable.read(spark, dst).collect().map(_.getLong(0)).toSet
        === (0L until 6L).toSet)
    }
  }

  test("bloom index build is O(1) Spark jobs in the number of dirs") {
    import spark.implicits._
    val root = tmpDir() + "/tx-bloom-jobs"
    (0L to 5L).foreach { i =>
      TxTable.append((0L until 50L).map(j => (j * 6 + i, s"g$i"))
        .toDF("id", "grp"), root)
    }
    val jobs = jobsDuring {
      assert(TxTable.buildBloomIndex(spark, root, "id") === 6)
    }
    // every dir has a `_rows` commit stat, so sizing needs no count
    // job: the whole build is ONE distributed pass (toLocalIterator
    // may split it into a handful of partition-batched jobs, never
    // one per dir — the old loop ran 12 serial jobs here)
    assert(jobs <= 3, s"bloom build ran $jobs jobs for 6 dirs")
    // the single-pass build prunes exactly like the per-dir one
    val (kept, total) = TxTable.bloomSurvivingDirs(spark, root, "id", Seq(13L))
    assert(total === 6 && kept.size <= 2)
    assert(TxTable.readBloomFiltered(spark, root, "id", Seq(13L))
      .collect().map(_.getLong(0)).toSet === Set(13L))
  }

  test("drop-and-recreate at the same path never serves stale cached commits") {
    import spark.implicits._
    // Scratch.freshRoot's lifecycle: delete + rebuild a table at a
    // STABLE path in one JVM. The commit cache must not serve the old
    // table's entry lines (stale data-dir uuids → PATH_NOT_FOUND, or
    // worse, silently reading the dropped snapshot) — r10's 21-query
    // re-invocation crash.
    val root = tmpDir() + "/tx-recreate"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1 to 2).foreach { round =>
      fs.delete(rp, true)
      // keyed MoR lifecycle — the exact shape of the crashing gate
      // queries (append + delta + read resolves both commit files)
      TxTable.append(Seq((1L, round * 10.0)).toDF("k", "v"), root,
        statsCols = Seq("k"))
      TxTable.mergeDelta(spark, root,
        Seq((2L, "I", round * 20.0, 1L)).toDF("k", "op", "v", "seq"),
        keyCols = Seq("k"))
      val got = TxTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === Map(1L -> round * 10.0, 2L -> round * 20.0),
        s"round $round read back the wrong table state")
    }
  }

  test("stats/key names cannot forge the stats-line grammar") {
    import spark.implicits._
    // a column literally named "str:k" / "_rows" / "n,k" would write
    // stat segments indistinguishable from reserved ones — e.g. a
    // forged null-count 0 makes the metadata-only GROUP BY treat a
    // NULL-bearing dir as null-free. Reject them at the write chokepoint.
    Seq("str:k", "_rows", "_bytes", "n,k").foreach { bad =>
      val root = tmpDir() + s"/tx-forge-${bad.hashCode.toHexString}"
      val df = Seq((1L, 2L)).toDF("k", "v").withColumnRenamed("v", bad)
      val e = intercept[IllegalArgumentException] {
        TxTable.append(df, root, statsCols = Seq(bad))
      }
      assert(e.getMessage.contains("invalid stats/key column name"))
      assert(TxTable.latestVersion(spark, root) === 0,
        s"rejected stats column '$bad' must leave no commit behind")
    }
  }

  test("auto-extended colmap names are validated before any commit") {
    import spark.implicits._
    val root = tmpDir() + "/tx-colmap-valid"
    TxTable.append(Seq((1L, 10L)).toDF("k", "v"), root)
    TxTable.renameColumn(spark, root, "v", "amount") // table now mapped
    val before = TxTable.latestVersion(spark, root)
    // a widening append whose new column name would corrupt the
    // header grammar (',' / '=') must fail loudly up front
    val bad = Seq((2L, 20L, 5L)).toDF("k", "amount", "x=y,z")
    val e = intercept[IllegalArgumentException] {
      TxTable.append(bad, root)
    }
    assert(e.getMessage.contains("invalid column name"))
    assert(TxTable.latestVersion(spark, root) === before,
      "a rejected append must leave no commit behind")
    assert(TxTable.read(spark, root).count() === 1L)
  }

  test("incremental z-order rewrites only the unclustered tail") {
    import spark.implicits._
    val root = tmpDir() + "/tx-zinc"
    val df = (1L to 400L).map(i => (i % 20, i / 20, i)).toDF("x", "y", "k")
    TxTable.append(df.filter($"k" <= 200), root)
    TxTable.append(df.filter($"k" > 200 && $"k" <= 300), root)
    // first run: no prior pass — delegates to the full rewrite
    TxTable.optimizeZOrderIncremental(spark, root, Seq("x", "y"), nDirs = 4)
    val clusteredFiles = TxTable.read(spark, root).inputFiles.toSet
    assert(clusteredFiles.forall(_.contains("/zopt-")))
    // tail lands: two small appends after the pass
    TxTable.append(df.filter($"k" > 300 && $"k" <= 350), root)
    TxTable.append(df.filter($"k" > 350), root)
    val v = TxTable.optimizeZOrderIncremental(spark, root,
      Seq("x", "y"), nDirs = 4)
    val after = TxTable.read(spark, root).inputFiles.toSet
    assert(clusteredFiles.subsetOf(after),
      "every previously-clustered file must carry over BY NAME")
    assert(after.forall(_.contains("/zopt-")),
      "the tail must have been rewritten into zopt blocks")
    assert(TxTable.read(spark, root).count() === 400L)
    assert(TxTable.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet === (1L to 400L).toSet)
    // pruning bites on BOTH dimensions across generations
    val band = TxTable.read(spark, root,
      colRanges = Map("x" -> (0L, 4L), "y" -> (0L, 4L)))
    assert(band.inputFiles.length < after.size,
      "a 2-dim box must open fewer dirs than the table has")
    // idempotent: nothing unclustered left -> no commit
    assert(TxTable.optimizeZOrderIncremental(spark, root,
      Seq("x", "y"), nDirs = 4) === v)
  }

  test("optimizeCompact packs WITHIN partition values, preserving the proof") {
    import spark.implicits._
    val root = tmpDir() + "/tx-optpart"
    // the streamed-ingest shape: two epochs x two values = 4 small
    // single-valued dirs
    (0 until 2).foreach { _ =>
      TxTable.appendPartitioned(
        (1L to 40L).map(i => (i % 2, i)).toDF("p", "k"), root, "p",
        statsCols = Seq("k"))
    }
    def spjOk(): Boolean =
      scala.util.Try(spark.read.format("graft-tx")
        .option("partitionCol", "p").load(root).count()).isSuccess
    assert(spjOk(), "precondition: the layout proves clustering")
    val dirsBefore = TxTable.read(spark, root).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
    assert(dirsBefore === 4)
    TxTable.optimizeCompact(spark, root, targetBytes = 1L << 40)
    val dirsAfter = TxTable.read(spark, root).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
    assert(dirsAfter === 2,
      "four small dirs across two values must pack to one dir PER VALUE")
    assert(spjOk(),
      "compaction must never destroy the partition-clustering proof")
    assert(TxTable.read(spark, root).count() === 80L)
    // small dirs in DIFFERENT values only: nothing to pack, no commit
    val before = TxTable.latestVersion(spark, root)
    assert(TxTable.optimizeCompact(spark, root,
      targetBytes = 1L << 40) === before)
  }

  test("latest-version hint: written per commit, stale/garbage/missing recover") {
    import spark.implicits._
    val root = tmpDir() + "/tx-hint"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hint = new org.apache.hadoop.fs.Path(root + "/_commits/_latest")
    def hintText(): String = {
      val in = fs.open(hint)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    }
    def putHint(s: String): Unit = {
      val out = fs.create(hint, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    TxTable.append(Seq((1L, 1.0)).toDF("k", "v"), root)
    TxTable.append(Seq((2L, 2.0)).toDF("k", "v"), root)
    assert(fs.exists(hint), "every successful commit writes the hint")
    assert(hintText() === "2")
    assert(TxTable.latestVersion(spark, root) === 2)
    // stale-LOW hint (a crashed/raced writeHint): forward probe recovers
    putHint("1")
    assert(TxTable.latestVersion(spark, root) === 2)
    // hint at a nonexistent version (recreated-table ghost): listing
    putHint("9")
    assert(TxTable.latestVersion(spark, root) === 2)
    // garbage hint: parse guard falls back to the listing
    putHint("not-a-version")
    assert(TxTable.latestVersion(spark, root) === 2)
    // missing hint (pre-hint table): listing, and the next commit
    // re-establishes it
    fs.delete(hint, false)
    assert(TxTable.latestVersion(spark, root) === 2)
    TxTable.append(Seq((3L, 3.0)).toDF("k", "v"), root)
    assert(hintText() === "3")
    assert(TxTable.read(spark, root).count() === 3L)
  }

  test("footer schemas of immutable uuid dirs serve from the JVM cache") {
    import spark.implicits._
    val root = tmpDir() + "/tx-schemacache"
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TxTable.append(Seq((1L, "a")).toDF("k", "s"), root)
    val dir = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .head.getPath.getName
    val first = TxTable.dirSchemas(fs, rp, Seq(s"data/$dir"))
    assert(first.nonEmpty && first.head._2.containsField("k"))
    // dirs are immutable and uuid-named, so the second probe must not
    // touch the filesystem: delete the data files, probe again — the
    // schema still resolves (a re-probe would return empty)
    fs.delete(new org.apache.hadoop.fs.Path(root, s"data/$dir"), true)
    val again = TxTable.dirSchemas(fs, rp, Seq(s"data/$dir"))
    assert(again === first, "cached footer schema must serve without IO")
  }
}
