package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Storage-partitioned join over co-clustered graft-tx tables — the
  * V2 KeyGroupedPartitioning face (`.option("partitionCol", c)`). */
class SpjSpec extends SparkSpec {
  import spark.implicits._

  private def pread(root: String, c: String) =
    spark.read.format("graft-tx").option("partitionCol", c).load(root)

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))

  private def withSpj[T](f: => T): T = {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-partitioned join on the partition column has no Exchange") {
    val rootA = tmpDir() + "/spj-a"
    val rootB = tmpDir() + "/spj-b"
    val a = (1L to 400L).map(k => (k, k % 7, s"a$k")).toDF("ka", "b", "va")
    val bt = (1L to 300L).map(k => (k, k % 7, s"b$k")).toDF("kb", "b", "vb")
    TxTable.appendPartitioned(a, rootA, "b")
    TxTable.appendPartitioned(bt, rootB, "b")
    withSpj {
      val l = pread(rootA, "b")
      val r = pread(rootB, "b")
      val j = l.join(r, "b").groupBy("b")
        .agg(count(lit(1)).as("cnt"), sum($"ka" + $"kb").as("s"))
      info(j.queryExecution.executedPlan.toString.take(4000))
      val expect = a.join(bt, "b").groupBy("b")
        .agg(count(lit(1)).as("cnt"), sum($"ka" + $"kb").as("s"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val got = j.collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got === expect)
      assert(shuffles(j) === 0,
        j.queryExecution.executedPlan.toString)
    }
  }

  test("join keys superset of partition key still co-partitions") {
    val rootA = tmpDir() + "/spj2-a"
    val rootB = tmpDir() + "/spj2-b"
    val a = (1L to 400L).map(k => (k, k % 5, k * 2)).toDF("k", "b", "va")
    val bt = (1L to 350L).map(k => (k, k % 5, k * 3)).toDF("k", "b", "vb")
    TxTable.appendPartitioned(a, rootA, "b")
    TxTable.appendPartitioned(bt, rootB, "b")
    withSpj {
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      try {
        val j = pread(rootA, "b").as("l")
          .join(pread(rootB, "b").as("r"),
            $"l.b" === $"r.b" && $"l.k" === $"r.k")
          .select($"l.k", $"l.b", $"va", $"vb")
        val expect = a.as("l").join(bt.as("r"),
          $"l.b" === $"r.b" && $"l.k" === $"r.k")
          .select($"l.k", $"l.b", $"va", $"vb")
          .collect().map(_.toSeq).sortBy(_.head.toString)
        val got = j.collect().map(_.toSeq).sortBy(_.head.toString)
        assert(got === expect)
        info(s"shuffles=${shuffles(j)}")
        assert(shuffles(j) === 0, j.queryExecution.executedPlan.toString)
      } finally
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
    }
  }

  test("mismatched partition value sets still join correctly") {
    val rootA = tmpDir() + "/spj3-a"
    val rootB = tmpDir() + "/spj3-b"
    // A has buckets 0..6, B only 0..3 — push-down partition values
    // must align the sides without wrong answers
    val a = (1L to 140L).map(k => (k, k % 7)).toDF("ka", "b")
    val bt = (1L to 80L).map(k => (k, k % 4)).toDF("kb", "b")
    TxTable.appendPartitioned(a, rootA, "b")
    TxTable.appendPartitioned(bt, rootB, "b")
    withSpj {
      val j = pread(rootA, "b").join(pread(rootB, "b"), "b")
        .groupBy("b").agg(count(lit(1)).as("cnt"))
      val expect = a.join(bt, "b").groupBy("b").agg(count(lit(1)).as("cnt"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val got = j.collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got === expect)
    }
  }

  test("pruned read without the partition column still serves") {
    val root = tmpDir() + "/spj4"
    val a = (1L to 100L).map(k => (k, k % 3, s"v$k")).toDF("k", "b", "v")
    TxTable.appendPartitioned(a, root, "b")
    val got = pread(root, "b").select("v").collect().map(_.getString(0)).toSet
    assert(got === (1L to 100L).map(k => s"v$k").toSet)
    // full content parity with the V1 face
    val all = pread(root, "b").collect().map(_.toSeq).sortBy(_.head.toString)
    val v1 = TxTable.read(spark, root).select("k", "b", "v")
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(all === v1)
  }

  test("partition-column filters prune scan partitions at planning") {
    val root = tmpDir() + "/spj6"
    val a = (1L to 120L).map(k => (k, k % 6)).toDF("k", "b")
    TxTable.appendPartitioned(a, root, "b")
    val one = pread(root, "b").filter($"b" === 3)
    assert(one.rdd.getNumPartitions === 1,
      s"expected 1 scan partition, got ${one.rdd.getNumPartitions}")
    assert(one.count() === 20)
    val range = pread(root, "b").filter($"b" >= 2 && $"b" < 5)
    assert(range.rdd.getNumPartitions === 3)
    assert(range.count() === 60)
    // non-partition filters prune nothing and lose nothing
    val other = pread(root, "b").filter($"k" <= 10)
    assert(other.rdd.getNumPartitions === 6)
    assert(other.count() === 10)
  }

  test("groupBy the partition column aggregates without a shuffle") {
    val root = tmpDir() + "/spj7"
    val a = (1L to 200L).map(k => (k, k % 4)).toDF("k", "b")
    TxTable.appendPartitioned(a, root, "b")
    withSpj {
      val g = pread(root, "b").groupBy("b").agg(sum($"k").as("s"))
      assert(shuffles(g) === 0, g.queryExecution.executedPlan.toString)
      val got = g.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expect = a.groupBy("b").agg(sum($"k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === expect)
    }
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions") {
    val root = tmpDir() + "/spj8"
    // fact: 10 partitions; dim: tiny, filtered to 2 surviving keys
    val fact = (1L to 500L).map(k => (k, k % 10)).toDF("k", "b")
    TxTable.appendPartitioned(fact, root, "b")
    // the dim must be FILE-backed: a LocalRelation dim constant-folds
    // its filter away and DPP has no selective predicate to key on
    val dimPath = tmpDir() + "/spj8-dim"
    (0L to 9L).map(b => (b, if (b < 2) "keep" else "drop"))
      .toDF("db", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    // AQE off so the physical plan is directly introspectable
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val f = pread(root, "b")
      val j = f.join(broadcast(dim.filter($"tag" === "keep")), $"b" === $"db")
        .agg(count(lit(1)).as("cnt"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan)
      // collect() executes THIS queryExecution's plan (head() would
      // build a separate limited plan, leaving this one unexecuted
      // and its DPP subquery results unpopulated)
      assert(j.collect().map(_.getLong(0)).toSeq === Seq(100L))
      // and the runtime-filtered scan actually dropped partitions
      val scans = j.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b
      }
      assert(scans.nonEmpty)
      // the scan reports KeyGroupedPartitioning, so Spark keeps the
      // partition COUNT aligned with the original key set (pruned
      // groups become empty) — the proof of pruning is rows read:
      // 100 from the two surviving partitions, not the table's 500
      assert(scans.head.metrics("numOutputRows").value === 100L,
        s"expected the scan to read only the 2 surviving partitions " +
          s"(100 rows), read ${scans.head.metrics("numOutputRows").value}")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("composite key: two-column co-partitioned join has no Exchange") {
    val rootA = tmpDir() + "/spjc-a"
    val rootB = tmpDir() + "/spjc-b"
    val a = (1L to 600L).map(k => (k, k % 4, k % 3, k * 2))
      .toDF("ka", "b1", "b2", "va")
    val bt = (1L to 450L).map(k => (k, k % 4, k % 3, k * 5))
      .toDF("kb", "b1", "b2", "vb")
    TxTable.appendPartitionedBy(a, rootA, Seq("b1", "b2"))
    TxTable.appendPartitionedBy(bt, rootB, Seq("b1", "b2"))
    withSpj {
      val l = pread(rootA, "b1,b2")
      val r = pread(rootB, "b1,b2")
      val j = l.as("l").join(r.as("r"),
        $"l.b1" === $"r.b1" && $"l.b2" === $"r.b2")
        .groupBy($"l.b1", $"l.b2")
        .agg(count(lit(1)).as("cnt"), sum($"ka" + $"kb").as("s"))
      val expect = a.as("l").join(bt.as("r"),
        $"l.b1" === $"r.b1" && $"l.b2" === $"r.b2")
        .groupBy($"l.b1", $"l.b2")
        .agg(count(lit(1)).as("cnt"), sum($"ka" + $"kb").as("s"))
        .collect().map(_.toSeq).sortBy(r => (r.head.toString, r(1).toString))
      val got = j.collect().map(_.toSeq)
        .sortBy(r => (r.head.toString, r(1).toString))
      assert(got === expect)
      assert(shuffles(j) === 0, j.queryExecution.executedPlan.toString)
    }
  }

  test("composite key: per-column filters prune partitions at planning") {
    val root = tmpDir() + "/spjc-p"
    val df = (1L to 600L).map(k => (k, k % 4, k % 3)).toDF("k", "b1", "b2")
    TxTable.appendPartitionedBy(df, root, Seq("b1", "b2"))
    withSpj {
      val q = pread(root, "b1,b2").filter($"b1" === 1 && $"b2" >= 2)
      val scans = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b
      }
      assert(scans.nonEmpty)
      // 12 (b1,b2) tuples total; b1=1 ∧ b2>=2 leaves exactly 1
      assert(scans.head.inputRDD.getNumPartitions === 1,
        q.queryExecution.executedPlan.toString)
      val expect = df.filter($"b1" === 1 && $"b2" >= 2)
        .collect().map(_.getLong(0)).toSet
      assert(q.collect().map(_.getLong(0)).toSet === expect)
    }
  }

  test("a dir spanning two tuples on the second key fails loudly") {
    val root = tmpDir() + "/spjc-f"
    // clustered on b1 only: single-valued on b1, multi-valued on b2
    val df = (1L to 100L).map(k => (k, k % 4, k % 3)).toDF("k", "b1", "b2")
    TxTable.appendPartitioned(df, root, "b1", statsCols = Seq("b2"))
    val e = intercept[Exception] {
      pread(root, "b1,b2").collect()
    }
    assert(e.getMessage.contains("partition-clustered") ||
      Option(e.getCause).exists(_.getMessage.contains("partition-clustered")),
      e.toString)
  }

  test("non-clustered tables fail loudly, never wrong") {
    val root = tmpDir() + "/spj5"
    TxTable.append((1L to 50L).map(k => (k, k % 3)).toDF("k", "b"), root,
      statsCols = Seq("b"))
    val e = intercept[Exception] {
      pread(root, "b").collect()
    }
    assert(e.getMessage.contains("partition-clustered") ||
      Option(e.getCause).exists(_.getMessage.contains("partition-clustered")),
      e.toString)
  }

  test("STRING key: co-partitioned join on a date string has no Exchange") {
    // the #1 real-world layout: date-string-partitioned facts — the
    // `sx:` exact-value dir stat proves the clustering the integral
    // `lo == hi` proof can't cover for strings
    val rootA = tmpDir() + "/spjs-a"
    val rootB = tmpDir() + "/spjs-b"
    val days = (0 until 6).map(d => f"2026-08-$d%02d")
    val a = (1L to 400L).map(k => (k, days((k % 6).toInt), s"a$k"))
      .toDF("ka", "day", "va")
    val bt = (1L to 300L).map(k => (k, days((k % 6).toInt), s"b$k"))
      .toDF("kb", "day", "vb")
    TxTable.appendPartitioned(a, rootA, "day")
    TxTable.appendPartitioned(bt, rootB, "day")
    withSpj {
      val j = pread(rootA, "day").join(pread(rootB, "day"), "day")
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"), sum($"ka" + $"kb").as("s"))
      val expect = a.join(bt, "day").groupBy("day")
        .agg(count(lit(1)).as("cnt"), sum($"ka" + $"kb").as("s"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val got = j.collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got === expect)
      assert(shuffles(j) === 0, j.queryExecution.executedPlan.toString)
    }
  }

  test("STRING key: equality filter prunes partitions; unicode survives") {
    val root = tmpDir() + "/spjs-p"
    // non-ASCII + path-hostile values round-trip through the hex dirs
    val cats = Seq("täglich", "a/b c", "2026-08-01", "東京")
    val df = (1L to 200L).map(k => (k, cats((k % 4).toInt)))
      .toDF("k", "cat")
    TxTable.appendPartitioned(df, root, "cat")
    withSpj {
      val q = pread(root, "cat").filter($"cat" === "東京")
      val parts = q.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(q.collect().map(_.getLong(0)).toSet ===
        (1L to 200L).filter(_ % 4 == 3).toSet)
      // planning-time partition pruning: one of four slices survives
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      assert(scan.toString.contains("graft-tx"), parts)
      assert(scan.executeColumnar == null || true) // plan materialized
      val rdd = q.rdd
      assert(rdd.getNumPartitions === 1, s"got ${rdd.getNumPartitions}")
    }
  }

  test("STRING key: dynamic partition pruning from a filtered dim") {
    val rootF = tmpDir() + "/spjs-dpp-f"
    val days = (0 until 8).map(d => f"2026-07-$d%02d")
    val fact = (1L to 400L).map(k => (k, days((k % 8).toInt)))
      .toDF("k", "day")
    TxTable.appendPartitioned(fact, rootF, "day")
    withSpj {
      val dim = days.zipWithIndex.map { case (d, i) => (d, i % 2) }
        .toDF("day", "keep")
      val q = pread(rootF, "day")
        .join(broadcast(dim.filter($"keep" === 1)), "day")
        .select($"k")
      val expect = (1L to 400L).filter(k => (k % 8) % 2 == 1).toSet
      assert(q.collect().map(_.getLong(0)).toSet === expect)
    }
  }

  test("mixed composite key (long, string) co-partitions with no Exchange") {
    val rootA = tmpDir() + "/spjm-a"
    val rootB = tmpDir() + "/spjm-b"
    val regions = Seq("eu", "us", "apac")
    val a = (1L to 300L).map(k => (k, k % 4, regions((k % 3).toInt)))
      .toDF("ka", "b", "r")
    val bt = (1L to 240L).map(k => (k, k % 4, regions((k % 3).toInt)))
      .toDF("kb", "b", "r")
    TxTable.appendPartitionedBy(a, rootA, Seq("b", "r"))
    TxTable.appendPartitionedBy(bt, rootB, Seq("b", "r"))
    withSpj {
      val j = pread(rootA, "b,r").join(pread(rootB, "b,r"), Seq("b", "r"))
        .groupBy("b", "r").agg(count(lit(1)).as("cnt"))
      val expect = a.join(bt, Seq("b", "r")).groupBy("b", "r")
        .agg(count(lit(1)).as("cnt"))
        .collect().map(_.toSeq).sortBy(_.mkString(","))
      val got = j.collect().map(_.toSeq).sortBy(_.mkString(","))
      assert(got === expect)
      assert(shuffles(j) === 0, j.queryExecution.executedPlan.toString)
    }
  }

  test("STRING key: range predicates prune partitions at planning") {
    val root = tmpDir() + "/spjs-range"
    val days = Seq("2026-06-30", "2026-07-01", "2026-07-15",
      "2026-07-31", "2026-08-01", "zzz")
    val df = (1L to 300L).map(k => (k, days((k % 6).toInt)))
      .toDF("k", "day")
    TxTable.appendPartitioned(df, root, "day")
    withSpj {
      // the date-string month window: >= lower, < upper
      val q = pread(root, "day")
        .filter($"day" >= "2026-07-01" && $"day" < "2026-08-01")
      assert(q.rdd.getNumPartitions === 3, s"range must prune to 3 " +
        s"of 6 day partitions, got ${q.rdd.getNumPartitions}")
      assert(q.collect().map(_.getLong(0)).toSet ===
        (1L to 300L).filter(k => Set(1L, 2L, 3L)(k % 6)).toSet)
      // strict lower / inclusive upper flip the surviving edge
      val q2 = pread(root, "day")
        .filter($"day" > "2026-07-01" && $"day" <= "2026-08-01")
      assert(q2.rdd.getNumPartitions === 3,
        s"got ${q2.rdd.getNumPartitions}")
      assert(q2.collect().map(_.getLong(0)).toSet ===
        (1L to 300L).filter(k => Set(2L, 3L, 4L)(k % 6)).toSet)
    }
  }

  test("STRING key: range prune orders by UTF-8 bytes, not UTF-16") {
    // U+FFFD sorts ABOVE U+1F600 in java UTF-16 compareTo (0xFFFD >
    // surrogate 0xD83D) but BELOW it in Spark's UTF-8 byte order
    // (EF BF BD < F0 9F 98 80). A prune using java order would drop
    // the emoji partition from day > U+FFFD — missing rows.
    val root = tmpDir() + "/spjs-utf8"
    val repl = "\uFFFD"
    val emoji = "\uD83D\uDE00" // U+1F600
    val keys = Seq(repl, emoji)
    val df = (1L to 100L).map(k => (k, keys((k % 2).toInt)))
      .toDF("k", "day")
    TxTable.appendPartitioned(df, root, "day")
    withSpj {
      val q = pread(root, "day").filter($"day" > repl)
      assert(q.rdd.getNumPartitions === 1,
        s"got ${q.rdd.getNumPartitions}")
      assert(q.collect().map(_.getLong(0)).toSet ===
        (1L to 100L).filter(_ % 2 == 1).toSet,
        "the emoji partition sorts above U+FFFD in UTF-8 space and " +
          "must survive the prune")
    }
  }

  test("STRING key: LIKE-prefix prunes partitions at planning") {
    val root = tmpDir() + "/spjs-like"
    val days = Seq("2026-07-30", "2026-07-31", "2026-08-01", "2026-08-02")
    val df = (1L to 200L).map(k => (k, days((k % 4).toInt)))
      .toDF("k", "day")
    TxTable.appendPartitioned(df, root, "day")
    withSpj {
      val q = pread(root, "day").filter($"day".startsWith("2026-08"))
      assert(q.rdd.getNumPartitions === 2, s"month prefix must prune " +
        s"to 2 of 4 day partitions, got ${q.rdd.getNumPartitions}")
      assert(q.collect().map(_.getLong(0)).toSet ===
        (1L to 200L).filter(k => k % 4 == 2 || k % 4 == 3).toSet)
    }
  }

  test("DATE key: co-partitioned join and planning-time prune") {
    // a real DateType key (not a date string): stats hold the
    // days-since-epoch encoding, the SPJ face types the partition
    // keys back to DateType, and date-literal filters prune
    val rootA = tmpDir() + "/spjd-a"
    val rootB = tmpDir() + "/spjd-b"
    val a = (1L to 240L).map(k => (k, java.sql.Date.valueOf(
      java.time.LocalDate.of(2026, 8, (k % 6 + 1).toInt))))
      .toDF("ka", "day")
    val bt = (1L to 180L).map(k => (k, java.sql.Date.valueOf(
      java.time.LocalDate.of(2026, 8, (k % 6 + 1).toInt))))
      .toDF("kb", "day")
    TxTable.appendPartitioned(a, rootA, "day")
    TxTable.appendPartitioned(bt, rootB, "day")
    withSpj {
      val j = pread(rootA, "day").join(pread(rootB, "day"), "day")
        .groupBy("day").agg(count(lit(1)).as("cnt"))
      val expect = a.join(bt, "day").groupBy("day")
        .agg(count(lit(1)).as("cnt"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(j.collect().map(_.toSeq).sortBy(_.head.toString) === expect)
      assert(shuffles(j) === 0, j.queryExecution.executedPlan.toString)
      // equality prune: one of six date partitions survives
      val q = pread(rootA, "day")
        .filter($"day" === java.sql.Date.valueOf("2026-08-03"))
      assert(q.rdd.getNumPartitions === 1,
        s"got ${q.rdd.getNumPartitions}")
      assert(q.collect().map(_.getLong(0)).toSet ===
        (1L to 240L).filter(_ % 6 == 2).toSet)
    }
  }

  test("STRING key over the partition limit fails loudly at write") {
    val root = tmpDir() + "/spjs-cap"
    val long = "x" * 200
    val df = Seq((1L, long)).toDF("k", "cat")
    val e = intercept[IllegalArgumentException] {
      TxTable.appendPartitioned(df, root, "cat")
    }
    assert(e.getMessage.contains("UTF-8 bytes"), e.getMessage)
  }

  /** Runs `df.collect()` and returns the scan's `parquetRowsRead`
    * custom-metric total from the SQL status store (polling -- the
    * store updates from the listener bus asynchronously). */
  private def rowsReadOf(df: DataFrame): (Array[org.apache.spark.sql.Row],
    Long) = {
    val t0 = System.currentTimeMillis()
    val out = df.collect()
    val store = spark.sharedState.statusStore
    val deadline = System.currentTimeMillis() + 20000
    var metric = -1L
    while (metric < 0 && System.currentTimeMillis() < deadline) {
      val hit = store.executionsList().reverseIterator.filter(e =>
        e.submissionTime >= t0 && e.completionTime.isDefined)
        .flatMap { e =>
          e.metrics.filter(m => m.name.contains("parquetRowsRead") ||
            m.name.contains("rows emitted by parquet")).flatMap(m =>
            store.executionMetrics(e.executionId).get(m.accumulatorId))
        }.toSeq.headOption
      hit.map(_.replaceAll("[^0-9].*", "")).filter(_.nonEmpty) match {
        case Some(s) => metric = s.toLong
        case None => Thread.sleep(100)
      }
    }
    if (metric < 0) {
      val diag = store.executionsList().map(e =>
        s"exec ${e.executionId} sub=${e.submissionTime} done=" +
          s"${e.completionTime.isDefined} wanted=" +
          e.metrics.filter(_.name.contains("parquet"))
            .map(m => s"${m.name}#${m.accumulatorId}").mkString(",") +
          " values=" + store.executionMetrics(e.executionId).map {
            case (k, v) => s"$k->${v.take(20)}" }.mkString(";")
      ).mkString("\n")
      fail(s"parquetRowsRead metric never appeared (t0=$t0)\n$diag")
    }
    (out, metric)
  }

  test("value filters reach the parquet readers: rows-read drops to " +
    "the matching partition while results stay identical") {
    val root = tmpDir() + "/spj-pushdown"
    // 8 day-partitions whose AMOUNT ranges are disjoint: a selective
    // amount predicate cannot prune on the partition axis (day is
    // unconstrained), so without pushdown every row of every
    // partition reaches the reader and is filtered above
    val df = spark.range(200000).selectExpr(
      "id % 8 as day", "id as k",
      "(id % 8) * 10000000L + id as amount")
    TxTable.appendPartitionedBy(df, root, Seq("day"))
    withSpj {
      val spj = pread(root, "day")
      val (full, fullRows) = rowsReadOf(spj.agg(sum($"k"), count(lit(1))))
      assert(full(0).getLong(0) === (0L until 200000L).sum &&
        full(0).getLong(1) === 200000L)
      assert(fullRows === 200000L, s"full scan emitted $fullRows")
      // only day=7 rows satisfy amount >= 7e7; the pushed predicate
      // must keep the readers from EMITTING the other 7 partitions'
      // rows (row-group stats refute them before any page is read)
      val (sel, selRows) = rowsReadOf(
        spj.filter($"amount" >= 70000000L).agg(sum($"k"), count(lit(1))))
      val expect = (0L until 200000L).filter(_ % 8 == 7)
      assert(sel(0).getLong(0) === expect.sum &&
        sel(0).getLong(1) === expect.size.toLong)
      assert(selRows === 25000L,
        s"pushed scan emitted $selRows rows, want exactly the 25000 matches")
      // row-level correctness through the same pushed path
      assert(spj.filter($"amount" >= 70000000L && $"k" % 5000L === 0L)
        .select($"k").collect().map(_.getLong(0)).toSet ===
        (0L until 200000L).filter(i => i % 8 == 7 && i % 5000 == 0).toSet)
    }
  }

  test("the translated predicate refutes excluded files' row groups " +
    "from their statistics alone (parquet-mr RowGroupFilter)") {
    val root = tmpDir() + "/spj-rgskip"
    val df = spark.range(80000).selectExpr(
      "id % 4 as day", "id as k", "(id % 4) * 1000000L + id as amount")
    TxTable.appendPartitionedBy(df, root, Seq("day"))
    // the exact predicate the scan builds for WHERE amount >= 3e6
    val pred = graft.sources.TxTableSource.parquetPredicate(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(
        "amount", 3000000L)),
      (c: String) => c, _ => Some(org.apache.spark.sql.types.LongType),
      _ => false)
    assert(pred.isDefined)
    val fc = org.apache.parquet.filter2.compat.FilterCompat.get(pred.get)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(root).listFiles.filter(_.isDirectory)
      .filter(_.getName == "data").flatMap(_.listFiles)
      .filter(_.isDirectory).flatMap(_.listFiles)
      .filter(d => d.isDirectory && d.getName.contains("day="))
      .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty, s"no parquet files found under $root")
    var kept = 0
    var dropped = 0
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val footer = r.getFooter
        val surviving = org.apache.parquet.filter2.compat.RowGroupFilter
          .filterRowGroups(fc, footer.getBlocks,
            footer.getFileMetaData.getSchema)
        val isDay3 = f.getPath.contains("day=3")
        if (surviving.isEmpty) dropped += 1 else kept += 1
        assert(surviving.isEmpty != isDay3,
          s"${f.getPath}: surviving=${surviving.size()} (day3=$isDay3)")
      } finally r.close()
    }
    assert(kept > 0 && dropped > 0, s"kept=$kept dropped=$dropped")
  }

  test("pushed value filters over-keep but never over-drop: NULLs " +
    "and negations stay SQL-correct above the scan") {
    val root = tmpDir() + "/spj-pushnull"
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "a"), (2L, null, "a"), (3L, 30L, "a"),
      (4L, 40L, "b"), (5L, null, "b"), (6L, 60L, "b"))
    val df = rows.toDF("k", "v", "cat")
    TxTable.appendPartitionedBy(df, root, Seq("cat"))
    withSpj {
      val spj = pread(root, "cat")
      // NOT(v = 30): SQL drops NULL rows; parquet notEq would keep
      // them — the re-evaluation above must land on SQL semantics
      assert(spj.filter(!($"v" === 30L)).collect().map(_.getLong(0))
        .toSet === Set(1L, 4L, 6L))
      assert(spj.filter($"v".isNull).collect().map(_.getLong(0))
        .toSet === Set(2L, 5L))
      assert(spj.filter($"v".isNotNull && $"v" < 40L).collect()
        .map(_.getLong(0)).toSet === Set(1L, 3L))
      // OR across a translatable and an untranslatable leaf must not
      // push a partial disjunct (over-drop); result stays exact
      assert(spj.filter($"v" === 30L || $"cat".contains("b")).collect()
        .map(_.getLong(0)).toSet === Set(3L, 4L, 5L, 6L))
    }
  }

  test("timestampAsOf pins the partitioned face's scan to its snapshot") {
    val root = tmpDir() + "/spj-asof"
    TxTable.appendPartitioned(
      (1L to 40L).map(k => (k, k % 4)).toDF("k", "p"), root, "p")
    Thread.sleep(20)
    val tsBetween = System.currentTimeMillis()
    Thread.sleep(20)
    TxTable.appendPartitioned(
      (41L to 60L).map(k => (k, k % 4 + 10)).toDF("k", "p"), root, "p")
    val pinned = spark.read.format("graft-tx").option("partitionCol", "p")
      .option("timestampAsOf", tsBetween).load(root)
    assert(pinned.select("k").collect().map(_.getLong(0)).toSet ===
      (1L to 40L).toSet)
    assert(pinned.select("p").distinct().count() === 4L)
  }

  test("row-restricting options refuse loudly on the partitioned face") {
    val root = tmpDir() + "/spj-restrict"
    TxTable.appendPartitioned(
      (1L to 40L).map(k => (k, k % 4)).toDF("k", "p"), root, "p",
      statsCols = Seq("k"))
    Seq("keyRange" -> "1,5", "colRange.k" -> "1,5", "strRange.k" -> "1,5")
      .foreach { case (k, v) =>
        val e = intercept[IllegalArgumentException] {
          spark.read.format("graft-tx").option("partitionCol", "p")
            .option(k, v).load(root).collect()
        }
        assert(e.getMessage.contains("row-restricting"), k)
      }
  }
}
