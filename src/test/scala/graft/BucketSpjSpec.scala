package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{GraftBucketFunction, TxTable}

/** Hash-bucketed layout + bucket-transform storage-partitioned join:
  * `appendBucketedBy` routes rows with Spark's own murmur3 `hash()`,
  * the catalog face reports `bucket(n, col)` KeyGroupedPartitioning,
  * GraftCatalog serves the V2 `bucket` function — two same-bucketed
  * tables join on a HIGH-CARDINALITY key with zero Exchange, and a
  * non-bucketed side can shuffle INTO the layout while the bucketed
  * side never moves. Layout-breaking writes refuse loudly; layouts
  * that stop being provable degrade to the plain scan, never
  * wrong-answer. */
class BucketSpjSpec extends SparkSpec {

  import spark.implicits._

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))

  private def withSpj[T](extra: (String, String)*)(f: => T): T = {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") ++ extra
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def mkTable(name: String, root: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-tx` OPTIONS (path '$root')")
  }

  test("co-bucketed join on a high-cardinality key has no Exchange") {
    val rootA = tmpDir() + "/bkt-a"
    val rootB = tmpDir() + "/bkt-b"
    val a = (1L to 400L).map(k => (k, s"a$k")).toDF("k", "va")
    val b = (200L to 500L).map(k => (k, s"b$k")).toDF("k", "vb")
    TxTable.appendBucketedBy(a, rootA, "k", 8, statsCols = Seq("k"))
    TxTable.appendBucketedBy(b, rootB, "k", 8, statsCols = Seq("k"))
    mkTable("bkt_a", rootA); mkTable("bkt_b", rootB)
    try withSpj() {
      val j = spark.table("bkt_a").as("l")
        .join(spark.table("bkt_b").as("r"), col("l.k") === col("r.k"))
        .select(col("l.k"), col("va"), col("vb"))
      assert(j.count() === 201L)
      assert(shuffles(j) === 0)
      // a second bucketed append keeps the layout: per-bucket dirs
      // group into one scan unit each, the join stays Exchange-free
      TxTable.appendBucketedBy(
        Seq((1000L, "a1000")).toDF("k", "va"), rootA, "k", 8)
      spark.sql("REFRESH TABLE bkt_a")
      val j2 = spark.table("bkt_a").as("l")
        .join(spark.table("bkt_b").as("r"), col("l.k") === col("r.k"))
      assert(j2.count() === 201L)
      assert(shuffles(j2) === 0)
      assert(spark.table("bkt_a").count() === 401L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("V2 bucket function matches the write path's hash() routing") {
    import org.apache.spark.sql.types._
    // long / int / string / date keys: the function the SPJ planner
    // binds must agree bitwise with pmod(hash(col), n) — a mismatch
    // would mis-route the one-sided shuffle into WRONG JOIN RESULTS
    val n = 16
    def sparkSide(df: DataFrame): Seq[(Any, Int)] =
      df.select(col("v"), pmod(hash(col("v")), lit(n)).as("b"))
        .collect().toSeq.map(r => (r.get(0), r.getInt(1)))
    val longs = sparkSide((-5L to 50L).toDF("v"))
    longs.foreach { case (v, b) =>
      assert(GraftBucketFunction.idOf(v, LongType, n) === b, s"long $v") }
    val ints = sparkSide((-5 to 50).toDF("v"))
    ints.foreach { case (v, b) =>
      assert(GraftBucketFunction.idOf(v, IntegerType, n) === b,
        s"int $v") }
    val strs = sparkSide(Seq("", "a", "abc", "ü-emoji-🎉", "x" * 100)
      .toDF("v"))
    strs.foreach { case (v, b) =>
      assert(GraftBucketFunction.idOf(v, StringType, n) === b,
        s"str $v") }
    val dates = sparkSide(Seq("1996-03-15", "1970-01-01", "2026-08-16")
      .toDF("s").select(to_date(col("s")).as("v")))
    dates.foreach { case (v, b) =>
      assert(GraftBucketFunction.idOf(v, DateType, n) === b, s"date $v") }
  }

  test("one-sided shuffle: a plain side joins INTO the bucketed layout") {
    val root = tmpDir() + "/bkt-one"
    val a = (1L to 500L).map(k => (k, k % 97)).toDF("k", "va")
    TxTable.appendBucketedBy(a, root, "k", 8)
    mkTable("bkt_one", root)
    try withSpj(
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true") {
      val plain = (400L to 600L).map(k => (k, s"p$k")).toDF("k", "vp")
      val j = spark.table("bkt_one").as("l")
        .join(plain.as("r"), col("l.k") === col("r.k"))
      // exactly ONE Exchange — the plain side shuffles by graft's
      // bucket function; the bucketed (big) side never moves. The
      // count is also the end-to-end proof the function routes rows
      // to the right buckets (a mis-hash loses matches silently).
      assert(j.count() === 101L)
      assert(shuffles(j) === 1)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_one")
  }

  test("string keys bucket and join Exchange-free") {
    val rootA = tmpDir() + "/bkts-a"
    val rootB = tmpDir() + "/bkts-b"
    val a = (1 to 300).map(i => (s"user-$i", i)).toDF("u", "x")
    val b = (200 to 400).map(i => (s"user-$i", i * 2)).toDF("u", "y")
    TxTable.appendBucketedBy(a, rootA, "u", 4)
    TxTable.appendBucketedBy(b, rootB, "u", 4)
    mkTable("bkts_a", rootA); mkTable("bkts_b", rootB)
    try withSpj() {
      val j = spark.table("bkts_a")
        .join(spark.table("bkts_b"), "u")
      assert(j.count() === 101L)
      assert(shuffles(j) === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkts_a")
      spark.sql("DROP TABLE IF EXISTS bkts_b")
    }
  }

  test("point predicates prune to one bucket at planning") {
    val root = tmpDir() + "/bkt-prune"
    TxTable.appendBucketedBy((1L to 800L).map(k => (k, s"v$k"))
      .toDF("k", "v"), root, "k", 8)
    mkTable("bkt_prune", root)
    try {
      val q = spark.table("bkt_prune").filter(col("k") === 123L)
      // the scan keeps exactly the one bucket the literal hashes to
      assert(q.rdd.getNumPartitions === 1)
      assert(q.count() === 1L)
      val q2 = spark.table("bkt_prune")
        .filter(col("k").isin(1L, 2L, 3L, 4L, 5L))
      assert(q2.rdd.getNumPartitions <= 5)
      assert(q2.count() === 5L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_prune")
  }

  test("layout-breaking writes refuse loudly; overwrite resets") {
    val root = tmpDir() + "/bkt-guard"
    TxTable.appendBucketedBy((1L to 50L).map(k => (k, k)).toDF("k", "v"),
      root, "k", 4)
    // plain append refuses
    val e1 = intercept[IllegalStateException] {
      TxTable.append(Seq((99L, 9L)).toDF("k", "v"), root)
    }
    assert(e1.getMessage.contains("bucket-clustered"))
    // value-partitioned append refuses
    intercept[IllegalStateException] {
      TxTable.appendPartitionedBy(Seq((99L, 9L)).toDF("k", "v"), root,
        Seq("v"))
    }
    // catalog INSERT INTO does NOT break the layout: the probed
    // bucket spec routes it through the bucketed append
    mkTable("bkt_guard", root)
    try {
      spark.sql("INSERT INTO bkt_guard VALUES (99, 9)")
      assert(TxTable.bucketSpecOf(spark, root) === Some(("k", 4)))
      assert(spark.table("bkt_guard").count() === 51L)
      // a mismatched bucketed append refuses (different n / column)
      intercept[IllegalArgumentException] {
        TxTable.appendBucketedBy(Seq((99L, 9L)).toDF("k", "v"), root,
          "k", 8)
      }
      intercept[IllegalArgumentException] {
        TxTable.appendBucketedBy(Seq((99L, 9L)).toDF("k", "v"), root,
          "v", 4)
      }
      // bucketed append onto live UNbucketed content refuses
      val rootU = tmpDir() + "/bkt-unb"
      TxTable.append(Seq((1L, 1L)).toDF("k", "v"), rootU)
      intercept[IllegalArgumentException] {
        TxTable.appendBucketedBy(Seq((2L, 2L)).toDF("k", "v"), rootU,
          "k", 4)
      }
      // overwrite REPLACES content and resets the layout
      TxTable.overwrite(Seq((7L, 7L)).toDF("k", "v"), root)
      assert(TxTable.bucketSpecOf(spark, root).isEmpty)
      TxTable.append(Seq((8L, 8L)).toDF("k", "v"), root) // appends again
      assert(TxTable.read(spark, root).count() === 2L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_guard")
  }

  test("SQL-first: CREATE PARTITIONED BY (bucket(n,c)) + INSERT lands the layout") {
    graft.functions.GraftFunctions.register(spark)
    val rootA = tmpDir() + "/bkt-sql-a"
    val rootB = tmpDir() + "/bkt-sql-b"
    spark.sql("DROP TABLE IF EXISTS bkt_sql_a")
    spark.sql("DROP TABLE IF EXISTS bkt_sql_b")
    spark.sql("CREATE TABLE bkt_sql_a (k BIGINT, va STRING) " +
      s"USING `graft-tx` PARTITIONED BY (bucket(4, k)) " +
      s"OPTIONS (path '$rootA')")
    spark.sql("CREATE TABLE bkt_sql_b (k BIGINT, vb STRING) " +
      s"USING `graft-tx` PARTITIONED BY (bucket(4, k)) " +
      s"OPTIONS (path '$rootB')")
    try {
      (1L to 300L).map(k => (k, s"a$k")).toDF("k", "va")
        .createOrReplaceTempView("bkt_src_a")
      (200L to 400L).map(k => (k, s"b$k")).toDF("k", "vb")
        .createOrReplaceTempView("bkt_src_b")
      spark.sql("INSERT INTO bkt_sql_a SELECT * FROM bkt_src_a")
      spark.sql("INSERT INTO bkt_sql_b SELECT * FROM bkt_src_b")
      // the layout landed: committed spec matches the declaration
      assert(TxTable.bucketSpecOf(spark, rootA) === Some(("k", 4)))
      withSpj() {
        val j = spark.table("bkt_sql_a").join(spark.table("bkt_sql_b"),
          "k")
        assert(j.count() === 101L)
        assert(shuffles(j) === 0)
      }
      // a second INSERT keeps the layout (append route, not refusal)
      spark.sql("INSERT INTO bkt_sql_a VALUES (1000, 'x')")
      assert(spark.table("bkt_sql_a").count() === 301L)
      assert(TxTable.bucketSpecOf(spark, rootA) === Some(("k", 4)))
      // INSERT OVERWRITE replaces content and RE-lands the layout
      spark.sql("INSERT OVERWRITE bkt_sql_a " +
        "SELECT * FROM bkt_src_a WHERE k <= 100")
      assert(spark.table("bkt_sql_a").count() === 100L)
      assert(TxTable.bucketSpecOf(spark, rootA) === Some(("k", 4)))
      withSpj() {
        val j2 = spark.table("bkt_sql_a").join(spark.table("bkt_sql_b"),
          "k")
        assert(j2.count() === 0L)
        assert(shuffles(j2) === 0)
      }
      // DESCRIBE shows the declared transform
      val desc = spark.sql("DESCRIBE TABLE EXTENDED bkt_sql_a")
        .collect().map(_.mkString(" ")).mkString("\n")
      assert(desc.contains("bucket(4, k)"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_sql_a")
      spark.sql("DROP TABLE IF EXISTS bkt_sql_b")
      spark.catalog.dropTempView("bkt_src_a")
      spark.catalog.dropTempView("bkt_src_b")
    }
  }

  test("maintenance preserves the layout: optimize packs within buckets, compact re-lands them") {
    graft.functions.GraftFunctions.register(spark)
    val root = tmpDir() + "/bkt-maint"
    // many small bucketed appends — the streamed-ingest tail shape
    (0 until 6).foreach(i =>
      TxTable.appendBucketedBy(
        (1L to 50L).map(k => (k * 6 + i, s"v$i")).toDF("k", "v"),
        root, "k", 4, statsCols = if (i == 0) Seq("k") else Seq.empty))
    val vBefore = TxTable.latestVersion(spark, root)
    TxTable.optimizeCompact(spark, root)
    assert(TxTable.latestVersion(spark, root) === vBefore + 1)
    assert(TxTable.bucketSpecOf(spark, root) === Some(("k", 4)))
    assert(TxTable.read(spark, root).count() === 300L)
    // the packed layout still serves the zero-Exchange join
    val rootB = tmpDir() + "/bkt-maint-b"
    TxTable.appendBucketedBy((1L to 400L).map(k => (k, k)).toDF("k", "w"),
      rootB, "k", 4)
    mkTable("bkt_maint", root); mkTable("bkt_maint_b", rootB)
    try withSpj() {
      val j = spark.table("bkt_maint").join(spark.table("bkt_maint_b"),
        "k")
      assert(shuffles(j) === 0)
      assert(j.count() === 300L)
      // full rewrite RE-LANDS the bucketed layout (not one big dir),
      // so later INSERTs still route and the face still serves
      TxTable.compactSnapshot(spark, root)
      assert(TxTable.bucketSpecOf(spark, root) === Some(("k", 4)))
      spark.sql("REFRESH TABLE bkt_maint")
      spark.sql("INSERT INTO bkt_maint VALUES (9999, 'z')")
      assert(spark.table("bkt_maint").count() === 301L)
      val j2 = spark.table("bkt_maint").join(spark.table("bkt_maint_b"),
        "k")
      assert(shuffles(j2) === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_maint")
      spark.sql("DROP TABLE IF EXISTS bkt_maint_b")
    }
  }

  test("metadata commits carry the layout; DML degrades gracefully") {
    val root = tmpDir() + "/bkt-meta"
    TxTable.appendBucketedBy((1L to 200L).map(k => (k, k % 5))
      .toDF("k", "v"), root, "k", 4, statsCols = Seq("k"))
    // a CHECK-constraint commit (every header carried) keeps the spec
    TxTable.addCheckConstraint(spark, root, "k_pos", "k > 0")
    assert(TxTable.bucketSpecOf(spark, root) === Some(("k", 4)))
    // the bucket column cannot be dropped from under the layout
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, root, "k")
    }
    mkTable("bkt_meta", root)
    try {
      // row-level DELETE rewrites dirs: the layout stops being
      // provable, the face degrades to the plain scan — results stay
      // correct, never wrong
      spark.sql("DELETE FROM bkt_meta WHERE k <= 10")
      assert(spark.table("bkt_meta").count() === 190L)
      assert(TxTable.read(spark, root).count() === 190L)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_meta")
  }
}
