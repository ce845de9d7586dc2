package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Scale-design checks: plans must keep the shapes that survive
  * 100 TB — bucketed co-located joins without exchanges, salted joins
  * that match plain join results, pushdown reaching the scan.
  */
class ScaleSpec extends SparkSpec {

  test("saltedJoin equals the plain join result") {
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = l.join(orders, "l_orderkey").count()
    val salted = Skew.saltedJoin(l, orders, "l_orderkey", salt = 4).count()
    assert(salted === plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.lineitem(spark, sfDir).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
      val j = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = j.queryExecution.executedPlan.toString
      // co-located bucketed join: no exchange feeding the join
      val joinIdx = plan.indexOf("Join")
      assert(joinIdx >= 0, plan)
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"bucketed join must not reshuffle its inputs:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("stratified sampling is seeded-deterministic and proportional") {
    val li = Tables.lineitem(spark, sfDir)
    val fr = Map("A" -> 0.5, "N" -> 0.1, "R" -> 0.0)
    val s1 = graft.operators.Relational.stratifiedSample(li, "l_returnflag", fr)
    val s2 = graft.operators.Relational.stratifiedSample(li, "l_returnflag", fr)
    assert(s1.count() === s2.count(), "same seed must give the same sample")
    val counts = s1.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("R"), "zero-fraction stratum must be empty")
    val aTotal = li.filter(col("l_returnflag") === "A").count()
    assert(math.abs(counts("A").toDouble / aTotal - 0.5) < 0.1)
  }

  test("hyperplane LSH signature pass is one shuffle-free projection") {
    val bk = graft.operators.Similarity.hyperplaneBuckets(
      graft.operators.Similarity.quantized(spark, sfDir))
    val plan = bk.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"signature pass must be map-side only:\n$plan")
    assert(plan.contains("array_dot_long"), plan)
    val buckets = bk.select("bucket").distinct().count()
    assert(buckets > 1 && buckets <= 256)
  }

  test("incremental dedup: batch survivors broadcast; the corpus side never shuffles") {
    graft.functions.GraftFunctions.register(spark)
    val df = graft.operators.Dedup.incremental(spark, sfDir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Dedup.incremental(spark, sfDir)
        .queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin") &&
        plan.toString.contains("LeftAnti"),
        s"bloom survivors must broadcast into the anti join:\n$plan")
      // the corpus probe is the native might_contain expression — a
      // Scala UDF here would break whole-stage codegen on the one
      // full-corpus pass of the operator
      assert(!plan.toString.contains("ScalaUDF"),
        s"bloom probe must be the native codegen expression:\n$plan")
      assert(plan.toString.contains("might_contain"),
        s"expected the native bloom probe in the corpus scan:\n$plan")
      // the documents scan feeding the anti join's streamed (batch)
      // side shuffles for its groupBy; the corpus branch must reach
      // the join through the broadcast only — no corpus-side
      // hashpartitioning on h
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 1,
        s"only the batch-unique groupBy may shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(df.count() > 0)
  }

  test("profile is ONE table scan; default sketch path has NO Expand") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // default (KMV sketches): one scan, one ordinary aggregate —
      // no Expand row multiplication through the shuffle
      val sketchPlan = graft.operators.DataQuality.profile(spark, sfDir)
        .queryExecution.executedPlan
      val sketchScans = sketchPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(sketchScans.size === 1,
        s"ANALYZE must read the table once, found ${sketchScans.size} scans:\n$sketchPlan")
      assert(!sketchPlan.toString.contains("Expand"),
        s"sketch profile must not Expand (that's the exact variant):\n$sketchPlan")
      // exact variant: still one scan, multi-distinct via a single Expand
      val exactPlan = graft.operators.DataQuality
        .profile(spark, sfDir, exact = true).queryExecution.executedPlan
      val exactScans = exactPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(exactScans.size === 1,
        s"exact ANALYZE must read the table once:\n$exactPlan")
      assert(exactPlan.toString.contains("Expand"),
        s"expected the multi-distinct Expand:\n$exactPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("joinBloom probes with the native bloom expression, not a Scala UDF") {
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Relational.joinBloom(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("ScalaUDF"),
        s"bloom probe must stay inside whole-stage codegen:\n$plan")
      assert(plan.contains("might_contain"),
        s"expected the native bloom probe on the lineitem scan:\n$plan")
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incremental NEAR-dup: the corpus reaches its only join through a broadcast") {
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Dedup.incrementalNear(spark, sfDir)
        .queryExecution.executedPlan
      val planStr = plan.toString
      // no sort-merge join anywhere: a corpus-keyed reshuffle would
      // surface as SMJ on (band, sig) at scale
      assert(!planStr.contains("SortMergeJoin"),
        s"the corpus must never reshuffle on LSH keys:\n$planStr")
      // every join is broadcast; the anti join yields the novel docs
      assert(planStr.contains("BroadcastHashJoin") &&
        planStr.contains("LeftSemi") && planStr.contains("LeftAnti"), planStr)
      // all shuffles carry batch-scale data: each exchange subtree's
      // scan is the %10=0 batch filter or sits above the semi-filtered
      // corpus survivors (post-broadcast-join), never a bare corpus scan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        // plan strings carry expression IDs (doc_id#123L), so match the
        // ID-free tail of the batch filter
        val bare = e.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if !e.toString.contains("BroadcastHashJoin") &&
              !e.toString.contains("% 10) = 0") => f
        }
        assert(bare.isEmpty,
          s"an exchange carries an unfiltered corpus scan:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val novel = graft.operators.Dedup.incrementalNear(spark, sfDir)
    assert(novel.count() > 0, "some batch docs must be novel")
  }

  test("indexed near-dup ingest: corpus text is never re-scanned, index serves the corpus side") {
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (novel, scans) = try {
      val df = graft.operators.Dedup.incrementalNearIndexed(spark, sfDir)
      (df, df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      })
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val docScans = scans.filter(_.toString.contains("documents.parquet"))
    assert(docScans.nonEmpty, "the batch side reads the documents table")
    // every documents scan carries the batch filter: the corpus's text
    // is served entirely by the persisted band index
    docScans.foreach { f =>
      assert(f.toString.contains("% 10) = 0"),
        s"a corpus-wide documents scan leaked into the indexed path:\n$f")
    }
    // and the index side reads the TxTable parquet, not documents
    assert(scans.exists(f => f.toString.contains("graft-bandindex")),
      "the corpus side must read the persisted band index")
    assert(novel.count() > 0)
    // the accepted batch was appended: the index now covers it, so an
    // immediate replay of the same batch finds nothing novel
    val again = graft.sources.TxTable.read(spark,
      new org.apache.hadoop.fs.Path(Scratch.base(spark),
        f"graft-bandindex-${sfDir.hashCode}%08x-${Scratch.owner}").toString)
    assert(again.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .count() > 0, "novel batch bands must be appended to the index")
  }

  test("dedup cascade: no cartesian product anywhere; every stage joins on a key") {
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Dedup.cascade(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"a cascade stage degraded to all-pairs:\n$plan")
      // the semantic stage is label-blocked, the near stage
      // bucket-keyed, the exact stage hash-grouped: every join carries
      // an equality key (hash or sort-merge), never a nested loop over
      // corpus-scale sides
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ANN corpus side never sort-merge-joins: probes broadcast in every variant") {
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq(
        "int8" -> graft.operators.Similarity.annInt8(spark, sfDir),
        "multiprobe" -> graft.operators.Similarity.annLshMultiProbe(spark, sfDir),
        "binary" -> graft.operators.Similarity.annBinary(spark, sfDir)
      ).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("SortMergeJoin"),
          s"$name: the corpus must never reshuffle for the probe join:\n$plan")
        assert(plan.contains("BroadcastHashJoin") ||
          plan.contains("BroadcastNestedLoopJoin"),
          s"$name: probes must broadcast:\n$plan")
      }
      // mixture sampling: the per-source rate table broadcasts back
      // against the corpus scan — the corpus itself must not shuffle
      // to learn its keep rate
      val mix = graft.operators.DataQuality.mixSample(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(mix.contains("BroadcastHashJoin"), mix)
      assert(!mix.contains("SortMergeJoin"),
        s"mixSample: corpus reshuffled for a 20-row rate table:\n$mix")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("filters and projections reach the parquet scan") {
    val q = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .select("l_returnflag", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), scan)
    assert(scan.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp"), scan)
  }

  test("star join broadcasts every dimension") {
    val plan = graft.operators.Relational.joinStar(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") ||
      plan.indexOf("SortMergeJoin") == plan.lastIndexOf("SortMergeJoin"),
      "only the fact-fact join may sort-merge")
  }

  test("binned range join plans as an equi-join, never a nested loop") {
    val plan = graft.operators.Olap.rangeJoinBinned(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the bin trick must keep the inequality out of the join condition:\n$plan")
  }

  test("autoBroadcast picks the strategy from plan statistics, not session config") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, sfDir)
      // small dim under the cap → broadcast hint wins despite the -1 config
      val dimSmall = Tuning.autoBroadcast(Tables.nation(spark, sfDir))
      val pSmall = li.join(dimSmall, col("l_suppkey") % 25 === col("n_nationkey"))
        .queryExecution.executedPlan.toString
      assert(pSmall.contains("BroadcastHashJoin"), pSmall)
      // a "dim" bigger than the cap → untouched, stays sort-merge
      val dimBig = Tuning.autoBroadcast(Tables.orders(spark, sfDir), thresholdBytes = 1024)
      val pBig = li.join(dimBig, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!pBig.contains("BroadcastHashJoin") && pBig.contains("SortMergeJoin"), pBig)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("dynamic partition pruning fires on a partitioned layout") {
    // The 100 TB fact table is stored partitioned (PartitionedWriter);
    // joining it to a filtered dim must prune partitions AT RUNTIME
    // from the dim's build side — the MultipleOutputs layout paying
    // off at read time. Asserted on the physical plan so a regression
    // in our join/layout shapes fails CI, not the cluster.
    val dir = tmpDir() + "/dpp-fact"
    Tables.orders(spark, sfDir)
      .write.partitionBy("o_orderpriority").mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val fact = spark.read.parquet(dir)
    val dim = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("p"), col("o_orderkey"))
      .filter(col("o_orderkey") < 10).distinct()
    val q = fact.join(broadcast(dim), col("o_orderpriority") === col("p"))
      .groupBy("p").count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning") ||
      plan.contains("SubqueryAdaptiveBroadcast") || plan.contains("SubqueryBroadcast"),
      s"expected a dynamic-pruning subquery on the partitioned scan:\n$plan")
  }

  test("runtime bloom-filter pruning injects on a selective shuffle join") {
    // Catalyst's runtime row-level filtering is the optimizer-rule form
    // of the BloomMapFile lookup (ref: src/core/org/apache/hadoop/io/
    // BloomMapFile.java:1): a bloom filter built from the selective dim
    // side prunes the fact side BEFORE its shuffle. At 100 TB this is
    // on by default; thresholds here are lowered to demonstrate on toy
    // data that our join shapes are eligible for the injection.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = Tables.part(spark, sfDir).filter(col("p_size") > 45)
      val q = Tables.lineitem(spark, sfDir)
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("l_returnflag").count()
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilterMightContain"),
        plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("graph-family final ranks never sort all rows in one task") {
    // pagerank / hits / textrank rank via Relational.globalRank: one
    // range-partitioned sort plus per-partition offsets. A naked
    // row_number().over(Window.orderBy(...)) over the node domain is
    // the shape this test exists to keep out.
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      assertRangeTotals("pagerank",
        graft.operators.Dedup.sourceRank(spark, sfDir))
      assertRangeTotals("hits", graft.operators.Dedup.hits(spark, sfDir))
      assertRangeTotals("textrank",
        graft.operators.TextOps.textrank(spark, sfDir))
    }
  }

  test("r8 operators: every window is key-partitioned, edges broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical
    // communities / cusum / asofNearest: per-key windows only — no
    // operator may ever sort the whole domain in one task
    def assertAllPartitioned(name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
      val naked = df.queryExecution.optimizedPlan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(naked.isEmpty,
        s"$name: unpartitioned Window found:\n${naked.headOption
          .map(_.treeString).getOrElse("")}")
    }
    assertAllPartitioned("communities",
      graft.operators.Dedup.communities(spark, sfDir))
    assertAllPartitioned("cusum", graft.operators.Olap.cusum(spark, sfDir))
    assertAllPartitioned("asof_nearest",
      graft.operators.Olap.asofNearest(spark, sfDir))
    // the LPA rounds join each label vector against BROADCAST edges
    // (label-vs-label joins legitimately sort-merge — they are
    // node-scale state and must shuffle at 10^8 nodes); what the plan
    // may never contain is a cartesian, and the edge side must appear
    // as a broadcast at least once per round
    val cmPlan = graft.operators.Dedup.communities(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!cmPlan.contains("CartesianProduct"), cmPlan)
    assert("BroadcastHashJoin".r.findAllIn(cmPlan).size >= 3,
      s"communities: expected one broadcast edge join per round:\n$cmPlan")
  }
}
