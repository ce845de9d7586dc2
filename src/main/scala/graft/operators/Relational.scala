package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunningTotal
import graft.Tables

/** Relational core: the MapReduce programming model of the reference
  * re-expressed as declarative DataFrame plans.
  *
  * Reference capabilities covered here (SURVEY.md §2.1/§2.2):
  *  - group-aggregate with combiner (ref: src/mapred/org/apache/hadoop/
  *    mapred/MapTask.java map-side combine; Catalyst emits partial_
  *    aggregates automatically),
  *  - the aggregate library (ref: src/mapred/org/apache/hadoop/mapred/
  *    lib/aggregate/ValueAggregatorJob.java:1 — sum/max/min/uniq/
  *    histogram),
  *  - sorting: total-order sort (ref: mapred/lib/TotalOrderPartitioner
  *    .java:1 + InputSampler.java:1; Spark's `orderBy` range-samples
  *    bounds with the same sample-then-range-partition algorithm) and
  *    secondary sort (ref: mapred/lib/KeyFieldBasedComparator.java:1,
  *    examples/SecondarySort.java:1),
  *  - joins: map-side merge joins (ref: mapred/join/
  *    InnerJoinRecordReader.java, OuterJoinRecordReader.java,
  *    OverrideRecordReader.java:1), reduce-side tagged join (ref:
  *    contrib/data_join/.../DataJoinReducerBase.java:1), replicated
  *    map-side join → `broadcast()`, bloom-filtered lookup (ref:
  *    src/core/org/apache/hadoop/io/BloomMapFile.java:1),
  *  - field selection / chained jobs / multiple inputs (ref: mapred/lib/
  *    FieldSelectionMapReduce.java:1, Chain.java:1, MultipleInputs
  *    .java:1).
  *
  * Correctness-portability rules (SURVEY.md §5): derived doubles are
  * produced only by exact decimal/integer arithmetic followed by a
  * single cast/division, so Spark and the DuckDB oracle agree bitwise.
  */
object Relational {

  /** Hash-repartition `df` by `cols` into the session's configured
    * shuffle-partition count, PINNED against AQE coalescing. AQE
    * coalesces small shuffle outputs by BYTES, blind to downstream
    * cost — an exchange whose output feeds a high-fan-out generate or
    * an expensive per-row join residual (levenshtein, candidate-pair
    * expansion) gets coalesced to one task and serializes the whole
    * stage (guide §2.5: synthetic/small-input parallelism must be
    * asserted, not inferred). Keyed on the operator's own join key,
    * the pin replaces the exchange the join would insert anyway, so
    * it adds no shuffle at any scale; the count follows
    * spark.sql.shuffle.partitions (cluster-configured, never a local
    * constant). */
  def pinParts(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** Exact-decimal sum of a double column: sum(cast(c as decimal)) as
    * double. Associative and order-independent → identical across
    * engines and across partitionings at any scale. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** revenue term: extendedprice * (1 - discount) in exact decimals. */
  private val revenueTerm: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  /** TPC-H Q1-style scan+filter+group-aggregate. The filter is pushed
    * to the parquet scan; the aggregation runs as partial (map-side
    * combine) + final — the exact shape of the reference's
    * Mapper/Combiner/Reducer pipeline. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revenueTerm.as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** Aggregate library over orders: Long/DoubleValueSum, LongValueMax/
    * Min, StringValueMax/Min (ref: mapred/lib/aggregate package). */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        max(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("max_price"),
        min(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("min_price"),
        dsum(col("o_totalprice")).as("sum_price"),
        max("o_orderstatus").as("max_status"),
        min("o_orderstatus").as("min_status"))

  /** UniqValueCount (ref: mapred/lib/aggregate/UniqValueCount.java:1).
    * Exact count-distinct for the oracle; at 100 TB the same query
    * swaps to approx_count_distinct (HLL) — see Bench. */
  def aggUniq(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        count(lit(1)).as("n"))

  /** ValueHistogram (ref: mapred/lib/aggregate/ValueHistogram.java:1):
    * per key, the frequency distribution of values summarized as
    * count/min/max/mean/median/stddev of the per-value counts.
    * stddev is written as sqrt(E[x²]−E[x]²) over exact integer sums so
    * both engines run the identical IEEE sequence. */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_partkey").agg(count(lit(1)).as("cnt"))
    freq.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("nvals"),
        min("cnt").as("cmin"),
        max("cnt").as("cmax"),
        (sum("cnt").cast("double") / count(lit(1))).as("cavg"),
        median(col("cnt")).as("cmedian"),
        sqrt(sum(col("cnt") * col("cnt")).cast("double") / count(lit(1)) -
          (sum("cnt").cast("double") / count(lit(1))) *
          (sum("cnt").cast("double") / count(lit(1)))).as("cstd"))
  }

  /** High-cardinality group-aggregate: exercises hash partitioning
    * (ref: mapred/lib/HashPartitioner.java:1) + partial aggregation.
    * ~1.5M groups at sf=0.1; shuffles once on the group key. */
  def aggHighcard(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_lines"))

  /** Secondary sort: per-customer orders sorted by (date desc, key) —
    * the reference sorts reduce input by a composite key (ref:
    * examples/SecondarySort.java:1). Window is partitioned by the
    * group key so it scales out; no global ordering required. */
  def secondarySort(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
  }

  /** Global total-order sort = TeraSort (ref: examples/terasort/
    * TeraSort.java:1). `orderBy().limit(k)` compiles to
    * TakeOrderedAndProject (per-partition top-k + merge — no global
    * shuffle); the rank is re-derived on the k survivors only. */
  def sortGlobal(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
    val w = Window.orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    top.withColumn("rk", row_number().over(w))
      .select("rk", "l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** Distributed global row_number over a total order — the TeraSort
    * formulation (ref: examples/terasort/TeraSort.java:1): one sort,
    * range-partitioned on sampled bounds (the InputSampler algorithm)
    * into the session's shuffle-partition count (AQE coalesces it), then
    * per-partition row counts as prefix offsets ([[RunningTotal]]). No
    * operator ever sees all rows in one partition, unlike a naked
    * `Window.orderBy(...)`. For ranks that are a function of the data,
    * `keys` must be a TOTAL order (include a unique tiebreaker). */
  def globalRank(df: DataFrame, keys: Column*): DataFrame =
    RunningTotal.append(df.orderBy(keys: _*), "rn")

  /** Range-bucket assignment — the TotalOrderPartitioner contract
    * (ref: mapred/lib/TotalOrderPartitioner.java:1): every row mapped
    * to one of 32 contiguous key ranges of near-equal population.
    * Bucket = ntile(32) semantics (first N%32 buckets get one extra
    * row), derived by exact integer arithmetic from the distributed
    * `globalRank` — no single-partition window at any scale. The
    * physical-partitioning twin is `rangePartition` below. */
  def totalOrderBucket(spark: SparkSession, dir: String): DataFrame = {
    val ranked = globalRank(Tables.orders(spark, dir),
      col("o_totalprice"), col("o_orderkey"))
    val total = ranked.agg(count(lit(1)).as("_n"))
    // ntile semantics: q = N div k, r = N % k; bucket b ∈ [1,r] holds
    // q+1 rows, the rest hold q. (When q = 0 every row lands in the
    // first branch, so the `div q` is never reached.)
    val bucketExpr = expr(
      """CASE WHEN rn <= (_n % 32) * (_n div 32 + 1)
        |     THEN (rn - 1) div (_n div 32 + 1) + 1
        |     ELSE (_n % 32) + (rn - (_n % 32) * (_n div 32 + 1) - 1) div (_n div 32) + 1
        |END""".stripMargin)
    ranked.crossJoin(broadcast(total))
      .withColumn("bucket", bucketExpr.cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("lo"),
        max(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("hi"))
  }

  /** The scale-path total-order partitioner: sampled range bounds,
    * identical algorithm to InputSampler+TotalOrderPartitioner. */
  def rangePartition(df: DataFrame, n: Int, keys: Column*): DataFrame =
    df.repartitionByRange(n, keys: _*)

  /** Seeded DETERMINISTIC GLOBAL SHUFFLE — the reproducible training
    * order a data pipeline fixes before sharding: position = global
    * rank under `md5(seed:id)`. A content hash (not `rand()`) makes
    * the permutation a pure function of (seed, id) — re-running the
    * pipeline, re-running on another engine, or resuming after a
    * failure all produce byte-identical order, and changing the seed
    * is a fresh shuffle. Positions come from [[globalRank]] (one
    * range-partitioned sort + per-partition offsets), so no operator
    * ever holds all rows in one partition — the naked
    * `ORDER BY hash` window the naive form needs is exactly what
    * doesn't survive 100 TB. */
  def deterministicShuffle(df: DataFrame, seed: String, idCol: String): DataFrame = {
    val keyed = df.withColumn("_skey",
      md5(concat_ws(":", lit(seed), col(idCol))))
    globalRank(keyed, col("_skey"), col(idCol))
      .withColumnRenamed("rn", "pos").drop("_skey")
  }

  def shuffleGate(spark: SparkSession, dir: String): DataFrame =
    deterministicShuffle(
      Tables.documents(spark, dir).select("doc_id"), "s42", "doc_id")
      .select(col("doc_id"), col("pos"))

  /** TOKEN-BUDGET SHARDS — cut a deterministically-ordered corpus
    * into contiguous shards of ≈`budget` total weight (token count):
    * shard = floor(preceding-cumsum / budget), so every shard except
    * the last carries at least `budget` tokens and document order is
    * preserved within and across shards — the "pack the training set
    * into N-token files" step. The global cumulative sum of the BIGINT
    * `weightCol` is [[globalRank]]'s per-partition offsets over one
    * range-partitioned sort, never a single-partition window. */
  def shardByBudget(df: DataFrame, orderCol: String, weightCol: String,
    budget: Long): DataFrame =
    RunningTotal.append(df.orderBy(col(orderCol)), "_cs", Some(weightCol))
      .withColumn("shard", expr(s"(_cs - $weightCol) div $budget"))
      .drop("_cs")

  def shardBudgetGate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir).select(col("doc_id"),
      expr("cast(size(filter(split(text, ' '), x -> x <> '')) as bigint)")
        .as("tok"))
    shardByBudget(t, "doc_id", "tok", 16384L)
      .select("doc_id", "tok", "shard")
  }

  /** TeraValidate analog (ref: examples/terasort/TeraValidate.java:1):
    * validate a total-order-partitioned layout the way the reference
    * validates TeraSort output — per partition take (first key, last
    * key, row count, checksum), then check every partition's last key
    * sorts before its successor's first key and roll the checksums up.
    *
    * Scale shape: the per-partition pass is one map-side aggregate (no
    * extra shuffle — data is already range-partitioned); the boundary
    * check runs over ONE ROW PER PARTITION (≤ thousands at any scale).
    * The checksum is the reference's sum-of-record-checksums idea made
    * engine-portable: sum of uint32(md5 prefix) per record in exact
    * decimal(38,0) (order-independent, overflow-free at 10^12 rows), so
    * the DuckDB oracle reproduces total_rows/checksum and the expected
    * zero violations without knowing the partition boundaries. */
  def sortValidate(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("cents"))
      .withColumn("rec",
        concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("cents")))
    val parted = rangePartition(keyed, 32, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
    val nib = graft.Portable.uint32Sql("md5(cast(rec as binary))")
    val stats = parted.withColumn("_pid", spark_partition_id())
      .groupBy("_pid")
      .agg(count(lit(1)).as("n"),
        min(struct(col("l_orderkey"), col("l_linenumber"))).as("first_key"),
        max(struct(col("l_orderkey"), col("l_linenumber"))).as("last_key"),
        sum(expr(nib).cast("decimal(38,0)")).as("ck"))
    val w = Window.orderBy("_pid")
    stats.withColumn("prev_last", lag("last_key", 1).over(w))
      .withColumn("viol",
        when(col("prev_last") > col("first_key"), 1L).otherwise(0L))
      .agg(sum("n").as("total_rows"), sum("viol").as("order_violations"),
        // VARCHAR keeps the 38-digit sum exact AND inside the gate's
        // type convention (DOUBLE would lose bits past 2^53 at real scale)
        sum("ck").cast("decimal(38,0)").cast("string").as("checksum"))
  }

  /** Z-order (Morton) value of n non-negative bigint keys: bit i of
    * dimension d lands at position i*n + d, so ALL dimensions get
    * tight per-file min/max ranges under a z sort — parquet row-group
    * / dir skipping then prunes on any predicate column, where a
    * lexicographic sort only serves its leading column. Bits per
    * dimension is 63 div n (21 at n=2 or 3 — the interleave stays a
    * non-negative BIGINT). Exact integer arithmetic → oracle-portable
    * and engine-independent. */
  def zValueExprN(cols: Seq[String]): String = {
    require(cols.size >= 2, s"z-order needs >= 2 dims, got ${cols.size}")
    val n = cols.size
    val bits = math.min(21, 63 / n)
    (for (i <- 0 until bits; (c, d) <- cols.zipWithIndex) yield
      s"(shiftleft(shiftright($c, $i) % 2, ${i * n + d}))")
      .mkString(" + ")
  }

  /** Two-dimensional face of [[zValueExprN]] (x at even bits, y odd). */
  def zValueExpr(x: String, y: String): String = zValueExprN(Seq(x, y))

  /** Order-preserving 60-bit integer key of a STRING column: 7.5
    * UTF-8 bytes starting AFTER `skipBytes` read as a hex number —
    * comparisons on the key agree with Spark's own string order
    * (unsigned UTF-8 byte order, UTF8String.compareTo) for any set
    * of strings sharing those first `skipBytes` bytes, the `str:`
    * dir-stat trick applied to the z-curve. Callers pass the COMMON
    * PREFIX length of the observed min/max (every value between them
    * shares it, by the byte-order property), so the key's bits land
    * on the part of a date-string that actually varies — the day
    * digits of `2026-07-XX` sit past byte 8 and a raw prefix key
    * would never see them. Short strings right-pad with zero
    * nibbles, so prefixes sort before their extensions, exactly like
    * the strings themselves. */
  def strZKeyExpr(c: String, skipBytes: Int = 0): String =
    s"cast(conv(rpad(substr(hex(substring(encode($c, 'UTF-8'), " +
      s"${skipBytes + 1}, 8)), 1, 15), 15, '0'), 16, 10) as bigint)"

  /** Driver-side twin of [[strZKeyExpr]] — MUST compute bit-for-bit
    * the same key (the optimize pass derives each dim's [lo, hi]
    * from the observed min/max strings without a second scan). */
  def strZKeyOf(s: String, skipBytes: Int): Long = {
    val b = s.getBytes("UTF-8").drop(skipBytes).take(8)
    val hex = b.map(x => f"${x & 0xff}%02X").mkString
    java.lang.Long.parseLong((hex + "0" * 15).take(15), 16)
  }

  /** Length of the common UTF-8 byte prefix of two strings. */
  def commonPrefixBytes(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length && x(i) == y(i)) i += 1
    i
  }

  /** Z-value over MIXED-TYPE dims, each normalized to its observed
    * [lo, hi] before interleaving — the interleave's `bits` low bits
    * then cover the range that actually VARIES. Raw low-bit
    * interleaving ([[zValueExprN]]) is right for small dense integral
    * keys but wastes every bit on a date-string key's constant
    * prefix (`2026-…`) or a large integral offset; normalization
    * makes the curve position track the spread of the data itself.
    * `dims` = (sql long-key expr, lo, hi) — string dims pass
    * [[strZKeyExpr]] with its observed prefix-key bounds. */
  def zValueExprScaled(dims: Seq[(String, Long, Long)]): String = {
    require(dims.size >= 2, s"z-order needs >= 2 dims, got ${dims.size}")
    val n = dims.size
    val bits = math.min(21, 63 / n)
    // every dim aligns its SIGNIFICANT bits to the full `bits` width
    // (down-shift wide spans, UP-shift narrow ones): without the
    // up-shift a 13-bit dim monopolizes the interleave's top bits
    // over a 5-bit one and the z-prefix blocks cut only the wide dim
    val norm = dims.map { case (e, lo, hi) =>
      val span = math.max(1L, hi - lo)
      val spanBits = 64 - java.lang.Long.numberOfLeadingZeros(span)
      val base = s"greatest(0L, coalesce($e, ${lo}L) - ${lo}L)"
      if (spanBits > bits) s"shiftright($base, ${spanBits - bits})"
      else if (spanBits < bits) s"shiftleft($base, ${bits - spanBits})"
      else base
    }
    (for (i <- 0 until bits; (ne, d) <- norm.zipWithIndex) yield
      s"(shiftleft(shiftright($ne, $i) % 2, ${i * n + d}))")
      .mkString(" + ")
  }

  /** Write `df` clustered by the z-order of (xCol, yCol): range
    * partition on z (balanced output files), sort within partitions,
    * drop the helper column. The layout quality is measured in
    * ZOrderSpec: per-file bounding boxes shrink in both dimensions. */
  def zOrderWrite(df: DataFrame, path: String, xCol: String, yCol: String,
    numFiles: Int = 8): Unit =
    df.withColumn("_z", expr(zValueExpr(xCol, yCol)))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** The oracle-checked face of z-ordering: per z-range bucket, row
    * counts and the bounding box of both dimensions — the quantity
    * file-skipping statistics are built from. */
  def zOrderStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("z", expr(zValueExpr("l_partkey", "l_suppkey")))
      .groupBy(expr("z div 65536").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))

  /** Semi-structured field extraction — the JSON-SerDe path of the
    * warehouse (log records carry a JSON payload column; queries
    * project typed fields out of it): `get_json_object` is codegen'd
    * and map-side, so extraction composes with pushdown and partial
    * aggregation exactly like a real column. Per-type stats over the
    * extracted integer field. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(get_json_object(props, '$.k') as bigint)").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("k").as("n_distinct_k"),
        sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))

  /** Relational set operators (INTERSECT / EXCEPT / UNION DISTINCT)
    * over the month-over-month customer sets — each plans as a
    * distinct aggregate over the union/semi shape, one shuffle each,
    * scheduled as independent subplans. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), date_format(col("o_orderdate"), "yyyy-MM").as("m"))
    val a = o.filter(col("m") === "1995-01").select("o_custkey").distinct()
    val b = o.filter(col("m") === "1995-02").select("o_custkey").distinct()
    def row(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    row("intersect", a.intersect(b))
      .unionByName(row("except", a.except(b)))
      .unionByName(row("union", a.union(b).distinct()))
  }

  /** Seeded stratified sampling per key (ref: mapred/lib/InputSampler
    * .java:1 — the sampler that feeds TotalOrderPartitioner; also the
    * per-class downsampling step of a training-data pipeline). One
    * map-side pass, deterministic under a fixed seed. */
  def stratifiedSample(df: DataFrame, keyCol: String,
    fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(keyCol, fractions, seed)

  /** IntervalSampler (ref: mapred/lib/InputSampler.java:1, the third
    * sampler variant): every step-th record of the key order — fully
    * DETERMINISTIC, so unlike the seeded random samplers it is
    * oracle-hashable. The rank comes from the distributed globalRank
    * (one range-partitioned sort, no single-partition window); emitted
    * with the rank so the sample is reproducible downstream. */
  def intervalSample(spark: SparkSession, dir: String, step: Int = 100): DataFrame =
    globalRank(Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice"), col("o_orderkey"))
      .filter(col("rn") % step === 1)
      .select(col("rn"), col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Deterministic per-group reservoir (the "k random survivors per
    * stratum" role of reservoir sampling, made reproducible): rank
    * within each group by the hash of the row key and keep the first
    * k. The hash order is uniform-pseudorandom but a pure function of
    * the key, so the same k rows survive on every run and engine —
    * the property an exact-match training pipeline needs from its
    * per-class downsampler. A per-group window, so it scales with
    * groups × k, never a global sort. */
  def reservoirPerGroup(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val hash = graft.Portable.uint32Sql(
      "md5(cast(cast(doc_id as string) as binary))")
    val w = Window.partitionBy("lang")
      .orderBy(expr(hash), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** WEIGHTED per-group reservoir (Efraimidis–Spirakis A-ES): keep the
    * k rows with the largest u^(1/w), where u is an md5-derived
    * uniform in (0,1) — inclusion probability rises with weight w, the
    * quality-weighted corpus subsampler (sample by quality score,
    * dedup multiplicity, or importance weight). Deterministic GIVEN
    * the data: u is a pure function of the row id, so the same rows
    * survive on every run and partitioning.
    *
    * The sort key is derived in INTEGER space so it is bit-identical
    * across engines (the naive u^(1/w) is a libm pow whose last-ulp
    * behavior is not portable): maximizing u^(1/w) is maximizing
    * log2(u)/w, and with u = (2h+1)/2^33 (h the uint32 of the id's
    * md5, 2h+1 odd so u is strictly inside (0,1)) that is
    * `(log2q10(2h+1) - 33*1024) * 2^20 intdiv w` — every step exact
    * BIGINT arithmetic via [[graft.Portable.log2q10Sql]]. Sub-2^-20
    * key collisions fall to the deterministic id tiebreak, identically
    * in both engines, so the operator oracle-gates
    * (q_reservoir_weighted). Weights must be integral >= 1. Per-group
    * window ⇒ groups × k state, never a global sort. */
  def weightedReservoirPerGroup(df: DataFrame, groupCol: String,
    idCol: String, weightCol: String, k: Int): DataFrame = {
    val hash = graft.Portable.uint32Sql(
      s"md5(cast(cast($idCol as string) as binary))")
    val lq = graft.Portable.log2q10Sql(s"2 * ($hash) + 1")
    val key = s"(($lq - 33792) * 1048576) div cast($weightCol as bigint)"
    val w = Window.partitionBy(groupCol)
      .orderBy(expr(key).desc, col(idCol))
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** ORACLE-GATED weighted-reservoir exercise (q_reservoir_weighted):
    * 3 survivors per language from `documents`, weighted by document
    * length — long documents are proportionally likelier to survive,
    * the "sample by importance weight" shape of a curation pipeline.
    * The DuckDB oracle replays the identical integer A-ES key. */
  def weightedReservoirGate(spark: SparkSession, dir: String): DataFrame =
    weightedReservoirPerGroup(
      Tables.documents(spark, dir).select("lang", "doc_id", "n_chars"),
      "lang", "doc_id", "n_chars", k = 3)

  /** Per-group top-k via rank window — the canonical "sorted reduce
    * values, emit first k" reducer pattern. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("p_brand", "rk", "p_partkey", "p_retailprice")
  }

  /** Star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region with the
    * dimension side broadcast — the replicated map-side join the
    * reference does by loading small inputs in the mapper. At 100 TB
    * the dims stay ≤ GBs → still broadcast; lineitem⋈orders is the
    * only shuffle. */
  def joinStar(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(revenueTerm.as("revenue"), count(lit(1)).as("n"))
  }

  /** Big⋈big join on the fact keys: shuffle (sort-merge at scale; AQE
    * may downgrade to broadcast at toy SF). The reference's reduce-side
    * tagged join (ref: contrib/data_join/.../DataJoinReducerBase
    * .java:1). */
  def joinBigBig(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(revenueTerm.as("revenue"), count(lit(1)).as("n"))

  /** Outer join (ref: mapred/join/OuterJoinRecordReader.java:1):
    * customers retained with zero orders. */
  def joinOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))

  /** Override join (ref: mapred/join/OverrideRecordReader.java:1 —
    * "prefer the rightmost source"): per-key coalesce of an override
    * source onto a base source. */
  def joinOverride(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
    val upd = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"))
      .agg(dsum(col("o_totalprice")).as("v"))
    base.join(upd, col("c_custkey") === col("k"), "left")
      .select(col("c_custkey"),
        coalesce(col("v"), col("c_acctbal")).as("bal"),
        when(col("k").isNull, lit("base")).otherwise(lit("override")).as("src_tag"))
  }

  /** Bloom-filtered semi-join (ref: src/core/org/apache/hadoop/io/
    * BloomMapFile.java:1): a bloom filter built on the dim keys prunes
    * the probe side BEFORE the shuffle (false positives removed by the
    * exact semi-join after). At 100 TB this is the difference between
    * shuffling 100 TB and shuffling the matching ~10%. */
  def joinBloom(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val keysDf = Tables.part(spark, dir)
      .filter(col("p_size") > 45).select("p_partkey")
    // Native Catalyst bloom (the pair Spark's own runtime row-filtering
    // injects): the filter is a 1-row aggregate consumed as a scalar
    // subquery, and the probe stays inside whole-stage codegen on the
    // 100-TB scan — no driver-side stat.bloomFilter job, no per-row
    // Scala UDF boxing.
    val bloom = keysDf
      .agg(expr("bloom_filter_agg(xxhash64(p_partkey), 100000L)").as("bf"))
      .scalar()
    Tables.lineitem(spark, dir)
      .filter(call_function("might_contain", bloom, xxhash64(col("l_partkey"))))
      .join(broadcast(keysDf), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }

  /** Field selection over delimited records (ref: mapred/lib/
    * FieldSelectionMapReduce.java:1): serialize → split → select
    * fields by position → aggregate. */
  def fieldSelection(spark: SparkSession, dir: String): DataFrame = {
    val line = concat_ws(",", col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag"), col("l_linestatus"))
    Tables.lineitem(spark, dir)
      .select(split(line, ",").as("f"))
      .select(element_at(col("f"), 3).as("flag"), element_at(col("f"), 4).as("status"))
      .groupBy("flag", "status")
      .agg(count(lit(1)).as("n"))
  }

  /** Chained map→reduce→map (ref: mapred/lib/Chain.java:1): one fused
    * whole-stage-codegen pipeline in Spark instead of three task
    * waves. */
  def chain(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 10)
      .groupBy("l_suppkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .withColumn("tier",
        when(col("sum_qty") >= 8000, lit("high"))
          .when(col("sum_qty") >= 6000, lit("mid"))
          .otherwise(lit("low")))
      .select("l_suppkey", "tier", "sum_qty")

  /** MultipleInputs/DelegatingMapper (ref: mapred/lib/MultipleInputs
    * .java:1): per-source transform, then union. */
  def multiInputUnion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      lit("customer").as("src"), col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_acctbal").as("bal"))
    val s = Tables.supplier(spark, dir).select(
      lit("supplier").as("src"), col("s_suppkey").as("id"),
      col("s_name").as("name"), col("s_acctbal").as("bal"))
    c.unionByName(s)
  }

  /** MultipleOutputs partition assignment (ref: mapred/lib/
    * MultipleOutputs.java:1). The writer itself is
    * sources.PartitionedWriter (df.write.partitionBy). */
  def multiOutputAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("part_key"))
      .agg(count(lit(1)).as("n"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_date"))
}
