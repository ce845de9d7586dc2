package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Rebase
import graft.{Scratch, Tables}
import graft.functions.GraftFunctions

/** Deduplication family for LLM training-data pipelines (SURVEY.md
  * §2.6): exact, MinHash+LSH, SimHash, n-gram Jaccard. The reference
  * has no direct analog — these are the operators a warehouse of its
  * scale runs as MapReduce chains today; each is expressed here as a
  * blocked/banded plan so no step is ever an all-pairs cross join.
  *
  * Portability: every hash is an md5 hex STRING (identical bytes in
  * Spark and DuckDB); min/majority/banding over strings and exact
  * integers only.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One shuffle on the 16-byte hash regardless of document size. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(expr("md5(cast(text as binary))").as("h"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))

  /** Incremental dedup — the daily-ingest shape: drop arriving
    * documents whose content already exists in the corpus, without
    * ever re-deduplicating (or shuffling) the corpus itself. The
    * batch's content hashes build a bloom filter (Spark's native
    * `bloom_filter_agg`, a 1-row aggregate — no separate driver-side
    * `stat.bloomFilter` job); the corpus is scanned ONCE with the
    * bloom probe (`might_contain` over a scalar subquery — the same
    * expression pair Spark's runtime row-filtering injects, fully
    * codegen'd: no per-row Scala UDF on the one full-corpus pass),
    * leaving only the ~|batch| corpus rows that might collide, which
    * then broadcast into an exact anti join (bloom false positives
    * can't leak: the anti join re-tests exact hash equality).
    * Corpus-side cost is a read — no shuffle, no join build over
    * 100 TB. Batch-internal duplicates collapse first (keep the
    * smallest id), so the output is exactly the novel content. Split
    * here is deterministic (doc_id residue stands in for old/new). */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("md5(cast(text as binary))").as("h"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val batchUnique = batch.groupBy("h").agg(min("doc_id").as("doc_id"))
    val bloom = batchUnique
      .agg(expr("bloom_filter_agg(xxhash64(h), 1000000L)").as("bf"))
      .scalar()
    val corpusHits = corpus.select("h")
      .filter(call_function("might_contain", bloom, xxhash64(col("h"))))
    batchUnique.join(broadcast(corpusHits), Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
  }

  /** Incremental NEAR-dup ingest — the minhash twin of `incremental`:
    * drop arriving documents that are near-duplicates (share any LSH
    * band bucket) of corpus content, without ever shuffling the
    * corpus. Both sides compute band signatures in the map-side
    * codegen `minhash12` kernel; the batch's distinct bucket keys
    * broadcast into a semi join that filters the corpus scan (the
    * corpus reaches its only join through a broadcast — no exchange
    * carries corpus-scale data), leaving ~|batch| bucket survivors
    * whose keys then broadcast back to tag the colliding batch docs.
    * A batch doc is novel only when NONE of its bands hits the
    * corpus. Corpus-side cost is one scan per ingest; every shuffle
    * in the plan carries batch-scale rows (ScaleSpec-guarded).
    * Batch-internal near-dups are the existing minhashPairs /
    * clusters path and intentionally not re-resolved here. */
  def incrementalNear(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(spark, dir)
    val corpusBands = bands.filter(col("doc_id") % 10 =!= 0)
    val batchBands = bands.filter(col("doc_id") % 10 === 0)
    val batchKeys = batchBands.select("band", "sig").distinct()
    val corpusHits = corpusBands
      .join(broadcast(batchKeys), Seq("band", "sig"), "left_semi")
      .select("band", "sig").distinct()
    val hitDocs = batchBands
      .join(broadcast(corpusHits), Seq("band", "sig"), "left_semi")
      .select("doc_id").distinct()
    batchBands.select("doc_id").distinct()
      .join(broadcast(hitDocs), Seq("doc_id"), "left_anti")
  }

  /** Indexed incremental near-dup ingest: `incrementalNear` with the
    * corpus band signatures PERSISTED in a transactional table instead
    * of recomputed per ingest — at 100 TB the nightly ingest must not
    * re-minhash the corpus, it reads the (doc_id, band, sig) index
    * (~tens of bytes/doc) and the batch's novel bands are appended
    * back under the same atomic-commit protocol, so the index is
    * always exactly the accepted corpus (a torn ingest can't
    * half-update it; concurrent ingests serialize through OCC).
    * Corpus TEXT is never scanned at all here; every scan of the
    * documents table carries the batch filter (ScaleSpec-guarded).
    * Result = `q_dedup_incremental_near`'s oracle, proving the
    * persisted-index path computes the identical novelty set. */
  def incrementalNearIndexed(spark: SparkSession, dir: String): DataFrame = {
    // band index on the cluster's scratch FS (graft.Scratch) — a
    // driver-local tmpdir table would be invisible to executors
    val root = Scratch.freshRoot(spark, "graft-bandindex", dir)
    // one-time index build (in production: the initial corpus backfill)
    val bands = minhashBands(spark, dir)
    graft.sources.TxTable.append(
      bands.filter(col("doc_id") % 10 =!= 0), root)
    val corpusBands = graft.sources.TxTable.read(spark, root)
    val batchBands = bands.filter(col("doc_id") % 10 === 0)
    val batchKeys = batchBands.select("band", "sig").distinct()
    val corpusHits = corpusBands
      .join(broadcast(batchKeys), Seq("band", "sig"), "left_semi")
      .select("band", "sig").distinct()
    val hitDocs = batchBands
      .join(broadcast(corpusHits), Seq("band", "sig"), "left_semi")
      .select("doc_id").distinct()
    val novel = batchBands.select("doc_id").distinct()
      .join(broadcast(hitDocs), Seq("doc_id"), "left_anti")
    // index maintenance: accepted docs' bands join the corpus index
    // atomically — the next ingest sees them as corpus
    graft.sources.TxTable.append(
      batchBands.join(novel, Seq("doc_id"), "left_semi"), root)
    novel
  }

  /** STREAMING novelty ingest — the live twin of
    * `incrementalNearIndexed`: each micro-batch of documents
    * (doc_id, text, ...) is banded map-side (`bandsOf`, the same
    * kernel as every batch face), screened against the PERSISTED
    * band-index TxTable with batch-side broadcast semi-joins (the
    * index scans once, never shuffles; corpus text is never read),
    * and `sink` receives the batch's NOVEL rows; the accepted bands
    * then append to the index under the replay-protected
    * `appendBatch` tag, so a replayed epoch re-screens against an
    * index that already contains it, finds nothing novel, and
    * commits nothing — the index is exactly-once however often the
    * stream restarts. `sink` runs BEFORE the index append: a crash
    * between the two replays the same novel set to an idempotent
    * sink rather than silently dropping it. */
  def followNovelty(stream: DataFrame, indexRoot: String,
    checkpoint: String)(sink: (DataFrame, Long) => Unit)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val streamId = "novelty-" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(checkpoint).toLong
        & 0xffffffffL)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          epochId: Long) =>
          val spark = batch.sparkSession
          val batchBands = bandsOf(batch).persist()
          try {
            val novel =
              if (graft.sources.TxTable.latestVersion(spark,
                  indexRoot) == 0)
                batchBands.select("doc_id").distinct()
              else {
                val corpus = graft.sources.TxTable.read(spark, indexRoot)
                val batchKeys = batchBands.select("band", "sig").distinct()
                val corpusHits = corpus
                  .join(broadcast(batchKeys), Seq("band", "sig"),
                    "left_semi")
                  .select("band", "sig").distinct()
                val hitDocs = batchBands
                  .join(broadcast(corpusHits), Seq("band", "sig"),
                    "left_semi")
                  .select("doc_id").distinct()
                batchBands.select("doc_id").distinct()
                  .join(broadcast(hitDocs), Seq("doc_id"), "left_anti")
              }
            sink(batch.join(novel, Seq("doc_id"), "left_semi"), epochId)
            graft.sources.TxTable.appendBatch(
              batchBands.join(novel, Seq("doc_id"), "left_semi"),
              indexRoot, epochId, streamId = streamId)
            ()
          } finally { batchBands.unpersist(); () }
      }
      .start()
  }

  /** The full dedup CASCADE — every production corpus-cleaning
    * pipeline's shape, as ONE verdict per document: exact content dups
    * go first (md5 groups, smallest doc_id survives), NEAR-dups are
    * judged among exact-survivors only (any shared LSH band bucket
    * with a smaller survivor), then SEMANTIC dups among what remains
    * (label-blocked integer-cosine ≥ τ against a smaller remaining
    * doc); everything else is 'keep'. Staging matters: each stage sees
    * only the previous stage's survivors, so a doc is charged to the
    * CHEAPEST stage that catches it — exactly how a 100 TB pipeline
    * orders its passes (hash ≪ minhash ≪ embedding cost). Every stage
    * is bucket-local or label-blocked (no all-pairs anywhere); all
    * thresholds integer-deterministic, so the whole cascade is
    * oracle-gated end-to-end (q_dedup_cascade). */
  def cascade(spark: SparkSession, dir: String,
    cosTau: Double = 0.35): DataFrame = {
    GraftFunctions.register(spark)
    val hx = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("md5(cast(text as binary))").as("h"))
    val keepPerHash = hx.groupBy("h").agg(min("doc_id").as("keep_id"))
    val tagged = hx.join(keepPerHash, Seq("h"))
    val exactRemoved = tagged.filter(col("doc_id") > col("keep_id"))
      .select(col("doc_id"), lit("exact").as("stage"))
    val s1 = tagged.filter(col("doc_id") === col("keep_id")).select("doc_id")
    // both self-joins pinned (Relational.pinParts — see minhashPairs):
    // the candidate-pair expansion and the integer-dot scoring are the
    // expensive per-row work AQE's bytes-only coalescing serializes
    val bands = Relational.pinParts(
      minhashBands(spark, dir).join(s1, Seq("doc_id"), "left_semi"),
      col("band"), col("sig"))
    val nearRemoved = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit("near").as("stage"))
    val s2 = s1.join(nearRemoved, Seq("doc_id"), "left_anti")
    val q = Relational.pinParts(Similarity.quantized(spark, dir)
      .join(s2, col("vec_id") === col("doc_id"), "left_semi"),
      col("label"))
    val semRemoved = q.as("a")
      .join(q.as("b"),
        col("a.label") === col("b.label") &&
          col("b.vec_id") < col("a.vec_id"))
      .withColumn("dot", expr("array_dot_long(a.q, b.q)"))
      .filter(expr("cast(dot as double) / " +
        s"(sqrt(cast(a.n2 as double)) * sqrt(cast(b.n2 as double))) >= $cosTau"))
      .select(col("a.vec_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit("semantic").as("stage"))
    val kept = s2.join(semRemoved, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("keep").as("stage"))
    exactRemoved.unionByName(nearRemoved).unionByName(semRemoved)
      .unionByName(kept)
  }

  /** doc_id → distinct 3-word shingles of the normalized text. */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(expr(TextOps.normExpr), " ").as("tk"))
      .select(col("doc_id"), explode(expr(TextOps.ngramExpr(3))).as("s"))
      .distinct()

  /** MinHash signatures: 12 permutations approximated by md5(seed:shingle),
    * banded 4×3. Returns (doc_id, band, sig) — the LSH bucket keys. */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandsOf(Tables.documents(spark, dir))

  /** LSH band signatures of an arbitrary `(doc_id, text, ...)` frame
    * — the map-side kernel shared by the batch ingest, the persisted
    * index build, and the STREAMING novelty filter (`followNovelty`),
    * so every face computes byte-identical bands. */
  def bandsOf(docs: DataFrame): DataFrame = {
    // The whole signature pass is ONE map-side projection: the codegen
    // `minhash12` kernel (plans.TextHashExprs) loops shingles×12 hashes
    // per document in compiled code — no shingle explode, no 12-column
    // aggregate, NO SHUFFLE. min over duplicate shingles == min over
    // the distinct set, so the kernel skips the distinct pass too.
    GraftFunctions.register(docs.sparkSession)
    val bandStructs = (0 until 4).map(b =>
      s"struct($b AS band, md5(cast(concat(element_at(mh, ${3 * b + 1}), element_at(mh, ${3 * b + 2}), element_at(mh, ${3 * b + 3})) as binary)) AS sig)")
    docs
      .select(col("doc_id"), expr(s"minhash12(split(${TextOps.normExpr}, ' '))").as("mh"))
      .selectExpr("doc_id", s"explode(array(${bandStructs.mkString(", ")})) AS bs")
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Candidate near-dup pairs: docs sharing any LSH band bucket. The
    * self-join is on (band, sig) — bucket-local, never all-pairs. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Both join sides are the identical bands subplan: Spark's
    // ReuseExchange dedups the shuffle, so the explode+md5 map side
    // runs once — no persist (a persist here would leak cache blocks
    // past the consuming action; see ReuseExchangeSpec).
    // The bucket exchange is PINNED (Relational.pinParts): it replaces
    // the join's own (band, sig) exchange, but keeps AQE from
    // coalescing the small signature shuffle to one task and
    // serializing the bucket self-join + pair distinct that every
    // dedup-graph consumer sits on (measured 4.2 s → 1.8 s at sf0.1).
    val b = Relational.pinParts(
      minhashBands(spark, dir), col("band"), col("sig"))
    val a = b.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val c = b.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    a.join(c, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** SimHash: 32-bit fingerprint by bit-majority over token md5 bits.
    * The bit exprs are generated so Spark and the oracle share the
    * exact integer arithmetic (nibble value via instr on a hex
    * alphabet — no engine-specific hex casts). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // One map-side projection: the codegen `simhash32` kernel
    // (plans.TextHashExprs) does the md5-per-token bit-majority loop in
    // compiled code — no token explode, no 32-aggregate groupBy, NO
    // SHUFFLE. Docs with no non-empty token yield null (they vanish
    // from the explode+groupBy formulation) and are filtered to match.
    GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(s"simhash32(split(${TextOps.normExpr}, ' '))").as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** SimHash near-dup pairs via the pigeonhole block method (Manku,
    * Jarlin, Sarma, WWW 2007): hamming distance <= 3 guarantees at
    * least one of four 8-bit blocks is identical, so candidates come
    * from a block-equality self-join (bucket-local, never all-pairs)
    * and the exact hamming check is one xor+popcount. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val valExpr = (0 until 32).map(j =>
      s"(CASE WHEN substring(fp, ${j + 1}, 1) = '1' THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    // identical subplan on both join sides → one ReusedExchange, no persist
    val v = simhash(spark, dir).selectExpr("doc_id", s"$valExpr AS v")
    val blocks = v.selectExpr("doc_id", "v", "explode(sequence(0, 3)) AS k")
      .selectExpr("doc_id", "v", "k", "shiftright(v, k * 8) % 256 AS blk")
    // pinned block exchange — same rationale as minhashPairs: the
    // self-join + hamming residual must not serialize behind AQE's
    // bytes-only coalescing of the small fingerprint shuffle
    val pinned = Relational.pinParts(blocks, col("k"), col("blk"))
    val a = pinned.select(col("k"), col("blk"), col("doc_id").as("doc_a"), col("v").as("va"))
    val b = pinned.select(col("k"), col("blk"), col("doc_id").as("doc_b"), col("v").as("vb"))
    a.join(b, Seq("k", "blk")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "va", "vb").distinct()
      .selectExpr("doc_a", "doc_b", "cast(bit_count(va ^ vb) as int) AS hamming")
      .filter(col("hamming") <= maxHamming)
  }

  /** The dedup DECISION step: candidate near-dup pairs → connected
    * components → one canonical doc per cluster (min doc_id). Min-label
    * propagation to the fixpoint: each iteration joins labels across
    * edges and keeps the minimum — deterministic (the fixpoint is the
    * per-component minimum regardless of iteration order), bounded by
    * component diameter. The driver loop only checks a converged
    * count per round; all data work is joins/aggregations. At 100 TB
    * components are near-diameter-2 after LSH blocking (dups cluster
    * tightly); for adversarial graphs swap in the large-star/small-star
    * alternation (Kiveris et al. 2014) — same join primitives. */
  def dedupClusters(spark: SparkSession, dir: String, maxIters: Int = 25): DataFrame = {
    val pairs = minhashPairs(spark, dir).select("doc_a", "doc_b")
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    // re-base each round's labels on their computed RDD so the
    // iterative plan's lineage stays flat (see connectedComponentsStar)
    var labels = Rebase(edges.select(col("doc_a").as("doc_id"))
      .distinct()
      .withColumn("cluster", col("doc_id")))
      .persist()
    var converged = false
    var it = 0
    // Min-label propagation is monotone: every node's label only ever
    // decreases, and the label set is fixed. So the loop has converged
    // exactly when sum(cluster) stops decreasing — ONE scalar action
    // per round on the cached frame (which also materializes it), no
    // convergence join. decimal(38,0) keeps the sum exact at any node
    // count (10^11 ids overflow a bigint sum).
    // empty label set (no candidate pairs at all) sums to null —
    // normalize to 0 so the empty graph converges on round one
    // instead of NPEing in compareTo
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("cluster").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    while (!converged && it < maxIters) {
      val viaEdges = edges
        .join(labels, edges("doc_b") === labels("doc_id"))
        .select(edges("doc_a").as("doc_id"), col("cluster"))
      val next = Rebase(labels.select(col("doc_id"), col("cluster"))
        .union(viaEdges)
        .groupBy("doc_id").agg(min("cluster").as("cluster")))
        .persist()
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    edges.unpersist()
    if (!converged) {
      labels.unpersist() // don't leak cache blocks on the error path
      throw new IllegalStateException(
        s"dedupClusters did not converge within $maxIters iterations — " +
          "a component's diameter exceeds the cap; raise maxIters or switch " +
          "to the large-star/small-star alternation for chain-shaped graphs")
    }
    // the converged labels stay cached for the caller's action; Bench
    // clears the cache between queries
    labels.select(col("doc_id"), col("cluster"),
      (col("doc_id") === col("cluster")).as("keep"))
  }

  /** Connected components by large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): converges in O(log² n) rounds regardless of component
    * diameter — the swap-in for adversarial chain-shaped graphs where
    * min-label propagation needs diameter rounds. Each round is two
    * groupBy+join passes over the edge list; state is only the edges.
    *
    * large-star: every neighbor v > u links to min(N(u) ∪ {u});
    * small-star: every neighbor v ≤ u links to that minimum. The fixed
    * point is a star per component centered at its minimum node.
    *
    * Input: undirected edges (a, b). Output: (doc_id, cluster) for
    * every node, cluster = component minimum. */
  def connectedComponentsStar(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    import org.apache.spark.sql.functions.{greatest, least}
    // Iterative plans must not accumulate lineage: each round re-bases
    // the edge set on its computed RDD (a leaf scan to Catalyst), or
    // the optimizer re-plans a tree that doubles every round and
    // eventually overflows the stack. The RDD is persisted per round
    // and the previous round's freed.
    var e = Rebase(edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()).persist()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // large-star over the bidirected neighborhood
      val bi = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = bi.groupBy("a").agg(min("b").as("mn"))
        .select(col("a").as("u"), least(col("u"), col("mn")).as("m"))
      val ls = bi.join(mins, bi("a") === mins("u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star over the (a > b)-oriented edges
      val lsOriented = ls
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      val mins2 = lsOriented.groupBy("a").agg(min("b").as("mn"))
        .select(col("a").as("u"), col("mn").as("m"))
      val joined = lsOriented.join(mins2, lsOriented("a") === mins2("u"))
      // one distinct AFTER orientation normalization — a pre-normalize
      // distinct would be subsumed by this one (an extra shuffle/round)
      val ss = Rebase(joined.filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(joined.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct()).persist()
      // exact set-equality probe in ONE action (was three): a full
      // outer join on the edge key leaves a null side exactly where the
      // sets differ; the count also materializes ss into its cache
      val changed = e.withColumn("l", lit(1))
        .join(ss.withColumn("r", lit(1)), Seq("a", "b"), "full_outer")
        .filter(col("l").isNull || col("r").isNull).count() > 0
      e.unpersist()
      e = ss
      converged = !changed
      it += 1
    }
    if (!converged) {
      e.unpersist()
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    }
    // fixed point: stars (v, root) — every non-root appears on the left
    val out = e.select(col("a").as("doc_id"), col("b").as("cluster"))
      .unionByName(e.select(col("b").as("doc_id"), col("b").as("cluster")))
      .distinct()
    out
  }

  /** The dedup decision through the star alternation: identical
    * relation (and oracle) as dedupClusters, but diameter-independent —
    * the variant to reach for when near-dup chains are long. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsStar(
      minhashPairs(spark, dir).select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("keep"))

  /** Fuzzy entity matching (edit-distance ≤ 1 name pairs) via FastSS
    * deletion neighborhoods (Bocek et al. 2007) — the
    * master-data-management dedup: near-identical customer names that
    * differ by one typo/digit. Candidate generation is BLOCKED, never
    * all-pairs: each name emits itself plus its |name| single-character
    * deletions as join keys; two names within edit distance 1 MUST
    * share a key (substitution → delete the differing position from
    * both; insertion → the deletion of the inserted char equals the
    * shorter name). The equi-join on variants replaces the O(n²)
    * levenshtein cross join — at 100 TB the bucket per variant key is
    * the handful of entities sharing a 17-char substring, and the
    * exact `levenshtein == 1` check runs only on candidates. Top-50
    * pairs in name order. */
  def fuzzyNamePairs(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val names = Tables.customer(spark, dir)
      .select(col("c_name").as("name")).distinct()
    // i = 0 keeps the name itself; i in 1..len deletes position i.
    // Run-duplicates (deleting any char of an equal-char run gives the
    // same variant) are dropped MAP-SIDE by keeping only the FIRST
    // deletion of each run — a codegen predicate, where the obvious
    // `array_distinct(transform(...))` is an interpreted lambda that
    // dominated this query's runtime, and a shuffle-based distinct
    // would move the whole variant set. The levenshtein residual runs
    // BEFORE the pair distinct so that shuffle carries only matches.
    val variants0 = names
      .select(col("name"), explode(expr("sequence(0, length(name))")).as("i"))
      .filter(expr("i <= 1 OR substring(name, i, 1) != substring(name, i - 1, 1)"))
      .select(col("name"),
        when(col("i") === 0, col("name"))
          .otherwise(expr("concat(substring(name, 1, i - 1), substring(name, i + 1))"))
          .as("v"))
    // pin the variant-key exchange (Relational.pinParts): the join's
    // per-candidate levenshtein is the expensive part, and AQE's
    // bytes-based coalescing — blind to the |name|× fan-out AND the
    // residual's cost — folds the tiny distinct-names shuffle to one
    // task, serializing candidate verification (measured 4.7 s → 1.1 s
    // at sf0.1/32 cores)
    val variants = Relational.pinParts(variants0, col("v"))
    val a = variants.select(col("v"), col("name").as("name_a"))
    val b = variants.select(col("v"), col("name").as("name_b"))
    val pairs = a.join(b, Seq("v"))
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) === 1)
      .select("name_a", "name_b").distinct()
    val top = pairs.orderBy("name_a", "name_b").limit(topK)
    val w = Window.orderBy("name_a", "name_b")
    top.withColumn("rk", row_number().over(w))
      .select("rk", "name_a", "name_b")
  }

  /** Candidate-pair intersection counts + per-doc post-cut set sizes
    * over the df-cut shingle inverted index — the shared core of
    * `ngramJaccard` and `containment`.
    *
    * Order of operations is the 100 TB design: the df-cut runs FIRST
    * as a plain count aggregate (bounded state even when one hot
    * shingle appears in 100 M docs — `shingles` is distinct, so
    * count == distinct doc count); only SURVIVING postings are grouped
    * into lists (≤ 20 entries by construction, so the collect buffer
    * is bounded) and pairs expand MAP-SIDE from each list
    * (≤ C(20,2) = 190 rows per shingle) — no shingle self-join. The
    * groupBy(s) sits on the s-keyed join output, so it adds no
    * exchange. */
  private def pairCounts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sh = shingles(spark, dir)
    // df-cut as a WINDOW count riding the same s-exchange the postings
    // grouping needs (the dupSpans discipline) — the old aggregate +
    // join-back shuffled the shingle table twice for the same answer
    val idx = sh
      .withColumn("docfreq", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("docfreq") <= 20)
      .groupBy("s").agg(collect_list("doc_id").as("docs"))
    val sz = idx.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = idx
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    (inter, sz)
  }

  /** Max-containment near-dup pairs: |A∩B| / min(|A|,|B|) over the
    * same df-cut shingle index as `ngramJaccard`. Containment catches
    * SUBSET duplication (a doc quoted or embedded inside a larger one)
    * that Jaccard dilutes — the RefinedWeb/Dolma companion metric to
    * symmetric similarity. Scored in exact integer ppm, so the rank
    * and score are engine-portable with no float hazards. Top-50. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val (inter, sz) = pairCounts(spark, dir)
    val scored = inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("i * 1000000 div least(na, nb)").as("cont_ppm"))
    val top = scored
      .orderBy(col("cont_ppm").desc, col("doc_a"), col("doc_b")).limit(50)
    val w = Window.orderBy(col("cont_ppm").desc, col("doc_a"), col("doc_b"))
    top.withColumn("rk", row_number().over(w))
      .select("rk", "doc_a", "doc_b", "cont_ppm")
  }

  /** Exact n-gram Jaccard on candidate pairs found through the shingle
    * inverted index (pairs must share >= 1 shingle; shingles occurring
    * in > 20 docs are dropped — the standard df-cut that bounds bucket
    * size under skew at 100 TB). Top-50 pairs by similarity. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (inter, sz) = pairCounts(spark, dir)
    val scored = inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(i as double) / (na + nb - i)").as("jac"))
    // orderBy.limit → TakeOrderedAndProject (per-partition top-k +
    // merge); rank re-derived over only the 50 survivors — no global
    // window over the full candidate-pair set.
    val top = scored
      .orderBy(col("jac").desc, col("doc_a"), col("doc_b")).limit(50)
    val w = Window.orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
    top.withColumn("rk", row_number().over(w))
      .select("rk", "doc_a", "doc_b", "jac")
  }

  /** Prefix-filtered set-similarity self-join (PPJoin-family, Xiao et
    * al. 2008) — ALL pairs with Jaccard ≥ t, exactly, without the
    * all-pairs shingle join: order each document's shingles by global
    * rarity (document frequency, then shingle), take only the first
    * n − ⌈t·n⌉ + 1 as its PREFIX, and generate candidates from
    * prefix-token collisions. The prefix lemma guarantees any pair
    * with Jaccard ≥ t shares a prefix token, so verification of the
    * candidates (exact intersection counts) reproduces the naive
    * join's result while the join fan-out rides the rare tail of the
    * frequency distribution instead of the hot head. The acceptance
    * test is INTEGER (i·100 ≥ t%·(na+nb−i)); only the reported score
    * is one IEEE division. Per-doc rank windows are partitioned by
    * doc_id — document-sized, never corpus-sized. */
  def jaccardPrefix(spark: SparkSession, dir: String, tPct: Int = 60): DataFrame = {
    require(tPct >= 1 && tPct <= 100, s"tPct must be in [1,100], got $tPct")
    val sh = shingles(spark, dir) // distinct (doc_id, s)
    // EXACT-SET GROUPING FIRST — the cascade discipline applied inside
    // the similarity join: documents with IDENTICAL shingle sets form
    // a group (set fingerprint = md5 of the NUL-joined sorted shingle
    // list, computed in one doc-keyed aggregate), the quadratic
    // prefix-filter join runs over ONE representative per distinct
    // set, and results expand back through group membership. On a
    // duplication-heavy corpus this is the difference between
    // quadratic and linear in the duplication factor (measured at the
    // sf1 rung: 207 s → the representative join is sf0.1-sized again),
    // and it is EXACT: identical sets pair at jaccard 1.0 ≥ t/100
    // always, and a cross-group pair's (i, na, nb) depend only on the
    // two SETS, so every member pair inherits its representatives'
    // score verbatim. The prefix lemma already makes the relation
    // ordering-independent (any pair with jac ≥ t shares a prefix
    // token under ANY consistent global token order, and the integer
    // acceptance test is exact), so deduplicating the inputs cannot
    // add or lose a pair.
    val sig = sh.groupBy("doc_id")
      .agg(md5(to_binary(concat_ws("\u0000",
        array_sort(collect_list(col("s")))), lit("utf-8"))).as("sig"))
    val groups = sig.groupBy("sig").agg(min("doc_id").as("rep"))
    val shR = sh.join(groups.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // document frequency and set size land as WINDOW counts riding
    // the exchanges the prefix derivation needs anyway (the dupSpans
    // discipline: never shuffle the big table once to aggregate and
    // again to join the aggregate back); the verify step reads na/nb
    // off the rows it already touches.
    val shn = shR
      .withColumn("dfc", count(lit(1)).over(Window.partitionBy("s")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    val pfx = shn
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("dfc"), col("s"))))
      .filter(col("pos") <= col("n") - expr(s"(n * $tPct + 99) div 100") + 1)
      .select("doc_id", "s")
    val cand = pfx.select(col("s"), col("doc_id").as("doc_a"))
      .join(pfx.select(col("s"), col("doc_id").as("doc_b")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val withN = shn.select(col("doc_id"), col("s"), col("n"))
    val inter = cand
      .join(withN.select(col("doc_id").as("doc_a"), col("s"),
        col("n").as("na")), "doc_a")
      .join(withN.select(col("doc_id").as("doc_b"), col("s"),
        col("n").as("nb")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("i"), max("na").as("na"), max("nb").as("nb"))
    val repPairs = inter
      .filter(col("i") * 100 >= (col("na") + col("nb") - col("i")) * tPct)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        expr("cast(i as double) / (na + nb - i)").as("jac"))
    // expansion is OUTPUT-cardinality work: within-group pairs score
    // exactly 1.0 (i = na = nb; n/n is exact in IEEE), cross-group
    // pairs inherit their representatives' score; least/greatest
    // re-normalizes pair order across groups
    val within = sig.as("a").join(sig.as("b"), "sig")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(1.0).as("jac"))
    val repSig = groups.select(col("rep"), col("sig"))
    val cross = repPairs
      .join(repSig.select(col("rep").as("rep_a"), col("sig").as("sig_a")),
        "rep_a")
      .join(repSig.select(col("rep").as("rep_b"), col("sig").as("sig_b")),
        "rep_b")
      .join(sig.select(col("sig").as("sig_a"), col("doc_id").as("da")),
        "sig_a")
      .join(sig.select(col("sig").as("sig_b"), col("doc_id").as("db")),
        "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
    within.unionByName(cross)
  }

  /** Cluster-canonical selection — the step after near-dup
    * clustering: keep the BEST member of each cluster, not the
    * lowest-id one (the FineWeb-style choice: among syndicated
    * copies, retain the most reference-like). Quality is the exact
    * integer surrogate `stopword_hits·10^6 + n_tokens` (doc_id
    * breaks ties), so the per-cluster argmax is engine-identical.
    * The argmax is ONE per-cluster aggregate (max of a (q, -doc_id)
    * struct — no window, no sort) joined back cluster-keyed; the
    * quality join is doc-keyed. Nothing here touches more than the
    * clustered docs. */
  def canonicalSelection(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).select("doc_id", "cluster")
    val qual = Tables.documents(spark, dir)
      .withColumn("toks", split(expr(TextOps.normExpr), " "))
      .select(col("doc_id"),
        (expr(TextOps.hitsExpr("en")).cast("long") * 1000000L
          + expr("size(toks)")).as("q"))
    val j = clusters.join(qual, "doc_id")
    val canon = j.groupBy("cluster")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("cluster"), (-col("m.nd")).as("canonical_id"))
    j.join(canon, "cluster")
      .select(col("doc_id"), col("cluster"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }

  /** Integer PageRank over the source co-syndication graph — the
    * domain-authority ranking a crawl-seeding pipeline runs (the
    * Common-Crawl-style "which domains to prioritize" step). Nodes
    * are sources; an edge links two sources that share a duplicated
    * 8-gram span fingerprint (the `dupSpans` signal — syndicated
    * content), weighted by the number of shared distinct fingerprints.
    * PageRank (damping 85/100) runs `iters` fixed iterations in
    * fixed-point q40 units with EVERY step integer arithmetic —
    * per-edge contribution `pr*w div s(u)`, order-free BIGINT sums,
    * `B + (85*agg) div 100` update — so the final ranks replay
    * bit-for-bit as unrolled CTEs in any engine.
    *
    * Scale shape: the (source, fingerprint) table is DISTINCT before
    * the self-join, so fan-out is bounded by sources-per-fingerprint,
    * never doc pairs; the node/edge tables are domain-scale (millions
    * at 100 TB — orders below the corpus), so the per-iteration join
    * broadcasts and the corpus is read exactly once to build edges.
    * The single driver action is a 1-row COUNT readback (same budget
    * as the CC rounds). */
  /** Triangle counting over the near-dup candidate graph — the graph-
    * density diagnostic run next to connected components (a triangle-
    * rich neighborhood = a tight dup cluster; triangle-free = chains
    * of borderline matches worth re-checking). Uses the standard
    * degree-ordered orientation (each edge points to its higher-
    * (degree, id) endpoint) so every triangle is enumerated exactly
    * once from its lowest vertex and wedge fan-out is bounded by
    * out-degree ≤ O(√m) — the join never explodes on a hub node the
    * way a naive undirected wedge join would at 100 TB. Three plain
    * shuffled joins + one aggregate; no window, no iteration. Output:
    * per-document triangle membership counts. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val e = minhashPairs(spark, dir) // doc_a < doc_b, distinct
    val deg = e.select(col("doc_a").as("id"))
      .unionByName(e.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
    // doc_a < doc_b already, so the degree tie breaks toward doc_a
    val oriented = ed.select(
      when(col("da") <= col("db"), col("doc_a")).otherwise(col("doc_b")).as("s"),
      when(col("da") <= col("db"), col("doc_b")).otherwise(col("doc_a")).as("d"))
    val wedges = oriented.select(col("s"), col("d").as("v"))
      .join(oriented.select(col("s"), col("d").as("w")), "s")
      .filter(col("v") < col("w"))
    val tri = wedges.join(e,
      least(col("v"), col("w")) === col("doc_a") &&
        greatest(col("v"), col("w")) === col("doc_b"))
      .select(col("s").as("a"), col("v").as("b"), col("w").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
  }

  /** Scratch-parquet memoizer for derived relations the graph family
    * shares (grams, edge lists, node domains): built ONCE per (key,
    * input dir) per JVM and persisted to scratch parquet — unlike
    * `.persist()`, this survives the per-query
    * `spark.catalog.clearCache()` the gate runs between queries, so
    * PageRank, HITS and TextRank in one bench/verify run derive each
    * relation from the corpus once, not once per query (and once per
    * retry). At 100 TB this is the band-index discipline: the
    * expensive corpus-scale derivation is a persisted artifact, and
    * the iterative algorithms run against the artifact. Content is
    * deterministic, so memoization cannot change results. The cache
    * keeps the schema each artifact was written with, so a read starts
    * no footer-reading schema-inference job. */
  private val scratchCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()
  private[graft] def scratchRelation(spark: SparkSession, key: String,
    dir: String)(build: => DataFrame): DataFrame = {
    // cluster-portable: artifacts live on the input's shared
    // FileSystem (Scratch.base — HDFS/S3A on a cluster, file:/tmp
    // locally), and the cache key carries a CONTENT version of the
    // input dir, so rewriting the data under the same path within one
    // long-lived session rebuilds the artifact instead of silently
    // serving a stale one
    val ver = Scratch.contentVersion(spark, dir)
    val id = f"rel-$key-${dir.hashCode}%08x-$ver-${Scratch.owner}"
    val basep = Scratch.base(spark)
    // the base participates in the cache key: re-pointing
    // spark.graft.scratchDir mid-session must not serve artifacts
    // from the old base
    val cacheKey = s"$basep/$id"
    // double-checked rather than computeIfAbsent: builds NEST (srcEdges
    // derives from spanGrams), and a nested mutation inside
    // computeIfAbsent throws "Recursive update". A racing duplicate
    // build is benign — content is deterministic and the write is an
    // overwrite.
    val (path, schema) = Option(scratchCache.get(cacheKey)).getOrElse {
      val p = new org.apache.hadoop.fs.Path(basep, id)
      val fs = Scratch.fileSystem(spark, p)
      // sweep this JVM's superseded versions of the same artifact so
      // a session that rewrites its input N times holds one copy, not N
      if (fs.exists(basep))
        fs.listStatus(basep)
          .filter { s =>
            val n = s.getPath.getName
            n.startsWith(f"rel-$key-${dir.hashCode}%08x-") &&
              n.endsWith(s"-${Scratch.owner}") && n != id
          }
          .foreach { s =>
            fs.delete(s.getPath, true)
            Tables.forget(spark, s.getPath)
          }
      val t0 = System.nanoTime()
      val built = build
      built.write.mode("overwrite").parquet(p.toString)
      Scratch.buildNanos.addAndGet(System.nanoTime() - t0)
      Scratch.registerCleanup(spark, p)
      scratchCache.putIfAbsent(cacheKey, (p.toString, built.schema))
      (p.toString, built.schema)
    }
    // the file source marks a user schema nullable, as inference does
    Tables.parquet(spark, path, Some(schema))
  }

  /** Shared source ↔ span-fingerprint edge base for the graph family
    * (sourceRank + HITS): distinct (source, 16-hex md5 of each
    * 8-gram). */
  def spanGrams(spark: SparkSession, dir: String): DataFrame =
    scratchRelation(spark, "spangrams", dir) {
      Tables.documents(spark, dir)
        .select(col("source"), split(expr(TextOps.normExpr), " ").as("tk"))
        .select(col("source"), explode(expr(TextOps.ngramExpr(8))).as("g0"))
        .select(col("source"),
          expr("substring(md5(cast(g0 as binary)), 1, 16)").as("g"))
        .distinct()
    }

  /** Projected weighted source↔source edge list (+ per-node strength)
    * as a persisted artifact — the fingerprint self-join runs once per
    * input; PageRank, LPA communities (and retries) iterate against
    * the artifact. */
  private def srcEdges(spark: SparkSession, dir: String): DataFrame =
    scratchRelation(spark, "srcedges", dir) {
      val grams = spanGrams(spark, dir)
        .select(col("source"), col("g").as("h"))
      val a = grams.select(col("h"), col("source").as("u"))
      val b = grams.select(col("h"), col("source").as("v"))
      val und = a.join(b, "h").filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
      val edges = und
        .unionByName(und.select(col("v").as("u"), col("u").as("v"), col("w")))
      val strength = edges.groupBy("u").agg(sum("w").as("s"))
      edges.join(strength, "u")
    }

  private def srcNodes(spark: SparkSession, dir: String): DataFrame =
    scratchRelation(spark, "srcnodes", dir) {
      Tables.documents(spark, dir).select(col("source").as("v")).distinct()
    }

  /** `iters` unrolled rounds of q40 fixed-point PageRank (mass 2^40,
    * damping 85/100, integer arithmetic both engines compute bitwise
    * equal) over weighted edges `(u, v, w, s = u's strength)` and nodes
    * `(v)`: (v, pr). A round is one broadcast join and ONE aggregate:
    * every node adds a zero row (taken from `nodes`, since naming the
    * previous `pr` twice doubles the plan every round), so no join with
    * `nodes` is needed. Shared by [[sourceRank]] and TextOps.textrank. */
  private[operators] def pageRankQ40(edges: DataFrame, nodes: DataFrame,
    iters: Int): DataFrame = {
    val S = 1099511627776L // 2^40
    val n = nodes.count() // 1-row readback; node-scale, not corpus-scale
    val base = 15L * S / (100L * n)
    val zeros = nodes.select(col("v"), lit(0L).as("c"))
    // null ends never join; filtering them here (not by inference in
    // all rounds but the last) lets AQE reuse ONE broadcast of the edges
    val es = broadcast(edges.filter(col("u").isNotNull && col("v").isNotNull))
    var pr = nodes.select(col("v"), lit(S / n).as("pr"))
    for (_ <- 1 to iters)
      pr = pr.select(col("v").as("u"), col("pr")).join(es, "u")
        .select(col("v"), expr("(pr * w) div s").as("c"))
        .unionByName(zeros)
        .groupBy("v")
        .agg((lit(base) + expr("(85 * sum(c)) div 100")).as("pr"))
    pr
  }

  /** PageRank over the projected source graph; the final rank is the
    * distributed globalRank, never a naked Window.orderBy holding every
    * source in one task (the source domain is 10^7-10^8 at 100 TB). */
  def sourceRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    Relational.globalRank(
      pageRankQ40(srcEdges(spark, dir), srcNodes(spark, dir), iters)
        .select(col("v").as("source"), col("pr").as("pr_q40")),
      col("pr_q40").desc, col("source"))
      .withColumnRenamed("rn", "rnk")

  /** Label-propagation community detection (Raghavan et al. 2007,
    * synchronous variant) over the projected source graph — the
    * cheap "which sources form content cliques" pass a curation
    * pipeline runs before per-community balancing: each round every
    * node adopts the label with the highest incident edge weight
    * among its neighbors (ties → lexicographically smallest label,
    * isolated nodes keep their own), seeded with label = own name.
    * Fixed synchronous rounds + total tie order ⇒ fully
    * deterministic, so the DuckDB oracle replays it exactly.
    *
    * Scale shape: the edge list and every label table are
    * NODE-scale (the corpus-scale fingerprint projection is the
    * shared memoized `srcedges` artifact); rounds are one broadcast
    * join + one grouped argmax each — no corpus re-read, no global
    * windows ([[graft.operators.Relational.globalRank]] family). */
  def communities(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val ews = srcEdges(spark, dir)
    var lab = srcNodes(spark, dir).select(col("v"), col("v").as("lab"))
    for (_ <- 1 to iters) {
      val scores = lab.select(col("v").as("nbr"), col("lab"))
        .join(broadcast(ews.select(col("u"), col("v").as("nbr"), col("w"))),
          "nbr")
        .groupBy("u", "lab").agg(sum("w").as("s"))
      val w = Window.partitionBy("u").orderBy(col("s").desc, col("lab"))
      val best = scores.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("u").as("v"), col("lab").as("_new"))
      lab = lab.join(best, Seq("v"), "left")
        .select(col("v"), coalesce(col("_new"), col("lab")).as("lab"))
    }
    val sizes = lab.groupBy("lab").agg(count(lit(1)).as("csize"))
    lab.join(sizes, "lab")
      .select(col("v").as("source"), col("lab").as("community"),
        col("csize"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the BIPARTITE
    * source ↔ span-fingerprint graph (the same edge base as the
    * PageRank domain ranking, kept two-mode instead of projected):
    * authoritative fingerprints are spans carried by strong sources,
    * strong sources carry authoritative spans. The mutually-recursive
    * iteration is exact in q40 fixed point: raw scores are BIGINT
    * sums, each round renormalizes by the round's own total via
    * integer division (decimal(38,0)/HUGEINT sums, so 10¹²-edge
    * graphs can't overflow) — bitwise identical in both engines.
    * Plan: the corpus is read once into the distinct edge table; each
    * of the 3 unrolled rounds is two keyed joins + two node-scale
    * aggregates + a 1-row broadcast total. Output: per-source hub
    * scores with rank. */
  def hits(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val S = 1099511627776L // 2^40
    val grams = spanGrams(spark, dir).persist()
    // TWO jobs per round, not six: each side's raw-score aggregate is
    // persisted and its 1-row total read back as a SCALAR (the same
    // 1-row readback budget the CC rounds use) that re-enters the plan
    // as a literal — the rescaled scores are then a lazy projection
    // over the cached aggregate, so there is no per-round crossJoin
    // broadcast job and no RDD-rebase materialization. Lineage stays
    // flat because round i's join consumes a projection of round
    // i-1's still-cached aggregate (useCachedData substitutes the
    // InMemoryRelation at planning) — the cache is released one round
    // later, after its consumer materialized.
    def q40scale(df: DataFrame, rawCol: String, outCol: String,
      total: java.math.BigDecimal): DataFrame = df
      .withColumn(outCol, expr(
        s"cast((cast($S as decimal(38,0)) * $rawCol) div " +
          s"cast('${total.toPlainString}' as decimal(38,0)) as bigint)"))
      .drop(rawCol)
    def total(df: DataFrame, c: String): java.math.BigDecimal = {
      // a null sum means ZERO ROWS — the scale expr then never
      // evaluates, any non-null literal keeps the plan well-formed
      val t = df.agg(sum(col(c))).collect()(0).getDecimal(0)
      if (t == null) java.math.BigDecimal.ONE else t
    }
    var hub = grams.select(col("source")).distinct()
      .withColumn("hs", lit(1L))
    var prevH: DataFrame = null
    for (_ <- 1 to iters) {
      val araw = grams.join(hub, "source")
        .groupBy("g").agg(sum(col("hs").cast("decimal(38,0)")).as("araw"))
        .persist()
      val aTot = total(araw, "araw") // materializes araw's cache
      if (prevH != null) prevH.unpersist() // its consumer is now cached
      val auth = q40scale(araw, "araw", "au", aTot)
      val hraw = grams.join(auth, "g")
        .groupBy("source").agg(sum(col("au").cast("decimal(38,0)")).as("hraw"))
        .persist()
      hub = q40scale(hraw, "hraw", "hs", total(hraw, "hraw"))
      araw.unpersist()
      prevH = hraw
    }
    // distributed final rank (see sourceRank): no single task ever
    // holds the whole source domain
    Relational.globalRank(
      hub.select(col("source"), col("hs").as("hub_q40")),
      col("hub_q40").desc, col("source"))
      .withColumnRenamed("rn", "rnk")
  }

  /** k-core peeling over the near-dup candidate graph — the density
    * filter run before expensive cluster adjudication: nodes that
    * survive `rounds` rounds of "drop everything with degree < k"
    * sit in dense dup neighborhoods (worth canonical-selection); the
    * peeled-away fringe is chains of borderline matches. Fixed round
    * count (like the unrolled PageRank/BPE loops) so the oracle can
    * replay it as CTEs; each round is one degree aggregate + two
    * semi-joins, all keyed on doc ids — edge-scale shuffles, no
    * cartesian anywhere, diameter-independent cost. Output: the
    * surviving docs with their residual degree. */
  def kcore(spark: SparkSession, dir: String, k: Int = 2,
    rounds: Int = 4): DataFrame = {
    // Re-base every round on its computed RDD (the dedupClusters /
    // star-CC discipline): each round's plan references the survivor
    // edge set several times (two degree legs + two semi filters), and
    // without the flat lineage those references — especially the
    // broadcast subplans of the semi joins — re-executed the whole
    // band-join chain per round (bench: 125 s; rebased: seconds).
    var alive = Rebase(minhashPairs(spark, dir)).persist()
    alive.count() // one action per round, lineage never deepens
    for (_ <- 1 to rounds) {
      val deg = alive.select(col("doc_a").as("id"))
        .unionByName(alive.select(col("doc_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("id")
      val next = Rebase(alive
        .join(keep.select(col("id").as("doc_a")), Seq("doc_a"), "semi")
        .join(keep.select(col("id").as("doc_b")), Seq("doc_b"), "semi"))
        .persist()
      next.count() // materialize before unpersisting the parent
      alive.unpersist()
      alive = next
    }
    // the final round's cache feeds the output aggregate; the caller's
    // clearCache (Verify per-query, tests per-suite) reclaims it
    alive.select(col("doc_a").as("id"))
      .unionByName(alive.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .select(col("id").as("doc_id"), col("deg"))
  }

  /** Dedup audit report: the cluster-size HISTOGRAM of the near-dup
    * components — how many duplicate clusters of each size the corpus
    * carries and how many documents sit in them. The one-page summary
    * a curation run publishes next to its survivor set (and the input
    * to "are we over-clustering?" threshold reviews). Two node-scale
    * aggregates over the connected-components output — size-bounded
    * rows from the first groupBy onward, trivial at any corpus size. */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
      .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"))
}
