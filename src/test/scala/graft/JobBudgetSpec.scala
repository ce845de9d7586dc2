package graft

import graft.operators.Dedup
import graft.sources.TxTable
import scala.jdk.CollectionConverters._

/** Pins Spark-job budgets, as MetaRpcSpec pins commit-metadata RPCs:
  * nearly all of a small query's time is fixed per-job cost, so a job
  * a refactor adds is a regression even when the answer stays right.
  * Pinned: the iterative PageRank, a table load (no schema-inference
  * job), a SQL INSERT (the write, no stats rescan) and the grouped
  * writes (partitioned, bucketed, z-order: one write each, no
  * readback, no committer files). PageRank's
  * budget at sf0.01 on local[4]: the node count (2), one broadcast of
  * the edge artifact that every round reuses (1), one shuffle per
  * round's aggregate (5), the range sort's bound sampling and its
  * shuffle (2) and the write (1). The rank offsets add no count job
  * here: AQE coalesces the 20 ranked sources into one partition. */
class JobBudgetSpec extends SparkSpec {

  // the sf0.01 rung next to the suite's sf0.001 tables
  private val sf001 = sfDir.replace("sf0.001", "sf0.01")

  test("sourceRank at sf0.01 runs at most 11 Spark jobs") {
    def run(): Unit = {
      spark.catalog.clearCache() // as the query runners do
      Dedup.sourceRank(spark, sf001).write.format("noop")
        .mode("overwrite").save()
    }
    run() // builds the scratch artifacts
    val jobs = jobNamesDuring(run())
    info(s"sourceRank: ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 11,
      s"sourceRank ran ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
  }

  test("a table load reads its schema from the footer, job-free") {
    for (nanos <- Seq("false", "true"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos) {
        for (t <- Tables.all) {
          val p = s"$sf001/$t.parquet"
          assert(Tables.footerSchema(spark, p) === spark.read.parquet(p).schema,
            s"$t (nanosAsLong $nanos)")
        }
      }
    // the parent inferred orders' schema with one footer-reading job
    assert(jobsDuring(Tables.orders(spark, sf001)) === 0)
  }

  test("SQL INSERT INTO runs one Spark job: the write, no rescan") {
    import spark.implicits._
    val root = tmpDir() + "/jb_insert"
    graft.sources.TxTable.append(Seq((1L, "a")).toDF("k", "s"), root,
      Seq("k", "s"))
    spark.sql("DROP TABLE IF EXISTS jb_insert")
    spark.sql(s"CREATE TABLE jb_insert USING `graft-tx` OPTIONS (path '$root')")
    spark.sql("INSERT INTO jb_insert VALUES (2, 'b')")
    val jobs = jobNamesDuring(spark.sql("INSERT INTO jb_insert VALUES (3, 'c')"))
    assert(jobs.size === 1, s"INSERT ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(spark.table("jb_insert").count() === 3L)
  }

  /** Paths under `root` a committer leaves behind. */
  private def committerDebris(root: String): Seq[String] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try it.iterator().asScala.map(_.toString).filter(p =>
      p.endsWith("/_SUCCESS") || p.contains("/_temporary")).toList
    finally it.close()
  }

  /** The grouped writes stage through the one staged writer: each runs
    * ONE write job, after its shuffle's AQE map-stage job, and no
    * readback of what it wrote. The z-order rewrite also runs its
    * dims' min/max aggregate and its max-z aggregate, two jobs each. */
  test("grouped writes: one staged write each, no committer debris") {
    import spark.implicits._
    val rows = (1L to 40L).map(k => (k, k % 4, s"v${k % 3}"))
      .toDF("k", "p", "s")
    val part = tmpDir() + "/jb_part"
    val bucket = tmpDir() + "/jb_bucket"
    val zorder = tmpDir() + "/jb_zorder"
    TxTable.appendPartitionedBy(rows, part, Seq("p"), Seq("k"))
    TxTable.appendBucketedBy(rows, bucket, "k", 4, Seq("k"))
    TxTable.append(rows, zorder, Seq("k"))
    for ((name, write, root, budget) <- Seq[(String, () => Any, String, Int)](
      ("appendPartitionedBy", () =>
        TxTable.appendPartitionedBy(rows, part, Seq("p"), Seq("k")), part, 2),
      ("appendBucketedBy", () =>
        TxTable.appendBucketedBy(rows, bucket, "k", 4, Seq("k")), bucket, 2),
      ("optimizeZOrder", () =>
        TxTable.optimizeZOrder(spark, zorder, "k", "p", nDirs = 4), zorder,
        6))) {
      val jobs = jobNamesDuring(write())
      info(s"$name: ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
      assert(jobs.count(_.contains("TxTableSource.scala")) === 1,
        s"$name: not one staged write: ${jobs.mkString("; ")}")
      assert(jobs.size === budget,
        s"$name ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
      assert(committerDebris(root).isEmpty,
        s"$name left ${committerDebris(root).mkString(", ")}")
    }
  }
}
