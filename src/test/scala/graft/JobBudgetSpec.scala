package graft

import graft.operators.Dedup

/** Pins the Spark-job budget of the iterative PageRank, as MetaRpcSpec
  * pins commit-metadata RPCs: nearly all of q_pagerank's time at small
  * scale is fixed per-job cost, so a job a refactor adds is a
  * regression even when the answer stays right. The budget at sf0.01
  * on local[4]: the node count (2), one broadcast of the edge artifact
  * that every round reuses (1), one shuffle per round's aggregate (5),
  * the range sort's bound sampling and its shuffle (2) and the write
  * (1). The rank offsets add no count job here: AQE coalesces the 20
  * ranked sources into one partition. */
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
}
