package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Deterministic shuffle + token-budget sharding: the reproducible
  * ordering layer between curation and training-file writes. */
class ShuffleShardSpec extends SparkSpec {

  test("deterministicShuffle: a permutation, reproducible, seed-sensitive") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val p1 = Relational.deterministicShuffle(df, "seedA", "id")
      .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1))
    // a bijection onto 1..n
    assert(p1.map(_._2).sorted.toSeq === (1L to 500L))
    // reproducible: same seed → identical permutation (fresh plan)
    val p2 = Relational.deterministicShuffle(df, "seedA", "id")
      .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(p1.sortBy(_._1).toSeq === p2.sortBy(_._1).toSeq)
    // seed-sensitive: a different seed is a different permutation
    val p3 = Relational.deterministicShuffle(df, "seedB", "id")
      .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(p1.sortBy(_._1).toSeq !== p3.sortBy(_._1).toSeq)
    // and genuinely shuffled: not the identity order
    assert(p1.sortBy(_._1).map(_._2).toSeq !== (1L to 500L))
  }

  test("shardByBudget: contiguous shards, every full shard meets the budget") {
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, (i % 7) + 1)).toDF("id", "w")
    val out = Relational.shardByBudget(df, "id", "w", budget = 40L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // shards are contiguous and non-decreasing in id order
    assert(out.map(_._3).toSeq === out.map(_._3).sorted.toSeq)
    // replay the greedy rule sequentially
    var cum = 0L
    out.foreach { case (_, w, s) =>
      assert(s === cum / 40L, s"shard must be floor(preceding/40)")
      cum += w
    }
    // every shard except the last closes at >= budget total weight
    val byShard = out.groupBy(_._3).toSeq.sortBy(_._1)
    byShard.dropRight(1).foreach { case (s, rows) =>
      assert(rows.map(_._2).sum >= 40L - 7L,
        s"shard $s must be within one doc of the budget")
    }
  }

  test("no single-partition window over row-scale data in either plan") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, 1L)).toDF("id", "w")
    // positions and shard sums both come from one range-partitioned
    // sort plus per-partition offsets: no unpartitioned Window at all
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      assertRangeTotals("deterministicShuffle",
        Relational.deterministicShuffle(df, "s", "id"))
      assertRangeTotals("shardByBudget",
        Relational.shardByBudget(df, "id", "w", 100L), "_cs", positions = false)
    }
  }
}
