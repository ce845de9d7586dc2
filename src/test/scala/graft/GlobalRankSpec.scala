package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** `Relational.globalRank` (one range-partitioned sort plus
  * per-partition offsets) gives exactly the ranks of a reference
  * `row_number()` over the same total order, with AQE on and off. */
class GlobalRankSpec extends SparkSpec {

  private def byRank(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.getAs[Long]("rn"))

  private def assertRowNumber(df: DataFrame, keys: Column*): Unit = {
    val ref = df.withColumn("rn",
      row_number().over(Window.orderBy(keys: _*)).cast("bigint"))
    val got = Relational.globalRank(df, keys: _*)
    assert(got.schema === df.schema.add("rn", "bigint", nullable = false))
    assert(byRank(got) === byRank(ref))
  }

  private val aqe = Seq("true", "false")

  test("ranks equal row_number(): empty, fewer rows than partitions, ties") {
    import spark.implicits._
    for (on <- aqe) withConf("spark.sql.adaptive.enabled" -> on) {
      // an empty input
      assertRowNumber(spark.range(0).toDF("id"), col("id"))
      // fewer rows than the 4 shuffle partitions
      assertRowNumber(Seq(3L, 1L, 2L).toDF("id"), col("id").desc)
      // all-equal first keys: the tiebreaker alone orders the rows
      assertRowNumber((1L to 200L).map(i => (7, i)).toDF("k", "id"),
        col("k"), col("id").desc)
      // a hashed order over more rows than one partition
      assertRowNumber((1L to 1000L).toDF("id")
        .withColumn("h", md5(col("id").cast("string"))), col("h"), col("id"))
    }
  }

  test("rn is a permutation of 1..n and two evaluations agree") {
    import spark.implicits._
    for (on <- aqe) withConf("spark.sql.adaptive.enabled" -> on,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val df = (1L to 2000L).toDF("id")
        .withColumn("h", md5(col("id").cast("string")))
      val ranked = Relational.globalRank(df, col("h"), col("id"))
      val first = ranked.select("id", "rn").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(first.values.toSeq.sorted === (1L to 2000L))
      // a second evaluation, and a self-join that evaluates it twice in
      // one plan, read the same ranks
      val again = ranked.select("id", "rn").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again === first)
      val a = ranked.select(col("id"), col("rn").as("a"))
      val b = ranked.select(col("id"), col("rn").as("b"))
      assert(a.join(b, "id").filter(col("a") =!= col("b")).count() === 0L)
      assertRangeTotals(s"aqe=$on", ranked)
    }
  }
}
