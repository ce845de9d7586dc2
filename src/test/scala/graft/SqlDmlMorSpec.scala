package graft

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** MERGE-ON-READ SQL DML (`spark.graft.dml.positional`): UPDATE /
  * DELETE / MERGE land as positional-delete sidecars + one insert dir
  * — O(changed) bytes — through Spark's SupportsDelta rewrite. */
class SqlDmlMorSpec extends SparkSpec {

  private def positional[T](body: => T): T = {
    spark.conf.set("spark.graft.dml.positional", "true")
    try body finally spark.conf.unset("spark.graft.dml.positional")
  }

  private def mkTable(name: String, n: Long = 1000L): String = {
    import spark.implicits._
    val root = tmpDir() + s"/$name"
    val half = n / 2
    TxTable.append((1L to half).map(i => (i, i % 7, s"s$i"))
      .toDF("k", "grp", "s"), root, statsCols = Seq("k", "grp"))
    TxTable.append((half + 1 to n).map(i => (i, i % 7, s"s$i"))
      .toDF("k", "grp", "s"), root, statsCols = Seq("k", "grp"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-tx` OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    root
  }

  private def dataFilesOf(root: String): Set[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
    val b = scala.collection.mutable.Set[String]()
    while (it.hasNext) { b += it.next().getPath.toString }
    b.toSet
  }

  test("MoR DELETE writes sidecars, no dir rewrite") {
    val root = mkTable("mor_del")
    val before = dataFilesOf(root)
    positional {
      spark.sql("DELETE FROM mor_del WHERE k % 100 = 7")
    }
    val after = dataFilesOf(root)
    assert(before.subsetOf(after),
      "no pre-existing data file may be rewritten or dropped")
    val sidecars = after.diff(before).filter(_.contains("/_pdel-"))
    assert(sidecars.nonEmpty, "positional sidecars expected")
    val t = spark.table("mor_del")
    assert(t.count() === 990L)
    assert(t.filter("k % 100 = 7").count() === 0L)
    // metadata stays exact: COUNT(*) from stats must agree
    assert(TxTable.read(spark, root).count() === 990L)
  }

  test("MoR UPDATE = sidecar delete + insert dir") {
    val root = mkTable("mor_upd")
    val before = dataFilesOf(root)
    positional {
      spark.sql(
        "UPDATE mor_upd SET s = concat('u', s) WHERE k BETWEEN 10 AND 20")
    }
    val after = dataFilesOf(root)
    assert(before.subsetOf(after))
    assert(after.exists(_.contains("/sqlupdate-")), "insert dir expected")
    val t = spark.table("mor_upd")
    assert(t.count() === 1000L)
    assert(t.filter("s LIKE 'u%'").count() === 11L)
    assert(t.filter("k BETWEEN 10 AND 20 AND s NOT LIKE 'u%'").count() === 0L)
    // the updated rows carry their full payload
    assert(t.filter("k = 15 AND s = 'us15' AND grp = 1").count() === 1L)
  }

  test("MoR MERGE: update + delete + insert in one commit") {
    import spark.implicits._
    mkTable("mor_mrg", 100L)
    Seq((50L, 999L, "upd"), (60L, 999L, "del"), (200L, 5L, "new"))
      .toDF("k", "grp", "s").createOrReplaceTempView("mor_src")
    positional {
      spark.sql(
        """MERGE INTO mor_mrg t USING mor_src s ON t.k = s.k
          |WHEN MATCHED AND s.s = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.grp = s.grp, t.s = s.s
          |WHEN NOT MATCHED THEN INSERT (k, grp, s) VALUES (s.k, s.grp, s.s)
          |""".stripMargin)
    }
    val t = spark.table("mor_mrg")
    assert(t.count() === 100L)
    assert(t.filter("k = 60").count() === 0L)
    assert(t.filter("k = 50 AND grp = 999 AND s = 'upd'").count() === 1L)
    assert(t.filter("k = 200 AND s = 'new'").count() === 1L)
  }

  test("MoR deletes stack across statements without double-kill") {
    val root = mkTable("mor_stack", 100L)
    positional {
      spark.sql("DELETE FROM mor_stack WHERE k % 10 = 1")
      spark.sql("DELETE FROM mor_stack WHERE k % 10 = 2")
      // overlapping predicate: rows already dead must not re-die
      spark.sql("DELETE FROM mor_stack WHERE k <= 30")
    }
    val t = spark.table("mor_stack")
    // alive: k in 31..100 with k%10 not in (1,2) => 70 - 14 = 56
    assert(t.count() === 56L)
    assert(TxTable.read(spark, root).count() === 56L)
    // COUNT(*) served from _rows stats agrees (exactness survived)
    val fromStats = spark.sql("SELECT count(*) FROM mor_stack")
      .collect()(0).getLong(0)
    assert(fromStats === 56L)
  }

  test("a translatable DELETE honours the positional conf: sidecars, " +
    "no dir rewrite") {
    val root = mkTable("mor_translatable", 100L)
    val before = TxTable.read(spark, root).inputFiles.toSet
    // `k <= 30` translates (the SupportsDeleteV2 → deleteWhere path)
    // and straddles the 1..50 dir
    positional {
      spark.sql("DELETE FROM mor_translatable WHERE k <= 30")
    }
    val after = TxTable.read(spark, root).inputFiles.toSet
    assert(before.subsetOf(after),
      "every pre-existing data file must stay in the snapshot")
    val added = after.diff(before)
    assert(added.nonEmpty && added.forall(_.contains("/_pdel-")),
      s"only sidecars may be added, got ${added.mkString(", ")}")
    assert(spark.table("mor_translatable").count() === 70L)
    assert(TxTable.rowCount(spark, root) === Some(70L))
  }

  test("MoR and COW statements interleave on one table") {
    val root = mkTable("mor_mixed", 100L)
    positional {
      spark.sql("DELETE FROM mor_mixed WHERE k % 10 = 3")
    }
    // a COW update folds the sidecars of the dirs it rewrites
    spark.sql("UPDATE mor_mixed SET s = 'X' WHERE k <= 50")
    val t = spark.table("mor_mixed")
    assert(t.count() === 90L)
    assert(t.filter("k % 10 = 3").count() === 0L,
      "MoR-deleted rows must not resurrect through the COW rewrite")
    assert(t.filter("k <= 50 AND s <> 'X'").count() === 0L)
    // time travel before the COW update still sees the MoR state
    val v = TxTable.latestVersion(spark, root)
    assert(TxTable.read(spark, root, version = v - 1).count() === 90L)
  }
}
