package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The group-swap commit's OCC semantics, driven at the internal
  * seam (`cowPlan`/`cowCommit`) where the interleavings are
  * deterministic: commits touching OTHER dirs compose with an
  * in-flight rewrite; a commit that changed an AFFECTED dir aborts
  * it loudly (the scanned rows no longer describe the table and the
  * write cannot re-scan). */
class CowCommitSpec extends graft.SparkSpec {

  private def mk(n: String): String = {
    import spark.implicits._
    val root = tmpDir() + s"/$n"
    TxTable.append((1L to 50L).map(i => (i, s"a$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    TxTable.append((51L to 100L).map(i => (i, s"a$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    root
  }

  private def stageOne(root: String,
    rows: Seq[(Long, String)]): TxStagedFile = {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val Seq(f) = stageRows(s"$root/_staging/test-${java.util.UUID.randomUUID()}",
      schema, Seq.empty, rows.map { case (k, s) => org.apache.spark.sql.Row(k, s) },
      sketchCols = Seq("k"))
    f
  }

  test("a concurrent commit touching other dirs composes") {
    import spark.implicits._
    val root = mk("compose")
    // rewrite plan scoped to the FIRST dir (k <= 50 refutes dir 2)
    val plan = TxTable.cowPlan(spark, root,
      Seq(GreaterThanOrEqual("k", 1L), LessThanOrEqual("k", 10L)))
    assert(plan.affectedDirs.size === 1)
    // a concurrent append lands a THIRD dir while the rewrite runs
    TxTable.append((101L to 110L).map(i => (i, s"c$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    val staged = stageOne(root, (201L to 203L).map(i => (i, s"n$i")))
    TxTable.cowCommit(spark, root, plan, Seq(staged), "sqlupdate")
    val t = TxTable.read(spark, root)
    // dir1 replaced by the 3 staged rows; dir2 and the appended dir
    // both survive
    assert(t.count() === 50L + 10L + 3L)
    assert(t.filter("k between 201 and 203").count() === 3L)
    assert(t.filter("k <= 50").count() === 0L)
    assert(t.filter("k between 101 and 110").count() === 10L)
  }

  test("a concurrent change to an affected dir aborts loudly") {
    val root = mk("conflict")
    val plan = TxTable.cowPlan(spark, root,
      Seq(GreaterThanOrEqual("k", 1L), LessThanOrEqual("k", 10L)))
    assert(plan.affectedDirs.size === 1)
    // the affected dir's entry line changes under the rewrite (a
    // delete rewrites dir 1)
    TxTable.deleteWhere(spark, root, "k = 5")
    val staged = stageOne(root, Seq((999L, "x")))
    val e = intercept[java.util.ConcurrentModificationException] {
      TxTable.cowCommit(spark, root, plan, Seq(staged), "sqlupdate")
    }
    assert(e.getMessage.contains("lost its snapshot"))
    // the aborted rewrite leaked nothing: the moved dir was dropped
    // and the table still answers from the delete's snapshot
    assert(TxTable.read(spark, root).count() === 99L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val dataDirs = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "data")).map(_.getPath.getName)
    assert(!dataDirs.exists(_.startsWith("sqlupdate-")),
      s"aborted commit must not leak its dir, got ${dataDirs.mkString(",")}")
  }

  test("MoR commit aborts when a touched dir changed underneath") {
    import spark.implicits._
    val root = mk("mor-conflict")
    val plan = TxTable.cowPlan(spark, root, Seq.empty)
    // stage one delete coordinate against dir 1
    val d1 = plan.affectedDirs.head
    val f1 = new org.apache.hadoop.fs.Path(
      plan.files.find(_.dir == d1).get.path).getName
    val delPath = tmpDir() + "/dels"
    Seq((d1, f1, 0L)).toDF("_dir", "_file", "_pos")
      .write.parquet(delPath)
    // the touched dir rewrites underneath (positions now meaningless)
    TxTable.deleteWhere(spark, root, "k = 2")
    val e = intercept[java.util.ConcurrentModificationException] {
      TxTable.deltaDmlCommit(spark, root, plan, Seq.empty,
        Seq(delPath), "sqldelete")
    }
    assert(e.getMessage.contains("receiving deletes changed"))
    // nothing leaked: no unreferenced sidecar survives in dir 1's
    // replacement or dir 2
    assert(TxTable.read(spark, root).count() === 99L)
  }

  test("ANALYZE stats stay sound across a SQL COW rewrite") {
    import spark.implicits._
    val root = tmpDir() + "/dml-analyze"
    TxTable.append((1L to 500L).map(i => (i, i % 13, s"s$i"))
      .toDF("k", "grp", "s"), root, statsCols = Seq("k", "grp"))
    TxTable.analyze(spark, root, exact = true)
    spark.sql("DROP TABLE IF EXISTS cow_analyze_t")
    spark.sql(s"CREATE TABLE cow_analyze_t USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    spark.sql("DELETE FROM cow_analyze_t WHERE k % 7 = 0") // COW path
    // the post-DML snapshot still answers: counts exact, NDV clamped
    // to the live row count (analyze-time estimates never overshoot)
    val live = spark.table("cow_analyze_t").count()
    assert(live === 500L - 71L)
    TxTable.columnNdv(spark, root).get("k").foreach(ndv =>
      assert(ndv <= live + 1,
        s"stale NDV must clamp to live rows, got $ndv for $live rows"))
    // and a fresh ANALYZE over the rewritten table round-trips
    TxTable.analyze(spark, root, exact = true)
    assert(TxTable.columnNdv(spark, root)("k") === live)
  }

  test("SQL DML on a delta-carrying snapshot refuses loudly") {
    import spark.implicits._
    val root = tmpDir() + "/deltas"
    TxTable.mergeDelta(spark, root,
      (1L to 20L).map(i => (i, "I", i * 10L, i)).toDF("k", "op", "v", "seq"))
    TxTable.mergeDelta(spark, root,
      (1L to 5L).map(i => (i, "U", i * 100L, 100L + i))
        .toDF("k", "op", "v", "seq"))
    spark.sql("DROP TABLE IF EXISTS cow_delta_t")
    spark.sql(s"CREATE TABLE cow_delta_t USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("UPDATE cow_delta_t SET v = 0 WHERE k = 1")
    }
    assert(e.getMessage.contains("delta-free") ||
      Option(e.getCause).exists(_.getMessage.contains("delta-free")),
      s"unexpected: ${e.getMessage}")
  }

  test("SQL ALTER TABLE renames and drops columns, metadata-only") {
    import spark.implicits._
    val root = tmpDir() + "/alter"
    TxTable.append((1L to 10L).map(i => (i, i * 2, s"s$i"))
      .toDF("k", "v", "s"), root, statsCols = Seq("k"))
    spark.sql("DROP TABLE IF EXISTS cow_alter_t")
    spark.sql(s"CREATE TABLE cow_alter_t USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    val vBefore = TxTable.latestVersion(spark, root)
    spark.sql("ALTER TABLE cow_alter_t RENAME COLUMN v TO price")
    spark.sql("ALTER TABLE cow_alter_t DROP COLUMN s")
    assert(TxTable.latestVersion(spark, root) === vBefore + 2,
      "each ALTER is exactly one commit")
    val t = spark.table("cow_alter_t")
    assert(t.columns.toSeq === Seq("k", "price"))
    assert(t.filter("k = 3 AND price = 6").count() === 1L)
    // time travel still serves the old names (the colmap move)
    val old = spark.sql(
      s"SELECT * FROM cow_alter_t VERSION AS OF $vBefore")
    assert(old.columns.toSeq === Seq("k", "v", "s"))
    // and DML keeps working on the renamed face
    spark.sql("UPDATE cow_alter_t SET price = 0 WHERE k = 1")
    assert(spark.table("cow_alter_t")
      .filter("k = 1 AND price = 0").count() === 1L)
  }
}
