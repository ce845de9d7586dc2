package graft

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** SQL row-level DML on catalog `graft-tx` tables: DELETE FROM /
  * UPDATE / MERGE INTO / TRUNCATE resolved through Spark's own
  * row-level-operation rewrites (SupportsRowLevelOperations +
  * SupportsDeleteV2), executing graft's group-based copy-on-write. */
class SqlDmlSpec extends SparkSpec {

  private def mkTable(name: String, n: Long = 1000L): String = {
    import spark.implicits._
    val root = tmpDir() + s"/$name"
    // two range-clustered dirs: k 1..500 and 501..n
    val df1 = (1L to n / 2).map(i => (i, i % 7, s"s$i")).toDF("k", "grp", "s")
    val df2 = (n / 2 + 1 to n).map(i => (i, i % 7, s"s$i"))
      .toDF("k", "grp", "s")
    TxTable.append(df1, root, statsCols = Seq("k", "grp"))
    TxTable.append(df2, root, statsCols = Seq("k", "grp"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-tx` OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    root
  }

  test("SQL DELETE with a translatable predicate") {
    mkTable("dml_del")
    spark.sql("DELETE FROM dml_del WHERE k <= 100")
    assert(spark.table("dml_del").count() === 900L)
    assert(spark.sql("SELECT min(k) FROM dml_del").collect()(0).getLong(0)
      === 101L)
  }

  test("SQL DELETE with an untranslatable predicate takes the COW path") {
    mkTable("dml_del_cow")
    spark.sql("DELETE FROM dml_del_cow WHERE k % 7 = 0")
    val left = spark.table("dml_del_cow")
    assert(left.count() === 1000L - 142L) // floor(1000/7)
    assert(left.filter("k % 7 = 0").count() === 0L)
  }

  test("SQL UPDATE rewrites matching rows, NULL-safe") {
    mkTable("dml_upd")
    spark.sql("UPDATE dml_upd SET s = concat('u', s), grp = grp + 100 " +
      "WHERE k BETWEEN 10 AND 20")
    val t = spark.table("dml_upd")
    assert(t.count() === 1000L)
    assert(t.filter("k BETWEEN 10 AND 20 AND s NOT LIKE 'u%'").count() === 0L)
    assert(t.filter("s LIKE 'u%'").count() === 11L)
    assert(t.filter("grp >= 100").count() === 11L)
    assert(t.filter("NOT (k BETWEEN 10 AND 20) AND s LIKE 'u%'")
      .count() === 0L)
  }

  test("SQL MERGE INTO: matched update, not-matched insert, matched delete") {
    import spark.implicits._
    mkTable("dml_mrg", 100L)
    Seq((50L, 999L, "upd"), (60L, 999L, "del"), (200L, 5L, "new"))
      .toDF("k", "grp", "s").createOrReplaceTempView("dml_src")
    spark.sql(
      """MERGE INTO dml_mrg t USING dml_src s ON t.k = s.k
        |WHEN MATCHED AND s.s = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.grp = s.grp, t.s = s.s
        |WHEN NOT MATCHED THEN INSERT (k, grp, s) VALUES (s.k, s.grp, s.s)
        |""".stripMargin)
    val t = spark.table("dml_mrg")
    assert(t.count() === 100L) // -1 delete +1 insert
    assert(t.filter("k = 60").count() === 0L)
    assert(t.filter("k = 50 AND grp = 999 AND s = 'upd'").count() === 1L)
    assert(t.filter("k = 200 AND s = 'new'").count() === 1L)
    // untouched rows intact
    assert(t.filter("k = 10 AND s = 's10'").count() === 1L)
  }

  test("group pruning: a range DELETE leaves disjoint dirs' files alone") {
    val root = mkTable("dml_prune")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def dirFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      val b = scala.collection.mutable.Set[String]()
      while (it.hasNext) { b += it.next().getPath.toString }
      b.toSet
    }
    val before = dirFiles()
    def head(): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_commits",
        f"v${TxTable.latestVersion(spark, root)}%08d")), "UTF-8")
    val secondEntry = "dir:(data/[^|\n]+)[^\n]*\\|k=501:1000".r
      .findFirstMatchIn(head()).get.group(1)
    // the predicate renderer has no `%`, so canDeleteWhere refuses
    // and this DELETE takes the copy-on-write path; its scan's pushed
    // `k <= 100` refutes the 501..1000 dir through its k stats, so
    // the rewrite must not touch it
    spark.sql("DELETE FROM dml_prune WHERE k <= 100 AND k % 2 = 0")
    val after = dirFiles()
    // replaced data files stay on disk for time travel, so file paths
    // cannot show which dirs were rewritten; the commit can
    val secondDir = before.filter(_.contains("append-")).toSeq.sorted
    assert(secondDir.nonEmpty)
    val survivors = before.intersect(after)
    assert(survivors.nonEmpty, "disjoint dir must not be rewritten")
    assert(head().contains(s"dir:$secondEntry|"),
      "the refuted dir's entry must carry into the new commit by name")
    assert(spark.table("dml_prune").count() === 950L)
    assert(spark.table("dml_prune")
      .filter("k <= 100 AND k % 2 = 0").count() === 0L)
  }

  test("positional deletes fold through SQL UPDATE (no resurrection)") {
    val root = mkTable("dml_pd")
    // kill k in {1..10} positionally (scattered, low selectivity)
    TxTable.deleteWhere(spark, root, "k <= 10", positional = true)
    assert(spark.table("dml_pd").count() === 990L)
    spark.sql("UPDATE dml_pd SET s = 'X' WHERE k <= 300")
    val t = spark.table("dml_pd")
    assert(t.count() === 990L)
    assert(t.filter("k <= 10").count() === 0L, "pd rows must stay dead")
    assert(t.filter("k BETWEEN 11 AND 300 AND s <> 'X'").count() === 0L)
    assert(t.filter("k > 300 AND s = 'X'").count() === 0L)
  }

  test("SQL DML under a column mapping uses the renamed face") {
    val root = mkTable("dml_cmap")
    TxTable.renameColumn(spark, root, "s", "label")
    spark.sql("REFRESH TABLE dml_cmap")
    spark.sql("UPDATE dml_cmap SET label = 'renamed' WHERE k = 5")
    val t = spark.table("dml_cmap")
    assert(t.columns.contains("label"))
    assert(t.filter("k = 5 AND label = 'renamed'").count() === 1L)
    assert(t.count() === 1000L)
    // the pre-rename snapshot still reads under its OWN names
    val v = TxTable.latestVersion(spark, root)
    val old = spark.sql(s"SELECT * FROM dml_cmap VERSION AS OF ${v - 2}")
    assert(old.columns.contains("s"))
  }

  test("TRUNCATE TABLE empties but keeps the table readable") {
    mkTable("dml_trunc", 100L)
    spark.sql("TRUNCATE TABLE dml_trunc")
    assert(spark.table("dml_trunc").count() === 0L)
    assert(spark.table("dml_trunc").columns.toSeq === Seq("k", "grp", "s"))
  }

  test("DELETE all rows leaves a readable empty table") {
    mkTable("dml_delall", 100L)
    spark.sql("DELETE FROM dml_delall WHERE k % 1 = 0") // COW shape
    assert(spark.table("dml_delall").count() === 0L)
    assert(spark.table("dml_delall").columns.toSeq === Seq("k", "grp", "s"))
  }

  test("INSERT INTO appends through the catalog face") {
    val root = mkTable("dml_ins", 100L)
    spark.sql("INSERT INTO dml_ins VALUES (1001, 3, 'new1'), (1002, 4, 'new2')")
    val t = spark.table("dml_ins")
    assert(t.count() === 102L)
    assert(t.filter("k = 1001 AND s = 'new1'").count() === 1L)
    // a second insert composes (append, not replace)
    spark.sql("INSERT INTO dml_ins SELECT k + 2000, grp, s FROM dml_ins " +
      "WHERE k <= 3")
    assert(spark.table("dml_ins").count() === 105L)
    // the table API sees the same rows (one snapshot, two faces)
    assert(TxTable.read(spark, root).count() === 105L)
  }

  test("INSERT OVERWRITE replaces all content") {
    mkTable("dml_ovr", 100L)
    spark.sql("INSERT OVERWRITE dml_ovr VALUES (7, 7, 'only')")
    val t = spark.table("dml_ovr")
    assert(t.count() === 1L)
    assert(t.filter("k = 7 AND s = 'only'").count() === 1L)
    // empty overwrite leaves a readable zero-row table
    spark.sql("INSERT OVERWRITE dml_ovr SELECT * FROM dml_ovr WHERE k < 0")
    assert(spark.table("dml_ovr").count() === 0L)
    assert(spark.table("dml_ovr").columns.toSeq === Seq("k", "grp", "s"))
  }

  test("CREATE TABLE with declared schema bootstraps via INSERT") {
    val root = tmpDir() + "/dml-fresh"
    spark.sql("DROP TABLE IF EXISTS dml_fresh")
    spark.sql(s"CREATE TABLE dml_fresh (id BIGINT, name STRING) " +
      s"USING `graft-tx` OPTIONS (path '$root')")
    spark.sql("INSERT INTO dml_fresh VALUES (1, 'a'), (2, 'b')")
    assert(spark.table("dml_fresh").count() === 2L)
    assert(spark.sql("SELECT name FROM dml_fresh WHERE id = 2")
      .collect()(0).getString(0) === "b")
    // and the freshly-bootstrapped table takes row-level DML too
    spark.sql("DELETE FROM dml_fresh WHERE id = 1")
    assert(spark.table("dml_fresh").count() === 1L)
  }

  test("INSERT INTO a column-mapped table stages under physical names") {
    val root = mkTable("dml_ins_cmap", 10L)
    TxTable.renameColumn(spark, root, "s", "label")
    spark.sql("REFRESH TABLE dml_ins_cmap")
    spark.sql("INSERT INTO dml_ins_cmap VALUES (11, 4, 'lab11')")
    val t = spark.table("dml_ins_cmap")
    assert(t.count() === 11L)
    assert(t.filter("k = 11 AND label = 'lab11'").count() === 1L)
    // the API face agrees (physical plumbing intact)
    assert(TxTable.read(spark, root).filter("k = 11").count() === 1L)
  }

  test("CREATE TABLE AS SELECT lands as a graft-tx table") {
    val root = tmpDir() + "/dml-ctas"
    mkTable("dml_ctas_src", 100L)
    spark.sql("DROP TABLE IF EXISTS dml_ctas")
    spark.sql(s"CREATE TABLE dml_ctas USING `graft-tx` " +
      s"OPTIONS (path '$root') AS SELECT k, s FROM dml_ctas_src " +
      "WHERE k <= 10")
    assert(spark.table("dml_ctas").count() === 10L)
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "s"))
    // the CTAS-born table takes DML like any other
    spark.sql("DELETE FROM dml_ctas WHERE k <= 5")
    assert(spark.table("dml_ctas").count() === 5L)
  }

  test("runtime group filtering: MERGE rewrites only dirs with matches") {
    import spark.implicits._
    val root = tmpDir() + "/dml-rtf"
    // four range-clustered dirs of 250 keys each
    (0L to 3L).foreach { i =>
      TxTable.append((i * 250 + 1 to (i + 1) * 250)
        .map(k => (k, s"s$k")).toDF("k", "s"), root, statsCols = Seq("k"))
    }
    spark.sql("DROP TABLE IF EXISTS dml_rtf")
    spark.sql(s"CREATE TABLE dml_rtf USING `graft-tx` OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def files(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      val b = scala.collection.mutable.Set[String]()
      while (it.hasNext) { b += it.next().getPath.toString }
      b.toSet
    }
    val before = files()
    // source keys live ONLY in the second dir (251..260) + inserts;
    // a MERGE join condition pushes NO static filter — without
    // runtime group filtering every dir would rewrite
    Seq.tabulate(10)(i => (251L + i, s"u$i"))
      .toDF("k", "s").createOrReplaceTempView("dml_rtf_src")
    spark.sql(
      """MERGE INTO dml_rtf t USING dml_rtf_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.s = s.s
        |""".stripMargin)
    val after = files()
    val untouched = before.intersect(after)
    // dirs 1, 3 and 4 (750 of 1000 keys) must survive byte-identical
    assert(untouched.size >= (before.size * 3) / 4 - 1,
      s"expected >= 3/4 of files untouched, before=${before.size} " +
        s"untouched=${untouched.size}")
    val t = spark.table("dml_rtf")
    assert(t.count() === 1000L)
    assert(t.filter("k BETWEEN 251 AND 260 AND s LIKE 'u%'").count() === 10L)
    assert(t.filter("s LIKE 'u%'").count() === 10L)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE syncs the target to the source") {
    import spark.implicits._
    mkTable("dml_sync", 40L)
    // source holds keys 21..50: 21..40 match, 41..50 are new,
    // 1..20 exist only in the target and must sync-delete
    (21L to 50L).map(i => (i, 0L, s"src$i")).toDF("k", "grp", "s")
      .createOrReplaceTempView("dml_sync_src")
    spark.sql(
      """MERGE INTO dml_sync t USING dml_sync_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE
        |""".stripMargin)
    val t = spark.table("dml_sync")
    assert(t.count() === 30L)
    assert(t.filter("k <= 20").count() === 0L, "target-only rows deleted")
    assert(t.filter("s LIKE 'src%'").count() === 30L,
      "every surviving row carries source values")
    assert(t.filter("k = 35 AND s = 'src35' AND grp = 0").count() === 1L)
  }

  test("MoR MERGE handles NOT MATCHED BY SOURCE too") {
    import spark.implicits._
    mkTable("dml_sync_mor", 40L)
    (21L to 50L).map(i => (i, 0L, s"src$i")).toDF("k", "grp", "s")
      .createOrReplaceTempView("dml_sync_mor_src")
    spark.conf.set("spark.graft.dml.positional", "true")
    try {
      spark.sql(
        """MERGE INTO dml_sync_mor t USING dml_sync_mor_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |""".stripMargin)
    } finally spark.conf.unset("spark.graft.dml.positional")
    val t = spark.table("dml_sync_mor")
    assert(t.count() === 30L)
    assert(t.filter("k <= 20").count() === 0L)
    assert(t.filter("s LIKE 'src%'").count() === 30L)
  }

  test("string-prefix DELETE translates to the fast path") {
    mkTable("dml_prefix", 50L)
    // s LIKE 's1%' pushes as StringStartsWith -> the SupportsDeleteV2
    // renderer turns it into startswith(); matches s1, s10..s19
    spark.sql("DELETE FROM dml_prefix WHERE s LIKE 's1%'")
    val t = spark.table("dml_prefix")
    assert(t.count() === 39L)
    assert(t.filter("s LIKE 's1%'").count() === 0L)
  }

  test("__graft_dir is a selectable metadata column") {
    mkTable("dml_dircol", 100L)
    val dirs = spark.sql(
      "SELECT __graft_dir, count(*) n FROM dml_dircol GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dirs.size === 2, s"two append dirs expected, got $dirs")
    assert(dirs.values.sum === 100L)
    assert(dirs.keys.forall(_.startsWith("data/append-")))
  }

  test("DML refuses time-travel pins and row-restricted tables") {
    val root = mkTable("dml_refuse", 100L)
    spark.sql("DROP TABLE IF EXISTS dml_pinned")
    spark.sql(s"CREATE TABLE dml_pinned USING `graft-tx` " +
      s"OPTIONS (path '$root', versionAsOf '1')")
    val e1 = intercept[Exception] {
      spark.sql("DELETE FROM dml_pinned WHERE k = 1")
    }
    assert(e1.getMessage.contains("time-travel") ||
      e1.getMessage.contains("not supported"),
      s"unexpected: ${e1.getMessage}")
    spark.sql("DROP TABLE IF EXISTS dml_ranged")
    spark.sql(s"CREATE TABLE dml_ranged USING `graft-tx` " +
      s"OPTIONS (path '$root', colRange.k '1,50')")
    val e2 = intercept[Exception] {
      spark.sql("UPDATE dml_ranged SET s = 'x' WHERE k = 1")
    }
    assert(e2.getMessage.contains("row-restricting") ||
      e2.getMessage.contains("not supported"),
      s"unexpected: ${e2.getMessage}")
  }
}
