package graft

import graft.sources.TxTable

/** The row-level DML dir triage: what a delete predicate proves about
  * each data dir from its commit line alone. A dir may drop as pure
  * metadata only when the predicate covers every row in it, and a
  * NULL fails every comparison, so NULL-bearing dirs and dirs whose
  * line records no NULL count must be opened. */
class DirTriageSpec extends SparkSpec {
  import spark.implicits._

  private def commitPath(root: String, v: Int) =
    java.nio.file.Paths.get(root, "_commits", f"v$v%08d")

  private def commitText(root: String, v: Int): String =
    new String(java.nio.file.Files.readAllBytes(commitPath(root, v)), "UTF-8")

  private def dirsOf(text: String): Seq[String] =
    "dir:(data/[^|\n]+)".r.findAllMatchIn(text).map(_.group(1)).toSeq

  /** One dir holding k in {1, 5, NULL}, stats on k. */
  private def nullDir(name: String): String = {
    val root = tmpDir() + s"/$name"
    TxTable.append(Seq((Some(1L), "a"), (Some(5L), "b"),
      (Option.empty[Long], "n")).toDF("k", "s"), root, statsCols = Seq("k"))
    assert(commitText(root, 1).contains("|n,k=1:1"))
    root
  }

  private def keys(root: String): Set[Option[Long]] =
    TxTable.read(spark, root).select("k").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSet

  test("deleteWhere keeps the NULL row of a dir inside the predicate's box") {
    val root = nullDir("null-scala")
    TxTable.deleteWhere(spark, root, "k <= 9")
    assert(keys(root) === Set(None))
  }

  test("SQL DELETE keeps the NULL row of a dir inside the predicate's box") {
    val root = nullDir("null-sql")
    spark.sql("DROP TABLE IF EXISTS triage_null")
    spark.sql(s"CREATE TABLE triage_null USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    spark.sql("DELETE FROM triage_null WHERE k <= 9")
    assert(spark.table("triage_null").collect()
      .map(r => Option(r.get(0))).toSeq === Seq(None))
    spark.sql("DROP TABLE triage_null")
  }

  test("a dir line with no n,k segment is opened, not dropped") {
    val root = nullDir("null-legacy")
    // the line a writer that recorded no NULL counts would have left
    val text = commitText(root, 1)
    java.nio.file.Files.write(commitPath(root, 1),
      text.replace("|n,k=1:1", "").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "_commits", ".v00000001.crc"))
    assert(!commitText(root, 1).contains("n,k="))
    TxTable.deleteWhere(spark, root, "k <= 9")
    assert(keys(root) === Set(None))
  }

  test("a covered NULL-free dir drops and a refuted one carries, " +
    "with no Spark job") {
    val root = tmpDir() + "/covered"
    (0 to 1).foreach { i =>
      TxTable.append((i * 10L until i * 10L + 10L).map(k => (k, s"s$k"))
        .toDF("k", "s"), root, statsCols = Seq("k"))
    }
    val dirs = dirsOf(commitText(root, 2))
    // `5 + 4` folds to the literal the stats compare against
    assert(jobsDuring(TxTable.deleteWhere(spark, root, "k <= 5 + 4")) === 0)
    assert(dirsOf(commitText(root, 3)) === Seq(dirs(1)))
    assert(keys(root) === (10L until 20L).map(Some(_)).toSet)
  }

  test("IN, OR and functions may refute a dir but never cover one") {
    Seq("k IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9)" -> true,
      "k <= 9 AND s >= 's0'" -> true,
      "k <= 9 OR k = 1000" -> false, "abs(k) <= 9" -> false)
      .foreach { case (pred, refutes) =>
        val root = tmpDir() + "/nocover"
        (0 to 1).foreach { i =>
          TxTable.append((i * 10L until i * 10L + 10L).map(k => (k, s"s$k"))
            .toDF("k", "s"), root, statsCols = Seq("k"))
        }
        val dirs = dirsOf(commitText(root, 2))
        // a refuted dir is never opened: with its data files gone,
        // opening it would fail
        if (refutes) java.nio.file.Files.list(java.nio.file.Paths.get(root,
          dirs(1))).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(java.nio.file.Files.delete)
        // dir 0 must be read (at least its count job) whatever the
        // outcome; it still ends up fully deleted
        assert(jobsDuring(TxTable.deleteWhere(spark, root, pred)) > 0, pred)
        assert(dirsOf(commitText(root, 3)) === Seq(dirs(1)), pred)
        if (!refutes)
          assert(keys(root) === (10L until 20L).map(Some(_)).toSet, pred)
      }
  }

  /** Spark jobs of `stmt` on a fresh table of `n` dirs made by `mk`. */
  private def sqlJobs(name: String, n: Int, mk: (String, Int) => Unit,
    stmt: String): Int = {
    val root = tmpDir() + s"/$name-$n"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    mk(root, n)
    if (!spark.catalog.tableExists(name))
      spark.sql(s"CREATE TABLE $name USING `graft-tx` OPTIONS (path '$root')")
    val jobs = jobsDuring(spark.sql(stmt))
    spark.sql(s"DROP TABLE $name")
    jobs
  }

  private def keyDirs(root: String, n: Int): Unit =
    (0 until n).foreach { i =>
      TxTable.append((i * 10L until i * 10L + 10L).map(k => (k, s"s$k"))
        .toDF("k", "s"), root, statsCols = Seq("k"))
    }

  test("TRUNCATE, DROP PARTITION and a range DELETE cost the same " +
    "Spark jobs on 8 dirs as on 16") {
    def truncate(n: Int) = sqlJobs("triage_trunc", n, keyDirs,
      "TRUNCATE TABLE triage_trunc")
    def dropPart(n: Int) = sqlJobs("triage_part", n, (root, n) => {
      spark.sql(s"CREATE TABLE triage_part (k BIGINT, p INT) USING " +
        s"`graft-tx` PARTITIONED BY (p) OPTIONS (path '$root')")
      spark.sql(s"INSERT INTO triage_part SELECT id, CAST(id % $n AS INT) " +
        s"FROM range(${n * 10})")
    }, "ALTER TABLE triage_part DROP PARTITION (p = 3)")
    // dirs 0-2 are refuted, every later one is covered
    def rangeDelete(n: Int) = sqlJobs("triage_range", n, keyDirs,
      "DELETE FROM triage_range WHERE k >= 30")
    Seq[(String, Int => Int)]("TRUNCATE" -> truncate,
      "DROP PARTITION" -> dropPart, "range DELETE" -> rangeDelete)
      .foreach { case (what, jobs) =>
        jobs(4) // warm-up: first-use planning work is not per dir
        val (j8, j16) = (jobs(8), jobs(16))
        assert(j8 === j16, s"$what ran $j8 jobs on 8 dirs, $j16 on 16")
      }
    // and each did its work
    val root = tmpDir() + "/triage-check"
    keyDirs(root, 8)
    spark.sql(s"CREATE TABLE triage_check USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    spark.sql("DELETE FROM triage_check WHERE k >= 30")
    assert(spark.table("triage_check").count() === 30L)
    spark.sql("TRUNCATE TABLE triage_check")
    assert(spark.table("triage_check").count() === 0L)
    spark.sql("DROP TABLE triage_check")
  }

  test("a DATE-keyed DELETE and DROP PARTITION cost the same Spark jobs " +
    "on 8 dirs as on 16") {
    // one dir per day: DATE keys record epoch-day bounds, which a DATE
    // literal translates to, so covered days drop as metadata
    def dateDirs(root: String, n: Int): Unit =
      TxTable.appendPartitioned(spark.range(n * 10L).select($"id".as("k"),
        org.apache.spark.sql.functions.expr(
          s"date_add(DATE'2026-01-01', CAST(id % $n AS INT))").as("d")),
        root, "d")
    def rangeDelete(n: Int) = sqlJobs("triage_date_del", n, dateDirs,
      "DELETE FROM triage_date_del WHERE d >= DATE'2026-01-04'")
    def dropPart(n: Int) = sqlJobs("triage_date_part", n, dateDirs,
      "ALTER TABLE triage_date_part DROP PARTITION (d = DATE'2026-01-04')")
    Seq[(String, Int => Int)]("DATE range DELETE" -> rangeDelete,
      "DATE DROP PARTITION" -> dropPart).foreach { case (what, jobs) =>
      jobs(4)
      val (j8, j16) = (jobs(8), jobs(16))
      assert(j8 === j16, s"$what ran $j8 jobs on 8 dirs, $j16 on 16")
    }
    val root = tmpDir() + "/triage-date-check"
    dateDirs(root, 8)
    TxTable.deleteWhere(spark, root, "d = DATE'2026-01-02'")
    assert(dirsOf(commitText(root, 2)).length === 7)
    assert(TxTable.read(spark, root).filter("d = DATE'2026-01-02'")
      .count() === 0L)
    assert(TxTable.read(spark, root).count() === 70L)
  }
}
