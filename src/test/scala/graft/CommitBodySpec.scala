package graft

import org.apache.spark.sql.types._
import graft.sources.TxTable

/** The commit body every write shares: the zero-row guard dir keeps a
  * table readable whatever its column types, and the pre-claim
  * invariant check refuses to carry corrupt entry lines forward. */
class CommitBodySpec extends SparkSpec {
  import spark.implicits._

  private def commitFile(root: String, v: Int) =
    java.nio.file.Paths.get(root, "_commits", f"v$v%08d")

  /** Rewrite commit `v` of `root` in place (and drop its checksum). */
  private def editCommit(root: String, v: Int)(f: String => String): Unit = {
    val p = commitFile(root, v)
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, f(text).getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "_commits", f".v$v%08d.crc"))
  }

  private val nestedSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("s", StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType)))),
    StructField("m", MapType(StringType, IntegerType))))

  private def nestedRows(ks: Seq[Long]) = spark.createDataFrame(
    spark.sparkContext.parallelize(ks.map(k => org.apache.spark.sql.Row(
      k, org.apache.spark.sql.Row(k.toInt, s"b$k"), Map(s"m$k" -> k.toInt)))),
    nestedSchema)

  test("emptying a table with struct and map columns keeps its schema") {
    val root = tmpDir() + "/nested-empty"
    TxTable.append(nestedRows(1L to 20L), root, statsCols = Seq("k"))
    TxTable.append(nestedRows(21L to 40L), root, statsCols = Seq("k"))
    val schema = TxTable.read(spark, root).schema
    TxTable.deleteWhere(spark, root, "true")
    assert(TxTable.latestVersion(spark, root) === 3)
    val empty = TxTable.read(spark, root)
    assert(empty.count() === 0L)
    assert(empty.schema === schema)
    TxTable.append(nestedRows(41L to 45L), root, statsCols = Seq("k"))
    val back = TxTable.read(spark, root)
    assert(back.count() === 5L)
    assert(back.filter("s.a = 42 AND m['m42'] = 42").count() === 1L)
  }

  test("SQL DELETE FROM empties a nested-column table readably") {
    val root = tmpDir() + "/nested-empty-sql"
    TxTable.append(nestedRows(1L to 20L), root, statsCols = Seq("k"))
    val schema = TxTable.read(spark, root).schema
    spark.sql("DROP TABLE IF EXISTS nested_empty_sql")
    spark.sql("CREATE TABLE nested_empty_sql USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    spark.sql("DELETE FROM nested_empty_sql")
    assert(TxTable.latestVersion(spark, root) === 2)
    assert(spark.table("nested_empty_sql").count() === 0L)
    assert(TxTable.read(spark, root).schema === schema)
    TxTable.append(nestedRows(21L to 23L), root, statsCols = Seq("k"))
    assert(spark.table("nested_empty_sql").count() === 3L)
  }

  test("an append refuses to carry a duplicated entry line") {
    val root = tmpDir() + "/dup-entry"
    TxTable.append((1L to 10L).toDF("k"), root, statsCols = Seq("k"))
    editCommit(root, 1) { text =>
      val entry = text.split("\n").find(_.startsWith("dir:")).get
      text.stripSuffix("\n") + "\n" + entry
    }
    val e = intercept[IllegalStateException] {
      TxTable.append((11L to 20L).toDF("k"), root, statsCols = Seq("k"))
    }
    assert(e.getMessage.contains("appears twice"), e.getMessage)
    assert(TxTable.latestVersion(spark, root) === 1)
  }

  test("an append refuses to carry a negative _rows") {
    val root = tmpDir() + "/neg-rows"
    TxTable.append((1L to 10L).toDF("k"), root, statsCols = Seq("k"))
    editCommit(root, 1) { text =>
      assert(text.contains("|_rows=10:10|"))
      text.replace("|_rows=10:10|", "|_rows=-5:-5|")
    }
    val e = intercept[IllegalStateException] {
      TxTable.append((11L to 20L).toDF("k"), root, statsCols = Seq("k"))
    }
    assert(e.getMessage.contains("_rows=-5:-5"), e.getMessage)
    assert(TxTable.latestVersion(spark, root) === 1)
  }
}
