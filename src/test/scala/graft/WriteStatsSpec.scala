package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Every write face records the SAME per-dir statistics a fresh
  * rescan of the dir would: for each entry a face commits, its
  * `_rows`, integral bounds, `n,` null counts, `str:` bounds, `sx:`
  * exact value, `_bytes` and HLL estimates equal those of a
  * `statsEntry` rescan (one 1-row stats aggregate over the dir, plus
  * `_bytes`) of the same dir with the same stats columns.
  * Face-specific extras (`_bucket`, DATE partition-key stats) are
  * checked against the dir name; the bucketed face is the one face
  * that records no `sx:`. */
class WriteStatsSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows from key `lo`: `m` NULL on every 7th row, `s` NULL on
    * every 5th (or one value everywhere when `single`), 3 dates. */
  private def rows(lo: Long, n: Int, single: Boolean = false): DataFrame =
    (lo until lo + n).map { k =>
      (k, if (k % 7 == 0) None else Some(k % 17), k % 31,
        if (single) Some("same") else if (k % 5 == 0) None
        else Some(s"v${k % 13}"),
        if (k % 2 == 0) "east" else "west",
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(k % 3)))
    }.toDF("k", "m", "q", "s", "region", "d")
  // 3000 distinct keys spill the dense `k` sketch to its sidecar;
  // the second write's dirs hold one `s` value
  private def first: DataFrame = rows(0L, 3000)
  private def second: DataFrame = rows(3000L, 40, single = true)
  private val statsCols = Seq("k", "m", "s")

  private def commitLines(root: String): Seq[String] = {
    val dir = new java.io.File(root, "_commits")
    val v = dir.list().filter(_.matches("v\\d+")).map(_.drop(1).toInt).max
    def read(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq
    read(new java.io.File(dir, f"v$v%08d")).flatMap { l =>
      if (l.startsWith("include:")) read(new java.io.File(root, l.drop(8)))
      else Seq(l)
    }
  }
  private def entryLines(root: String): Seq[String] =
    if (!new java.io.File(root, "_commits").exists) Seq.empty
    else commitLines(root).filter(_.startsWith("dir:"))

  /** The entry lines `write` adds to the snapshot. */
  private def written(root: String)(write: => Unit): Seq[String] = {
    val before = entryLines(root).toSet
    write
    val added = entryLines(root).filterNot(before)
    assert(added.nonEmpty, s"no new entries at $root")
    added
  }

  /** `dir` and its segments keyed by name (`k`, `n,k`, `str:s`, …). */
  private def parse(line: String): (String, Map[String, String]) = {
    val parts = line.stripPrefix("dir:").split('|').toSeq
    (parts.head, parts.tail.map { seg =>
      val i = seg.indexOf('=')
      seg.take(i) -> seg.drop(i + 1)
    }.toMap)
  }

  private lazy val statsEntryMethod = {
    val m = TxTable.getClass.getDeclaredMethods.find(m =>
      m.getName == "statsEntry" || m.getName.endsWith("$$statsEntry")).get
    m.setAccessible(true)
    m
  }
  /** A fresh rescan of `dir`'s parquet through `statsEntry`. */
  private def rescan(root: String, dir: String, cols: Seq[String])
    : Map[String, String] = {
    val e = statsEntryMethod.invoke(TxTable, spark, new Path(root), dir,
      cols, java.lang.Boolean.FALSE)
    parse(e.getClass.getMethod("line").invoke(e).asInstanceOf[String])._2
  }

  private def hllEstimate(root: String, dir: String, c: String,
    blob: String): Double = {
    val bytes =
      if (blob == "@") java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, dir, "_hll-" +
          c.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString))
      else java.util.Base64.getDecoder.decode(blob)
    Seq(Tuple1(bytes)).toDF("b").select(hll_sketch_estimate($"b"))
      .head.getLong(0).toDouble
  }

  /** Compare every segment of `line` with the rescan of its dir;
    * returns the segments the rescan does not record, for the caller
    * to check as that face's extras. */
  private def assertRescanned(root: String, line: String,
    cols: Seq[String], exact: Boolean = true): Map[String, String] = {
    val (dir, got) = parse(line)
    val want = rescan(root, dir, cols)
    want.foreach {
      case (k, v) if k.startsWith("sx:") && !exact =>
        assert(!got.contains(k), s"$dir: unexpected $k")
      case (k, v) if k.startsWith("hll:") =>
        val c = k.drop(4)
        assert(got.contains(k), s"$dir: no $k in $line")
        assert(hllEstimate(root, dir, c, got(k)) ===
          hllEstimate(root, dir, c, v), s"$dir: $k")
      case (k, v) =>
        assert(got.get(k) === Some(v), s"$dir: $k in $line")
    }
    assert(got.keySet.exists(_.startsWith("hll:")), line)
    got -- want.keySet
  }

  test("plain append records the rescan's stats") {
    val root = tmpDir() + "/ws_append"
    for (df <- Seq(first, second)) {
      val lines = written(root)(TxTable.append(df, root, statsCols))
      lines.foreach(l => assert(assertRescanned(root, l, statsCols).isEmpty))
    }
    // the NULL-bearing and single-valued string cases both occurred
    val all = entryLines(root).map(parse(_)._2)
    assert(all.exists(_.get("n,s").exists(_ != "0:0")))
    assert(all.exists(_.contains("sx:s")))
    assert(all.exists(_.get("hll:k").contains("@")))
  }

  test("STRING-keyed appendPartitionedBy records the rescan's stats") {
    val root = tmpDir() + "/ws_part_str"
    for (df <- Seq(first, second)) {
      val lines = written(root)(
        TxTable.appendPartitionedBy(df, root, Seq("region"), statsCols))
      assert(lines.size === 2)
      lines.foreach(l => assert(
        assertRescanned(root, l, "region" +: statsCols).isEmpty))
    }
  }

  test("DATE-keyed appendPartitionedBy records the rescan's stats") {
    val root = tmpDir() + "/ws_part_date"
    for (df <- Seq(first, second)) {
      val lines = written(root)(
        TxTable.appendPartitionedBy(df, root, Seq("d"), statsCols))
      assert(lines.size === 3)
      lines.foreach { l =>
        val extra = assertRescanned(root, l, statsCols)
        val (dir, _) = parse(l)
        val day = dir.split("/d=").last
        assert(extra.keySet === Set("d", "n,d", "hll:d"), l)
        assert(extra("d") === s"$day:$day")
        assert(extra("n,d") === "0:0")
        assert(hllEstimate(root, dir, "d", extra("hll:d")) === 1.0)
      }
    }
  }

  test("appendBucketedBy records the rescan's stats, minus sx:") {
    val root = tmpDir() + "/ws_bucket"
    for (df <- Seq(first, second)) {
      val lines = written(root)(
        TxTable.appendBucketedBy(df, root, "k", 4, statsCols))
      lines.foreach { l =>
        val extra = assertRescanned(root, l, statsCols, exact = false)
        val id = parse(l)._1.split("=").last
        assert(extra === Map("_bucket" -> s"$id:$id"), l)
      }
    }
  }

  test("optimizeZOrder records the rescan's stats") {
    val root = tmpDir() + "/ws_zorder"
    for (df <- Seq(first, second)) {
      TxTable.append(df, root, statsCols)
      val lines = written(root)(
        TxTable.optimizeZOrder(spark, root, "k", "q", nDirs = 4))
      lines.foreach(l =>
        assert(assertRescanned(root, l, Seq("k", "q")).isEmpty))
    }
  }

  test("compactSnapshot and optimizeCompact record the rescan's stats") {
    val compacted = tmpDir() + "/ws_compact"
    val packed = tmpDir() + "/ws_pack"
    for (df <- Seq(first, second)) {
      TxTable.append(df.filter($"k" % 2 === 0), compacted, statsCols)
      TxTable.append(df.filter($"k" % 2 === 1), compacted, statsCols)
      written(compacted)(TxTable.compactSnapshot(spark, compacted))
        .foreach(l =>
          assert(assertRescanned(compacted, l, statsCols).isEmpty))
      TxTable.append(df.filter($"k" % 2 === 0), packed, statsCols)
      TxTable.append(df.filter($"k" % 2 === 1), packed, statsCols)
      written(packed)(
        TxTable.optimizeCompact(spark, packed, targetBytes = 1L << 30))
        .foreach(l => assert(assertRescanned(packed, l, statsCols).isEmpty))
    }
  }

  test("SQL INSERT records the rescan's stats") {
    val root = tmpDir() + "/ws_sql"
    TxTable.append(first.limit(10), root, statsCols)
    spark.sql("DROP TABLE IF EXISTS ws_sql")
    spark.sql(s"CREATE TABLE ws_sql USING `graft-tx` OPTIONS (path '$root')")
    for ((df, i) <- Seq(first, second).zipWithIndex) {
      df.createOrReplaceTempView(s"ws_src$i")
      written(root)(spark.sql(s"INSERT INTO ws_sql SELECT * FROM ws_src$i"))
        .foreach(l => assert(assertRescanned(root, l, statsCols).isEmpty))
    }
  }
}
