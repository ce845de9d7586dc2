package graft

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Round-14 coverage: positional-delete sidecars (the deletion-vector
  * move for low-selectivity DELETEs on straddling dirs) and the
  * strZKeyExpr/strZKeyOf bit-agreement property. */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private def walkBytes(root: String, sub: String => Boolean): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root, "data"))
      .filter(f => sub(f.getPath)).map(_.length).sum
  }

  test("positional delete writes O(matched) bytes, reads exactly, " +
    "stacks, time-travels, and folds under compaction") {
    val root = tmpDir() + "/pd-basic"
    val df = (1L to 100000L).map(i => (i, i % 1000, s"payload-$i"))
      .toDF("k", "g", "s")
    TxTable.append(df, root, statsCols = Seq("k"))
    val dataBytes = walkBytes(root, !_.contains("_pdel-"))
    // 0.1%-selectivity scattered delete: every hundredth k-millennium
    TxTable.deleteWhere(spark, root, "k % 1000 = 0", positional = true)
    val pdBytes = walkBytes(root, _.contains("_pdel-"))
    assert(pdBytes > 0 && pdBytes * 20 < dataBytes,
      s"sidecars must be O(matched): pd=$pdBytes data=$dataBytes")
    val got = TxTable.read(spark, root)
    assert(got.count() === 99900L)
    assert(got.filter($"k" % 1000 === 0).count() === 0L)
    // COUNT(*) metadata stays exact (the `_rows` stat is adjusted)
    assert(TxTable.rowCount(spark, root) === Some(99900L))
    // time travel to v1 still serves the pre-delete snapshot
    assert(TxTable.read(spark, root, version = 1).count() === 100000L)
    // a second delete stacks its own sidecar
    TxTable.deleteWhere(spark, root, "k % 1000 = 1", positional = true)
    assert(TxTable.read(spark, root).count() === 99800L)
    assert(TxTable.rowCount(spark, root) === Some(99800L))
    // re-deleting already-dead rows commits a no-op, never
    // double-subtracts `_rows`
    TxTable.deleteWhere(spark, root, "k % 1000 = 0", positional = true)
    assert(TxTable.rowCount(spark, root) === Some(99800L))
    // min/max metadata refuses (bounds may be unattained) while
    // COUNT stays served
    val agg = TxTable.metadataAgg(spark, root, -1, Seq("k"), Seq.empty)
    assert(agg.isDefined && agg.get._1 === 99800L && agg.get._2.isEmpty)
    // compaction folds the deletes into clean dirs: same rows, exact
    // min/max metadata restored
    TxTable.compactSnapshot(spark, root)
    assert(TxTable.read(spark, root).count() === 99800L)
    assert(TxTable.read(spark, root).filter($"k" % 1000 <= 1)
      .count() === 0L)
    val agg2 = TxTable.metadataAgg(spark, root, -1, Seq("k"), Seq.empty)
    assert(agg2.get._2.nonEmpty, "compaction must restore range stats")
  }

  test("rewrite-style DML on pd dirs never resurrects deleted rows") {
    val root = tmpDir() + "/pd-dml"
    TxTable.append((1L to 2000L).map(i => (i, i * 10)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    TxTable.deleteWhere(spark, root, "k <= 100", positional = true)
    // copy-on-write UPDATE rewrites the dir: folded rows must exclude
    // the positionally-deleted ones
    TxTable.updateWhere(spark, root, "k = 200", Map("v" -> "v + 1"))
    val after = TxTable.read(spark, root)
    assert(after.count() === 1900L)
    assert(after.filter($"k" <= 100).count() === 0L)
    assert(after.filter($"k" === 200).select("v").collect()
      .map(_.getLong(0)).toSeq === Seq(2001L))
    // rewrite-mode delete on a pd dir folds the sidecar too
    TxTable.deleteWhere(spark, root, "k > 1900")
    val fin = TxTable.read(spark, root)
    assert(fin.count() === 1800L &&
      fin.filter($"k" <= 100 || $"k" > 1900).count() === 0L)
  }

  test("the SPJ clustering proof refuses pd-carrying snapshots loudly") {
    val root = tmpDir() + "/pd-spj"
    val df = (1L to 3000L).map(i => (i, i % 6)).toDF("k", "b")
    TxTable.appendPartitioned(df, root, "b")
    // a real scan (count(*) alone would be answered EXACTLY from the
    // adjusted `_rows` metadata without ever planning the SPJ scan)
    def spjSum(): Long = spark.read.format("graft-tx")
      .option("partitionCol", "b").load(root)
      .agg(sum($"k")).collect()(0).getLong(0)
    // provable before the delete
    assert(spjSum() === (1L to 3000L).sum)
    TxTable.deleteWhere(spark, root, "k % 500 = 0", positional = true)
    // the SPJ readers scan raw files and never apply sidecars -- the
    // proof must refuse rather than serve deleted rows
    val e = intercept[Exception] { spjSum() }
    assert(e.getMessage.contains("not provably partition-clustered"),
      e.getMessage)
    // but grouped COUNT metadata stays exact (rows adjusted, purity
    // proofs survive deletion)
    val g = TxTable.metadataGroupedAgg(spark, root, -1, Seq("b"), Seq.empty)
    val expect = (1L to 3000L).filterNot(_ % 500 == 0).groupBy(_ % 6)
      .map { case (b, ks) => (b, ks.size.toLong) }
    assert(g.isDefined && g.get.map(t =>
      (t._1.head.asInstanceOf[Long], t._2)).toMap === expect)
    // approx grouped NDV refuses (sketches still contain deleted rows)
    assert(TxTable.metadataGroupedNdv(spark, root, -1, Seq("b"), "k")
      .isEmpty)
  }

  test("a positional delete matching more rows than the entry " +
    "records fails loudly and stages nothing") {
    val root = tmpDir() + "/pd-overcount"
    TxTable.append((1L to 100L).map(k => (k, s"p$k")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    // an entry whose `_rows` under-counts its dir: 100 rows, 10 recorded
    val commit = java.nio.file.Paths.get(root, "_commits", "v00000001")
    val text = new String(java.nio.file.Files.readAllBytes(commit), "UTF-8")
    assert(text.contains("|_rows=100:100|"))
    java.nio.file.Files.write(commit,
      text.replace("|_rows=100:100|", "|_rows=10:10|").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "_commits", ".v00000001.crc"))
    val e = intercept[IllegalStateException] {
      TxTable.deleteWhere(spark, root, "k <= 50", positional = true)
    }
    assert(e.getMessage.contains("matched 50 rows"), e.getMessage)
    assert(TxTable.latestVersion(spark, root) === 1)
    assert(walkBytes(root, _.contains("_pdel-")) === 0L)
    assert(TxTable.read(spark, root).count() === 100L)
  }

  test("a merge-on-read SQL DELETE matching more rows than the entry " +
    "records fails loudly and stages nothing") {
    val root = tmpDir() + "/pd-overcount-sql"
    TxTable.append((1L to 100L).map(k => (k, s"p$k")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    val commit = java.nio.file.Paths.get(root, "_commits", "v00000001")
    val text = new String(java.nio.file.Files.readAllBytes(commit), "UTF-8")
    assert(text.contains("|_rows=100:100|"))
    java.nio.file.Files.write(commit,
      text.replace("|_rows=100:100|", "|_rows=10:10|").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "_commits", ".v00000001.crc"))
    spark.sql("DROP TABLE IF EXISTS pd_overcount_sql")
    spark.sql("CREATE TABLE pd_overcount_sql USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.graft.dml.positional", "true")
    // `k % 2 = 0` does not translate: the SupportsDelta write path
    val e = try intercept[Exception] {
      spark.sql("DELETE FROM pd_overcount_sql WHERE k % 2 = 0")
    } finally spark.conf.unset("spark.graft.dml.positional")
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" / ")
    assert(msgs.contains("matched 50 rows") &&
      msgs.contains("refusing to commit over inconsistent"), msgs)
    assert(TxTable.latestVersion(spark, root) === 1)
    assert(walkBytes(root, _.contains("_pdel-")) === 0L)
    assert(TxTable.read(spark, root).count() === 100L)
    spark.sql("DROP TABLE pd_overcount_sql")
  }

  test("a positional delete costs the same Spark jobs on 4 straddling " +
    "dirs as on 8") {
    def jobs(n: Int): Int = {
      val root = tmpDir() + s"/pd-jobs-$n"
      (0 until n).foreach { i =>
        TxTable.append((i * 10L until i * 10L + 10L).map(k => (k, s"s$k"))
          .toDF("k", "s"), root, statsCols = Seq("k"))
      }
      val j = jobsDuring(
        TxTable.deleteWhere(spark, root, "k % 3 = 0", positional = true))
      // every dir straddles: all opened, all receive a sidecar
      assert(TxTable.read(spark, root).count() === n * 10L - (0L until
        n * 10L).count(_ % 3 == 0))
      assert(new java.io.File(root, "data").listFiles.map(d =>
        Option(d.list).toSeq.flatten.count(_.startsWith("_pdel-"))).sum === n)
      j
    }
    jobs(4) // warm-up: first-use planning work is not per dir
    val (j4, j8) = (jobs(4), jobs(8))
    assert(j4 === j8, s"$j4 jobs on 4 dirs, $j8 on 8")
  }

  test("the change feed emits D rows for a positional-delete commit") {
    val root = tmpDir() + "/pd-cdc"
    TxTable.mergeDelta(spark, root, (1L to 50L).map(k =>
      (k, "I", k * 1.0, k)).toDF("k", "op", "v", "seq"))
    TxTable.compactSnapshot(spark, root)
    val v0 = TxTable.latestVersion(spark, root)
    TxTable.deleteWhere(spark, root, "k % 10 = 3", positional = true)
    val ch = TxTable.changes(spark, root, v0)
    val ds = ch.filter($"op" === "D").select("k").collect()
      .map(_.getLong(0)).toSet
    assert(ds === (1L to 50L).filter(_ % 10 == 3).toSet, ds.toString)
    assert(ch.filter($"op" =!= "D").count() === 0L)
  }

  test("clones serve positional deletes through borrowed dirs; bloom " +
    "reads never resurrect") {
    val root = tmpDir() + "/pd-clone-src"
    TxTable.append((1L to 5000L).map(i => (i, i % 7)).toDF("k", "x"),
      root, statsCols = Seq("k"))
    TxTable.deleteWhere(spark, root, "k % 100 = 0", positional = true)
    val dst = tmpDir() + "/pd-clone-dst"
    TxTable.cloneAt(spark, root, dst)
    assert(TxTable.read(spark, dst).count() === 4950L)
    assert(TxTable.read(spark, dst).filter($"k" % 100 === 0).count() === 0L)
    // bloom-filtered point reads apply the sidecars too
    TxTable.buildBloomIndex(spark, root, "k")
    val probes = Seq(100L, 101L, 200L, 333L)
    val hit = TxTable.readBloomFiltered(spark, root, "k", probes)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(hit === Set(101L, 333L), hit.toString)
  }

  test("strZKeyOf computes bit-for-bit the same key as strZKeyExpr") {
    val R = graft.operators.Relational
    val samples = Seq("", "a", "abc", "2026-07-14", "2026-07-15",
      "zzzz-prefix-shared-tail-1", "zzzz-prefix-shared-tail-2",
      "sho", "short", "exactly8b", "nine-byte", "\u00e9l\u00e8ve",
      "\ud83d\ude00emoji", "\ufffd-replacement", "0", "~max~ascii~")
    for (skip <- Seq(0, 3, 8)) {
      val df = samples.toDF("s")
        .selectExpr("s", R.strZKeyExpr("s", skip) + " as zk")
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      samples.foreach { x =>
        assert(got(x) === R.strZKeyOf(x, skip),
          s"disagreement on '$x' skip=$skip")
      }
    }
  }
}
