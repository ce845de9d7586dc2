package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import graft.sources.TxTable

/** Commits to the table on the first evaluation of the column it
  * wraps: a source that makes the write reading it lose its claim. */
object StagingSpecHook {
  @volatile var session: SparkSession = _
  @volatile var root: String = _
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)

  val commitOnce = udf { (k: Long) =>
    if (fired.compareAndSet(false, true))
      TxTable.dropCheckConstraint(session, root, "k_nonneg")
    k
  }.asNondeterministic()
}

/** A write that does not commit leaves no staged bytes behind: after a
  * refused commit, a throwing pre-commit check or a lost claim, the
  * version is unchanged and every dir under `data/` and every file
  * under `_manifests/` is one some version references. */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def commitFile(root: String, v: Int) =
    java.nio.file.Paths.get(root, "_commits", f"v$v%08d")

  /** Duplicate commit `v`'s first entry line, so any commit carrying it
    * is refused before its claim. */
  private def forgeDuplicate(root: String, v: Int): Unit = {
    val p = commitFile(root, v)
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val entry = text.split("\n").find(_.startsWith("dir:")).get
    java.nio.file.Files.write(p,
      (text.stripSuffix("\n") + "\n" + entry).getBytes("UTF-8"))
  }

  private def listNames(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))

  /** Top-level `data/` dirs and `_manifests/` files no version names. */
  private def unreferenced(root: String): Seq[String] = {
    val versions = listNames(new java.io.File(root, "_commits"))
      .filter(_.matches("v\\d+"))
    val lines = versions.flatMap { v =>
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_commits", v)), "UTF-8").split("\n")
    }
    val manifests = lines.filter(_.startsWith("include:")).map(_.drop(8))
    val entries = lines ++ manifests.flatMap { m =>
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, m)), "UTF-8").split("\n")
    }
    val dirs = entries.collect {
      case l if l.startsWith("dir:") || l.startsWith("delta:") =>
        l.dropWhile(_ != ':').drop(1).takeWhile(_ != '|')
    }
    val data = listNames(new java.io.File(root, "data")).map("data/" + _)
      .filterNot(d => dirs.exists(e => e == d || e.startsWith(d + "/")))
    val mfs = Option(new java.io.File(root, "_manifests").listFiles())
      .toSeq.flatten.map("_manifests/" + _.getName)
      .filterNot(n => n.startsWith("_manifests/.") || manifests.contains(n))
    data ++ mfs
  }

  private def assertClean(root: String, version: Int): Unit = {
    assert(TxTable.latestVersion(spark, root) === version)
    assert(unreferenced(root).isEmpty,
      s"staged bytes left behind: ${unreferenced(root).mkString(", ")}")
  }

  test("a refused append leaves no staged dir") {
    val root = tmpDir() + "/refused-append"
    TxTable.append((1L to 10L).toDF("k"), root, statsCols = Seq("k"))
    forgeDuplicate(root, 1)
    val e = intercept[IllegalStateException] {
      TxTable.append((11L to 20L).toDF("k"), root, statsCols = Seq("k"))
    }
    assert(e.getMessage.contains("appears twice"), e.getMessage)
    assertClean(root, 1)
  }

  test("an append batch whose pre-commit check throws leaves no staged dir") {
    val root = tmpDir() + "/precommit-batch"
    TxTable.append((1L to 10L).toDF("k"), root)
    intercept[IllegalArgumentException] {
      TxTable.appendBatch((11L to 20L).toDF("k"), root, batchId = 0L,
        preCommit = _ => throw new IllegalArgumentException("refused"))
    }
    assertClean(root, 1)
  }

  test("a refused mergeDelta leaves no staged delta dir") {
    val root = tmpDir() + "/refused-delta"
    TxTable.append((1L to 10L).map(k => (k, k * 1.5)).toDF("k", "v"), root)
    forgeDuplicate(root, 1)
    intercept[IllegalStateException] {
      TxTable.mergeDelta(spark, root,
        Seq((1L, "U", 2.0, 1L)).toDF("k", "op", "v", "seq"))
    }
    assertClean(root, 1)
  }

  test("a refused partitioned append leaves no staged dir") {
    val root = tmpDir() + "/refused-part"
    val rows = (1L to 12L).map(k => (k % 3, k)).toDF("p", "k")
    TxTable.appendPartitionedBy(rows, root, Seq("p"))
    forgeDuplicate(root, 1)
    intercept[IllegalStateException] {
      TxTable.appendPartitionedBy(rows, root, Seq("p"))
    }
    assertClean(root, 1)
  }

  test("a partitioned staged promote whose pre-commit check throws " +
    "leaves no promoted dir") {
    import org.apache.spark.sql.Row
    val root = tmpDir() + "/precommit-promote"
    TxTable.appendPartitionedBy(Seq((1L, 1L)).toDF("day", "k"), root,
      Seq("day"))
    val schema = TxTable.read(spark, root).schema
    val staged = stageRows(root + "/_staging/s/epoch-0/part-0-0", schema,
      Seq("day"), Seq(Row(1L, 10L), Row(2L, 20L)))
    intercept[IllegalArgumentException] {
      TxTable.promotePartitioned(spark, root,
        TxTable.staging(spark, root, schema, Seq("day")), staged,
        epoch = Some(TxTable.Epoch("s", 0L,
          _ => throw new IllegalArgumentException("refused"))))
    }
    assertClean(root, 1)
  }

  test("a merge that loses its claim deletes the losing attempt's dir") {
    val root = tmpDir() + "/lost-merge"
    TxTable.merge(spark, root,
      (1L to 10L).map(k => (k, "I", k * 1.0, k)).toDF("k", "op", "v", "seq"))
    TxTable.addCheckConstraint(spark, root, "k_nonneg", "k >= 0")
    StagingSpecHook.session = spark
    StagingSpecHook.root = root
    StagingSpecHook.fired.set(false)
    val changes = Seq((1L, "U", 5.0, 11L), (11L, "I", 11.0, 12L))
      .toDF("k", "op", "v", "seq")
      .withColumn("k", StagingSpecHook.commitOnce(col("k")))
    // v3 (the constraint drop) lands during the merge's first attempt,
    // whose claim of v3 then loses; the retry commits v4
    assert(TxTable.merge(spark, root, changes) === 4)
    assert(StagingSpecHook.fired.get)
    assert(TxTable.read(spark, root).count() === 11L)
    assertClean(root, 4)
  }
}
