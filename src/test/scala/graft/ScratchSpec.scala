package graft

import graft.operators.Dedup

/** Cluster-portability of the memoized scratch artifacts (graft.Scratch):
  * the graph family's persisted edge/node relations must live on the
  * configured Hadoop-FS scratch root — never on a bare
  * `java.io.tmpdir` driver path — and must rebuild when the data under
  * the input path changes within one session. */
class ScratchSpec extends SparkSpec {

  private val artifactKeys =
    Seq("spangrams", "srcedges", "srcnodes", "wordedges", "wordnodes")

  /** graph-family artifacts parked under bare java.io.tmpdir (the
    * pre-portability naming `graft-<key>-<hash>`). */
  private def legacyTmp(): Seq[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).toSeq.map(_.getName)
      .filter(n => artifactKeys.exists(k => n.startsWith(s"graft-$k-")))

  test("graph-family queries read scratch artifacts from the configured FS URI") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-scratchfs").toString
    spark.conf.set("spark.graft.scratchDir", scratch)
    // sweep leftovers older runs (pre-fix code) parked in tmpdir so
    // the no-fallback assert below only sees THIS run's behavior
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    legacyTmp().foreach(n =>
      rmTree(new java.io.File(sys.props("java.io.tmpdir"), n)))
    try {
      for (q <- Seq("q_pagerank", "q_communities", "q_hits", "q_textrank")) {
        val df = SparkEntry.queries(q)(spark, sfDir)
        assert(df.count() > 0, s"$q returned no rows")
      }
      // the artifact READ is a plain parquet scan rooted on the
      // configured scratch FS — what an executor on another node
      // would resolve (the final DFs rebase lineage on RDDs, so the
      // artifact relation, not the query output, carries the files)
      spark.catalog.clearCache() // drop persist() substitutions so the
      // artifact read is the plain file scan an executor would plan
      val grams = Dedup.spanGrams(spark, sfDir)
      assert(grams.inputFiles.nonEmpty)
      assert(grams.inputFiles.forall(
        _.replace("file:///", "file:/").startsWith("file:" + scratch)),
        s"artifact files off the scratch FS: ${grams.inputFiles.toSeq}")
      // every memoized relation the four queries derive landed there
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val rels = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
        .map(_.getPath.getName).filter(_.startsWith("rel-")).toSet
      for (k <- artifactKeys)
        assert(rels.exists(_.startsWith(s"rel-$k-")),
          s"artifact $k missing under scratch root; present: $rels")
      // and none fell back to the legacy driver-local tmpdir naming
      val legacy = legacyTmp()
      assert(legacy.isEmpty, s"legacy tmpdir artifacts: ${legacy.toSeq}")
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("rewriting the input under the same path rebuilds the artifact") {
    val d = tmpDir()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sources = docs.select("source").distinct()
      .collect().map(_.getString(0)).sorted
    assert(sources.length >= 3, "need >=3 sources for the stale test")

    def writeSubset(k: Int): Unit =
      docs.filter(org.apache.spark.sql.functions.col("source")
          .isin(sources.take(k).map(_.asInstanceOf[Any]): _*))
        .write.mode("overwrite").parquet(s"$d/documents.parquet")

    writeSubset(3)
    assert(Dedup.sourceRank(spark, d).count() === 3L)
    // same path, new content: a path-keyed cache would return the
    // 3-source artifact; the content-versioned key must rebuild
    writeSubset(1)
    assert(Dedup.sourceRank(spark, d).count() === 1L)
  }

  test("an artifact read carries its written schema and starts no job") {
    val grams = Dedup.spanGrams(spark, sfDir) // builds or reuses it
    val dir = new org.apache.hadoop.fs.Path(grams.inputFiles.head).getParent
    // the schema inference would give the artifact's files
    assert(grams.schema === spark.read.parquet(dir.toString).schema)
    // and no footer-reading inference job on a memoized read
    assert(jobsDuring(Dedup.spanGrams(spark, sfDir)) === 0)
  }

  test("cleaning up one owner leaves another owner's artifact readable") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-owners").toString
    val d = tmpDir()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.parquet(s"$d/documents.parquet")
    withConf("spark.graft.scratchDir" -> scratch) {
      val mine = new Path(Dedup.spanGrams(spark, d).inputFiles.head).getParent
      val fs = mine.getFileSystem(spark.sessionState.newHadoopConf())
      val n = spark.read.parquet(mine.toString).count()
      // another JVM's copies of the same artifact: the same content
      // version, and a version this JVM would call superseded
      val name = mine.getName
      assert(name.endsWith(s"-${Scratch.owner}"), name)
      val key = name.stripSuffix(s"-${Scratch.owner}")
      val theirs = new Path(mine.getParent, s"$key-0ther000")
      val theirsOld = new Path(mine.getParent,
        key.take(key.lastIndexOf('-')) + "-0-0ther000")
      for (t <- Seq(theirs, theirsOld))
        FileUtil.copy(fs, mine, fs, t, false, spark.sessionState.newHadoopConf())
      // a rewritten input: this JVM sweeps only its own old version
      docs.limit(50).write.mode("overwrite").parquet(s"$d/documents.parquet")
      val mine2 = new Path(Dedup.spanGrams(spark, d).inputFiles.head).getParent
      assert(mine2 != mine)
      assert(!fs.exists(mine) && fs.exists(theirs) && fs.exists(theirsOld))
      // this JVM's exit cleanup deletes only what it built
      Scratch.cleanup(_.toString.contains(scratch))
      assert(!fs.exists(mine2))
      assert(spark.read.parquet(theirs.toString).count() === n)
      assert(spark.read.parquet(theirsOld.toString).count() === n)
    }
  }
}
