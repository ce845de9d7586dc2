package graft

import org.apache.spark.sql.SparkSession

/** Runs the graft-tx write gates so two builds' commit logs can be
  * compared line by line:
  *
  * {{{
  * sbt "Test/runMain graft.CommitGates <sfDir> <scratchDir> [gate,...]"
  * python3 scripts/diff_commits.py <scratchDirA> <scratchDirB>
  * }}}
  *
  * Each gate writes its tables under `<scratchDir>/<gate>` (gates that
  * open their own session write directly under `<scratchDir>`), at
  * `local[1]` so two runs of one build commit the same bytes. The JVM
  * ends in `halt(0)`, which skips the exit hook that would delete the
  * gate tables. A gate that throws is reported as `[gates] <name>
  * failed` and the run goes on.
  */
object CommitGates {
  import graft.sources.TxTable

  private val gates: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "deleteGateQuery" -> (TxTable.deleteGateQuery _),
    "updateGateQuery" -> (TxTable.updateGateQuery _),
    "pdeleteGateQuery" -> (TxTable.pdeleteGateQuery _),
    "manifestGateQuery" -> (TxTable.manifestGateQuery _),
    "sqlDmlGateQuery" -> ((s, d) => TxTable.sqlDmlGateQuery(s, d)),
    "sqlDmlGateQueryPositional" ->
      ((s, d) => TxTable.sqlDmlGateQuery(s, d, positional = true)),
    "mergeIntoGateQuery" -> (TxTable.mergeIntoGateQuery _),
    "cdcGateQuery" -> (TxTable.cdcGateQuery _),
    "changesSqlGateQuery" -> (TxTable.changesSqlGateQuery _),
    "zoptGateQuery" -> (TxTable.zoptGateQuery _),
    "zoptIncrGateQuery" -> (TxTable.zoptIncrGateQuery _),
    "optimizeGateQuery" -> (TxTable.optimizeGateQuery _),
    "overwritePartGateQuery" -> (TxTable.overwritePartGateQuery _),
    "tagGateQuery" -> (TxTable.tagGateQuery _),
    "addColGateQuery" -> (TxTable.addColGateQuery _),
    "addColDefaultGateQuery" -> (TxTable.addColDefaultGateQuery _),
    "renameGateQuery" -> (TxTable.renameGateQuery _),
    "checkConstraintGateQuery" -> (TxTable.checkConstraintGateQuery _),
    "analyzeGateQuery" -> (TxTable.analyzeGateQuery _),
    "sqlMaintGateQuery" -> (TxTable.sqlMaintGateQuery _),
    "bucketSpjShuffleGateQuery" -> (TxTable.bucketSpjShuffleGateQuery _),
    "streamPartGateQuery" -> (TxTable.streamPartGateQuery _),
    "faces" -> (faces _))

  /** The commit faces no gate above reaches — `overwrite`, `merge`,
    * `compactDirs`, `compactSnapshot`, `restore`, `cloneAt`, a
    * replacing `appendBucketedBy`, `dropCheckConstraint`, `dropColumn`,
    * the tagged appends, a streamed partitioned epoch into a
    * renamed-column table, and SQL `INSERT` plus a dynamic `INSERT
    * OVERWRITE` on a string-`PARTITIONED BY` table — on small generated
    * tables, one root per face group under `<scratchDir>/faces`. */
  private def faces(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = spark.conf.get("spark.graft.scratchDir")
    def t(name: String) = s"$base/$name"
    val rows = spark.range(0, 400).select(col("id").as("k"),
      (col("id") % 7).as("p"), (col("id") * 1.5).as("v"))
    def slice(lo: Long, hi: Long) = rows.filter(col("k") >= lo && col("k") < hi)
    def changes(lo: Long, hi: Long, op: String, seq: Long) = slice(lo, hi)
      .select(col("k"), lit(op).as("op"), (col("v") + 1).as("v"),
        (col("k") + seq).as("seq"))

    // plain appends of uneven sizes, folded, overwritten, restored and
    // cloned (clone entries name the source's dirs by absolute path)
    Seq((0L, 200L), (200L, 220L), (220L, 230L), (230L, 260L), (260L, 262L))
      .foreach { case (lo, hi) =>
        TxTable.append(slice(lo, hi), t("plain"), statsCols = Seq("k")) }
    TxTable.compactDirs(spark, t("plain"), maxDirs = 3)
    TxTable.overwrite(slice(0, 50), t("plain"), statsCols = Seq("k"))
    TxTable.restore(spark, t("plain"), 6)
    TxTable.cloneAt(spark, t("plain"), t("clone"), version = 6)
    TxTable.append(slice(300, 310), t("clone"))
    TxTable.compactDirs(spark, t("clone"), maxDirs = 1)

    // keyed: copy-on-write merges, a tagged delta, then the fold
    TxTable.merge(spark, t("keyed"), changes(0, 100, "I", 0))
    TxTable.merge(spark, t("keyed"), changes(50, 150, "U", 1000))
    TxTable.mergeDelta(spark, t("keyed"), changes(90, 120, "D", 2000),
      batchId = Some(0L), streamId = "faces")
    TxTable.compactSnapshot(spark, t("keyed"))

    // bucketed: append, replace, and the bucket-preserving fold
    TxTable.appendBucketedBy(slice(0, 200), t("bucket"), "k", 4,
      statsCols = Seq("p"))
    TxTable.appendBucketedBy(slice(100, 300), t("bucket"), "k", 4,
      statsCols = Seq("p"), replace = true)
    TxTable.compactSnapshot(spark, t("bucket"))

    // tagged appends, constraints and column DDL
    TxTable.appendPartitionedBy(slice(0, 100), t("ddl"), Seq("p"))
    TxTable.appendBatch(slice(100, 150), t("ddl"), batchId = 0L,
      streamId = "faces")
    TxTable.addCheckConstraint(spark, t("ddl"), "k_nonneg", "k >= 0")
    TxTable.appendChecked(slice(150, 160), t("ddl"), notNull = Seq("k"))
    TxTable.dropCheckConstraint(spark, t("ddl"), "k_nonneg")
    TxTable.addColumn(spark, t("ddl"), "extra",
      org.apache.spark.sql.types.LongType)
    TxTable.dropColumn(spark, t("ddl"), "v")

    // a streamed partitioned epoch into a column-mapped table: the
    // stream speaks the renamed logical names
    TxTable.appendPartitionedBy(slice(0, 100), t("streamed"), Seq("p"),
      statsCols = Seq("k"))
    TxTable.renameColumn(spark, t("streamed"), "v", "val")
    slice(100, 160).withColumnRenamed("v", "val").coalesce(1)
      .write.parquet(t("streamed-src"))
    spark.readStream.schema(slice(0, 0).withColumnRenamed("v", "val").schema)
      .parquet(t("streamed-src"))
      .writeStream.format("graft-tx").option("path", t("streamed"))
      .option("partitionBy", "p").option("statsCols", "k")
      .option("checkpointLocation", t("streamed-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

    // SQL INSERT, then a dynamic INSERT OVERWRITE, on a STRING key
    slice(0, 200).select(col("k"), col("p").cast("string").as("p"),
      col("v")).createOrReplaceTempView("faces_src")
    spark.sql("CREATE TABLE faces_part (k BIGINT, p STRING, v DOUBLE) " +
      s"USING `graft-tx` PARTITIONED BY (p) OPTIONS (path '${t("sqlPart")}')")
    try {
      spark.sql("INSERT INTO faces_part SELECT k, p, v FROM faces_src")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql("INSERT OVERWRITE faces_part " +
        "SELECT k, p, v + 1 FROM faces_src WHERE p IN ('2', '3')")
    } finally {
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      spark.sql("DROP TABLE faces_part")
      spark.catalog.dropTempView("faces_src")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, scratchDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.scratchDir", scratchDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    gates.filter { case (n, _) => only.forall(_.contains(n)) }.foreach {
      case (name, gate) =>
        spark.conf.set("spark.graft.scratchDir", s"$scratchDir/$name")
        try {
          gate(spark, sfDir) match {
            case df: org.apache.spark.sql.DataFrame => df.collect()
            case _ => ()
          }
          println(s"[gates] $name ok")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"[gates] $name failed: ${e.getMessage}")
        }
    }
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
