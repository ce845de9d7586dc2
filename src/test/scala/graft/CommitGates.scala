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
    "streamPartGateQuery" -> (TxTable.streamPartGateQuery _))

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
