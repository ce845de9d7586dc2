package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution

/** `df` re-based on its computed RDD: a leaf scan to Catalyst, so an
  * iterative plan that feeds each round's output into the next keeps a
  * flat lineage instead of re-planning a tree that grows every round.
  * The rows stay internal (no boxing through `Row`), and planning `df`
  * runs as one SQL execution of its own plan, so the stages it runs
  * then (AQE's shuffles) reach the SQL listeners. */
object Rebase {
  def apply(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("rebase"))(qe.toRdd)
    df.sparkSession.asInstanceOf[ClassicSession]
      .internalCreateDataFrame(rows, df.schema, false)
  }
}
