package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.LongType

/** `df` with a BIGINT column `name`: the running total, in `df`'s
  * partition order and including the row, of the non-null BIGINT column
  * `weight` (without one, the 1-based position). One job sums every
  * partition but the last (none for one partition) to offset the
  * partitions; rows stay internal. Creating the frame runs `df` as one
  * SQL execution, and every evaluation reads that computed RDD, so the
  * totals never change between evaluations. */
object RunningTotal {
  def append(df: DataFrame, name: String,
    weight: Option[String] = None): DataFrame = {
    val schema = df.schema.add(name, LongType, nullable = false)
    val at = weight.map(df.schema.fieldIndex)
    val qe = df.queryExecution
    val (rows, offsets) = SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rows = qe.toRdd
      val sums = if (rows.getNumPartitions < 2) Array.empty[Long]
        else rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) =>
          at.fold(it.size.toLong)(i => it.map(_.getLong(i)).sum),
          0 until rows.getNumPartitions - 1)
      (rows, sums.scanLeft(0L)(_ + _))
    }
    val out = rows.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val total = new GenericInternalRow(1)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(schema)
      var acc = offsets(p)
      it.map { r =>
        acc += at.fold(1L)(r.getLong)
        total.setLong(0, acc)
        proj(joined(r, total))
      }
    }
    df.sparkSession.asInstanceOf[ClassicSession]
      .internalCreateDataFrame(out, schema, false)
  }
}
