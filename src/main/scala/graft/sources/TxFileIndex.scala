package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.graft.FilterTranslation
import org.apache.spark.sql.types.StructType

/** The data files of a group of graft-tx dirs as Spark's own
  * `FileIndex`: a relation over it plans as ONE native parquet scan,
  * with no per-read `DataSource` resolution and no `InMemoryFileIndex`
  * listing. `listFiles` runs the commit stats' dir triage on the scan's
  * translated data filters and returns the surviving dirs' files, each
  * dir listed once per JVM ([[TxTable.dataFiles]]). It is the scan under
  * each snapshot operator; equal dir groups are equal indexes, so equal
  * reads plan equal scans (cache and exchange reuse). */
private[graft] final class TxFileIndex private (fs: FileSystem, rp: Path,
  es: Seq[TxTable.Entry]) extends FileIndex {

  private val key = (rp.toString, es.map(_.dir))

  private def files(es: Seq[TxTable.Entry]): Seq[FileStatus] = {
    val byDir = TxTable.dataFiles(fs, rp, es.map(_.dir))
    es.flatMap(e => byDir.getOrElse(e.dir, Seq.empty))
  }

  override def rootPaths: Seq[Path] = es.map(e => new Path(rp, e.dir))
  override def listFiles(partitionFilters: Seq[Expression],
    dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files(TxTable.surviving(
      dataFilters.flatMap(FilterTranslation.translate), es)).toArray))
  override def inputFiles: Array[String] =
    files(es).map(_.getPath.toString).toArray
  override def sizeInBytes: Long = TxTable.entryBytes(fs, rp, es).sum
  override def refresh(): Unit = ()
  override def partitionSchema: StructType = new StructType()

  override def equals(o: Any): Boolean = o match {
    case i: TxFileIndex => i.key == key
    case _ => false
  }
  override def hashCode: Int = key.hashCode
}

private[graft] object TxFileIndex {
  /** An index fixed to the dirs of `es`. */
  private[sources] def apply(fs: FileSystem, rp: Path,
    es: Seq[TxTable.Entry]): TxFileIndex = new TxFileIndex(fs, rp, es)

  /** Spark's own parquet scan of `index`'s files, read as `schema`. */
  def frame(spark: SparkSession, index: TxFileIndex,
    schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      schema, None, new TxParquetFormat, Map.empty)(spark))
}
