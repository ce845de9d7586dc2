package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, GeneralScalarExpression, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL row-level DML (`DELETE FROM` / `UPDATE` / `MERGE INTO`) for
  * catalog `graft-tx` tables, the group-based copy-on-write shape of
  * Spark's connector row-level API (SupportsRowLevelOperations).
  *
  * Spark owns ALL of the SQL semantics: `RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` rebuild the command
  * as a ReplaceData plan — scan the affected groups, compute the
  * surviving/updated rows (NULL-safe keep predicates, aligned
  * assignments, WHEN-clause instrumentation, the MERGE cardinality
  * check), write them back — and graft owns only what a table format
  * must: which GROUPS a condition can touch, how their visible rows
  * read, and how the replacement commits atomically. The group here
  * is the commit-entry DIR (the table's immutable layout unit):
  *
  *  - SCAN ([[TxCowScanBuilder]]): the command's condition arrives
  *    through `pushFilters` (GroupBasedRowLevelOperationScanPlanning).
  *    Filters are used ONLY to refute whole dirs against the per-dir
  *    commit stats — the exact `deleteWhere` triage — never to drop
  *    rows: a group-based rewrite must emit EVERY row of a surviving
  *    dir or the non-matching rows of that dir would vanish from the
  *    table. Positional-delete sidecars are folded in the readers, so
  *    dead rows neither reappear nor get rewritten.
  *  - WRITE ([[TxCowBatchWrite]]): executors stage the replacement
  *    rows as parquet files under `_staging/` ([[TxStagedWriter]],
  *    the one writer of every DSv2 write face) in PHYSICAL column
  *    names; the driver commit swaps exactly the scanned dirs for the
  *    staged data in one OCC commit ([[TxTable.cowCommit]]),
  *    verifying the scanned entry lines are byte-identical at claim
  *    time — a concurrent
  *    writer that touched an affected dir aborts the DML loudly
  *    instead of silently losing its commit.
  *
  * Plain translatable DELETEs never reach this path: the catalog
  * table also implements SupportsDeleteV2, and Spark's
  * OptimizeMetadataOnlyDeleteFromTable routes them to
  * [[TxTable.deleteWhere]] (whole-dir drops, then per-dir rewrites —
  * or sidecars under `spark.graft.dml.positional` — with no
  * full-table job).
  *
  * Reference analog: the warehouse rewrote partitions in place via
  * job output promotion (src/mapred/org/apache/hadoop/mapred/
  * FileOutputCommitter.java:1); here the "partition" is the commit
  * dir and promotion is the OCC entry-line swap. */
class GraftRowLevelOperation(root: String, logicalSchema: StructType,
  cmd: Command) extends RowLevelOperation {

  /** Set by the scan build (planning time), read by the write commit:
    * the snapshot version, affected dirs and their exact entry lines
    * this operation scanned. One operation instance spans scan and
    * write — the RowLevelOperationTable contract. */
  @volatile private[sources] var plan: Option[TxTable.CowPlan] = None

  /** Runtime group filter (Spark's RowLevelOperationRuntimeGroupFiltering
    * feeds the main scan an `IN (__graft_dir, …)` of the dirs that
    * actually CONTAIN matching rows). The commit must swap exactly the
    * dirs whose rows were scanned and rewritten — so the keep set
    * narrows both the scan's partitions and the plan the write commits
    * against; a dir pruned here keeps its rows untouched, which is
    * sound precisely because it is not swapped. Intersected across
    * calls (re-planning can only narrow, never widen). */
  @volatile private[sources] var runtimeKeep: Option[Set[String]] = None

  private[sources] def narrowTo(dirs: Set[String]): Unit =
    runtimeKeep = Some(runtimeKeep.fold(dirs)(_ intersect dirs))

  /** The plan the write must commit: the scanned plan minus any
    * runtime-pruned dirs. */
  private[sources] def effectivePlan: TxTable.CowPlan = {
    val p = plan.getOrElse(throw new IllegalStateException(
      "graft-tx: row-level write before its scan was planned"))
    runtimeKeep.fold(p) { keep =>
      val pairs = p.affectedDirs.zip(p.affectedLines)
        .filter { case (d, _) => keep(d) }
      p.copy(affectedDirs = pairs.map(_._1),
        affectedLines = pairs.map(_._2),
        files = p.files.filter(f => keep(f.dir)))
    }
  }

  override def command(): Command = cmd

  /** The commit's op name. */
  private[sources] def opName: String = cmd match {
    case Command.DELETE => "sqldelete"
    case Command.UPDATE => "sqlupdate"
    case _ => "sqlmerge"
  }

  /** The source-dir metadata column. Declaring a required metadata
    * attribute is what routes execution through Spark's
    * DataAndMetadataWritingSparkTask — the path that applies the
    * rewrite's row projection before rows reach the DataWriter. With
    * NO metadata attrs, ReplaceDataExec falls back to the plain
    * writing task and hands the writer the RAW query output, which
    * still carries the `__row_operation` instruction column —
    * observed as rows shifted one field right. The dir name is also
    * genuinely useful: it is the operation's group identity. */
  override def requiredMetadataAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftTxCatalogTable.DirMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxCowScanBuilder(root, logicalSchema, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new TxCowBatchWrite(root, GraftRowLevelOperation.this, info)
      }
    }

  override def description(): String = s"graft-tx $cmd COW of $root"
}

/** Scan of the dirs a DML condition can touch. Pushed filters refute
  * dirs (stats triage); every filter is reported unhandled, so Spark
  * keeps full row semantics above — pruning is purely subtractive. */
class TxCowScanBuilder(root: String, fullSchema: StructType,
  op: GraftRowLevelOperation) extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = {
    val spark = SparkSession.active
    val plan = TxTable.cowPlan(spark, root, pushed.toSeq)
    op.plan = Some(plan)
    new TxCowScan(spark, plan, required, Some(op))
  }
}

/** Batch over the affected dirs' files: one partition per data file,
  * each carrying its dir's positional-delete sidecars so dead rows
  * are skipped at read (and therefore dropped by the rewrite — the
  * replacement dir is born sidecar-free).
  *
  * RUNTIME group filtering: Spark's
  * RowLevelOperationRuntimeGroupFiltering plans a subquery — the same
  * table filtered by the command's condition, projecting
  * `__graft_dir` — and hands the distinct result here as an IN
  * filter. Static pruning can only fire on literal predicates; this
  * is what keeps a MERGE (join condition, nothing pushable) from
  * rewriting every dir of a 100 TB table: only dirs that actually
  * CONTAIN matching rows are scanned, rewritten and swapped. The
  * keep set narrows the operation's committed plan too
  * ([[GraftRowLevelOperation.narrowTo]]) — a pruned dir is not
  * swapped, so its unscanned rows survive by construction. */
class TxCowScan(spark: SparkSession, plan: TxTable.CowPlan,
  required: StructType, op: Option[GraftRowLevelOperation])
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // standalone uses (the catalog scan serving a `__graft_dir`
  // projection, e.g. the runtime-group-filter subquery itself) have
  // no operation to narrow — runtime filters land scan-locally
  @volatile private var localKeep: Option[Set[String]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-tx COW scan of ${plan.affectedDirs.size} dir(s)"

  override def filterAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftTxCatalogTable.DirMetaCol))

  override def filter(
    filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val keeps = filters.collect {
      case In(c, vs) if c == GraftTxCatalogTable.DirMetaCol =>
        vs.collect {
          case s: String => s
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        }.toSet
      case EqualTo(c, v) if c == GraftTxCatalogTable.DirMetaCol &&
        v.isInstanceOf[String] => Set(v.asInstanceOf[String])
    }
    keeps.foreach { keep =>
      op match {
        case Some(o) => o.narrowTo(keep)
        case None =>
          localKeep = Some(localKeep.fold(keep)(_ intersect keep))
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val keepOpt = op.fold(localKeep)(_.runtimeKeep)
    val live = keepOpt.fold(plan.files)(keep =>
      plan.files.filter(f => keep(f.dir)))
    live.map { f =>
      TxCowInputPartition(f.path, f.dir, f.pdelFiles): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the `__graft_*` metadata columns (dir / file name / raw row
    // position) are served by the reader, not the file — Spark's
    // rewrites append them after the data columns
    val metaNames = required.fieldNames.filter(
      GraftTxCatalogTable.MetaCols.contains)
    val dataFields = required.fields.filterNot(f =>
      GraftTxCatalogTable.MetaCols.contains(f.name))
    require(required.fieldNames.takeRight(metaNames.length)
      .sameElements(metaNames),
      s"graft-tx: metadata columns must trail the data columns, got " +
        required.fieldNames.mkString(","))
    // physical file names in OUTPUT order — rows line up positionally
    val fileSchema = StructType(dataFields.map(f =>
      f.copy(name = TxTable.physNameOf(plan.colMap, f.name))))
    TxCowReaderFactory(fileSchema, metaNames.toSeq,
      TxParquetIO.shipped(spark.sessionState.newHadoopConf()),
      plan.addedCols, plan.addedDefaults)
  }
}

case class TxCowInputPartition(file: String, dir: String,
  pdelFiles: Seq[String]) extends InputPartition

case class TxCowReaderFactory(fileSchema: StructType, metaCols: Seq[String],
  conf: SerializableConfiguration, addedCols: Set[String] = Set.empty,
  addedDefaults: Map[String, Any] = Map.empty)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[TxCowInputPartition]
    new TxCowPartitionReader(cp.file, cp.pdelFiles, fileSchema, conf,
      metaCols, cp.dir, addedCols, addedDefaults)
  }
}

/** Reads one data file through [[TxParquetIO]], skipping the row
  * positions its dir's `pd:` sidecars recorded for THIS file name.
  * Positions are sequential read order — sound because the reader
  * applies no parquet filter (a row-group skip would shift them;
  * that is also why pushed filters are never handed to the file
  * readers on this path). Requested `__graft_*` metadata columns
  * are served joined after the data row (zero-copy JoinedRow; the
  * position is the RAW file index including sidecar-dead rows — the
  * exact coordinate the `pd:` grammar speaks). */
class TxCowPartitionReader(file: String, pdelFiles: Seq[String],
  schema: StructType, conf: SerializableConfiguration,
  metaCols: Seq[String] = Seq.empty, dir: String = "",
  addedCols: Set[String] = Set.empty,
  addedDefaults: Map[String, Any] = Map.empty)
  extends PartitionReader[InternalRow] {

  private val path = new org.apache.hadoop.fs.Path(file)
  private lazy val dead: java.util.HashSet[Long] = {
    val s = new java.util.HashSet[Long]()
    if (pdelFiles.nonEmpty) {
      val name = path.getName
      val pdSchema = StructType(Seq(
        org.apache.spark.sql.types.StructField("_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_pos",
          org.apache.spark.sql.types.LongType)))
      pdelFiles.foreach { pf =>
        val r = TxParquetIO.reader(
          new org.apache.hadoop.fs.Path(pf), pdSchema, conf.value)
        try {
          var row = r.read()
          while (row != null) {
            if (!row.isNullAt(0) && row.getUTF8String(0).toString == name)
              s.add(row.getLong(1))
            row = r.read()
          }
        } finally r.close()
      }
    }
    s
  }
  private lazy val reader = TxParquetIO.reader(path, schema, conf.value,
    nullIfMissing = addedCols, defaults = addedDefaults)
  private val joined =
    new org.apache.spark.sql.catalyst.expressions.JoinedRow()
  // one mutable meta row reused per emitted row; only the position
  // slot (if requested) changes between rows
  private val posIdx = metaCols.indexOf(GraftTxCatalogTable.PosMetaCol)
  private val metaRow: Option[
    org.apache.spark.sql.catalyst.expressions.GenericInternalRow] =
    if (metaCols.isEmpty) None
    else Some(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(metaCols.map {
        case GraftTxCatalogTable.DirMetaCol =>
          org.apache.spark.unsafe.types.UTF8String.fromString(dir): Any
        case GraftTxCatalogTable.FileMetaCol =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(path.getName): Any
        case GraftTxCatalogTable.PosMetaCol => -1L: Any
      }.toArray))
  private var current: InternalRow = _
  private var pos = -1L

  override def next(): Boolean = {
    while (true) {
      val r = reader.read()
      if (r == null) return false
      pos += 1
      if (dead.isEmpty || !dead.contains(pos)) {
        current = metaRow.fold(r: InternalRow) { m =>
          if (posIdx >= 0) m.update(posIdx, pos)
          joined(r, m)
        }
        return true
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** The replacement write: stage in `_staging/sqldml-<id>/`, commit by
  * swapping the scanned dirs for the staged files (one OCC commit,
  * [[TxTable.cowCommit]]). Rows arrive in the table's LOGICAL schema
  * and stage under the PHYSICAL names, like every other write path. */
class TxCowBatchWrite(root: String, op: GraftRowLevelOperation,
  info: LogicalWriteInfo) extends TxStagedBatchWrite(root) {

  // the plan the commit swaps = scanned plan minus runtime-pruned dirs
  private def planOf: TxTable.CowPlan = op.effectivePlan

  override def createBatchWriterFactory(
    pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val plan = planOf
    val fileSchema = StructType(info.schema().fields.map(f =>
      f.copy(name = TxTable.physNameOf(plan.colMap, f.name))))
    TxStagedWriterFactory.of(SparkSession.active, stagingDir, fileSchema,
      sketchCols = plan.keys ++ plan.statsCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitStaged { spark =>
      TxTable.cowCommit(spark, root, planOf,
        TxStagedMessage.files(messages), op.opName)
    }
}

/** A batch write whose tasks stage files under [[stagingDir]]: the
  * driver commit and an abort both delete that dir, whatever the
  * commit did. */
abstract class TxStagedBatchWrite(root: String) extends BatchWrite {

  protected val stagingDir: String =
    s"$root/_staging/sqldml-${java.util.UUID.randomUUID()}"

  protected def commitStaged(commit: SparkSession => Any): Unit = {
    val spark = SparkSession.active
    try commit(spark) finally cleanupStaging(spark)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanupStaging(SparkSession.active)

  private def cleanupStaging(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }
}

/** MERGE-ON-READ row-level DML ([[SupportsDelta]], opt-in via
  * `spark.graft.dml.positional`): instead of rewriting whole affected
  * dirs copy-on-write, the write receives per-row DELTAS — delete
  * (dir, file, position), update (delete + insert), insert (row) —
  * and the commit lands O(changed) bytes: one `_pdel` positional
  * sidecar per touched dir (the SAME sidecar grammar
  * `deleteWhere(positional = true)` writes, so every existing reader,
  * clone, time-travel and compaction-fold path applies unchanged)
  * plus one insert dir. A scattered low-selectivity UPDATE over a
  * 100 TB table pays for the rows it touches, not the dirs they live
  * in. The row ID is (file name, raw position) — exactly the `pd:`
  * coordinates — served by the same scan (positions count RAW rows,
  * so stacking over prior sidecars can never double-kill). Only dirs
  * that actually RECEIVE deletes are verified byte-identical at
  * commit; concurrent commits elsewhere compose. */
class GraftDeltaOperation(root: String, logicalSchema: StructType,
  cmd: Command) extends GraftRowLevelOperation(root, logicalSchema, cmd)
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def rowId()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(
        GraftTxCatalogTable.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(
        GraftTxCatalogTable.PosMetaCol))

  override def newWriteBuilder(info: LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build()
        : org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
            : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new TxDeltaBatchWrite(root, GraftDeltaOperation.this, info)
        }
    }
}

/** Executors stage two parquet streams per task — inserted rows
  * (physical names) and delete coordinates (_dir, _file, _pos) —
  * and the driver commit turns them into per-dir `pd:` sidecars +
  * one insert dir in a single OCC commit
  * ([[TxTable.deltaDmlCommit]]). */
class TxDeltaBatchWrite(root: String, op: GraftRowLevelOperation,
  info: LogicalWriteInfo) extends TxStagedBatchWrite(root)
  with org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
    : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val spark = SparkSession.active
    val plan = op.effectivePlan
    val fileSchema = StructType(info.schema().fields.map(f =>
      f.copy(name = TxTable.physNameOf(plan.colMap, f.name))))
    TxDeltaWriterFactory(
      TxStagedWriterFactory.of(spark, s"$stagingDir/ins", fileSchema,
        sketchCols = plan.keys ++ plan.statsCols),
      TxStagedWriterFactory.of(spark, s"$stagingDir/del",
        TxDeltaWriter.delSchema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: TxDeltaCommitMessage => m }
    commitStaged { spark =>
      TxTable.deltaDmlCommit(spark, root, op.effectivePlan,
        msgs.flatMap(_.inserts).toSeq, msgs.flatMap(_.deletes).map(_.path).toSeq,
        op.opName)
    }
  }
}

case class TxDeltaCommitMessage(inserts: Seq[TxStagedFile],
  deletes: Seq[TxStagedFile]) extends WriterCommitMessage

case class TxDeltaWriterFactory(inserts: TxStagedWriterFactory,
  deletes: TxStagedWriterFactory)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
    : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new TxDeltaWriter(inserts.writer(partitionId, taskId),
      deletes.writer(partitionId, taskId))
}

/** One task's delta stream, two [[TxStagedWriter]]s (lazily): inserted
  * rows under the physical names, and delete coordinates as (_dir,
  * _file, _pos). An update is a delete of the old coordinates plus an
  * insert of the new row — Spark's projections hand all three
  * pieces. */
class TxDeltaWriter(inserts: TxStagedWriter, deletes: TxStagedWriter)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    require(metadata != null && !metadata.isNullAt(0) &&
      !id.isNullAt(0) && !id.isNullAt(1),
      "graft-tx: delta delete without source coordinates")
    // metadata = [__graft_dir], id = [__graft_file, __graft_pos] —
    // copy the strings out of the (reused) projection rows
    deletes.write(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String
        .fromString(metadata.getUTF8String(0).toString),
      org.apache.spark.unsafe.types.UTF8String
        .fromString(id.getUTF8String(0).toString),
      id.getLong(1)))
  }

  override def update(metadata: InternalRow, id: InternalRow,
    row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage =
    TxDeltaCommitMessage(inserts.staged(), deletes.staged())

  override def abort(): Unit = { inserts.abort(); deletes.abort() }

  override def close(): Unit = ()
}

object TxDeltaWriter {
  import org.apache.spark.sql.types.{LongType, StringType, StructField}
  val delSchema: StructType = StructType(Seq(StructField("_dir", StringType),
    StructField("_file", StringType), StructField("_pos", LongType)))
}

/** `INSERT INTO` / `INSERT OVERWRITE` on the catalog face: executors
  * stage rows as parquet ([[TxStagedWriter]] again), the driver commit
  * lands them as one transactional append / replace-all
  * ([[TxTable.appendStaged]]). Appends stage under the snapshot's
  * PHYSICAL column names; an overwrite's files are born logical and
  * the commit resets the column mapping — the same discipline as the
  * DataFrame-level [[TxTable.append]]/[[TxTable.overwrite]].
  *
  * PARTITIONED tables (`CREATE TABLE ... PARTITIONED BY (c)`, or a
  * layout already written by appendPartitionedBy) route every write
  * through the CLUSTERED shape instead: the Write requires a
  * clustered distribution + within-partition sort on the partition
  * columns (public `RequiresDistributionAndOrdering` — Spark shuffles
  * once before the writers see a row), each writer task stages ONE
  * file per partition value it owns ([[TxStagedWriter]] with partition
  * columns), and the commit promotes the files by rename with the
  * stats their writers saw ([[TxTable.promotePartitioned]], the
  * streaming sink's promote). Three overwrite scopes land as ONE
  * commit each, swapping exactly the replaced partitions' entries:
  *
  *  - `SupportsDynamicOverwrite` — `INSERT OVERWRITE` under dynamic
  *    partitionOverwriteMode / `df.writeTo(t).overwritePartitions()`:
  *    replaces exactly the partitions present in the new data;
  *  - `SupportsOverwriteV2` — static `INSERT OVERWRITE t PARTITION
  *    (day=...)`: replaces the partitions matching the filter
  *    (partition-column predicates only; anything else refuses
  *    loudly rather than silently dropping unrelated rows);
  *  - truncate (`INSERT OVERWRITE t` in static mode) — replaces all
  *    content, keeping the clustered layout.
  *
  * Untouched partitions' files are never opened, moved or rewritten
  * — the atomic partition-reload idiom (ref: the warehouse's rename
  * loads, src/mapred/org/apache/hadoop/mapred/
  * FileOutputCommitter.java:1) at any table size. */
class TxCatalogWriteBuilder(root: String, info: LogicalWriteInfo,
  partCols: Seq[String] = Seq.empty,
  declaredStats: Option[Seq[String]] = None,
  bucketSpec: Option[(String, Int)] = None)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwriteV2
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  /** Write-time stats columns a BOOTSTRAP (first content) load
    * declares: the CREATE TABLE `statsCols` option when present, else
    * every eligible column ([[TxTable.defaultStatsCols]]) — SQL-first
    * tables get dir pruning and CBO inputs without the Scala API. */
  private def bootstrapStats: Seq[String] =
    declaredStats.getOrElse(TxTable.defaultStatsCols(info.schema()))

  // append | truncate | dynamic | filter
  private var mode: String = "append"
  private var filterSql: Option[String] = None

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(partCols.nonEmpty,
      "graft-tx: dynamic partition overwrite needs a partitioned " +
        "table (CREATE TABLE ... PARTITIONED BY, or a layout written " +
        "by appendPartitionedBy)")
    mode = "dynamic"
    this
  }

  override def overwrite(predicates: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate])
    : WriteBuilder = {
    if (predicates.forall(_.isInstanceOf[AlwaysTrue])) return truncate()
    require(partCols.nonEmpty,
      "graft-tx: INSERT OVERWRITE by filter needs a partitioned table " +
        "(CREATE TABLE ... PARTITIONED BY); this table has no " +
        "partition columns — use plain INSERT OVERWRITE (replace-all) " +
        "or DELETE + INSERT")
    val refs = predicates.flatMap(TxCatalogWriteBuilder.refsOf).distinct
    val bad = refs.filterNot(r => partCols.exists(_.equalsIgnoreCase(r)))
    require(bad.isEmpty,
      "graft-tx: INSERT OVERWRITE by filter supports partition-column " +
        s"predicates only; [${bad.mkString(", ")}] are not partition " +
        s"columns of (${partCols.mkString(", ")})")
    val sql = predicates.map(p => TxV2PredicateSql.render(p).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-tx: cannot overwrite by untranslatable predicate $p")))
    mode = "filter"
    filterSql = Some(if (sql.isEmpty) "TRUE" else sql.mkString(" AND "))
    this
  }

  override def build(): Write = {
    if (partCols.isEmpty) new Write {
      override def toBatch: BatchWrite =
        new TxCatalogBatchWrite(root, info, mode == "truncate",
          bootstrapStats, bucketSpec)
    } else new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder => V2SortOrder}
      override def requiredDistribution(): Distribution =
        Distributions.clustered(
          partCols.map(c => Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray)
      override def requiredOrdering(): Array[V2SortOrder] =
        partCols.map(c => Expressions.sort(Expressions.identity(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
      override def toBatch: BatchWrite =
        new TxCatalogPartBatchWrite(root, info, partCols,
          if (mode == "truncate") "replace" else mode, filterSql,
          bootstrapStats)
    }
  }
}

object TxCatalogWriteBuilder {
  /** Every column name referenced anywhere in a V2 predicate tree. */
  private[sources] def refsOf(e: V2Expression): Seq[String] = e match {
    case r: NamedReference => Seq(r.fieldNames().mkString("."))
    case g: GeneralScalarExpression => g.children().toSeq.flatMap(refsOf)
    case _ => Seq.empty
  }
}

class TxCatalogBatchWrite(root: String, info: LogicalWriteInfo,
  replace: Boolean, bootstrapStats: Seq[String] = Seq.empty,
  bucketSpec: Option[(String, Int)] = None)
  extends TxStagedBatchWrite(root) {

  // the stats columns the writers sketch: the ones the commit will
  // record, as of the snapshot the write starts from
  @volatile private var sketched: Seq[String] = Seq.empty

  override def createBatchWriterFactory(
    pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    // overwrite files are born under the LOGICAL names (the mapping
    // resets at commit); append files must speak the snapshot's
    // physical names
    val fileSchema =
      if (replace) info.schema()
      else {
        val m = TxTable.colMapOf(spark, root)
        StructType(info.schema().fields.map(f =>
          f.copy(name = TxTable.physNameOf(m, f.name))))
      }
    sketched = TxTable.appendStatsCols(spark, root, replace, bootstrapStats)
    TxStagedWriterFactory.of(spark, stagingDir, fileSchema,
      sketchCols = sketched)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitStaged { spark =>
      TxTable.appendStaged(spark, root, TxStagedMessage.files(messages),
        replace, info.schema(), bootstrapStats, bucketSpec, sketched)
    }
}

/** The PARTITIONED batch write: clustered+sorted input (the Write's
  * required distribution), one staged file per partition tuple per
  * task ([[TxStagedWriter]], with its writer-observed tuples and
  * stats), one [[TxTable.promotePartitioned]] commit swapping exactly
  * the replaced partitions. Files stage under the snapshot's PHYSICAL
  * column names ([[TxTable.staging]]), so the column mapping carries
  * through overwrites (a partition-scoped overwrite keeps other dirs —
  * it must not reset the mapping the way replace-all does). */
class TxCatalogPartBatchWrite(root: String, info: LogicalWriteInfo,
  partCols: Seq[String], mode: String, filterSql: Option[String],
  bootstrapStats: Seq[String] = Seq.empty)
  extends TxStagedBatchWrite(root) {

  // partition-column types checked ONCE, loudly, before any task runs
  TxStagedWriter.requirePartitionable(info.schema(), partCols)

  private lazy val staging = TxTable.staging(SparkSession.active, root,
    info.schema(), partCols, bootstrapStats)

  // the writers sketch the columns the commit records stats on
  override def createBatchWriterFactory(
    pinfo: PhysicalWriteInfo): DataWriterFactory =
    TxStagedWriterFactory.of(SparkSession.active, stagingDir,
      staging.fileSchema, staging.physParts, staging.statsCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitStaged { spark =>
      TxTable.promotePartitioned(spark, root, staging,
        TxStagedMessage.files(messages), mode, filterSql)
    }
}

/** Conservative V2-Predicate → Spark-SQL-text renderer, the bridge
  * from SupportsDeleteV2's filter-expressible DELETE path to
  * [[TxTable.deleteWhere]] (whose predicate is evaluated by Spark
  * itself over per-dir frames — this never reaches another dialect).
  * Returns None for anything outside the trusted shape; the caller's
  * `canDeleteWhere` then refuses and Spark falls back to the
  * copy-on-write rewrite, so an untranslatable predicate costs
  * efficiency, never correctness. */
private[sources] object TxV2PredicateSql {
  import org.apache.spark.sql.types._

  def render(e: V2Expression): Option[String] = e match {
    case _: AlwaysTrue => Some("TRUE")
    case _: AlwaysFalse => Some("FALSE")
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(quote(r.fieldNames()(0)))
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      renderLit(l.value, l.dataType)
    case g: GeneralScalarExpression =>
      val cs = g.children()
      g.name() match {
        case "AND" | "OR" if cs.length == 2 =>
          bin(cs(0), cs(1), g.name())
        case "NOT" if cs.length == 1 =>
          render(cs(0)).map(c => s"(NOT $c)")
        case "=" | ">" | ">=" | "<" | "<=" | "<=>" if cs.length == 2 =>
          bin(cs(0), cs(1), g.name())
        case "<>" | "!=" if cs.length == 2 => bin(cs(0), cs(1), "!=")
        // function forms, not LIKE patterns — no %/_ escaping to get
        // subtly wrong
        case "STARTS_WITH" if cs.length == 2 =>
          for (c <- render(cs(0)); p <- render(cs(1)))
            yield s"startswith($c, $p)"
        case "ENDS_WITH" if cs.length == 2 =>
          for (c <- render(cs(0)); p <- render(cs(1)))
            yield s"endswith($c, $p)"
        case "CONTAINS" if cs.length == 2 =>
          for (c <- render(cs(0)); p <- render(cs(1)))
            yield s"contains($c, $p)"
        case "IS_NULL" if cs.length == 1 =>
          render(cs(0)).map(c => s"($c IS NULL)")
        case "IS_NOT_NULL" if cs.length == 1 =>
          render(cs(0)).map(c => s"($c IS NOT NULL)")
        case "IN" if cs.length >= 2 =>
          val rendered = cs.map(render)
          if (rendered.exists(_.isEmpty)) None
          else Some(s"(${rendered.head.get} IN " +
            s"(${rendered.tail.map(_.get).mkString(", ")}))")
        case _ => None
      }
    case _ => None
  }

  private def bin(l: V2Expression, r: V2Expression,
    sqlOp: String): Option[String] =
    for (ls <- render(l); rs <- render(r)) yield s"($ls $sqlOp $rs)"

  private[sources] def quote(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private[sources] def renderLit(v: Any, dt: DataType): Option[String] = {
    if (v == null) return None // comparisons to NULL never translate
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(v.toString)
      case BooleanType => Some(if (v == true) "TRUE" else "FALSE")
      // round-trip through a typed CAST: covers E-notation, signed
      // zero, Infinity and NaN without depending on literal parsing
      case FloatType => Some(s"CAST('$v' AS FLOAT)")
      case DoubleType => Some(s"CAST('$v' AS DOUBLE)")
      case d: DecimalType =>
        Some(s"CAST('$v' AS DECIMAL(${d.precision},${d.scale}))")
      case StringType =>
        val s = v.toString
        Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case DateType =>
        val days = v match {
          case i: Integer => i.intValue
          case i: Int => i
          case _ => return None
        }
        Some(s"DATE '${java.time.LocalDate.ofEpochDay(days.toLong)}'")
      // timestamps carry session-zone subtleties — let those take the
      // copy-on-write path where Spark evaluates its own expression
      case _ => None
    }
  }
}
