package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.api.ReadSupport.ReadContext
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side parquet ↔ `InternalRow` without a Spark plan — the
  * record-level IO a DataSourceV2 `PartitionReader` / `DataWriter`
  * needs (those interfaces hand rows one at a time; there is no
  * DataFrame in an executor).
  *
  * Reading is built on parquet-mr's public `ReadSupport` API, for the
  * flat relational schemas the streaming and row-level faces read —
  * all primitive Spark types, strings, binary, decimals, dates,
  * timestamps (INT64 millis/micros/nanos AND legacy INT96), plus
  * one-level arrays of those; nested structs/maps fail loudly, since a
  * clear error beats a silently-wrong decode.
  *
  * Writing is Spark's own parquet `OutputWriter` ([[writer]]): every
  * graft write, whichever face it comes from, stages its files through
  * [[TxStagedWriter]] and so through this one writer, which writes
  * every type a `df.write.parquet` job writes. */
private[sources] object TxParquetIO {

  // ---------------------------------------------------------- reading

  /** Primitive parquet value → Catalyst value, steered by the SPARK
    * type (the parquet annotation only disambiguates timestamp units,
    * INT96 and decimal storage). */
  private def valueConverter(dt: DataType, pt: PrimitiveType,
    set: Any => Unit): PrimitiveConverter = new PrimitiveConverter {
    override def addBoolean(v: Boolean): Unit = set(v)
    override def addInt(v: Int): Unit = dt match {
      case ByteType => set(v.toByte)
      case ShortType => set(v.toShort)
      case IntegerType | DateType => set(v)
      case LongType => set(v.toLong)
      case d: DecimalType => set(Decimal(v.toLong, d.precision, d.scale))
      case DoubleType => set(v.toDouble)
      case other => throw typeClash(other, pt)
    }
    override def addLong(v: Long): Unit = dt match {
      case LongType => set(v)
      case TimestampType | TimestampNTZType =>
        set(timestampUnit(pt) match {
          case TimeUnit.MILLIS => Math.multiplyExact(v, 1000L)
          case TimeUnit.NANOS => Math.floorDiv(v, 1000L)
          case _ => v // micros
        })
      case d: DecimalType => set(Decimal(v, d.precision, d.scale))
      case DoubleType => set(v.toDouble)
      case other => throw typeClash(other, pt)
    }
    override def addFloat(v: Float): Unit = dt match {
      case FloatType => set(v)
      case DoubleType => set(v.toDouble)
      case other => throw typeClash(other, pt)
    }
    override def addDouble(v: Double): Unit = dt match {
      case DoubleType => set(v)
      case other => throw typeClash(other, pt)
    }
    override def addBinary(b: Binary): Unit = dt match {
      case StringType => set(UTF8String.fromBytes(b.getBytes))
      case BinaryType => set(b.getBytes)
      case d: DecimalType => set(Decimal(BigDecimal(
        new java.math.BigDecimal(new java.math.BigInteger(b.getBytes),
          d.scale)), d.precision, d.scale))
      case TimestampType | TimestampNTZType
        if pt.getPrimitiveTypeName == PrimitiveTypeName.INT96 =>
        // legacy INT96: 8-byte little-endian nanos-of-day then 4-byte
        // little-endian julian day (epoch julian day = 2440588)
        val bb = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanos = bb.getLong
        val julian = bb.getInt
        set((julian - 2440588L) * 86400000000L + nanos / 1000L)
      case other => throw typeClash(other, pt)
    }
  }

  private def timestampUnit(pt: PrimitiveType): TimeUnit =
    pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
      case _ => TimeUnit.MICROS
    }

  private def typeClash(dt: DataType, pt: PrimitiveType) =
    new IllegalArgumentException(
      s"graft-tx streaming: parquet ${pt.getPrimitiveTypeName} value " +
        s"cannot fill a $dt column '${pt.getName}'")

  private def converterFor(f: StructField, parquetType: Type,
    set: Any => Unit): Converter = f.dataType match {
    case ArrayType(elem, _) =>
      require(!parquetType.isPrimitive,
        s"graft-tx streaming: column '${f.name}' is an array in the " +
          "table schema but primitive in the file")
      val repeated = parquetType.asGroupType().getType(0)
      new GroupConverter {
        private val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
        private val repConv: Converter =
          if (repeated.isPrimitive) // legacy 2-level list
            valueConverter(elem, repeated.asPrimitiveType(), v => buf += v)
          else new GroupConverter { // standard 3-level list/element
            private var cur: Any = null
            private val inner = valueConverter(elem,
              repeated.asGroupType().getType(0).asPrimitiveType(),
              v => cur = v)
            override def getConverter(i: Int): Converter = inner
            override def start(): Unit = cur = null
            override def end(): Unit = buf += cur
          }
        override def getConverter(i: Int): Converter = repConv
        override def start(): Unit = buf.clear()
        override def end(): Unit = set(new GenericArrayData(buf.toArray))
      }
    case dt =>
      require(parquetType.isPrimitive,
        s"graft-tx streaming: column '${f.name}' is nested in the file " +
          s"but $dt in the table schema")
      valueConverter(dt, parquetType.asPrimitiveType(), set)
  }

  /** ReadSupport materializing exactly `fields` (by name, in order)
    * into `GenericInternalRow`s. Missing columns fail loudly — the
    * same contract as the batch feed's strict `unionByName` — EXCEPT
    * names in `nullIfMissing` (declared ALTER TABLE ADD COLUMNS
    * columns a pre-ADD file legitimately lacks): those materialize as
    * NULL, the same null-fill the batch read path applies. */
  private class RowReadSupport(fields: StructType,
    nullIfMissing: Set[String],
    defaults: Map[String, Any] = Map.empty)
    extends ReadSupport[InternalRow] {

    override def init(context: InitContext): ReadContext = {
      val fileSchema = context.getFileSchema
      val projected = fields.fields.flatMap { f =>
        val idx = (0 until fileSchema.getFieldCount).find(i =>
          fileSchema.getType(i).getName.equalsIgnoreCase(f.name))
        if (idx.isEmpty && !nullIfMissing.contains(f.name))
          throw new IllegalArgumentException(
            s"graft-tx streaming: column '${f.name}' absent from data " +
              s"file (file has ${fileSchema.getFields}); the change feed " +
              "requires every feed column in every commit")
        idx.map(fileSchema.getType)
      }
      new ReadContext(new MessageType("graft_row", projected.toSeq: _*))
    }

    override def prepareForRead(conf: Configuration,
      meta: java.util.Map[String, String], fileSchema: MessageType,
      readContext: ReadContext): RecordMaterializer[InternalRow] = {
      val requested = readContext.getRequestedSchema
      // field index → its slot in the requested (projected) schema;
      // fields absent there stay NULL in every record
      val present: Seq[(StructField, Int, Int)] = {
        var j = 0
        fields.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
          val inReq = (0 until requested.getFieldCount).exists(k =>
            requested.getType(k).getName.equalsIgnoreCase(f.name))
          if (inReq) { val slot = j; j += 1; Some((f, i, slot)) }
          else None
        }
      }
      // slots the file cannot serve whose declared column carries a
      // DEFAULT: every record fills that internal value (pre-ADD rows
      // read the default, not NULL — and an unrelated DML rewrite
      // re-lands the default instead of corrupting it to NULL)
      val missingDefaults: Seq[(Int, Any)] = {
        val presentIdx = present.map(_._2).toSet
        fields.fields.toSeq.zipWithIndex.collect {
          case (f, i) if !presentIdx.contains(i) &&
            defaults.contains(f.name) => i -> defaults(f.name)
        }
      }
      new RecordMaterializer[InternalRow] {
        private val values = new Array[Any](fields.length)
        private val root: GroupConverter = new GroupConverter {
          private val converters = new Array[Converter](present.length)
          present.foreach { case (f, i, slot) =>
            converters(slot) =
              converterFor(f, requested.getType(slot), v => values(i) = v)
          }
          override def getConverter(i: Int): Converter = converters(i)
          override def start(): Unit = {
            java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
            missingDefaults.foreach { case (i, v) => values(i) = v }
          }
          override def end(): Unit = ()
        }
        override def getCurrentRecord: InternalRow =
          new GenericInternalRow(values.clone())
        override def getRootConverter: GroupConverter = root
      }
    }
  }

  /** `filter` engages parquet-mr's own two-level skipping: row groups
    * whose column statistics (or dictionary/bloom) provably exclude
    * the predicate are never read, and surviving groups apply it
    * record-level before materialization (FilterCompat — the same
    * public API Spark's file source uses). Callers must keep every
    * predicate column in `fields` (parquet binds record filters to
    * the requested projection) and must RE-EVALUATE the predicate
    * above: the pushed form is allowed to over-keep (e.g. NULL rows
    * under a negation), never to over-drop. */
  def reader(path: Path, fields: StructType, conf: Configuration,
    filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate]
      = None, nullIfMissing: Set[String] = Set.empty,
    defaults: Map[String, Any] = Map.empty)
    : ParquetReader[InternalRow] = {
    val b = ParquetReader.builder(
      new RowReadSupport(fields, nullIfMissing, defaults), path)
      .withConf(conf)
    filter.fold(b)(f => b.withFilter(
      org.apache.parquet.filter2.compat.FilterCompat.get(f))).build()
  }

  // ---------------------------------------------------------- writing

  /** The Hadoop conf Spark's own parquet writer needs for `schema` —
    * `ParquetFileFormat.prepareWrite` fills in the write support, the
    * row schema and the session's codec and legacy-format settings,
    * exactly as a `df.write.parquet` job would — with timestamps
    * stored as INT64 micros, never legacy INT96, so their footer
    * statistics exist and equal what the writer saw. Built once per
    * write and shipped to its writer tasks. */
  def writeConf(spark: org.apache.spark.sql.SparkSession,
    schema: StructType): org.apache.spark.util.SerializableConfiguration = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    shipped(job.getConfiguration)
  }

  /** Spark's parquet `OutputWriter` for one file at `path`, under a
    * conf from [[writeConf]]: the files every write face stages are
    * byte-for-byte what Spark's file writer produces, for every type
    * it writes (nested structs, maps and arrays included). */
  def writer(path: String, conf: Configuration)
    : org.apache.spark.sql.execution.datasources.OutputWriter =
    new org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter(
      path, new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))

  /** `conf` as it ships to tasks: Spark's `SerializableConfiguration`
    * over a copy that writes every property without its source record
    * ([[lean]]). Hadoop's own `Configuration.write` gzips, one deflater
    * per property, a record of where each of the well over a thousand
    * properties was set, and a task's read inflates them all again; a
    * write pays that three times (the closure check, the task binary
    * and each task's read), milliseconds each. A task rebuilds exactly
    * the shipped properties, whatever defaults its own JVM loads. */
  def shipped(conf: Configuration): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(lean(conf))

  /** A copy of `conf` whose `write` records no property's source;
    * `Configuration.readFields` reads it back as every property of
    * `conf`, each set programmatically. */
  def lean(conf: Configuration): Configuration = new Configuration(conf) {
    override def write(out: java.io.DataOutput): Unit = {
      import org.apache.hadoop.io.{Text, WritableUtils}
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.forEach { (k, v) =>
        Text.writeString(out, k.toString)
        Text.writeString(out, v.toString)
        WritableUtils.writeCompressedStringArray(out, null)
      }
    }
  }
}

/** Spark's own parquet format, with a lean conf behind each scan:
  * `buildReaderWithPartitionValues` broadcasts the Hadoop conf it is
  * handed, once per scan, and `Configuration.write` gzips each
  * property's record of where it was set; the conf handed on here
  * ([[TxParquetIO.lean]]) writes the same properties without those
  * records. Every relation graft plans over
  * parquet files uses it. */
private[graft] class TxParquetFormat extends
  org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def buildReaderWithPartitionValues(
    spark: org.apache.spark.sql.SparkSession, dataSchema: StructType,
    partitionSchema: StructType, requiredSchema: StructType,
    filters: Seq[org.apache.spark.sql.sources.Filter],
    options: Map[String, String], hadoopConf: Configuration)
    : org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(spark, dataSchema, partitionSchema,
      requiredSchema, filters, options, TxParquetIO.lean(hadoopConf))
  // equal to every ParquetFileFormat, as Spark's own is
  override def hashCode(): Int =
    classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]
      .hashCode
}

private[graft] object TxParquetFormat {
  /** `rel` scanning through this format, if it is a file relation. A
    * method of its own, so that a caller's class loads without Spark's
    * file-source classes (a Connect client has none). */
  def over(rel: org.apache.spark.sql.sources.BaseRelation)
    : org.apache.spark.sql.sources.BaseRelation = rel match {
    case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      r.copy(fileFormat = new TxParquetFormat)(r.sparkSession)
    case r => r
  }
}
