package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Table loaders for the warehouse star schema (TESTDATA.md).
  *
  * Loads are plain parquet scans so Catalyst column pruning and filter
  * pushdown reach the file source (`PushedFilters`/`ReadSchema` in
  * `.explain`); their schema comes from a cached footer read
  * ([[footerSchema]]), so a load starts no schema-inference job. At
  * cluster scale the same call reads HDFS through the standard Hadoop
  * connectors — the storage integration the reference provides
  * natively (ref: src/core/org/apache/hadoop/fs, src/hdfs).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // a Spark Connect client has no Hadoop conf to read the footer with
    // (nor the classic session class on its classpath)
    if (spark.getClass.getName != "org.apache.spark.sql.classic.SparkSession")
      spark.read.parquet(path)
    else parquet(spark, path)
  }

  // the session flags Spark's footer conversion reads
  private val converterFlags = Seq("spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")
  // (qualified path, known schema, files, converter flags)
  private type RelKey = (String, Option[StructType],
    Seq[(String, Long, Long)], Seq[Option[String]])
  private val relations = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[RelKey, BaseRelation]]())
  private def relationsOf(spark: SparkSession) = relations.computeIfAbsent(
    spark, _ => new java.util.concurrent.ConcurrentHashMap())

  /** The schema `spark.read.parquet(path)` infers, without its
    * footer-reading Spark job (see [[parquet]]). */
  private[graft] def footerSchema(spark: SparkSession,
    path: String): StructType = parquet(spark, path).schema

  /** `spark.read.parquet(path)`, resolved once per session and file
    * set: the relation Spark's `DataSource` resolves — its path checks
    * and its file listing — is reused while the file, or each of a
    * directory's data files, keeps its length and modification time
    * and the session its converter flags, so a repeated load costs one
    * status call. Its schema is the `known` one, else Spark's own
    * conversion of the footer of the file (or of a directory's first
    * data file, the one inference reads), made nullable. A changed
    * file set or a [[forget]] drops the path's older relations, and a
    * session keeps at most 256. Its scans run through
    * [[graft.sources.TxParquetFormat]]. */
  private[graft] def parquet(spark: SparkSession, path: String,
    known: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val st0 = fs.getFileStatus(new Path(path))
    val qp = st0.getPath.toString
    val files =
      if (!st0.isDirectory) Seq(st0)
      else fs.listStatus(st0.getPath).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")).sortBy(_.getPath.getName).toSeq
    val key: RelKey = (qp, known, files.map(s => (s.getPath.toString,
      s.getLen, s.getModificationTime)), converterFlags.map(spark.conf.getOption))
    val rels = relationsOf(spark)
    spark.baseRelationToDataFrame(Option(rels.get(key)).getOrElse {
      rels.keySet.removeIf(_._1 == qp)
      if (rels.size >= 256) rels.clear()
      val schema = known.getOrElse {
        val st = files.head
        val footer = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
            fs.getConf),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS)
        graft.sources.TxTable.nullable(ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
          .asInstanceOf[StructType]
      }
      val rel = graft.sources.TxParquetFormat.over(
        DataSource(spark, "parquet", Seq(path), Some(schema)).resolveRelation())
      rels.put(key, rel)
      rel
    })
  }

  /** Drop the relations [[parquet]] keeps for `path` (qualified), once
    * its files are deleted. */
  private[graft] def forget(spark: SparkSession, path: Path): Unit =
    relationsOf(spark).keySet.removeIf(_._1 == path.toString)

  /** Register every table as a temp view so users can drive the whole
    * engine through `spark.sql(...)` — the warehouse-SQL surface the
    * reference's users reach through Hive. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** Text source with explicit split sizing — the NLineInputFormat /
    * CombineFileInputFormat control surface (ref: src/mapred/org/
    * apache/hadoop/mapred/lib/NLineInputFormat.java:1,
    * CombineFileInputFormat.java:1): `maxPartitionBytes` bounds split
    * size (combine small files up / split big files down);
    * `minPartitionNum` forces enough splits for full parallelism. */
  def readText(s: SparkSession, path: String,
    maxPartitionBytes: Long = 128L * 1024 * 1024,
    minPartitions: Int = 0): DataFrame = {
    // Split-size confs are read from the session at PLAN time and have
    // no per-read option, so scope them to a child session (shared
    // SparkContext, independent SQLConf) instead of mutating the
    // caller's session for all subsequent reads.
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
    if (minPartitions > 0)
      scoped.conf.set("spark.sql.files.minPartitionNum", minPartitions.toString)
    scoped.read.text(path)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across data drops:
    * TIMESTAMP(NANOS) (no native Spark type — read nanos as long and
    * rebuild a micros timestamp, the same truncation DuckDB applies),
    * plain int64 nanos (the scaled-rung layout DataGen.scaleUp writes),
    * and native TIMESTAMP(MICROS). Adapt on the schema actually read so
    * every layout lands on session-zoned TimestampType. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // native micros (NTZ under the vectorized reader); session tz is
        // UTC so the cast is value-identical to what DuckDB reads
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
