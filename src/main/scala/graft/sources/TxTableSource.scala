package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsRuntimeFiltering, V1Scan}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow, Offset => V2Offset}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The standard read/write face of [[TxTable]] — `graft-tx` as a
  * registered data source (ref analog: the reference warehouse's
  * tables are named, engine-addressable load targets,
  * src/contrib/hive-streaming/build.xml:1; here the transactional
  * table becomes addressable through the engine's own format API):
  *
  * {{{
  *   spark.read.format("graft-tx")
  *     .option("versionAsOf", 3)            // or timestampAsOf
  *     .option("colRange.k", "100,200")     // stats-based dir skipping
  *     .load(root)
  *   df.write.format("graft-tx").mode("append")
  *     .option("statsCols", "k").save(root)
  *   spark.sql(s"CREATE TABLE t USING `graft-tx` OPTIONS (path '$root')")
  *   spark.readStream.format("graft-tx").load(root)   // tail the feed
  *   df.writeStream.format("graft-tx")                 // exactly-once
  *     .option("path", root).option("keys", "k").start()   //   load
  * }}}
  *
  * Architecture: a relation wrapping the snapshot-resolved plan — the
  * shape Delta Lake's own batch DataSource uses — rather than a
  * DataSourceV2 record reader, because a merge-on-read snapshot IS a
  * multi-operator Spark plan (window resolution + broadcast anti-join
  * over native scans, each over a [[TxFileIndex]]), not a
  * per-partition record stream: options pin the snapshot
  * ([[TxTableSource.ReaderOptions]]), and the option ranges plus
  * Catalyst's pushed filters form ONE filter list that prunes dirs and
  * restricts the resolved rows (Spark re-checks every filter above).
  * `Dataset.inputFiles` reports the surviving data files (the relation
  * implements FileRelation), so dir skipping is observable from the
  * standard API.
  */
class TxTableSource extends RelationProvider
  with CreatableRelationProvider with DataSourceRegister
  with StreamSourceProvider with TableProvider {

  override def shortName(): String = "graft-tx"

  // ---- streaming faces: DataSourceV2 (connector API, no internals) --
  // `spark.readStream.format("graft-tx").load(root)` tails the commit
  // log through a MicroBatchStream: each micro-batch is the change
  // rows (data..., op, commit_version) of the commit versions that
  // arrived since the last processed offset. Offsets are commit
  // versions, so checkpoint recovery replays a half-processed batch
  // identically (commits are immutable) and never re-delivers a
  // completed one. `df.writeStream.format("graft-tx")` commits each
  // epoch transactionally through a StreamingWrite (executors stage
  // rows, the driver commit applies them exactly once).
  //
  // The provider doubles as a V1 RelationProvider for BATCH reads and
  // writes on purpose: a merge-on-read snapshot IS a multi-operator
  // Spark plan (window resolution + broadcast anti-join), which the
  // relation face reuses wholesale — the engine falls back to it
  // because the Table below advertises no BATCH capabilities. The
  // STREAMING faces are pure DSv2: they move rows through
  // PartitionReader/DataWriter and need no `private[sql]` bridge, so
  // they (unlike the V1 Source they replaced) run under Spark Connect.

  // External metadata (a user schema on CREATE TABLE) is accepted so
  // the SQL-first bootstrap works — `CREATE TABLE t (cols) USING
  // graft-tx` then `INSERT INTO t` — but the stored copy can never go
  // stale: getTable below RE-DERIVES the schema from the live
  // snapshot whenever the root has commits, so the declared schema
  // only ever describes a not-yet-loaded root (the one state where
  // nothing else can).
  override def supportsExternalMetadata(): Boolean = true

  /** Two V2 contexts share this provider, told apart by the options:
    * the SESSION CATALOG (CREATE TABLE ... USING graft-tx) injects a
    * `provider` key that path-based reads/writes never carry, and its
    * table must be the BATCH relation (data schema); everything else
    * is the streaming face, whose change-feed schema [[GraftTxTable]]
    * derives only when a stream asks for it — a path-based BATCH read
    * also passes through here before it falls back to the V1
    * relation, and must not build a feed it then discards. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val root = TxTableSource.rootOfV2(options)
    if ((TxTableSource.isCatalogContext(options) ||
      options.containsKey("partitionCol")) && TxTable.exists(spark, root))
      TxTableSource.schemaOf(spark, root, TxTableSource.paramsOf(options))
    else new StructType()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
    properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = TxTableSource.rootOfV2(options)
    if (TxTableSource.isCatalogContext(options)) {
      // live schema wins over any stored CREATE TABLE copy (see
      // supportsExternalMetadata above)
      val spark = SparkSession.active
      val live =
        if (TxTable.exists(spark, root))
          TxTableSource.schemaOf(spark, root, TxTableSource.paramsOf(options))
        else schema
      // declared PARTITIONED BY wins; a table built by the API proves
      // its partitioning through its own committed layout. Lenient on
      // load: unsupported transforms are ignored, never unreadable.
      val declared =
        TxTableSource.identityPartColsLenient(partitioning.toSeq)
      val partCols =
        if (declared.nonEmpty) declared
        else if (TxTable.exists(spark, root))
          TxTable.layoutPartCols(spark, root)
        else Seq.empty
      val bspec =
        if (partCols.isEmpty && TxTable.exists(spark, root))
          TxTable.bucketSpecOf(spark, root)
        else None
      new GraftTxCatalogTable(live, root, options, partCols, bspec)
    }
    // `.option("partitionCol", c)` selects the storage-partitioned
    // BATCH face: a true DSv2 scan reporting KeyGroupedPartitioning,
    // so co-clustered tables join shuffle-free
    else if (options.containsKey("partitionCol"))
      new GraftTxSpjTable(schema, root, options)
    else new GraftTxTable(schema, root, options)
  }

  // V1 streaming SOURCE face, kept ONLY for its load()-time contract:
  // DataStreamReader eagerly resolves the V1 fallback's schema, so a
  // readStream.load on a missing table still fails fast here with the
  // real cause. Execution always selects the DSv2 MicroBatchStream
  // (the Table advertises MICRO_BATCH_READ); the V1 source itself is
  // gone, so `spark.sql.streaming.disabledV2MicroBatchReaders` cannot
  // re-select it.
  override def sourceSchema(sqlContext: SQLContext,
    schema: Option[StructType], providerName: String,
    parameters: Map[String, String]): (String, StructType) =
    (shortName(), TxStreamSource.feedSchema(
      sqlContext.sparkSession, TxTableSource.rootOf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
    schema: Option[StructType], providerName: String,
    parameters: Map[String, String]): Source =
    throw new UnsupportedOperationException(
      "graft-tx: the V1 streaming source was replaced by the " +
        "DataSourceV2 micro-batch stream; unset " +
        "spark.sql.streaming.disabledV2MicroBatchReaders for graft-tx")

  /** A batch read: the change feed, or the snapshot the reader
    * options pin ([[TxRelation.of]]). */
  override def createRelation(sqlContext: SQLContext,
    parameters: Map[String, String]): BaseRelation = {
    val root = TxTableSource.rootOf(parameters)
    if (TxTableSource.changeFeedRequested(parameters))
      TxChangesRelation(sqlContext.sparkSession, root, parameters)
    else TxRelation.of(sqlContext.sparkSession, root, parameters)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
    parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = TxTableSource.rootOf(parameters)
    val statsCols = parameters.get("statsCols").orElse(parameters.get("statscols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // `partitionBy` option = the partitioned-layout append (one
    // single-valued dir per value tuple; SPJ/metadata-GROUP-BY
    // provable) — DataFrameWriter.partitionBy can't reach a V1
    // CreatableRelationProvider, so the option carries it
    val partCols = parameters.get("partitionBy")
      .orElse(parameters.get("partitionby"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def appendAny(df: DataFrame): Int =
      if (partCols.nonEmpty)
        TxTable.appendPartitionedBy(df, root, partCols, statsCols)
      else TxTable.append(df, root, statsCols)
    mode match {
      case SaveMode.Append => appendAny(data)
      case SaveMode.Overwrite =>
        require(partCols.isEmpty,
          "graft-tx: partitionBy supports append modes only")
        TxTable.overwrite(data, root, statsCols)
      case SaveMode.ErrorIfExists =>
        if (TxTable.exists(spark, root))
          throw new IllegalStateException(
            s"graft-tx: table at $root already exists (mode=ErrorIfExists)")
        appendAny(data)
      case SaveMode.Ignore =>
        if (!TxTable.exists(spark, root)) appendAny(data)
    }
    createRelation(sqlContext, parameters)
  }
}

object TxTableSource {
  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-tx requires a path (load(root) or OPTIONS (path '...'))"))

  private[sources] def rootOfV2(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-tx requires a path (load(root) or OPTIONS (path '...'))"))

  /** `readChangeFeed=true` routes a batch read to the change-feed
    * relation instead of the snapshot relation. */
  private[sources] def changeFeedRequested(
    params: Map[String, String]): Boolean =
    params.get("readChangeFeed").orElse(params.get("readchangefeed"))
      .exists(_.equalsIgnoreCase("true"))

  /** The session catalog's table loads inject `provider=graft-tx`
    * (plus location/owner) into the options; path-based
    * read/readStream/writeStream options never contain it. */
  private[sources] def isCatalogContext(
    options: CaseInsensitiveStringMap): Boolean =
    "graft-tx".equalsIgnoreCase(options.get("provider"))

  /** The columns a batch read of `params`' snapshot returns, from the
    * footers and the head alone ([[TxTable.schemaOf]]). */
  private[sources] def schemaOf(spark: SparkSession, root: String,
    params: Map[String, String]): StructType =
    TxTable.schemaOf(spark, readerOptions(params).head(spark, root))

  private[sources] def paramsOf(
    options: CaseInsensitiveStringMap): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    options.asCaseSensitiveMap().asScala.toMap
  }

  /** Single-column identity partition transforms → column names; any
    * other transform (bucket, days, …) refuses loudly — graft-tx's
    * clustered layout is value-identity by construction. Used at
    * CREATE/write VALIDATION time only: rejecting here keeps an
    * unsupported layout from ever being declared. */
  private[sources] def identityPartCols(
    partitioning: Seq[Transform]): Seq[String] =
    partitioning.map { t =>
      identityColOf(t).getOrElse(throw new UnsupportedOperationException(
        s"graft-tx: only single-column identity PARTITIONED BY is " +
          s"supported, got $t"))
    }

  /** LOAD-path variant: keeps the identity columns and IGNORES (with
    * a log line) any other transform, so a pre-existing catalog table
    * that was declared with e.g. `bucket(16, c)` stays READABLE —
    * before round 16 the strict check ran on every loadTable and such
    * a table could not even be SELECTed. New declarations are refused
    * at CREATE time (GraftCatalog.createTable), where refusal costs
    * nothing. */
  private[sources] def identityPartColsLenient(
    partitioning: Seq[Transform]): Seq[String] =
    partitioning.flatMap { t =>
      val c = identityColOf(t)
      // bucket transforms are CONSUMED by the bucketed face now, not
      // ignored — stay quiet about them here
      if (c.isEmpty && bucketTransformOf(t).isEmpty)
        System.err.println(s"graft-tx: ignoring unsupported partition " +
          s"transform $t on load (value-identity transforms only)")
      c
    }

  /** `bucket(n, col)` transform → (col, n); None for anything else
    * (multi-column buckets and sorted buckets included — graft's
    * layout hashes ONE key column). */
  private[sources] def bucketTransformOf(t: Transform)
    : Option[(String, Int)] =
    if (t.name() != "bucket") None
    else {
      val refs = t.references()
      val n = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }
      if (refs.length == 1 && refs(0).fieldNames().length == 1)
        n.map(refs(0).fieldNames()(0) -> _)
      else None
    }

  /** CREATE/REPLACE-time partition-spec validation: either identity
    * columns (the value-clustered layout) or exactly ONE
    * `bucket(n, col)` (the hash-bucketed layout) — mixing the two
    * would promise a combined clustering no face serves, so it
    * refuses loudly where refusal costs nothing. */
  private[sources] def declaredPartSpec(partitioning: Seq[Transform])
    : (Seq[String], Option[(String, Int)]) = partitioning match {
    case Seq(t) if bucketTransformOf(t).isDefined =>
      (Seq.empty, bucketTransformOf(t))
    case ts =>
      require(!ts.exists(t => t.name() == "bucket"),
        "graft-tx: PARTITIONED BY supports either identity columns " +
          "or a single bucket(n, col) - not a mix, and not " +
          "multi-column/sorted buckets")
      (identityPartCols(ts), None)
  }

  private def identityColOf(t: Transform): Option[String] = {
    val refs = t.references()
    if (t.name() == "identity" && refs.length == 1 &&
      refs(0).fieldNames().length == 1) Some(refs(0).fieldNames()(0))
    else None
  }

  /** timestampAsOf accepts epoch millis, an ISO-8601 instant, or a
    * local `yyyy-MM-dd HH:mm:ss` timestamp (session-zone-free: local
    * timestamps resolve in the JVM default zone, matching what a user
    * reading the commit file's mtime on this machine sees). */
  private[graft] def parseTs(s: String): Long =
    s.toLongOption.getOrElse {
      scala.util.Try(java.time.Instant.parse(s).toEpochMilli).getOrElse(
        java.sql.Timestamp.valueOf(s).getTime)
    }

  /** The reader options of every `graft-tx` read face, parsed once
    * ([[readerOptions]]): the version pin — `versionAsOf` (an integer
    * version or a tag name) or `timestampAsOf` (millis since epoch) —
    * plus the row restrictions, `keyRange` on the table's default range
    * column and the `colRange.<c>`/`strRange.<c>` boxes as inclusive
    * bound filters. A restricted read is a subset, so whole-table
    * statistics no longer describe it. */
  private[graft] final case class ReaderOptions(
    versionAsOf: Option[String] = None,
    timestampAsOf: Option[Long] = None,
    keyRange: Option[(Long, Long)] = None,
    rows: Seq[Filter] = Seq.empty) {
    def pinned: Boolean = versionAsOf.isDefined || timestampAsOf.isDefined
    def restricted: Boolean = keyRange.isDefined || rows.nonEmpty

    /** The pinned version, or -1 (the latest). */
    def version(spark: SparkSession, root: String): Int =
      versionAsOf.map(TxTable.resolveRef(spark, root, _))
        .orElse(timestampAsOf.map(TxTable.versionAt(spark, root, _)))
        .getOrElse(-1)

    /** The head these options read: the pinned one, or the latest. */
    private[sources] def head(spark: SparkSession, root: String): TxTable.Head =
      TxTable.resolve(spark, root, version(spark, root))

    /** The row restrictions on `names`' spelling of each column:
      * option keys can arrive lowercased (DataFrameReader's options
      * iterate as a CaseInsensitiveMap), and a range on an unresolved
      * name would neither prune nor filter. */
    def on(names: Seq[String]): ReaderOptions = {
      def res(c: String) = names.find(_.equalsIgnoreCase(c)).getOrElse(c)
      copy(rows = rows.map {
        case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(res(c), v)
        case LessThanOrEqual(c, v) => LessThanOrEqual(res(c), v)
        case f => f
      })
    }
  }

  /** `c BETWEEN lo AND hi` as the two bound filters the dir triage and
    * the row filter both read. */
  private[graft] def between(c: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** THE parse of the reader options, keys matched case-insensitively.
    * A range is `lo,hi`; a `strRange` splits at its FIRST comma (bounds
    * holding commas need the Scala `read(strRanges = ...)` API). */
  private[graft] def readerOptions(params: Map[String, String])
    : ReaderOptions = {
    def get(key: String) =
      params.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
    def prefixed(p: String, k: String) =
      k.length > p.length && k.regionMatches(true, 0, p, 0, p.length)
    def range(k: String, v: String, limit: Int) = v.split(",", limit) match {
      case Array(lo, hi) => (lo, hi)
      case _ => throw new IllegalArgumentException(
        s"graft-tx: option $k must be 'lo,hi', got '$v'")
    }
    def longs(k: String, v: String) = {
      val (lo, hi) = range(k, v, 0)
      (lo.trim.toLong, hi.trim.toLong)
    }
    val version = get("versionAsOf")
    val ts = get("timestampAsOf").map(parseTs)
    require(version.isEmpty || ts.isEmpty,
      "graft-tx: versionAsOf and timestampAsOf are mutually exclusive")
    val rows = params.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      if (prefixed("colRange.", k)) {
        val (lo, hi) = longs(k, v)
        between(k.substring(9), lo, hi)
      } else if (prefixed("strRange.", k)) {
        val (lo, hi) = range(k, v, 2)
        between(k.substring(9), lo, hi)
      } else Seq.empty
    }
    ReaderOptions(version, ts, get("keyRange").map(longs("keyRange", _)),
      rows)
  }

  /** Catalyst-typed stat value for a recorded Long bound — only types
    * whose commit stats are exact integral encodings qualify; anything
    * else reports no min/max (still sound, just less informative). */
  private def typedBound(dt: org.apache.spark.sql.types.DataType,
    v: Long): Option[Object] = dt match {
    case org.apache.spark.sql.types.LongType =>
      Some(java.lang.Long.valueOf(v))
    case org.apache.spark.sql.types.IntegerType =>
      Some(java.lang.Integer.valueOf(v.toInt))
    case org.apache.spark.sql.types.ShortType =>
      Some(java.lang.Short.valueOf(v.toShort))
    case _ => None
  }

  private case class TxColumnStats(ndv: Option[Long], mn: Option[Object],
    mx: Option[Object], nulls: Option[Long],
    hist: Option[(Double, Seq[(Double, Double, Long)])] = None)
    extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
    private def ol(o: Option[Long]): java.util.OptionalLong =
      o.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty)
    override def distinctCount(): java.util.OptionalLong = ol(ndv)
    override def min(): java.util.Optional[Object] =
      mn.map(java.util.Optional.of[Object])
        .getOrElse(java.util.Optional.empty[Object]())
    override def max(): java.util.Optional[Object] =
      mx.map(java.util.Optional.of[Object])
        .getOrElse(java.util.Optional.empty[Object]())
    override def nullCount(): java.util.OptionalLong = ol(nulls)
    // equi-height histogram from the fresh `hist:` commit header —
    // Spark's transformV2Stats maps it into the catalyst ColumnStat,
    // where FilterEstimation prices range predicates bin by bin
    override def histogram(): java.util.Optional[
      org.apache.spark.sql.connector.read.colstats.Histogram] =
      hist.map { case (h, bs) =>
        val binArr = bs.map { case (l, u, nd) =>
          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
            override def lo(): Double = l
            override def hi(): Double = u
            override def ndv(): Long = nd
          }
        }.toArray
        java.util.Optional.of(
          new org.apache.spark.sql.connector.read.colstats.Histogram {
            override def height(): Double = h
            override def bins(): Array[
              org.apache.spark.sql.connector.read.colstats.HistogramBin] =
              binArr
          }: org.apache.spark.sql.connector.read.colstats.Histogram)
      }.getOrElse(java.util.Optional.empty())
  }

  /** V2 statistics for a graft-tx snapshot, assembled ENTIRELY from
    * commit metadata — size from the `_bytes` stats (what drives
    * auto-broadcast), row count from `_rows`, and per-column
    * min/max/null-count from the dir stats plus NDV from the last
    * ANALYZE, the inputs Catalyst's cost-based optimizer needs to
    * order joins and price filters on a 100 TB table without touching
    * a data file. `restricted` (row-restricting reader options or a
    * pruned scan) vetoes everything but conservative absence — a stale
    * whole-table number on a restricted relation would actively
    * mislead the planner. */
  private[sources] def v2Statistics(spark: SparkSession, root: String,
    version: Int, outSchema: StructType, restricted: Boolean)
    : org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    val size =
      if (restricted) None
      else TxTable.snapshotBytes(TxTable.resolve(spark, root, version))
    val rows =
      if (restricted) None else TxTable.rowCount(spark, root, version)
    val colStats = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (!restricted && rows.nonEmpty) {
      val names = outSchema.fields.map(_.name).toSeq
      val (ranges, nulls) =
        TxTable.metadataAgg(spark, root, version, names, names)
          .map(t => (t._2, t._3))
          .getOrElse((Map.empty[String, (Long, Long)],
            Map.empty[String, Long]))
      val ndv = TxTable.columnNdv(spark, root, version)
      // analyzed-but-unstatted columns: null counts from the (fresh)
      // analyze header — join estimation refuses keys without BOTH
      // ndv and nullCount, so this is what unlocks join reordering
      // for tables that only ran ANALYZE
      val aNulls = TxTable.analyzeNullCounts(spark, root, version)
      val hists = TxTable.columnHistograms(spark, root, version)
      outSchema.fields.foreach { f =>
        val nd = ndv.get(f.name)
        val nl = nulls.get(f.name).orElse(aNulls.get(f.name))
        val mn = ranges.get(f.name).flatMap(r => typedBound(f.dataType, r._1))
        val mx = ranges.get(f.name).flatMap(r => typedBound(f.dataType, r._2))
        val h = hists.get(f.name)
        if (nd.nonEmpty || nl.nonEmpty || mn.nonEmpty || h.nonEmpty)
          colStats.put(Expressions.column(f.name),
            TxColumnStats(nd, mn, mx, nl, h))
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): OptionalLong =
        size.map(OptionalLong.of).getOrElse(OptionalLong.empty)
      override def numRows(): OptionalLong =
        rows.map(OptionalLong.of).getOrElse(OptionalLong.empty)
      override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** Per-column bounds implied by Catalyst's pushed filters, for dir
    * pruning, in the order `o`. Conservative by construction: only
    * comparisons, equality, IN and AND of them contribute; everything
    * else is ignored (Spark re-applies all filters above the scan
    * anyway). A strict bound tightens by `above`/`below`, or drops
    * when that has no answer. */
  private def boundsFrom[T](filters: Array[Filter], valueOf: Any => Option[T],
    above: T => Option[T], below: T => Option[T])(implicit o: Ordering[T])
    : Map[String, (Option[T], Option[T])] = {
    def boundsOf(f: Filter): Seq[(String, (Option[T], Option[T]))] =
      f match {
        case EqualTo(a, v) => valueOf(v).map(x => a -> (Some(x), Some(x))).toSeq
        case GreaterThan(a, v) =>
          valueOf(v).flatMap(above).map(x => a -> (Some(x), None)).toSeq
        case GreaterThanOrEqual(a, v) =>
          valueOf(v).map(x => a -> (Some(x), None)).toSeq
        case LessThan(a, v) =>
          valueOf(v).flatMap(below).map(x => a -> (None, Some(x))).toSeq
        case LessThanOrEqual(a, v) =>
          valueOf(v).map(x => a -> (None, Some(x))).toSeq
        case In(a, vs) if vs.nonEmpty && vs.forall(valueOf(_).isDefined) =>
          val xs = vs.toSeq.flatMap(valueOf)
          Seq(a -> (Some(xs.min), Some(xs.max)))
        case And(l, r) => boundsOf(l) ++ boundsOf(r)
        case _ => Seq.empty
      }
    filters.toSeq.flatMap(boundsOf).groupMapReduce(_._1)(_._2) {
      case ((lo1, hi1), (lo2, hi2)) =>
        ((lo1 ++ lo2).maxOption, (hi1 ++ hi2).minOption)
    }
  }

  /** String bounds implied by pushed filters, for string-stats dir
    * pruning: only complete [lo, hi] boxes contribute, and strict
    * inequalities widen to inclusive bounds. */
  private[graft] def strRangesFromFilters(
    filters: Array[Filter]): Map[String, (String, String)] =
    boundsFrom[String](filters, {
      case x: String => Some(x)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }, Some(_), Some(_))(hexOrdering)
      .collect { case (c, (Some(lo), Some(hi))) => c -> (lo, hi) }

  // string-range algebra in Spark's own ordering (unsigned UTF-8
  // bytes), not Java's UTF-16 compareTo — hex keys preserve it
  private[graft] def hexKey(x: String): String =
    x.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private[graft] val hexOrdering: Ordering[String] = Ordering.by(hexKey)

  /** Integral bounds implied by pushed filters, for dir pruning: a
    * one-sided bound extends to the Long range. A DATE literal bounds
    * in epoch days, the encoding DATE partition keys record. */
  private[graft] def rangesFromFilters(
    filters: Array[Filter]): Map[String, (Long, Long)] =
    boundsFrom[Long](filters, {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case i: java.lang.Integer => Some(i.toLong)
      case l: java.lang.Long => Some(l.longValue)
      case d: java.sql.Date => Some(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
          .toLong)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }, x => Option.when(x < Long.MaxValue)(x + 1),
      x => Option.when(x > Long.MinValue)(x - 1)).map { case (c, (lo, hi)) =>
      c -> (lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue))
    }

  /** Catalyst pushed filters → one parquet-mr `FilterPredicate` (the
    * public FilterCompat face), for the DSv2 scans that move rows
    * through [[TxParquetIO]] and so never meet Spark's own parquet
    * pushdown: row groups whose stats exclude the predicate are
    * skipped unread, survivors filter record-level. CONSERVATIVE BY
    * CONSTRUCTION — Spark re-evaluates every filter above the scan
    * (the builders report all filters unhandled), so a translation
    * may OVER-KEEP but must never over-drop:
    *  - leaves translate only on types whose parquet encoding is an
    *    order-preserving match (int/long families incl. date,
    *    float/double, string as UTF-8 binary, boolean equality);
    *    timestamps are skipped (INT96 legacy files have no usable
    *    stats) and so are decimals/binaries;
    *  - AND may keep one translatable side (still subtractive); OR
    *    and NOT require complete children — a partial NOT/OR would
    *    over-drop (De Morgan: NOT(a AND b) pushed as NOT a drops rows
    *    where only b failed);
    *  - parquet's NULL semantics differ from SQL under negation
    *    (notEq keeps NULL rows SQL would drop) — over-keeping again.
    * `physOf` maps the filter's logical names to physical file
    * columns; `skip` excludes columns already handled elsewhere
    * (partition keys — their value is constant per scan unit, so a
    * record-level re-check would be pure per-row overhead). */
  private[graft] def parquetPredicate(filters: Seq[Filter],
    physOf: String => String,
    typeOf: String => Option[org.apache.spark.sql.types.DataType],
    skip: String => Boolean)
    : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.types._
    def intOf(v: Any): Option[java.lang.Integer] = v match {
      case i: Int => Some(Int.box(i))
      case s: Short => Some(Int.box(s.toInt))
      case b: Byte => Some(Int.box(b.toInt))
      case d: java.sql.Date => Some(Int.box(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)))
      case d: java.time.LocalDate => Some(Int.box(d.toEpochDay.toInt))
      case _ => None
    }
    def cmp(op: String, a0: String, v: Any): Option[FilterPredicate] = {
      val a = physOf(a0)
      typeOf(a0).flatMap {
        case IntegerType | ShortType | ByteType | DateType =>
          val c = FilterApi.intColumn(a)
          intOf(v).map {
            case x => op match {
              case "eq" => FilterApi.eq(c, x)
              case "gt" => FilterApi.gt(c, x)
              case "ge" => FilterApi.gtEq(c, x)
              case "lt" => FilterApi.lt(c, x)
              case _ => FilterApi.ltEq(c, x)
            }
          }
        case LongType =>
          val c = FilterApi.longColumn(a)
          val lv: Option[java.lang.Long] = v match {
            case l: Long => Some(Long.box(l))
            case i: Int => Some(Long.box(i.toLong))
            case s: Short => Some(Long.box(s.toLong))
            case _ => None
          }
          lv.map { x => op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case _ => FilterApi.ltEq(c, x)
          } }
        case FloatType =>
          val c = FilterApi.floatColumn(a)
          val fv: Option[java.lang.Float] = v match {
            case f: Float => Some(Float.box(f))
            case _ => None
          }
          fv.map { x => op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case _ => FilterApi.ltEq(c, x)
          } }
        case DoubleType =>
          val c = FilterApi.doubleColumn(a)
          val dv: Option[java.lang.Double] = v match {
            case d: Double => Some(Double.box(d))
            case f: Float => Some(Double.box(f.toDouble))
            case _ => None
          }
          dv.map { x => op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case _ => FilterApi.ltEq(c, x)
          } }
        case StringType =>
          val c = FilterApi.binaryColumn(a)
          val sv: Option[Binary] = v match {
            case s: String => Some(Binary.fromString(s))
            case u: org.apache.spark.unsafe.types.UTF8String =>
              Some(Binary.fromConstantByteArray(u.getBytes))
            case _ => None
          }
          // UTF-8 binary comparison IS Spark's own string order
          sv.map { x => op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case _ => FilterApi.ltEq(c, x)
          } }
        case BooleanType if op == "eq" =>
          v match {
            case b: Boolean =>
              Some(FilterApi.eq(FilterApi.booleanColumn(a), Boolean.box(b)))
            case _ => None
          }
        case _ => None
      }
    }
    def nullP(a0: String, neg: Boolean): Option[FilterPredicate] = {
      val a = physOf(a0)
      typeOf(a0).flatMap {
        case IntegerType | ShortType | ByteType | DateType =>
          val c = FilterApi.intColumn(a)
          val z = null.asInstanceOf[java.lang.Integer]
          Some(if (neg) FilterApi.notEq(c, z) else FilterApi.eq(c, z))
        case LongType =>
          val c = FilterApi.longColumn(a)
          val z = null.asInstanceOf[java.lang.Long]
          Some(if (neg) FilterApi.notEq(c, z) else FilterApi.eq(c, z))
        case FloatType =>
          val c = FilterApi.floatColumn(a)
          val z = null.asInstanceOf[java.lang.Float]
          Some(if (neg) FilterApi.notEq(c, z) else FilterApi.eq(c, z))
        case DoubleType =>
          val c = FilterApi.doubleColumn(a)
          val z = null.asInstanceOf[java.lang.Double]
          Some(if (neg) FilterApi.notEq(c, z) else FilterApi.eq(c, z))
        case StringType =>
          val c = FilterApi.binaryColumn(a)
          val z = null.asInstanceOf[Binary]
          Some(if (neg) FilterApi.notEq(c, z) else FilterApi.eq(c, z))
        case BooleanType =>
          val c = FilterApi.booleanColumn(a)
          val z = null.asInstanceOf[java.lang.Boolean]
          Some(if (neg) FilterApi.notEq(c, z) else FilterApi.eq(c, z))
        case _ => None
      }
    }
    // `exact` marks positions under NOT/OR where a partial translation
    // would over-drop; at the top and under AND, partial is sound
    def conv(f: Filter, exact: Boolean): Option[FilterPredicate] = f match {
      case EqualTo(a, v) if !skip(a) && v != null => cmp("eq", a, v)
      case EqualNullSafe(a, v) if !skip(a) && v != null => cmp("eq", a, v)
      case EqualNullSafe(a, null) if !skip(a) => nullP(a, neg = false)
      case GreaterThan(a, v) if !skip(a) && v != null => cmp("gt", a, v)
      case GreaterThanOrEqual(a, v) if !skip(a) && v != null =>
        cmp("ge", a, v)
      case LessThan(a, v) if !skip(a) && v != null => cmp("lt", a, v)
      case LessThanOrEqual(a, v) if !skip(a) && v != null =>
        cmp("le", a, v)
      case In(a, vs) if !skip(a) && vs.nonEmpty && vs.length <= 256 =>
        // SQL IN never matches on a NULL element, so dropping them is
        // exact for the kept rows; an all-NULL list stays unpushed
        val nn = vs.filter(_ != null)
        if (nn.isEmpty) None
        else {
          val parts = nn.toSeq.map(cmp("eq", a, _))
          if (parts.exists(_.isEmpty)) None
          else Some(parts.flatten.reduce(FilterApi.or))
        }
      case IsNull(a) if !skip(a) => nullP(a, neg = false)
      case IsNotNull(a) if !skip(a) => nullP(a, neg = true)
      case And(l, r) =>
        (conv(l, exact), conv(r, exact)) match {
          case (Some(x), Some(y)) => Some(FilterApi.and(x, y))
          case (x, y) if !exact => x.orElse(y)
          case _ => None
        }
      case Or(l, r) =>
        for { x <- conv(l, exact = true); y <- conv(r, exact = true) }
          yield FilterApi.or(x, y)
      case Not(c) => conv(c, exact = true).map(FilterApi.not)
      case _ => None
    }
    filters.flatMap(conv(_, exact = false))
      .reduceOption(FilterApi.and)
  }

  /** Pushed filters as Column predicates over the RESOLVED snapshot —
    * gets predicate pushdown into the inner parquet scans for plain
    * tables and early row pruning for merge-on-read ones. Untranslated
    * filters are simply skipped (Spark re-checks everything above). */
  private[graft] def toPredicate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case StringContains(a, p) => Some(col(a).contains(p))
    case Not(c) => toPredicate(c).map(!_)
    case And(l, r) => for { a <- toPredicate(l); b <- toPredicate(r) }
      yield a && b
    case Or(l, r) => for { a <- toPredicate(l); b <- toPredicate(r) }
      yield a || b
    case _ => None
  }
}

/** The change feed as a BATCH relation — `TxTable.changes` behind
  * reader options, so a SQL/JDBC consumer subscribes to CDC without
  * writing Scala (the lakehouse `readChangeFeed` convention):
  *
  * {{{
  *   spark.read.format("graft-tx")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 2)       // inclusive; default 1
  *     .option("endingVersion", 5)         // inclusive; default latest
  *     .load(root)                         // or startingTimestamp /
  *                                         //    endingTimestamp
  *   -- pure SQL (CREATE TEMP VIEW ... USING routes here too):
  *   CREATE TEMPORARY VIEW t_changes USING `graft-tx`
  *     OPTIONS (path '...', readChangeFeed 'true', startingVersion '1')
  * }}}
  *
  * `startingVersion`/`endingVersion` are INCLUSIVE commit versions
  * (`changes(fromV, toV]` exclusive-start re-expressed in the
  * convention CDC consumers expect). The feed speaks the table's
  * STABLE physical column names plus `op` ('I'/'U'/'D') and
  * `commit_version` — renames never change feed columns, so a
  * downstream consumer survives them without redeploys. Cost is the
  * recorded change sets, never a table re-scan, except for
  * replace-style commits which diff keyed snapshots (see
  * [[TxTable.changes]]). */
case class TxChangesRelation(spark: SparkSession, root: String,
  parameters: Map[String, String])
  extends BaseRelation with TableScan {

  private def opt(k: String): Option[String] = parameters.get(k)
    .orElse(parameters.get(k.toLowerCase(java.util.Locale.ROOT)))
  require(!TxTableSource.readerOptions(parameters).pinned,
    "graft-tx: readChangeFeed selects a version RANGE - use " +
      "startingVersion/endingVersion (or the Timestamp twins), not " +
      "versionAsOf/timestampAsOf")
  require(opt("startingVersion").isEmpty || opt("startingTimestamp").isEmpty,
    "graft-tx: startingVersion and startingTimestamp are mutually " +
      "exclusive")
  require(opt("endingVersion").isEmpty || opt("endingTimestamp").isEmpty,
    "graft-tx: endingVersion and endingTimestamp are mutually exclusive")
  // timestamp bounds resolve against commit mtimes: starting = every
  // commit AT or AFTER the instant, ending = every commit AT or
  // BEFORE it (the lakehouse CDF convention)
  private val fromV = opt("startingVersion")
    .map(TxTable.resolveRef(spark, root, _)) // int version or tag name
    .map(s => math.max(0, s - 1))
    .orElse(opt("startingTimestamp").map(ts =>
      TxTable.versionBefore(spark, root, TxTableSource.parseTs(ts))))
    .getOrElse(0)
  private val toV = opt("endingVersion")
    .map(TxTable.resolveRef(spark, root, _))
    .orElse(opt("endingTimestamp").map(ts =>
      TxTable.versionAt(spark, root, TxTableSource.parseTs(ts))))
    .getOrElse(-1)

  private lazy val df = TxTable.changes(spark, root, fromV, toV)
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = df.schema
  // the inner plan already produces InternalRows (same move as
  // TxRelation.needConversion — zero per-row conversion tax)
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** One `graft-tx` read: the snapshot its reader options pin, and ONE
  * filter list — the option ranges plus Catalyst's pushed filters —
  * from which [[TxTable]]'s dir triage prunes and which restricts the
  * resolved rows. Its scan is the snapshot's operators over native
  * scans ([[TxTable.readWhere]]), handed over as the inner plan's own
  * rows. A pinned relation keeps the head it was created on; an
  * un-pinned one follows the table, probing forward from the head it
  * last saw, across every commit kind (a delta, a positional delete, a
  * widening append), so a kept DataFrame, a path view or a catalog
  * table over a continuously-loaded root follows the table — Spark's
  * own per-query plan gives each query snapshot isolation. */
case class TxRelation private[sources] (spark: SparkSession, root: String,
  parameters: Map[String, String])(h0: TxTable.Head)
  extends BaseRelation with PrunedFilteredScan with FileRelation
  with TxMetaAggTable {

  private[graft] val readerOptions =
    TxTableSource.readerOptions(parameters)
  @volatile private var cur = h0

  private def head(): TxTable.Head = {
    if (!readerOptions.pinned) cur = TxTable.latestFrom(cur)
    cur
  }

  private[graft] def metaRoot: String = root
  /** The version `plans.TxStatsAggRewrite` answers metadata-only
    * aggregates at (same resolution as a scan: pinned, or latest at
    * optimization time). */
  override private[graft] def metaVersion(s: SparkSession): Int =
    head().version

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = TxTable.schemaOf(spark, h0)

  // option ranges filter rows, never columns
  private lazy val optionRows = readerOptions.on(schema.fieldNames).rows

  /** Metadata-only table size from the per-dir `_bytes` stats — this
    * is what lets Catalyst AUTO-BROADCAST a small graft-tx dimension
    * table: BaseRelation's default is spark.sql.defaultSizeInBytes
    * (effectively infinite), under which every join against this
    * source plans as a shuffle however small the table is. */
  override def sizeInBytes: Long = {
    val h = head()
    TxTable.entryBytes(h.fs, h.rp, h.entries).sum
  }

  // The inner snapshot plan already produces InternalRows (Spark's
  // vectorized parquet scans + whole-stage codegen); declaring
  // needConversion = false hands them to the V1 scan exec AS-IS.
  // The default (true) routes every row through an InternalRow →
  // Row → InternalRow round trip — measured 3x slower than the raw
  // reader on a 6M-row sf1 scan, a per-row tax every query on this
  // face was paying.
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
    filters: Array[Filter]): RDD[Row] =
    TxRelation.scan(spark, root, head(), optionRows ++ filters,
      readerOptions.keyRange, requiredColumns, schema.fieldNames)

  override def inputFiles: Array[String] = {
    val h = head()
    TxFileIndex(h.fs, h.rp,
      TxTable.planned(h, optionRows, readerOptions.keyRange)).inputFiles
  }
}

object TxRelation {
  /** The batch relation of `parameters`' snapshot of `root`, its head
    * resolved once, here: the schema and the first scan share it. */
  private[sources] def of(spark: SparkSession, root: String,
    parameters: Map[String, String]): TxRelation =
    TxRelation(spark, root, parameters)(
      TxTableSource.readerOptions(parameters).head(spark, root))

  /** The rows of head `h` that pass `filters` (and `keyRange`),
    * projected to `cols` — the plan's own InternalRows. */
  private[sources] def scan(spark: SparkSession, root: String,
    h: TxTable.Head, filters: Seq[Filter], keyRange: Option[(Long, Long)],
    cols: Array[String], declared: Array[String]): RDD[Row] = {
    val df = TxTable.readWhere(spark, h, filters, keyRange)
    // Un-pinned reads follow the head per scan (a catalog table
    // follows a continuously-loaded root), so a commit may have landed
    // since the `declared` columns were planned. TxTable evolution only
    // WIDENS by name, so they stay valid — but an overwrite can drop
    // them; fail with intent instead of a confusing downstream
    // AnalysisException.
    val missing = declared.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"graft-tx: column(s) ${missing.mkString(",")} vanished from $root " +
        "since this relation was created (overwrite with a narrower " +
        "schema?) - re-load or REFRESH TABLE")
    // empty cols (SELECT count(*)) legitimately project to zero-field
    // rows — never ship full-width rows Spark will discard. toRdd (not
    // .rdd): the plan's own UnsafeRows, zero conversion (see
    // TxRelation.needConversion)
    df.select(cols.map(col).toIndexedSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** Offset = commit version. Immutable commits make version ranges a
  * perfect streaming offset: replayable, ordered, exactly-once. */
case class TxVersionOffset(v: Int) extends V2Offset {
  override def json(): String = v.toString
}

/** The DSv2 streaming face of one `graft-tx` root: a Table advertising
  * ONLY the streaming capabilities, so batch reads/writes fall back to
  * the V1 relation (which reuses the full snapshot-resolution plan)
  * while streaming runs through the connector API — under Connect too.
  * `schema` is the change-feed schema for an existing table, empty for
  * a to-be-created sink target (the write path takes its schema from
  * the query). */
class GraftTxTable(tableSchema: StructType, root: String,
  options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft-tx $root"

  // the change-feed schema, derived when a stream first asks (empty
  // for a missing table, and for a sink about to create one — there
  // the query's own schema is authoritative)
  private lazy val feedSchema: StructType =
    if (tableSchema.nonEmpty || !TxTable.exists(SparkSession.active, root))
      tableSchema
    else TxStreamSource.feedSchema(SparkSession.active, root)
  override def schema(): StructType = feedSchema

  // no existence probe: a batch read asks only whether BATCH_READ is
  // here, and a stream over a missing table already fails at load, on
  // the V1 fallback's eager schema (sourceSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // first commit version INCLUDED in the feed (default 1 = full
    // history); lets a consumer start from "now-ish" instead of
    // replaying a vacuum-bounded backlog
    val startingVersion = Option(opts.get("startingVersion"))
      .map(TxTable.resolveRef(SparkSession.active, root, _)) // or tag
      .getOrElse(1)
    require(startingVersion >= 1,
      s"graft-tx streaming: startingVersion must be >= 1, got $startingVersion")
    // micro-batch admission cap, in commit versions (the feed's
    // natural unit); absent = all available per trigger
    val maxVersions =
      Option(opts.get("maxVersionsPerTrigger")).map(_.toInt)
    maxVersions.foreach(n => require(n >= 1,
      s"graft-tx streaming: maxVersionsPerTrigger must be >= 1, got $n"))
    // byte/row-budget admission: whole versions priced by the `_bytes`
    // / `_rows` commit stats; an oversized single commit still admits
    // (progress)
    val maxBytes =
      Option(opts.get("maxBytesPerTrigger")).map(_.toLong)
    maxBytes.foreach(n => require(n >= 1,
      s"graft-tx streaming: maxBytesPerTrigger must be >= 1, got $n"))
    val maxRows =
      Option(opts.get("maxRowsPerTrigger")).map(_.toLong)
    maxRows.foreach(n => require(n >= 1,
      s"graft-tx streaming: maxRowsPerTrigger must be >= 1, got $n"))
    () => new Scan {
      override def readSchema(): StructType = feedSchema
      override def description(): String =
        s"graft-tx change feed of $root from v$startingVersion"
      override def toMicroBatchStream(ckpt: String): MicroBatchStream =
        new TxMicroBatchStream(root, feedSchema, startingVersion,
          maxVersions, maxBytes, maxRows)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TxWriteBuilder(root, info)
}

/** graft-tx relations whose commit metadata can answer aggregates —
  * the hook `plans.TxStatsAggRewrite` uses to serve count/min/max from
  * stats over the path-based V1 relation, CATALOG tables and the
  * storage-partitioned face alike. */
private[graft] trait TxMetaAggTable {
  private[graft] def metaRoot: String
  private[graft] def readerOptions: TxTableSource.ReaderOptions
  /** Pinned version for metadata answers (same resolution as a scan). */
  private[graft] def metaVersion(spark: SparkSession): Int =
    readerOptions.version(spark, metaRoot)
}

/** The session catalog's face of a `graft-tx` root (`CREATE TABLE t
  * USING graft-tx OPTIONS (path ...)`): Spark 4 loads catalog tables
  * of any TableProvider through DataSourceV2, so this Table advertises
  * BATCH_READ — but its Scan implements the connector's `V1Scan`
  * bridge, handing execution to the SAME [[TxRelation]] the path-based
  * batch face uses. One snapshot-resolution implementation serves both
  * faces; column pruning and the pushed filters' dir triage flow
  * through the pushdown interfaces into `TxRelation.buildScan` exactly
  * as on the path face. */
object GraftTxCatalogTable {
  /** Per-row source-dir metadata column (the row-level-DML group
    * identity; see [[GraftRowLevelOperation.requiredMetadataAttributes]]).
    * Served by the COW-scan reader machinery. */
  val DirMetaCol = "__graft_dir"
  /** Per-row file NAME + raw file position — together the row ID the
    * merge-on-read DML path speaks ([[GraftDeltaOperation.rowId]]);
    * exactly the coordinates the `pd:` sidecar grammar records. */
  val FileMetaCol = "__graft_file"
  val PosMetaCol = "__graft_pos"
  val MetaCols: Set[String] = Set(DirMetaCol, FileMetaCol, PosMetaCol)
}

class GraftTxCatalogTable(tableSchema: StructType, root: String,
  options: CaseInsensitiveStringMap, partCols: Seq[String] = Seq.empty,
  bucketSpec: Option[(String, Int)] = None)
  extends Table with SupportsRead with SupportsWrite with TxMetaAggTable
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // ---- SupportsPartitionManagement: the literal `SHOW PARTITIONS t`
  // and `ALTER TABLE t DROP PARTITION (...)` statements (stock Spark
  // refuses both for v2 tables without this face). Listing is commit
  // stats ONLY — tuples decode from the clustered layout's own dir
  // tokens (TxTable.partitionTuples), zero data I/O at any size; DROP
  // PARTITION routes to deleteWhere's per-dir triage, which drops the
  // matching integral/string dirs as pure metadata. Partitions are
  // CONTENT-DEFINED here (a tuple exists iff data for it does), so
  // createPartition/replacePartitionMetadata refuse loudly. ----

  override def partitionSchema(): StructType = {
    val byName = tableSchema.fields.map(f => f.name -> f).toMap
    StructType(partCols.flatMap(byName.get))
  }

  /** listPartitionIdentifiers(names, ident): all tuples, filtered by
    * the (possibly partial) spec — `SHOW PARTITIONS t PARTITION
    * (om = '03')` passes names=["om"], ident=('03'). */
  override def listPartitionIdentifiers(names: Array[String],
    ident: InternalRow): Array[InternalRow] = {
    val spark = SparkSession.active
    val (cols, tuples) = TxTable.partitionTuples(spark, root)
    val ps = partitionSchema()
    def cell(dt: org.apache.spark.sql.types.DataType, v: Any): Any =
      (dt, v) match {
        case (org.apache.spark.sql.types.StringType, s: String) =>
          UTF8String.fromString(s)
        case (org.apache.spark.sql.types.LongType, l: Long) => l
        case (org.apache.spark.sql.types.IntegerType, l: Long) => l.toInt
        case (org.apache.spark.sql.types.ShortType, l: Long) => l.toShort
        case (org.apache.spark.sql.types.DateType, l: Long) => l.toInt
        case _ => throw new UnsupportedOperationException(
          s"graft-tx: unsupported partition value $v for ${dt.sql}")
      }
    val rows = tuples.map { case (vals, _, _, _) =>
      new GenericInternalRow(cols.zip(vals).map { case (c, v) =>
        cell(ps(ps.fieldIndex(c)).dataType, v) }.toArray[Any])
    }
    val nameIdx = names.map(n => cols.indexOf(n))
    require(nameIdx.forall(_ >= 0),
      s"graft-tx: unknown partition column(s) ${names.mkString(",")}")
    rows.filter { r =>
      nameIdx.zipWithIndex.forall { case (ci, ii) =>
        val dt = ps.fields(ci).dataType
        val have = r.get(ci, dt)
        val want = ident.get(ii, dt)
        have == want
      }
    }.toArray
  }

  /** Hive-convention tallies from commit stats (numRows/totalSize/
    * numFiles per tuple — what DESCRIBE-style tooling reads). */
  override def loadPartitionMetadata(ident: InternalRow)
    : java.util.Map[String, String] = {
    val spark = SparkSession.active
    val (cols, tuples) = TxTable.partitionTuples(spark, root)
    val ps = partitionSchema()
    val m = new java.util.HashMap[String, String]()
    tuples.find { case (vals, _, _, _) =>
      cols.indices.forall { i =>
        val dt = ps.fields(i).dataType
        val want = ident.get(i, dt)
        val have = (dt, vals(i)) match {
          case (org.apache.spark.sql.types.StringType, s: String) =>
            UTF8String.fromString(s)
          case (org.apache.spark.sql.types.IntegerType, l: Long) => l.toInt
          case (org.apache.spark.sql.types.DateType, l: Long) => l.toInt
          case (org.apache.spark.sql.types.ShortType, l: Long) => l.toShort
          case (_, v) => v
        }
        have == want
      }
    } match {
      case Some((_, dirs, rows, bytes)) =>
        m.put("numFiles", dirs.toString)
        m.put("numRows", rows.toString)
        m.put("totalSize", bytes.toString)
      case None => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(name(), ident, partitionSchema())
    }
    m
  }

  /** `ALTER TABLE t DROP PARTITION (c = v, ...)` → deleteWhere on the
    * tuple equality, the partition-reload idiom's delete half. The
    * triage covers the matching single-valued, NULL-free integral,
    * DATE or string partition dirs and drops them in ONE metadata
    * commit, reading no rows. */
  override def dropPartition(ident: InternalRow): Boolean = {
    val spark = SparkSession.active
    val ps = partitionSchema()
    if (!partitionExists(ident)) return false
    val pred = ps.fields.zipWithIndex.map { case (f, i) =>
      s"${TxV2PredicateSql.quote(f.name)} = " + TxV2PredicateSql
        .renderLit(ident.get(i, f.dataType), f.dataType).getOrElse("NULL")
    }.mkString(" AND ")
    TxTable.deleteWhere(spark, root, pred)
    true
  }

  override def createPartition(ident: InternalRow,
    properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-tx: partitions are content-defined — a tuple exists when " +
        "data for it is written (INSERT INTO); ADD PARTITION has " +
        "nothing to create")

  override def replacePartitionMetadata(ident: InternalRow,
    properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-tx: partition metadata derives from commit stats and " +
        "cannot be set")

  private def metaCol(colName: String,
    dt: org.apache.spark.sql.types.DataType, what: String,
    nullable: Boolean)
    : org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = colName
      override def dataType(): org.apache.spark.sql.types.DataType = dt
      override def isNullable: Boolean = nullable
      override def comment(): String = what
    }

  override def metadataColumns()
    : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      // nullable: MERGE-inserted rows have no source dir
      metaCol(GraftTxCatalogTable.DirMetaCol,
        org.apache.spark.sql.types.StringType,
        "commit-entry dir this row was read from (row-level DML group)",
        nullable = true),
      // the ROW ID pair — Spark requires row IDs non-nullable, and
      // the scan always serves them
      metaCol(GraftTxCatalogTable.FileMetaCol,
        org.apache.spark.sql.types.StringType,
        "data file name within the dir (positional-delete coordinate)",
        nullable = false),
      metaCol(GraftTxCatalogTable.PosMetaCol,
        org.apache.spark.sql.types.LongType,
        "raw row position within the file (positional-delete coordinate)",
        nullable = false))

  override def name(): String = s"graft-tx $root"
  override def schema(): StructType = tableSchema
  private[graft] def metaRoot: String = root
  private[graft] val readerOptions =
    TxTableSource.readerOptions(TxTableSource.paramsOf(options))

  /** The table's declared (or layout-proven) partition columns as
    * identity transforms — what routes `INSERT INTO ... PARTITION`
    * resolution, dynamic-overwrite planning and the clustered write
    * distribution. A hash-bucketed layout reports its `bucket(n, c)`
    * transform instead (DESCRIBE shows it; the scans report the
    * matching KeyGroupedPartitioning). */
  override def partitioning(): Array[Transform] =
    bucketSpec match {
      case Some((c, n)) => Array(Expressions.bucket(n, c): Transform)
      case None =>
        partCols.map(c => Expressions.identity(c): Transform).toArray
    }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]
    // an empty schema means the root had no commits at load time —
    // nothing to scan yet (matching the V1 relation's require)
    if (tableSchema.nonEmpty) caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.BATCH_WRITE)   // INSERT INTO
    caps.add(TableCapability.TRUNCATE)      // INSERT OVERWRITE
    // static INSERT OVERWRITE t PARTITION (...) — partition-scoped
    caps.add(TableCapability.OVERWRITE_BY_FILTER)
    // dynamic partition overwrite / overwritePartitions()
    if (partCols.nonEmpty) caps.add(TableCapability.OVERWRITE_DYNAMIC)
    // MERGE INTO ... WITH SCHEMA EVOLUTION: Spark's
    // ResolveMergeIntoSchemaEvolution diffs source vs target and lands
    // the missing columns through GraftCatalog.alterTable — graft's
    // one atomic ADD COLUMNS commit (null-fill reads, colmap binding)
    // — before rewriting the merge. Anything beyond nullable appends
    // (type widening, nested) still fails loudly in alterTable.
    caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  /** Persistent CHECK constraints (commit `check:` headers) reported
    * as ENFORCED v2 constraints — Spark's ResolveTableConstraints
    * plants the CheckInvariant on every catalog-face write, so a
    * violating INSERT/UPDATE/MERGE fails before graft's own
    * write-face enforcement even runs. */
  override def constraints()
    : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    TxTable.checkConstraints(SparkSession.active, root).map {
      case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(sql).enforced(true).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TxCatalogScanBuilder(root, tableSchema,
      TxTableSource.paramsOf(options) ++ TxTableSource.paramsOf(opts),
      bucketSpec)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    dmlRefusal.foreach(r => throw new UnsupportedOperationException(
      s"graft-tx: writes to a table declared with $r are not supported"))
    // a `statsCols` option on CREATE TABLE overrides the bootstrap's
    // auto write-time stats columns ('' = none)
    val declaredStats = Option(options.get("statsCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    new TxCatalogWriteBuilder(root, info, partCols, declaredStats,
      bucketSpec)
  }

  /** SQL DML is a mutation of the TABLE — it cannot target a pinned
    * old snapshot, and a row-restricted face (keyRange/colRange/
    * strRange declared at CREATE TABLE) sees a subset whose DML
    * semantics on the hidden rows would be ambiguous. Refuse both
    * loudly. */
  private def dmlRefusal: Option[String] =
    if (readerOptions.pinned)
      Some("a time-travel pin (FOR VERSION/TIMESTAMP AS OF reads are " +
        "immutable)")
    else if (readerOptions.restricted)
      Some("row-restricting options (keyRange/colRange.*/strRange.*)")
    else None

  /** Group-based copy-on-write DML: Spark's own RewriteDeleteFromTable
    * / RewriteUpdateTable / RewriteMergeIntoTable build the ReplaceData
    * plan; graft supplies the affected-dir scan and the dir-swap
    * commit ([[GraftRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    dmlRefusal.foreach(r => throw new UnsupportedOperationException(
      s"graft-tx: DML on a table declared with $r is not supported"))
    if (positionalDml)
      () => new GraftDeltaOperation(root, tableSchema, info.command)
    else
      () => new GraftRowLevelOperation(root, tableSchema, info.command)
  }

  /** `spark.graft.dml.positional` picks the MERGE-ON-READ shape for
    * row-level DML (SupportsDelta) and translatable DELETEs: deleted
    * rows land as pd sidecars (plus one insert dir) — O(changed) bytes
    * instead of O(affected dirs). Default stays copy-on-write: read-side
    * cost is zero and dirs stay compact, the right default for
    * clustered/bulk DML. */
  private def positionalDml: Boolean = SparkSession.active.conf
    .getOption("spark.graft.dml.positional").exists(_.toBoolean)

  /** Filter-expressible DELETE fast path (SupportsDeleteV2): Spark's
    * OptimizeMetadataOnlyDeleteFromTable hands the condition here when
    * every conjunct translates, and [[TxTable.deleteWhere]] triages
    * its dirs from the commit stats — refuted dirs carry over,
    * covered dirs drop as metadata, only the rest are read — with no
    * full-table ReplaceData job. Anything untranslatable keeps the
    * copy-on-write path above. */
  override def canDeleteWhere(predicates: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    dmlRefusal.isEmpty &&
      predicates.forall(p => TxV2PredicateSql.render(p).isDefined)

  override def deleteWhere(predicates: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val sql = predicates.flatMap(p => TxV2PredicateSql.render(p))
    require(sql.length == predicates.length,
      "graft-tx: deleteWhere called with untranslatable predicates " +
        "(canDeleteWhere said no)")
    TxTable.deleteWhere(SparkSession.active, root,
      if (sql.isEmpty) "TRUE" else sql.mkString(" AND "), positionalDml)
    ()
  }

  /** Literal `TRUNCATE TABLE t` (TruncatableTable, inherited via
    * SupportsDeleteV2): `deleteWhere("TRUE")`, whose condition covers
    * every dir — ONE metadata commit that reads no dir and leaves one
    * zero-row schema dir; the pre-truncate snapshot stays
    * time-travelable until vacuum's own horizon. */
  override def truncateTable(): Boolean = {
    dmlRefusal.foreach(r => throw new UnsupportedOperationException(
      s"graft-tx: TRUNCATE on a table declared with $r is not supported"))
    TxTable.deleteWhere(SparkSession.active, root, "TRUE")
    true
  }
}

class TxCatalogScanBuilder(root: String, fullSchema: StructType,
  params: Map[String, String],
  bucketSpec: Option[(String, Int)] = None) extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private val readerOptions = TxTableSource.readerOptions(params)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // report every filter as unhandled so Spark re-evaluates all of
  // them above the scan; the relation still USES them — its dir
  // triage prunes by them and they restrict the resolved rows, which
  // pushes them into the inner parquet scans (best-effort, never
  // trusted)
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  // CBO statistics ride the V1Scan face too: the logical plan above a
  // catalog graft-tx table is a DataSourceV2ScanRelation regardless of
  // the V1 execution bridge, and its stats come from the SCAN — so a
  // catalog table reports metadata-exact size/rows/column stats (all
  // filters are reported unhandled, so the base-relation numbers are
  // the right ones; Catalyst prices the Filter above)
  override def build(): Scan = {
    // a `__graft_dir` projection (the metadata column; also what the
    // row-level runtime-group-filter subquery scans) can't ride the
    // V1 bridge — the per-row dir is scan-unit identity the DataFrame
    // plan doesn't carry. Serve it from the COW reader machinery: a
    // real V2 batch over the snapshot's dirs (pd sidecars folded,
    // colmap respected, pushed filters refuting whole dirs), each row
    // joined with its dir. Delta snapshots and row-restricted faces
    // refuse loudly — their visible rows are not raw-file rows.
    if (required.fieldNames.exists(GraftTxCatalogTable.MetaCols.contains)) {
      require(!readerOptions.restricted,
        s"graft-tx: __graft_* metadata columns are not served on " +
          "a row-restricted table (keyRange/colRange/strRange)")
      val spark = SparkSession.active
      val plan = TxTable.cowPlan(spark, root, pushed.toSeq,
        readerOptions.version(spark, root))
      new TxCowScan(spark, plan, required, None)
    } else bucketSpec match {
      // a hash-bucketed table serves a REAL V2 scan that reports its
      // bucket(n, col) KeyGroupedPartitioning — the catalog resolves
      // the function (GraftCatalog.loadFunction) and two same-
      // bucketed tables join on the key with zero Exchange. The
      // layout is trusted only when provable from the commit
      // (bucketFileSlices); anything else — row-restricted faces,
      // a spec drifted from the snapshot, a rewritten layout —
      // degrades to the plain scan, never wrong-answers.
      case Some((bcol, n)) if !readerOptions.restricted =>
        val spark = SparkSession.active
        val version = readerOptions.version(spark, root)
        TxTable.bucketFileSlices(spark, root, version) match {
          case Some((col2, n2, slices, m)) if col2 == bcol && n2 == n =>
            // the reported partitioning resolves against the scan
            // output — always KEEP the bucket column (projected away
            // above when unrequested)
            val out =
              if (required.fieldNames.contains(bcol)) required
              else StructType(required.fields :+ fullSchema(bcol))
            val dt = out(bcol).dataType
            // static bucket pruning: an equality/IN predicate on the
            // bucket column hashes to its bucket id(s) at planning —
            // a point lookup on a 100 TB bucketed table opens 1/n of
            // the data. Filters are all re-evaluated above, so this
            // can only skip buckets the predicate provably excludes.
            import org.apache.spark.sql.sources.{EqualTo, In => InF}
            val keeps = pushed.collect {
              case EqualTo(c, v) if c == bcol && v != null =>
                Set(GraftBucketFunction.idOf(v, dt, n))
              case InF(c, vs) if c == bcol && vs.forall(_ != null) =>
                vs.map(GraftBucketFunction.idOf(_, dt, n)).toSet
            }
            val staticKeep =
              if (keeps.isEmpty) None else Some(keeps.reduce(_ intersect _))
            new TxBucketSpjScan(spark, root, version, bcol, n, slices,
              m, out, pushed, staticKeep)
          case _ => buildV1()
        }
      case _ => buildV1()
    }
  }

  private def buildV1(): Scan = new V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
      val spark = SparkSession.active
      TxTableSource.v2Statistics(spark, root,
        readerOptions.version(spark, root), required,
        restricted = readerOptions.restricted)
    }
    override def readSchema(): StructType = required
    override def description(): String = s"graft-tx catalog scan of $root"
    override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
      val cols = required.fieldNames
      val fs = pushed
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override val schema: StructType = required
        // the delegate relation's rows are already InternalRows
        override def needConversion: Boolean = false
        override def buildScan(): RDD[Row] = {
          val spark = context.sparkSession
          TxRelation.scan(spark, root,
            TxTable.resolve(spark, root, readerOptions.version(spark, root)),
            readerOptions.on(fullSchema.fieldNames).rows ++ fs,
            readerOptions.keyRange, cols, cols)
        }
      }.asInstanceOf[T]
    }
  }
}

/** STORAGE-PARTITIONED batch face (`spark.read.format("graft-tx")
  * .option("partitionCol", c).load(root)`): a true DataSourceV2 scan
  * over a partition-clustered snapshot that REPORTS its layout —
  * `KeyGroupedPartitioning(identity(c))` with one `HasPartitionKey`
  * input partition per distinct value — so Catalyst's
  * storage-partitioned join (SPARK-37375; the V2 form of Hive
  * bucketed joins) elides the Exchange entirely when two co-clustered
  * graft-tx tables join on the partition column: at 100 TB a
  * fact-fact date-aligned join moves ZERO bytes through a shuffle.
  * Requires `spark.sql.sources.v2.bucketing.enabled=true` (missing
  * values on one side are handled by Spark's partition push-down
  * grouping). The clustering is trusted only when provable from the
  * commit stats alone — delta-free, every dir single-valued and
  * null-free on the column ([[TxTable.partitionFileSlices]]); anything
  * else fails loudly at planning, never wrong-answers. Rows move
  * through [[TxParquetIO]] exactly like the streaming faces — no
  * Spark internals, Connect-safe. */
class GraftTxSpjTable(tableSchema: StructType, root: String,
  options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with TxMetaAggTable {

  // one or more comma-separated columns: a COMPOSITE clustering key
  // reports multi-key KeyGroupedPartitioning (the co-partitioned
  // composite-tuple join of the reference's CompositeInputFormat,
  // src/mapred/org/apache/hadoop/mapred/join/CompositeInputFormat
  // .java:1, re-expressed as a DSv2 partition contract)
  private val partCols =
    options.get("partitionCol").split(",").map(_.trim).toSeq
  partCols.foreach(c => require(tableSchema.fieldNames.contains(c),
    s"graft-tx: partitionCol '$c' is not a column of $root " +
      s"(have: ${tableSchema.fieldNames.mkString(", ")})"))

  override def name(): String =
    s"graft-tx $root [pby ${partCols.mkString(",")}]"
  override def schema(): StructType = tableSchema
  private[graft] def metaRoot: String = root
  private[graft] val readerOptions =
    TxTableSource.readerOptions(TxTableSource.paramsOf(options))
  override def partitioning(): Array[Transform] =
    partCols.map(Expressions.identity).toArray

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]
    if (tableSchema.nonEmpty) caps.add(TableCapability.BATCH_READ)
    caps
  }

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TxSpjScanBuilder(root, tableSchema, partCols,
      TxTableSource.paramsOf(options) ++ TxTableSource.paramsOf(opts))
}

class TxSpjScanBuilder(root: String, fullSchema: StructType,
  partCols: Seq[String], params: Map[String, String]) extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var partPred: Seq[Any] => Boolean = _ => true

  // prune columns, but always KEEP the partition columns — the
  // reported KeyGroupedPartitioning resolves against the scan output,
  // and the extra columns (when unrequested) are projected away above
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val missing = partCols.filterNot(requiredSchema.fieldNames.contains)
    required = StructType(
      requiredSchema.fields ++ missing.map(fullSchema(_)))
  }

  // PARTITION PRUNING: predicates on a partition column drop whole
  // partitions at planning (a `WHERE day = X` over a date-partitioned
  // 100 TB table opens one partition). Every filter is still reported
  // unhandled so Spark re-evaluates above — pruning can only skip
  // value groups the predicate provably excludes, never rows. Each
  // key column prunes independently on its own tuple position.
  // Integral keys prune on any range shape; STRING keys prune on
  // equality/IN/prefix AND ranges — compared in hex-encoded unsigned
  // UTF-8 byte space (hexKey), which IS Spark's own string ordering
  // (UTF8String.compareTo), never java's UTF-16 compareTo. That is
  // what lets `WHERE day >= '2026-01-01' AND day < '2026-02-01'` over
  // a date-STRING-partitioned table open only the in-range
  // partitions.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def longOf(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue)
      // DateType keys compare in days-since-epoch (the slice tuples'
      // own encoding — exactly DateType's internal representation)
      case d: java.sql.Date => Some(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
          .toLong)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    def longPred(f: Filter, pc: String): Option[Long => Boolean] = f match {
      case EqualTo(c, v) if c == pc => longOf(v).map(x => _ == x)
      case In(c, vs) if c == pc =>
        val xs = vs.flatMap(longOf)
        if (xs.length == vs.length) Some(xs.toSet.contains _) else None
      case GreaterThan(c, v) if c == pc => longOf(v).map(x => _ > x)
      case GreaterThanOrEqual(c, v) if c == pc =>
        longOf(v).map(x => _ >= x)
      case LessThan(c, v) if c == pc => longOf(v).map(x => _ < x)
      case LessThanOrEqual(c, v) if c == pc =>
        longOf(v).map(x => _ <= x)
      case And(l, r) => (longPred(l, pc), longPred(r, pc)) match {
        case (Some(a), Some(b)) => Some(x => a(x) && b(x))
        case (a, b) => a.orElse(b) // one side still prunes soundly
      }
      case _ => None
    }
    def strPred(f: Filter, pc: String): Option[String => Boolean] = f match {
      case EqualTo(c, v: String) if c == pc => Some(_ == v)
      case In(c, vs) if c == pc && vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet.contains _)
      // `day LIKE '2026-08%'` — the month-over-day-strings shape;
      // prefix match is order-free, so it prunes strings soundly
      case org.apache.spark.sql.sources.StringStartsWith(c, p)
        if c == pc => Some(_.startsWith(p))
      // ranges compare in hexKey space (= Spark's UTF-8 byte order)
      case GreaterThan(c, v: String) if c == pc =>
        val h = TxTableSource.hexKey(v)
        Some(x => TxTableSource.hexKey(x) > h)
      case GreaterThanOrEqual(c, v: String) if c == pc =>
        val h = TxTableSource.hexKey(v)
        Some(x => TxTableSource.hexKey(x) >= h)
      case LessThan(c, v: String) if c == pc =>
        val h = TxTableSource.hexKey(v)
        Some(x => TxTableSource.hexKey(x) < h)
      case LessThanOrEqual(c, v: String) if c == pc =>
        val h = TxTableSource.hexKey(v)
        Some(x => TxTableSource.hexKey(x) <= h)
      case And(l, r) => (strPred(l, pc), strPred(r, pc)) match {
        case (Some(a), Some(b)) => Some(x => a(x) && b(x))
        case (a, b) => a.orElse(b)
      }
      case _ => None
    }
    def predOf(f: Filter, pc: String): Option[Any => Boolean] =
      fullSchema(pc).dataType match {
        case org.apache.spark.sql.types.StringType =>
          strPred(f, pc).map(p => (v: Any) => p(v.asInstanceOf[String]))
        case _ =>
          longPred(f, pc).map(p => (v: Any) => p(v.asInstanceOf[Long]))
      }
    val byPos: Seq[Seq[Any => Boolean]] =
      partCols.map(pc => filters.flatMap(predOf(_, pc)).toSeq)
    if (byPos.exists(_.nonEmpty)) {
      partPred = vs => byPos.zip(vs).forall {
        case (ps, v) => ps.forall(_(v))
      }
      pruned = true
    }
    // VALUE-column filters are kept too: build() translates them to a
    // parquet-mr FilterPredicate so the reader skips row groups whose
    // stats exclude them and filters the rest record-level — without
    // this, a selective non-partition predicate read EVERY byte of
    // every surviving partition and filtered above the scan. All
    // filters are still returned (= re-evaluated by Spark above), so
    // the pushed form only ever subtracts I/O, never rows.
    pushed = filters
    filters
  }
  private var pruned = false
  private var pushed: Array[Filter] = Array.empty
  // report the value filters the scan actually pushes (EXPLAIN's
  // PushedFilters line); Spark still re-evaluates everything because
  // pushFilters returned the full set as post-scan filters
  override def pushedFilters(): Array[Filter] =
    pushed.filter(f =>
      f.references.nonEmpty && !f.references.exists(partCols.contains))

  // the scan moves raw file rows per partition value, so a row
  // restriction it cannot honour refuses loudly (like the __graft_*
  // metadata-column scan) instead of returning rows outside the range
  override def build(): Scan = {
    val opts = TxTableSource.readerOptions(params)
    require(!opts.restricted,
      "graft-tx: the storage-partitioned face (partitionCol) does not " +
        "serve row-restricting options (keyRange/colRange/strRange) - " +
        "filter with WHERE instead")
    val spark = SparkSession.active
    new TxSpjScan(spark, root, opts.version(spark, root), partCols,
      required, partPred, pruned, pushed)
  }
}

class TxSpjScan(spark: SparkSession, root: String, version: Int,
  partCols: Seq[String], outSchema: StructType,
  partPred: Seq[Any] => Boolean = _ => true, pruned: Boolean = false,
  valueFilters: Array[Filter] = Array.empty)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Metadata-exact size/rows/column statistics for the cost-based
    * optimizer — but ONLY when nothing restricted the scan: a
    * statically or dynamically pruned scan reads a subset, and
    * whole-table numbers on it would mislead the planner worse than
    * none (Spark falls back to its own heuristics on empty). */
  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics =
    TxTableSource.v2Statistics(spark, root, version, outSchema,
      restricted = pruned || runtimeKeep.nonEmpty)

  private lazy val (slices, colMap) = {
    val (all, m) =
      TxTable.partitionFileSlices(spark, root, version, partCols).getOrElse(
        throw new IllegalStateException(
          s"graft-tx: table at $root is not provably partition-clustered " +
            s"on '${partCols.mkString(",")}' (needs a delta-free snapshot " +
            "whose every dir is single-valued and null-free on every key " +
            "column — appendPartitioned/appendPartitionedBy produce " +
            "exactly that layout)"))
    (all.filter { case (vs, _) => partPred(vs) }, m)
  }

  // DYNAMIC partition pruning: a join against a FILTERED dim hands
  // the dim's surviving keys here at runtime (Spark's DPP subquery),
  // and whole fact partitions drop before a single file opens — the
  // date-dim → date-partitioned-fact shape at 100 TB. Only an IN on
  // a partition column prunes (on its own tuple position); anything
  // else is a sound no-op (Spark always re-evaluates the join).
  // Integral keys arrive as Numbers, string keys as Strings — each
  // normalizes to the slice tuple's own representation.
  @volatile private var runtimeKeep: Map[Int, Set[Any]] = Map.empty
  override def filterAttributes(): Array[NamedReference] =
    partCols.map(Expressions.column).toArray
  override def filter(filters: Array[Filter]): Unit = {
    val isStr = partCols.map(pc =>
      outSchema(pc).dataType == org.apache.spark.sql.types.StringType)
    def dayable(v: Any): Boolean = v.isInstanceOf[Number] ||
      v.isInstanceOf[java.sql.Date] || v.isInstanceOf[java.time.LocalDate]
    def asLong(v: Any): Any = v match {
      case n: Number => n.longValue: Any
      case d: java.sql.Date =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
          .toLong: Any
      case d: java.time.LocalDate => d.toEpochDay: Any
    }
    runtimeKeep = partCols.zipWithIndex.flatMap { case (pc, i) =>
      val keeps = filters.collect {
        case In(c, vs) if c == pc && !isStr(i) && vs.forall(dayable) =>
          vs.map(asLong).toSet
        case In(c, vs) if c == pc && isStr(i) &&
          vs.forall(_.isInstanceOf[String]) =>
          vs.map(v => v.asInstanceOf[String]: Any).toSet
      }
      if (keeps.isEmpty) None
      else Some(i -> keeps.reduce(_ intersect _))
    }.toMap
  }
  private def liveSlices: Seq[(Seq[Any], Seq[String])] =
    if (runtimeKeep.isEmpty) slices
    else slices.filter { case (vs, _) =>
      runtimeKeep.forall { case (i, keep) => keep(vs(i)) }
    }

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-tx storage-partitioned scan of $root on " +
      partCols.mkString(",")

  // SQL-UI metric: rows the parquet readers actually EMITTED — after
  // row-group stats skipping and record-level filtering — so value-
  // filter pushdown is observable (and testable) from the standard
  // metrics surface: a selective pushed predicate shows rows-read ~
  // matches, not ~ table
  override def supportedCustomMetrics()
    : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ParquetRowsReadMetric)

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      partCols.map(Expressions.identity).toArray[
        org.apache.spark.sql.connector.expressions.Expression],
      slices.size)

  override def planInputPartitions(): Array[InputPartition] = {
    val dts = partCols.map(outSchema(_).dataType)
    liveSlices.map { case (vs, files) =>
      val keys = dts.zip(vs).map {
        case (org.apache.spark.sql.types.IntegerType, v: Long) =>
          v.toInt: Any
        case (org.apache.spark.sql.types.ShortType, v: Long) =>
          v.toShort: Any
        // DateType's InternalRow encoding IS the int day count
        case (org.apache.spark.sql.types.DateType, v: Long) =>
          v.toInt: Any
        case (org.apache.spark.sql.types.StringType, v: String) =>
          UTF8String.fromString(v): Any
        case (_, v) => v: Any
      }
      TxSpjInputPartition(new GenericInternalRow(keys.toArray),
        files): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // physical file names in OUTPUT order: positions line up, so the
    // reader's rows need no re-mapping (InternalRow is positional)
    val fileSchema = StructType(outSchema.fields.map(f =>
      f.copy(name = TxTable.physNameOf(colMap, f.name))))
    // value filters ride to the readers as ONE parquet FilterPredicate
    // over the PHYSICAL names (row-group stats skip + record filter);
    // partition columns are excluded — constant per scan unit, pruning
    // already decided them. Predicate columns are always in the read
    // schema: Spark prunes to projection + filter references because
    // every filter is reported post-scan.
    val pq = TxTableSource.parquetPredicate(valueFilters.toSeq,
      c => TxTable.physNameOf(colMap, c),
      c => outSchema.fields.find(_.name == c).map(_.dataType),
      partCols.contains)
    TxSpjReaderFactory(fileSchema, TxParquetIO.shipped(
      spark.sessionState.newHadoopConf()), pq)
  }
}

/** The SPJ scan's rows-read SQL metric. A TOP-LEVEL class on purpose:
  * the SQL status listener aggregates V2 custom metrics by
  * reflectively instantiating the metric class from its name, so an
  * anonymous/inner class (no public no-arg constructor) would render
  * as N/A in the UI and the history store. */
class ParquetRowsReadMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "parquetRowsRead"
  override def description(): String =
    "rows emitted by parquet readers (post filter pushdown)"
}

/** One partition VALUE's files — the co-partitioned scan unit. */
case class TxSpjInputPartition(key: GenericInternalRow,
  files: Seq[String]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** HASH-BUCKETED storage-partitioned batch face — the scan a
  * bucket-clustered catalog table ([[TxTable.appendBucketedBy]]
  * layouts) serves automatically: `KeyGroupedPartitioning(
  * bucket(n, col))` with one `HasPartitionKey` input partition per
  * bucket id. Identity partitioning co-locates LOW-cardinality keys
  * (one dir per value); this face co-locates HIGH-cardinality join
  * keys — two tables bucketed the same way join on the key with ZERO
  * Exchange, and with `spark.sql.sources.v2.bucketing.shuffle
  * .enabled` a non-bucketed side shuffles INTO this layout while the
  * bucketed (big) side never moves. Equality/IN predicates on the
  * bucket column prune whole buckets statically; a filtered-dim join
  * prunes them at runtime (DPP) by hashing the dim's surviving keys.
  * Rows move through [[TxParquetIO]] like every other face. */
class TxBucketSpjScan(spark: SparkSession, root: String, version: Int,
  bucketCol: String, numBuckets: Int,
  slices: Seq[(Int, Seq[String])],
  colMap: Option[Seq[(String, String)]],
  outSchema: StructType,
  valueFilters: Array[Filter],
  staticKeep: Option[Set[Int]])
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private def dt = outSchema(bucketCol).dataType

  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics =
    TxTableSource.v2Statistics(spark, root, version, outSchema,
      restricted = staticKeep.isDefined || runtimeKeep.isDefined)

  // DPP over buckets: the join against a FILTERED dim hands the
  // surviving keys here at runtime; hashing them names the only
  // buckets that can match, and whole buckets drop before a file
  // opens. Sound because every filter is re-evaluated above.
  @volatile private var runtimeKeep: Option[Set[Int]] = None
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(bucketCol))
  override def filter(filters: Array[Filter]): Unit = {
    val keeps = filters.collect {
      case In(c, vs) if c == bucketCol && vs.forall(_ != null) =>
        vs.map(v =>
          GraftBucketFunction.idOf(v, dt, numBuckets)).toSet
    }
    if (keeps.nonEmpty) runtimeKeep = Some(keeps.reduce(_ intersect _))
  }
  private def keep(id: Int): Boolean =
    staticKeep.forall(_.contains(id)) && runtimeKeep.forall(_.contains(id))

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-tx bucketed scan of $root on bucket($numBuckets, $bucketCol)"

  override def supportedCustomMetrics()
    : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ParquetRowsReadMetric)

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(numBuckets, bucketCol):
        org.apache.spark.sql.connector.expressions.Expression),
      slices.size)

  override def planInputPartitions(): Array[InputPartition] =
    slices.filter(s => keep(s._1)).map { case (id, files) =>
      TxSpjInputPartition(new GenericInternalRow(Array(id: Any)),
        files): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val fileSchema = StructType(outSchema.fields.map(f =>
      f.copy(name = TxTable.physNameOf(colMap, f.name))))
    // unlike identity partitions the bucket column is NOT constant
    // per dir — it rides the parquet predicate like any value column
    val pq = TxTableSource.parquetPredicate(valueFilters.toSeq,
      c => TxTable.physNameOf(colMap, c),
      c => outSchema.fields.find(_.name == c).map(_.dataType),
      _ => false)
    TxSpjReaderFactory(fileSchema, TxParquetIO.shipped(
      spark.sessionState.newHadoopConf()), pq)
  }
}

case class TxSpjReaderFactory(fileSchema: StructType,
  conf: SerializableConfiguration,
  filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate]
    = None) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new TxSpjPartitionReader(
      p.asInstanceOf[TxSpjInputPartition].files, fileSchema, conf, filter)
}

/** Chains one value's parquet files through [[TxParquetIO]]. */
class TxSpjPartitionReader(files: Seq[String], schema: StructType,
  conf: SerializableConfiguration,
  filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate]
    = None) extends PartitionReader[InternalRow] {

  private val it = files.iterator
  private var reader: org.apache.parquet.hadoop.ParquetReader[InternalRow] = _
  private var current: InternalRow = _
  private var rowsRead = 0L

  override def next(): Boolean = {
    while (true) {
      if (reader == null) {
        if (!it.hasNext) return false
        reader = TxParquetIO.reader(
          new org.apache.hadoop.fs.Path(it.next()), schema, conf.value,
          filter)
      }
      val r = reader.read()
      if (r != null) { current = r; rowsRead += 1; return true }
      reader.close(); reader = null
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()
  override def currentMetricsValues()
    : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "parquetRowsRead"
      override def value(): Long = rowsRead
    })
}

/** Micro-batch change-feed stream. All methods run on the driver;
  * rows move only in the PartitionReaders. `planInputPartitions` is
  * file-granular — one partition per surviving parquet file — so a
  * large commit fans out across the cluster exactly like a batch scan
  * of the same files.
  *
  * ADMISSION CONTROL (r11): without a read limit, a stream started
  * against a table with history admits the ENTIRE backlog as one
  * micro-batch — at 100 TB that is one giant batch that must succeed
  * wholesale before any progress checkpoints. `maxVersionsPerTrigger`
  * caps each micro-batch at N commit versions (the version is this
  * log's admission unit — `changeFileSlices` is version-granular and
  * each version's files still fan out cluster-wide), so a backfill
  * checkpoints incrementally and a failure repeats only the last
  * capped batch. `Trigger.AvailableNow` composes: the head is pinned
  * at [[prepareForTriggerAvailableNow]] time and the stream drains to
  * exactly that pin in capped batches, then stops — the engine's
  * batch-like-draining contract (same shape as FileStreamSource's
  * maxFilesPerTrigger; public SupportsAdmissionControl API). */
class TxMicroBatchStream(root: String, schema: StructType,
  startingVersion: Int, maxVersionsPerTrigger: Option[Int] = None,
  maxBytesPerTrigger: Option[Long] = None,
  maxRowsPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  private def headNow: Int =
    math.max(TxTable.latestVersion(spark, root), startingVersion - 1)

  /** Head pinned by Trigger.AvailableNow, else live. */
  @volatile private var pinnedHead: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedHead = Some(headNow)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxVersionsPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq ++
      maxRowsPerTrigger.map(ReadLimit.maxRows).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def maxVersionsOf(limit: ReadLimit): Option[Int] = limit match {
    case f: ReadMaxFiles => Some(f.maxFiles())
    case c: CompositeReadLimit =>
      c.getReadLimits.flatMap(maxVersionsOf).reduceOption(math.min)
    case _ => None
  }
  private def maxBytesOf(limit: ReadLimit): Option[Long] = limit match {
    case b: ReadMaxBytes => Some(b.maxBytes())
    case c: CompositeReadLimit =>
      c.getReadLimits.flatMap(maxBytesOf(_)).reduceOption((a, b) => math.min(a, b))
    case _ => None
  }
  private def maxRowsOf(limit: ReadLimit): Option[Long] = limit match {
    case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      Some(r.maxRows())
    case c: CompositeReadLimit =>
      c.getReadLimits.flatMap(maxRowsOf(_)).reduceOption((a, b) => math.min(a, b))
    case _ => None
  }

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val head = pinnedHead.getOrElse(headNow)
    val s = versionOf(start)
    val byVersions = maxVersionsOf(limit)
      .filter(_ > 0).map(n => math.min(head, s + n))
    // byte/row budgets: admit whole versions, priced by their `_bytes`
    // / `_rows` commit stats (pure metadata — no listing), always >=1
    // version so an oversized single commit still makes progress
    def budgeted(budget: Long, price: Int => Long): Int = {
      var v = s
      var acc = 0L
      var more = true
      while (more && v < head) {
        val b = price(v + 1)
        if (v == s || acc + b <= budget) { v += 1; acc += b }
        else more = false
      }
      v
    }
    val byBytes = maxBytesOf(limit).filter(_ > 0).map(budgeted(_,
      TxTable.versionAddedBytes(spark, root, _)))
    val byRows = maxRowsOf(limit).filter(_ > 0).map(budgeted(_,
      TxTable.versionAddedRows(spark, root, _)))
    val end = (Seq(head) ++ byVersions ++ byBytes ++ byRows).min
    TxVersionOffset(math.max(end, s))
  }

  override def reportLatestOffset(): V2Offset = TxVersionOffset(headNow)

  override def initialOffset(): V2Offset =
    TxVersionOffset(startingVersion - 1)

  override def latestOffset(): V2Offset = TxVersionOffset(headNow)

  override def deserializeOffset(json: String): V2Offset =
    TxVersionOffset(json.trim.stripPrefix("\"").stripSuffix("\"").toInt)

  private def versionOf(o: V2Offset): Int = o match {
    case TxVersionOffset(v) => v
    case other => other.json().trim.toInt
  }

  override def planInputPartitions(start: V2Offset,
    end: V2Offset): Array[InputPartition] =
    TxTable.changeFileSlices(spark, root, versionOf(start), versionOf(end))
      .flatMap(s => s.files.map(f =>
        TxInputPartition(f, s.constOp, s.version)))
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    TxReaderFactory(schema, TxParquetIO.shipped(
      spark.sessionState.newHadoopConf()))

  override def commit(end: V2Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One parquet data file of one commit's change slice. `constOp` set
  * means the file holds plain data rows tagged with that op (append);
  * unset means the file carries its own `op` column (delta/diff). */
case class TxInputPartition(file: String, constOp: Option[String],
  version: Int) extends InputPartition

case class TxReaderFactory(schema: StructType,
  conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new TxPartitionReader(p.asInstanceOf[TxInputPartition], schema, conf)
}

/** Reads one change-slice file through [[TxParquetIO]] and widens each
  * row to the feed schema: file columns by name, `op` from the slice
  * constant where the file has none, `commit_version` always constant.
  * No Spark plan, no driver involvement — pure executor record IO. */
class TxPartitionReader(part: TxInputPartition, schema: StructType,
  conf: SerializableConfiguration) extends PartitionReader[InternalRow] {

  // feed fields that must come FROM the file, in feed order
  private val fileFields = StructType(schema.fields.filterNot(f =>
    f.name == "commit_version" || (f.name == "op" && part.constOp.isDefined)))
  private val fromFileIdx: Map[String, Int] =
    fileFields.fieldNames.zipWithIndex.toMap
  private val reader = TxParquetIO.reader(
    new org.apache.hadoop.fs.Path(part.file), fileFields, conf.value)
  private val opConst = part.constOp.map(UTF8String.fromString).orNull
  private var current: InternalRow = _

  override def next(): Boolean = {
    val r = reader.read()
    if (r == null) false
    else {
      val out = new Array[Any](schema.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        out(i) =
          if (f.name == "commit_version") part.version.toLong
          else if (f.name == "op" && opConst != null) opConst
          else r.get(fromFileIdx(f.name), f.dataType)
      }
      current = new GenericInternalRow(out)
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** Streaming write builder: Append by default; Complete (truncate)
  * maps to transactional overwrite, mirroring the V1 sink.
  *
  * `partitionBy` (comma-separated long/int/short/date/string
  * columns) selects the
  * PARTITIONED ingest shape: the Write then REQUIRES a clustered
  * distribution plus a within-partition sort on the partition columns
  * (public `RequiresDistributionAndOrdering` — Spark shuffles/sorts
  * each micro-batch before the writers see a row), so every writer
  * task receives whole partition values in contiguous runs and stages
  * ONE file per value ([[TxStagedWriter]], under the snapshot's
  * physical column names). Commit promotes those files by rename with
  * the stats their writers saw ([[TxTable.promotePartitioned]]) — the
  * epoch's data is written exactly once, and the streamed table gets
  * the same provably-clustered layout as a batch appendPartitionedBy:
  * storage-partitioned joins, metadata-only GROUP BY and dir pruning
  * work on it immediately. */
class TxWriteBuilder(root: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  private var complete = false
  private val partCols: Seq[String] =
    Option(info.options.get("partitionBy"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  TxStagedWriter.requirePartitionable(info.schema(), partCols)
  require(partCols.isEmpty || Option(info.options.get("keys")).isEmpty,
    "graft-tx sink: partitionBy and keys are mutually exclusive " +
      "(keyed CDC merges fold by key, not layout)")
  override def truncate(): WriteBuilder = { complete = true; this }
  override def build(): Write = {
    require(partCols.isEmpty || !complete,
      "graft-tx sink: partitionBy supports append mode only")
    if (partCols.isEmpty) new Write {
      override def toStreaming: StreamingWrite =
        new TxStreamingWrite(root, info, complete)
    } else new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder => V2SortOrder}
      override def requiredDistribution(): Distribution =
        Distributions.clustered(
          partCols.map(c => Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray)
      override def requiredOrdering(): Array[V2SortOrder] =
        partCols.map(c => Expressions.sort(Expressions.identity(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
      override def toStreaming: StreamingWrite =
        new TxStreamingWrite(root, info, complete, partCols)
    }
  }
}

/** Exactly-once micro-batch loads, DSv2 shape: executors stage each
  * epoch's rows as parquet files under `_staging/<stream>/epoch-<id>`
  * ([[TxStagedWriter]] — no Spark plan in the executor), and the
  * driver-side `commit` applies the staged batch through the
  * transactional write paths — the rename promotes (`appendEpoch` for
  * plain epochs, `promotePartitioned` under `partitionBy`), which
  * never read the rows back, and `mergeDelta` (keyed CDC) and
  * `overwrite` (Complete mode), which resolve them — carrying the
  * epoch id where replay protection applies. A replayed epoch re-stages its files and
  * the batch tag recognizes it at commit: at-least-once delivery
  * composes to exactly-once table state, same contract as the V1 sink
  * this replaces (tags stay checkpoint-scoped and byte-compatible, so
  * an upgraded pipeline resumes against its existing table). */
class TxStreamingWrite(root: String, info: LogicalWriteInfo,
  complete: Boolean, partCols: Seq[String] = Seq.empty)
  extends StreamingWrite {

  private val schema = info.schema()
  private val opts = info.options()
  private val keyCols = Option(opts.get("keys"))
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  private val statsCols = Option(opts.get("statsCols"))
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq.empty)
  // replay-protection tags are scoped per STREAM, or two queries
  // writing one table would collide on bare batch ids (both start at
  // 0) and silently drop each other's batches. The checkpoint
  // location IS the query's durable identity — the same checkpoint
  // is the same logical stream across restarts (and across the
  // V1-sink → DSv2 upgrade).
  // The final fallback is the V1 sink's "default" (NOT queryId): a
  // pipeline that set neither option keeps its replay-protection
  // lineage across the V1→DSv2 upgrade, so its last in-flight batch
  // is still recognized instead of double-applying once.
  private val explicitId = Option(opts.get("checkpointLocation"))
    .orElse(Option(opts.get("queryName")))
    .map(s => java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL))
  private val streamId = explicitId.getOrElse("default")

  // The shared "default" lineage is safe for ONE logical stream only:
  // a second anonymous query (fresh epochs from 0) against a table the
  // first already loaded would find its epoch ids <= the committed tag
  // and be silently dropped — data loss, not idempotence. Detect the
  // collision instead of guessing: an owner marker records which query
  // currently holds the anonymous lineage. The marker is claimed
  // ATOMICALLY (create-no-overwrite; hard-link on file:, the same
  // claim discipline as the commit log) — a check-then-act overwrite
  // would let two anonymous streams that both start before either
  // commits a batch BOTH pass the guard, and the loser's epochs would
  // then be silently dropped by replay protection, the exact loss the
  // guard exists to detect. Ownership is re-verified on EVERY epoch
  // commit, so a stream whose lineage was taken over dies loudly at
  // its next commit instead of silently losing data. A marker-less
  // table with committed tags stays claimable — that is precisely the
  // V1→DSv2 upgrade resuming its own lineage.
  private def ownerMarkerPath = new org.apache.hadoop.fs.Path(
    s"$root/_staging/_default_owner")
  private def readOwner(fs: org.apache.hadoop.fs.FileSystem): Option[String] =
    if (!fs.exists(ownerMarkerPath)) None
    else {
      val in = fs.open(ownerMarkerPath)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  /** Atomic create-no-overwrite of `p` with `body`; true iff claimed.
    * Local filesystems claim via link(2) (Hadoop's RawLocalFileSystem
    * create(overwrite=false) is check-then-act — two racers can both
    * pass); HDFS-class filesystems claim at the namenode. */
  private def atomicClaim(fs: org.apache.hadoop.fs.FileSystem,
    p: org.apache.hadoop.fs.Path, body: Array[Byte]): Boolean =
    if (fs.getScheme == "file") {
      val dst = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        dst.getParent, ".owner-", ".tmp")
      try {
        java.nio.file.Files.write(tmp, body)
        java.nio.file.Files.createLink(dst, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      try {
        fs.mkdirs(p.getParent)
        val out = fs.create(p, false)
        try out.write(body) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (fs.exists(p)) false else throw e
      }
    }
  private def collisionError(owner: String): Nothing =
    throw new IllegalStateException(
      s"graft-tx sink: a different anonymous stream (query $owner) " +
        s"holds the shared 'default' replay lineage of $root; this " +
        "query's epochs would be silently dropped. Set .queryName(...) " +
        "or .option(\"checkpointLocation\", ...) to give each stream " +
        "its own replay-protection lineage")
  private lazy val defaultLineageGuard: Unit = if (explicitId.isEmpty) {
    val spark = SparkSession.active
    val qid = info.queryId()
    val fs = ownerMarkerPath
      .getFileSystem(spark.sessionState.newHadoopConf())
    val owner = readOwner(fs)
    if (owner.exists(_ != qid) &&
      TxTable.hasStreamTag(spark, root, "default"))
      collisionError(owner.get)
    if (!owner.contains(qid)) {
      // a stale marker (claimer died before committing) may be taken
      // over: delete + atomic re-claim — of two racing takeovers
      // exactly one link succeeds; the loser re-reads and dies loudly
      owner.foreach(_ => fs.delete(ownerMarkerPath, false))
      if (!atomicClaim(fs, ownerMarkerPath, qid.getBytes("UTF-8"))) {
        val now = readOwner(fs)
        if (!now.contains(qid)) collisionError(now.getOrElse("<unknown>"))
      }
    }
  }
  /** Per-commit ownership re-check for the shared anonymous lineage
    * (no-op for explicitly-identified streams). */
  private def verifyDefaultOwnership(): Unit = if (explicitId.isEmpty) {
    val spark = SparkSession.active
    val fs = ownerMarkerPath
      .getFileSystem(spark.sessionState.newHadoopConf())
    val owner = readOwner(fs)
    if (!owner.contains(info.queryId()))
      collisionError(owner.getOrElse("<unclaimed>"))
  }

  private def stagingDir(epochId: Long) =
    s"$root/_staging/$streamId/epoch-$epochId"

  // unpartitioned complete-mode and keyed (CDC) epochs resolve rows,
  // so they read their staged files back; every other epoch promotes
  // them by rename
  private val promotes = partCols.nonEmpty || (!complete && keyCols.isEmpty)

  // a promoted epoch's staging (physical names), fixed when the
  // epoch's writer factory is created and promoted at its commit
  @volatile private var staging: TxTable.Staging = _

  override def createStreamingWriterFactory(
    pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    defaultLineageGuard
    val spark = SparkSession.active
    val dir = s"$root/_staging/$streamId"
    if (!promotes) TxStagedWriterFactory.of(spark, dir, schema)
    else {
      staging = TxTable.staging(spark, root, schema, partCols, statsCols)
      TxStagedWriterFactory.of(spark, dir, staging.fileSchema,
        staging.physParts,
        if (partCols.isEmpty) staging.physOf(statsCols) else staging.statsCols)
    }
  }

  override def commit(epochId: Long,
    messages: Array[WriterCommitMessage]): Unit = {
    defaultLineageGuard
    verifyDefaultOwnership()
    // The pre-check above fails fast, but a racing anonymous takeover
    // between it and the tagged append could still land both streams'
    // epochs under the shared lineage (delete-then-claim TOCTOU) — so
    // ownership is RE-VERIFIED inside each commit attempt's content
    // builder, against the same claim the batch tag rides: ownership
    // and the tag are then checked on one commit, and the loser dies
    // loudly instead of having its next epoch silently replay-dropped.
    val ownershipCheck: Int => Unit = _ => verifyDefaultOwnership()
    val spark = SparkSession.active
    val staged = TxStagedMessage.files(messages)
    val epoch = TxTable.Epoch(streamId, epochId, ownershipCheck)
    def batch = // the epoch's rows, for the commits that resolve them
      if (staged.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.parquet(staged.map(_.path): _*)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    if (partCols.nonEmpty)
      TxTable.promotePartitioned(spark, root, staging, staged,
        epoch = Some(epoch))
    else if (promotes)
      TxTable.appendEpoch(spark, root, staging, staged, statsCols, epoch)
    else if (complete)
      // Complete mode re-emits the whole result: idempotent by value,
      // replays converge without a tag
      TxTable.overwrite(batch, root, statsCols)
    else {
      // CDC shape: (keys..., op, values..., seq) — seq is the
      // within-batch resolution order (highest wins per key). Fail
      // the stream with the contract, not an opaque window error.
      val rows = batch
      require(rows.columns.contains("op") && rows.columns.contains("seq"),
        "graft-tx sink with keys expects CDC rows " +
          "(keys..., op, values..., seq); got " +
          rows.columns.mkString("(", ", ", ")"))
      TxTable.mergeDelta(spark, root, rows, keyCols.get,
        batchId = Some(epochId), streamId = streamId,
        preCommit = ownershipCheck)
    }
    cleanup(epochId)
  }

  override def abort(epochId: Long,
    messages: Array[WriterCommitMessage]): Unit = cleanup(epochId)

  private def cleanup(epochId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(stagingDir(epochId))
    val fs = p.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }
}

/** One staged parquet file and what its writer saw while writing it:
  * the row count, the byte length after close, the tuple that selected
  * it (Longs for integral and date values, Strings for string values,
  * None for NULL), for every stored flat column its null count, and —
  * for the columns parquet stores as INT32 or INT64 that hold a
  * non-null value — its (min, max) in the encoding the footer records
  * (day counts, unscaled decimals, timestamp micros). For each sketched
  * column ([[TxStagedWriterFactory.sketchCols]]) it also keeps, as the
  * per-dir statistics aggregate records them, the string (min, max)
  * of a STRING column and one updatable HLL sketch. The writer saw
  * every row, so these facts prove a file's tuple and a dir's stats
  * directly: neither the promote nor the commit rescans what was
  * written, and neither trusts footer bounds, which may be truncated
  * for strings. */
case class TxStagedFile(path: String, rows: Long, bytes: Long,
  partVals: Seq[Option[Any]], nulls: Map[String, Long],
  bounds: Map[String, (Long, Long)],
  strBounds: Map[String, (String, String)] = Map.empty,
  sketches: Map[String, Array[Byte]] = Map.empty)

/** Commit message of one writer task: every file it staged. */
case class TxStagedMessage(files: Seq[TxStagedFile])
  extends WriterCommitMessage

object TxStagedMessage {
  /** Every file the committed tasks staged. */
  def files(messages: Array[WriterCommitMessage]): Seq[TxStagedFile] =
    messages.toSeq.collect { case TxStagedMessage(fs) => fs }.flatten
}

/** The one writer factory of every graft write: batch tasks stage
  * under `dir`, streaming tasks under `dir/epoch-<id>`. `conf` comes
  * from [[TxParquetIO.writeConf]] for the stored schema; `sketchCols`
  * are the columns whose string bounds and HLL sketch the writer keeps.
  * A file's tuple is its rows' `partCols` values, or the value of
  * `tupleCol`: a column of `schema` that selects the file but is not
  * stored (the bucket id of a bucketed write, the z block of a z-order
  * rewrite), projected out of each row before the write. */
case class TxStagedWriterFactory(dir: String, schema: StructType,
  partCols: Seq[String], conf: SerializableConfiguration,
  sketchCols: Seq[String], tupleCol: Option[String] = None)
  extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
    taskId: Long): DataWriter[InternalRow] = writer(partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long,
    epochId: Long): DataWriter[InternalRow] =
    new TxStagedWriter(s"$dir/epoch-$epochId/part-$partitionId-$taskId",
      schema, partCols, conf, sketchCols, tupleCol)
  def writer(partitionId: Int, taskId: Long): TxStagedWriter =
    new TxStagedWriter(s"$dir/part-$partitionId-$taskId", schema,
      partCols, conf, sketchCols, tupleCol)
}

object TxStagedWriterFactory {
  /** The factory for writes of `schema` into `dir` in `spark`'s
    * session. */
  def of(spark: SparkSession, dir: String, schema: StructType,
    partCols: Seq[String] = Seq.empty, sketchCols: Seq[String] = Seq.empty,
    tupleCol: Option[String] = None): TxStagedWriterFactory =
    TxStagedWriterFactory(dir, schema, partCols, TxParquetIO.writeConf(spark,
      TxStagedWriter.stored(schema, tupleCol)), sketchCols, tupleCol)
}

/** Stages one task's rows as ONE parquet file per contiguous run of
  * one tuple (the `partCols` values, or the unstored `tupleCol` value)
  * — `<prefix>.parquet` when there is no tuple (the file never rolls),
  * `<prefix>-<n>.parquet` otherwise — through Spark's own parquet writer
  * ([[TxParquetIO.writer]]), and reports each file's [[TxStagedFile]]
  * facts. A partitioned Write requires its input clustered and sorted
  * on the partition columns, so a run IS a tuple and the task stages
  * exactly one file per tuple it owns; rolling on change keeps ONE
  * open parquet writer per task (an open-writer map would buffer a
  * row group PER VALUE — the memory shape hive-style dynamic partition
  * writes sort specifically to avoid). Rows handed over unsorted only
  * make more, smaller files, each still single-valued. File creation
  * is lazy, so empty tasks stage nothing; task retries write distinct
  * names (taskId) and only committed tasks' messages reach the
  * commit, so a zombie task cannot corrupt it. The sketches are the
  * ones Spark's `hll_sketch_agg` builds (lgK 12, HLL_8, the same
  * `update` call per value), so a dir's merged sketch estimates what
  * the aggregate over its rows estimates. */
class TxStagedWriter(prefix: String, schema: StructType,
  partCols: Seq[String], conf: SerializableConfiguration,
  sketchCols: Seq[String] = Seq.empty, tupleCol: Option[String] = None)
  extends DataWriter[InternalRow] {
  import org.apache.spark.sql.types._
  import org.apache.datasketches.hll.HllSketch
  import TxStagedWriter.longOf
  // the tuple's columns and values, read off the incoming row
  private val tupleAt = (partCols ++ tupleCol).map { c =>
    val i = schema.fieldIndex(c)
    (i, longOf(schema(i).dataType))
  }
  // the stored row: the incoming one, less the tuple column
  private val stored = TxStagedWriter.stored(schema, tupleCol)
  private val project: InternalRow => InternalRow = tupleCol.fold(
    identity[InternalRow] _) { c =>
    import org.apache.spark.sql.catalyst.expressions._
    UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if f.name != c => BoundReference(i, f.dataType, f.nullable)
    })
  }
  private val n = stored.length
  private val flat = stored.fields.map(_.dataType match {
    case _: ArrayType | _: StructType | _: MapType => false
    case _ => true
  })
  private val integral = stored.fields.map(f => longOf(f.dataType))
  // the sketched columns: the integral and STRING ones
  private val sketched: Array[Int] = sketchCols.distinct.flatMap { c =>
    Some(stored.fieldNames.indexOf(c)).filter(i =>
      i >= 0 && TxStagedWriter.sketchable(stored(i).dataType))
  }.toArray
  private val isString = sketched.map(stored(_).dataType == StringType)
  private val binary = org.apache.spark.sql.catalyst.util.CollationFactory
    .fetchCollation(StringType.collationId)
  private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var path: org.apache.hadoop.fs.Path = _
  private var tuple: Seq[Option[Any]] = _
  private var files = List.empty[TxStagedFile]
  private var rows = 0L
  private val nulls = new Array[Long](n)
  private val lo = new Array[Long](n)
  private val hi = new Array[Long](n)
  private val valued = new Array[Boolean](n)
  private val strLo = new Array[UTF8String](sketched.length)
  private val strHi = new Array[UTF8String](sketched.length)
  private var sketches: Array[HllSketch] = _

  private def tupleOf(row: InternalRow): Seq[Option[Any]] =
    tupleAt.map { case (i, long) =>
      if (row.isNullAt(i)) None
      // copy strings out of the unsafe row buffer — the value outlives it
      else if (long == null) Some(row.getUTF8String(i).toString)
      else Some(long(row, i))
    }

  /** Open the next file (`t` its tuple). */
  private def open(t: Seq[Option[Any]]): Unit = {
    finish()
    path = new org.apache.hadoop.fs.Path(
      if (tupleAt.isEmpty) s"$prefix.parquet"
      else s"$prefix-${files.size}.parquet")
    writer = TxParquetIO.writer(path.toString, conf.value)
    tuple = t
    sketches = sketched.map(_ =>
      new HllSketch(12, org.apache.datasketches.hll.TgtHllType.HLL_8))
  }

  /** Stage a zero-row file carrying the schema, unless one is open. */
  def touch(): Unit = if (writer == null) open(tupleAt.map(_ => None))

  override def write(in: InternalRow): Unit = {
    val t = tupleOf(in)
    if (writer == null || t != tuple) open(t)
    val row = project(in)
    writer.write(row)
    rows += 1
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) nulls(i) += 1
      else if (integral(i) != null) {
        val x = integral(i)(row, i)
        if (!valued(i)) { lo(i) = x; hi(i) = x; valued(i) = true }
        else if (x < lo(i)) lo(i) = x
        else if (x > hi(i)) hi(i) = x
      }
      i += 1
    }
    var j = 0
    while (j < sketched.length) {
      val c = sketched(j)
      if (!row.isNullAt(c)) {
        if (isString(j)) {
          val s = row.getUTF8String(c)
          if (strLo(j) == null || s.compareTo(strLo(j)) < 0)
            strLo(j) = s.clone()
          if (strHi(j) == null || s.compareTo(strHi(j)) > 0)
            strHi(j) = s.clone()
          // hll_sketch_agg skips the empty string
          if (!binary.equalsFunction.apply(s, UTF8String.EMPTY_UTF8))
            sketches(j).update(binary.sortKeyFunction.apply(s))
        } else sketches(j).update(integral(c)(row, c))
      }
      j += 1
    }
  }

  // metadata-aware writes (the row-level DML path): graft stages only
  // the data row — the metadata row is the source-dir tag the commit
  // works out from the operation's own plan
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  /** Close the open file and record its facts. */
  private def finish(): Unit = if (writer != null) {
    writer.close()
    writer = null
    val name = (i: Int) => stored(i).name
    files ::= TxStagedFile(path.toString, rows,
      path.getFileSystem(conf.value).getFileStatus(path).getLen, tuple,
      (0 until n).filter(flat).map(i => name(i) -> nulls(i)).toMap,
      (0 until n).filter(valued).map(i => name(i) -> (lo(i), hi(i))).toMap,
      sketched.indices.filter(strLo(_) != null).map(j =>
        name(sketched(j)) -> (strLo(j).toString, strHi(j).toString)).toMap,
      sketched.indices.map(j =>
        name(sketched(j)) -> sketches(j).toUpdatableByteArray).toMap)
    rows = 0L
    java.util.Arrays.fill(nulls, 0L)
    java.util.Arrays.fill(valued, false)
    java.util.Arrays.fill(strLo.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(strHi.asInstanceOf[Array[AnyRef]], null)
  }

  /** Every file this task staged, the open one closed. */
  def staged(): Seq[TxStagedFile] = { finish(); files.reverse }

  override def commit(): WriterCommitMessage = TxStagedMessage(staged())

  override def abort(): Unit = {
    if (writer != null) writer.close()
    val fs = new org.apache.hadoop.fs.Path(prefix).getFileSystem(conf.value)
    (Option(path).map(_.toString).toSeq ++ files.map(_.path)).distinct
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
  }

  override def close(): Unit = ()
}

object TxStagedWriter {
  import org.apache.spark.sql.types._

  /** The columns `schema`'s writers store: all but `tupleCol`. */
  def stored(schema: StructType, tupleCol: Option[String]): StructType =
    tupleCol.fold(schema)(c => StructType(schema.filterNot(_.name == c)))

  /** A value of type `dt` as parquet's INT32/INT64 footer statistics
    * order it; null for the types stored otherwise. */
  def longOf(dt: DataType): (InternalRow, Int) => Long = dt match {
    case ByteType => (r, i) => r.getByte(i).toLong
    case ShortType => (r, i) => r.getShort(i).toLong
    case IntegerType | DateType => (r, i) => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType => (r, i) => r.getLong(i)
    case d: DecimalType if d.precision <= 18 => (r, i) =>
      r.getDecimal(i, d.precision, d.scale).toUnscaledLong
    case _ => null
  }

  /** The types whose string bounds and HLL sketch a writer keeps: the
    * ones the per-dir statistics aggregate records. */
  def sketchable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | StringType => true
    case _ => false
  }

  /** Stage `df`'s rows through `factory`'s writers as ONE SQL execution
    * of `df`'s own plan (its Observations and the listeners see that
    * plan), one writer per partition; returns the files of every
    * partition's successful attempt — exactly what a commit may
    * promote. A failed attempt aborts its own files; anything else
    * left under `factory.dir` is never listed. With `touch`, a
    * zero-row `df` stages one file carrying the schema. */
  def stage(df: DataFrame, factory: TxStagedWriterFactory,
    touch: Boolean = false): Seq[TxStagedFile] = {
    val qe = df.queryExecution
    val files = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("graft-tx write")) {
      val rdd = qe.toRdd
      rdd.sparkContext.runJob(rdd,
        (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
          val w = factory.writer(ctx.partitionId(), ctx.taskAttemptId())
          try { it.foreach(w.write); w.staged() }
          catch { case t: Throwable => w.abort(); throw t }
        }).toSeq.flatten
    }
    if (files.nonEmpty || !touch) files
    else { val w = factory.writer(0, 0L); w.touch(); w.staged() }
  }

  /** The partition columns a staged write can promote by rename: each
    * in `schema`, and integral, date or string — the types whose
    * values a dir name and an exact stat record. */
  def requirePartitionable(schema: StructType, partCols: Seq[String]): Unit =
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-tx: partition column '$c' is not in the write schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.StringType => true
        case _ => false
      }, s"graft-tx: partition column '$c' must be integral, date or " +
        s"string, got ${schema(c).dataType}")
    }
}

object TxStreamSource {
  /** Change-feed schema (data columns..., op, commit_version), frozen
    * from the table's latest snapshot. Streaming requires a table with
    * at least one commit — there is no schema to tail before that. */
  private[sources] def feedSchema(spark: SparkSession,
    root: String): StructType = {
    val hi = TxTable.latestVersion(spark, root)
    require(hi >= 1, s"graft-tx streaming: table at $root has no " +
      "commits yet - create it (one append) before tailing its feed")
    TxTable.changes(spark, root, hi, hi).schema
  }
}
