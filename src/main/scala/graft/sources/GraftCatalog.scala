package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{DelegatingCatalogExtension, Identifier, Table}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL time travel for catalog `graft-tx` tables.
  *
  * Spark 4 resolves `SELECT ... FROM t FOR VERSION AS OF 3` / `FOR
  * TIMESTAMP AS OF ts` through `TableCatalog.loadTable(ident,
  * version|timestamp)` — a call the stock session catalog answers
  * with "table does not support time travel" for provider-based
  * tables, so SQL-only users (the majority on a shared warehouse)
  * could never time-travel a `CREATE TABLE ... USING graft-tx` table
  * even though the reader options (`versionAsOf`/`timestampAsOf`)
  * have served the Scala face since round 7. This extension closes
  * that gap the way lakehouse formats do: registered as
  * `spark.sql.catalog.spark_catalog`, it DELEGATES everything to the
  * built-in session catalog and intercepts only the two time-travel
  * loads, answering them for graft-tx tables with a catalog Table
  * pinned to the requested snapshot — same V1Scan execution bridge,
  * same CBO statistics face, and the pinned version's OWN column
  * mapping (a rename after the pinned version serves under the names
  * that version declared, exactly like the option-based read).
  *
  * Anything that is not a graft-tx table falls through to the
  * delegate's own time-travel handling (= the standard unsupported
  * error), so installing this catalog changes no other behavior.
  * `GraftFunctions.register` installs it when the conf is unset;
  * cluster deployments set the conf explicitly.
  *
  * Reference analog: the warehouse's partition-rename loads kept old
  * partitions addressable by path (src/contrib/hive-streaming/
  * build.xml:1); here every committed snapshot stays addressable
  * from SQL. */
class GraftCatalog extends DelegatingCatalogExtension
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableInfo}
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}

  // ---- CREATE OR REPLACE TABLE ... USING graft-tx [AS SELECT]: the
  // stock session catalog cannot replace a graft-tx table whose
  // declared schema differs from the live one (createTable validates
  // the declaration against the schema the old commits still serve →
  // DATA_SOURCE_TABLE_SCHEMA_MISMATCH). Implementing the staging
  // catalog makes REPLACE land graft-first instead: the staged
  // table's write is ONE OCC truncate-overwrite on the table itself
  // (the live schema follows the new data; history and tags survive —
  // the old content stays one `VERSION AS OF` away), and the
  // metastore entry is only recreated when the declared definition
  // (partitioning / options) actually moved — at which point the
  // just-landed snapshot matches the declaration and validation
  // passes. A plain `REPLACE TABLE` (no AS SELECT) truncates to an
  // empty snapshot of the declared schema at commit time. Non-graft
  // V2 providers get best-effort staging (create-now / drop-on-abort
  // — exactly the non-atomic semantics they had before this trait was
  // mixed in); V1 providers never reach here (Spark plans them
  // through the V1 commands). ----

  /** `ALTER TABLE t ADD CONSTRAINT c CHECK (...)` is analysis-gated
    * on this capability; graft-tx tables store checks as commit
    * headers and every write face enforces them. */
  override def capabilities()
    : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    val caps = new java.util.HashSet(super.capabilities())
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)
    caps
  }

  /** The FunctionCatalog face: serves graft's `bucket` V2 function
    * (empty namespace — exactly the identifier Catalyst's SPJ
    * planner resolves transform functions with) so a bucketed scan's
    * `KeyGroupedPartitioning(bucket(n, c))` binds, compares across
    * join sides, and can be EVALUATED to shuffle a non-bucketed side
    * into the bucketed layout. Everything else delegates. */
  override def loadFunction(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty &&
      ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else super.loadFunction(ident)

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    createTable(ident, info.columns(), info.partitions(),
      info.properties())
    // write to the LOADED table (for graft-tx: the writable V2 catalog
    // face), exactly as the non-atomic CTAS exec would
    new GraftStagedTable(loadTable(ident), onCommit = () => (),
      onAbort = () => dropTable(ident))
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    stageReplaceImpl(ident, info)
  }

  override def stageCreateOrReplace(ident: Identifier,
    info: TableInfo): StagedTable =
    if (tableExists(ident)) stageReplaceImpl(ident, info)
    else stageCreate(ident, info)

  private def stageReplaceImpl(ident: Identifier,
    info: TableInfo): StagedTable = {
    val props = info.properties()
    val provider = props.get("provider")
    val isGraft = provider != null && provider.equalsIgnoreCase("graft-tx")
    (if (isGraft) rootOfProps(props) else None) match {
      case Some(root) =>
        val spark = SparkSession.active
        // loud at REPLACE exactly as at CREATE
        val (partCols, declBucket) = TxTableSource.declaredPartSpec(
          info.partitions().toSeq)
        val declared = {
          import scala.jdk.CollectionConverters._
          props.asScala.collect {
            case (k, v) if k.startsWith("option.") => k.drop(7) -> v
          }.toMap
        }
        val opts = new java.util.HashMap[String, String]()
        (declared ++ Map("path" -> root, "provider" -> "graft-tx"))
          .foreach { case (k, v) => opts.put(k, v) }
        val wrote = new java.util.concurrent.atomic.AtomicBoolean(false)
        val inner = new GraftTxCatalogTable(info.schema(), root,
          new CaseInsensitiveStringMap(opts), partCols, declBucket) {
          override def newWriteBuilder(i: LogicalWriteInfo): WriteBuilder = {
            wrote.set(true)
            super.newWriteBuilder(i)
          }
        }
        new GraftStagedTable(inner,
          onCommit = () => {
            if (!wrote.get()) {
              // plain REPLACE TABLE: an empty snapshot of the declared
              // schema — one OCC overwrite commit, history retained
              val empty = spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                info.schema())
              TxTable.overwrite(empty, root)
            }
            syncReplacedEntry(ident, info)
          },
          // nothing staged in the metastore; the OCC overwrite either
          // never landed (write failed before its commit) or is one
          // `CALL system.restore` away — the table itself never holds
          // a half-replaced state
          onAbort = () => ())
      case _ =>
        // non-graft V2 provider: best-effort staging with the
        // pre-existing non-atomic semantics
        dropTable(ident)
        createTable(ident, info.columns(), info.partitions(),
          info.properties())
        new GraftStagedTable(loadTable(ident), onCommit = () => (),
          onAbort = () => dropTable(ident))
    }
  }

  /** Recreate the metastore entry of a replaced graft-tx table ONLY
    * when the declared definition moved (partitioning or options) —
    * the stored schema is ignored on load (it re-derives from the
    * table's own commits), so a content-only replace needs no
    * metastore write at all. Managed entries (no `option.path`) are
    * refused on a definition change: the delegate's DROP would purge
    * the just-written data under the table's location. */
  private def syncReplacedEntry(ident: Identifier, info: TableInfo): Unit = {
    import scala.jdk.CollectionConverters._
    def optionProps(m: java.util.Map[String, String]): Map[String, String] =
      m.asScala.filter(_._1.startsWith("option.")).toMap
    val old = super.loadTable(ident)
    val unchanged =
      old.partitioning().map(_.describe()).toSeq ==
        info.partitions().map(_.describe()).toSeq &&
        optionProps(old.properties()) == optionProps(info.properties())
    if (!unchanged) {
      require("true".equalsIgnoreCase(old.properties().get("external")) ||
        old.properties().get("option.path") != null,
        "graft-tx: REPLACE cannot change the partitioning/options of " +
          s"a MANAGED table ${ident} — recreating the entry would purge " +
          "the table location; declare the table with an explicit path")
      super.dropTable(ident)
      super.createTable(ident, info.columns(), info.partitions(),
        info.properties())
      ()
    }
  }

  /** A staged table: the wrapped V2 table plus the commit/abort pair
    * the staging flow calls after/instead of the write. */
  private class GraftStagedTable(inner: Table, onCommit: () => Unit,
    onAbort: () => Unit) extends StagedTable with SupportsWrite {
    override def name(): String = inner.name()
    override def schema(): org.apache.spark.sql.types.StructType =
      inner.schema()
    override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] =
      inner.columns()
    override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
      inner.partitioning()
    override def properties(): java.util.Map[String, String] =
      inner.properties()
    override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(i: LogicalWriteInfo): WriteBuilder =
      inner match {
        case w: SupportsWrite => w.newWriteBuilder(i)
        case _ => throw new UnsupportedOperationException(
          s"graft-tx: staged table ${inner.name()} does not support writes")
      }
    override def commitStagedChanges(): Unit = onCommit()
    override def abortStagedChanges(): Unit = onAbort()
  }

  /** SQL maintenance surface: `CALL spark_catalog.system.analyze(
    * 'db.t', 'cols')` / `compact_snapshot` / `optimize_compact` /
    * `vacuum` — see [[GraftProcedures]]. The table argument resolves
    * through THIS catalog, so only graft-tx tables are accepted. */
  override def loadProcedure(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, tableRootOf).getOrElse(
      throw new RuntimeException(
        s"graft-tx: unknown procedure $ident — available: " +
          GraftProcedures.names.map(n => s"system.$n").mkString(", ")))

  override def listProcedures(
    namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names
        .map(n => Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  /** The graft-tx root of a table named in a procedure argument. */
  private def tableRootOf(table: String): String = {
    val spark = SparkSession.active
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
    val ident =
      if (parts.length == 1)
        Identifier.of(Array(spark.sessionState.catalogManager
          .currentNamespace.last), parts.head)
      else Identifier.of(parts.init.toArray, parts.last)
    val t = super.loadTable(ident)
    rootOfProps(t.properties()).getOrElse(
      throw new IllegalArgumentException(
        s"graft-tx: '$table' is not a graft-tx table — the system " +
          "procedures maintain graft-tx tables only"))
  }

  /** CREATE-time validation: a graft-tx table declared with a
    * non-identity partition transform (`bucket(16, c)`, `days(ts)`,
    * ...) is refused HERE, before anything lands in the metastore —
    * the clustered layout is value-identity by construction, and a
    * declaration the write path cannot honor must not exist (loads
    * are lenient and ignore such transforms on pre-existing tables,
    * so refusing at CREATE is the only loud point). Non-graft
    * providers delegate untouched. */
  override def createTable(ident: Identifier,
    columns: Array[org.apache.spark.sql.connector.catalog.Column],
    partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
    properties: java.util.Map[String, String]): Table = {
    val provider = properties.get("provider")
    if (provider != null && provider.equalsIgnoreCase("graft-tx"))
      // identity columns OR one bucket(n, col); anything else loud
      TxTableSource.declaredPartSpec(partitions.toSeq)
    super.createTable(ident, columns, partitions, properties)
  }

  /** Plain loads too: once a custom spark_catalog is installed, Spark
    * STOPS converting the delegate's V1Table to the provider's V2
    * table itself (the custom catalog is expected to answer with the
    * V2 table directly, the DeltaCatalog contract) — returning the
    * delegate's V1Table here would silently demote every catalog
    * graft-tx table to the plain V1 relation and lose the CBO
    * statistics face (CboStatsSpec would see rowCount=None and the
    * late join reorder would never fire again). */
  override def loadTable(ident: Identifier): Table = {
    val t = super.loadTable(ident)
    rootOfProps(t.properties()) match {
      case Some(root) => catalogTable(root, t, Map.empty)
      case None => t
    }
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val t = super.loadTable(ident)
    rootOfProps(t.properties()) match {
      case Some(root) =>
        catalogTable(root, t, Map("versionAsOf" -> version))
      case None => super.loadTable(ident, version)
    }
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = super.loadTable(ident)
    rootOfProps(t.properties()) match {
      case Some(root) =>
        // Spark hands MICROseconds since epoch; the commit-mtime
        // resolution (`versionAt`) speaks millis
        catalogTable(root, t,
          Map("timestampAsOf" -> (timestamp / 1000L).toString))
      case None => super.loadTable(ident, timestamp)
    }
  }

  /** SQL column evolution: `ALTER TABLE t ADD COLUMNS (x INT)` /
    * `RENAME COLUMN a TO b` / `DROP COLUMN c` on a graft-tx table
    * resolve here (the session catalog's alterTable), and each is ONE
    * metadata commit on the table itself — [[TxTable.addColumn]] (a
    * `schema:` type header + a fresh column-mapping binding;
    * null-filled reads until data arrives) / [[TxTable.renameColumn]]
    * / [[TxTable.dropColumn]] — no data rewrite at any size. The
    * delegate's stored schema is left alone on purpose: loadTable
    * re-derives the live schema from the snapshot whenever commits
    * exist, so the catalog copy cannot go stale-and-trusted, and
    * skipping the delegate keeps the change a single atomic commit
    * (no half-applied catalog+table pair). Any OTHER schema-affecting
    * change (type/nullability/position/default updates) FAILS LOUDLY:
    * delegating would update only the metastore copy, which the next
    * load silently discards — a successful DDL with no observable
    * effect. Non-schema changes (SET TBLPROPERTIES, comments) and
    * non-graft tables delegate. */
  override def alterTable(ident: Identifier,
    changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    def isSchemaChange(c: TableChange): Boolean =
      c.isInstanceOf[TableChange.ColumnChange]
    def isConstraintChange(c: TableChange): Boolean =
      c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint]
    val t = super.loadTable(ident)
    rootOfProps(t.properties()) match {
      // ALTER TABLE ADD/DROP CONSTRAINT on a graft-tx table: a CHECK
      // lands as ONE `check:` metadata commit (existing rows validated
      // first); the write faces enforce it from then on. Non-CHECK
      // constraint kinds (UNIQUE/PK/FK) fail loudly — the format has
      // no metadata to make them true.
      case Some(root) if changes.exists(isConstraintChange) &&
        TxTable.exists(SparkSession.active, root) =>
        val spark = SparkSession.active
        require(changes.forall(isConstraintChange),
          "graft-tx: cannot mix constraint changes with other ALTER " +
            "TABLE changes in one statement")
        changes.foreach {
          case a: TableChange.AddConstraint => a.constraint() match {
            case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
              TxTable.addCheckConstraint(spark, root, c.name(),
                c.predicateSql())
            case other =>
              throw new UnsupportedOperationException(
                s"graft-tx: only CHECK constraints are supported, got " +
                  s"${other.toDDL}")
          }
          case d: TableChange.DropConstraint =>
            if (d.ifExists() &&
              !TxTable.checkConstraints(spark, root)
                .exists(_._1 == d.name())) ()
            else TxTable.dropCheckConstraint(spark, root, d.name())
          case _ => () // unreachable: all-constraint validated above
        }
        loadTable(ident)
      case Some(root) if changes.exists(isSchemaChange) &&
        TxTable.exists(SparkSession.active, root) =>
        val spark = SparkSession.active
        // VALIDATE the whole statement before applying ANY change — a
        // later unsupported/ill-formed change must not leave earlier
        // commits behind (a failed DDL with a half-applied effect)
        changes.foreach {
          case a: TableChange.AddColumn =>
            require(a.fieldNames.length == 1,
              "graft-tx: nested columns are not supported")
            require(a.isNullable,
              "graft-tx: added columns must be nullable (existing " +
                "rows read them as NULL until data arrives)")
            require(a.position() == null,
              "graft-tx: ADD COLUMNS position (FIRST/AFTER) is not " +
                "supported — added columns append at the end")
          case r: TableChange.RenameColumn =>
            require(r.fieldNames.length == 1,
              "graft-tx: nested columns are not supported")
          case d: TableChange.DeleteColumn =>
            require(d.fieldNames.length == 1,
              "graft-tx: nested columns are not supported")
          case c if isSchemaChange(c) =>
            throw new UnsupportedOperationException(
              s"graft-tx: unsupported ALTER TABLE change $c — the live " +
                "schema derives from the table's own commits, so only " +
                "ADD COLUMNS / RENAME COLUMN / DROP COLUMN apply " +
                "(a delegated change would silently vanish)")
          case c =>
            throw new UnsupportedOperationException(
              s"graft-tx: cannot mix $c with schema changes in one " +
                "ALTER TABLE — issue it as a separate statement")
        }
        // all AddColumns of one statement land as ONE atomic commit
        // (TxTable.addColumns) — both columns of ADD COLUMNS (x, y)
        // bind or neither does; renames/drops stay one commit each
        // (the SQL grammar produces one of them per statement)
        val adds = changes.collect { case a: TableChange.AddColumn =>
          // a DEFAULT rides along as the column's initial-default:
          // pre-ADD rows read it on every face (addColumnsWithDefaults
          // validates it folds to a literal of the column type)
          (a.fieldNames()(0), a.dataType(),
            Option(a.defaultValue()).map(_.getSql)) }
        if (adds.nonEmpty) TxTable.addColumnsWithDefaults(spark, root, adds)
        changes.foreach {
          case _: TableChange.AddColumn => () // applied above, atomically
          case r: TableChange.RenameColumn =>
            TxTable.renameColumn(spark, root, r.fieldNames()(0), r.newName())
          case d: TableChange.DeleteColumn =>
            TxTable.dropColumn(spark, root, d.fieldNames()(0))
          case _ => () // unreachable: validated above
        }
        loadTable(ident)
      case _ => super.alterTable(ident, changes: _*)
    }
  }

  /** The table's graft-tx root, when the delegate's properties say it
    * IS a graft-tx table (`option.path` is the CREATE TABLE option,
    * `location` the catalog's resolved URI fallback). None for
    * everything else. */
  private def rootOfProps(
    props: java.util.Map[String, String]): Option[String] = {
    val provider = props.get("provider")
    if (provider == null || !provider.equalsIgnoreCase("graft-tx")) None
    else Option(props.get("option.path")).orElse(Option(props.get("location")))
  }

  /** The V2 catalog table of `root`, optionally snapshot-pinned. ALL
    * of the table's declared options carry over (`option.` prefix
    * stripped) — a `keyRange`/`colRange.*` restriction declared at
    * CREATE TABLE must keep restricting rows and vetoing whole-table
    * stats exactly as on the provider path. The pinned version's
    * schema resolves under ITS OWN column mapping. A root with no
    * commits yet (CREATE TABLE before the first load) serves an empty
    * schema and no BATCH_READ capability, like the provider's own
    * inferSchema contract. */
  private def catalogTable(root: String, base: Table,
    travel: Map[String, String]): Table = {
    val spark = SparkSession.active
    val declared = {
      import scala.jdk.CollectionConverters._
      base.properties().asScala.collect {
        case (k, v) if k.startsWith("option.") => k.drop(7) -> v
      }.toMap
    }
    val params = declared ++ Map("path" -> root) ++ travel
    // a root with no commits yet serves the DECLARED schema (CREATE
    // TABLE t (cols...) then INSERT INTO is the SQL-first bootstrap);
    // a schemaless CREATE over an empty root stays unreadable until
    // the first load, like the provider's inferSchema contract
    val schema =
      if (!TxTable.exists(spark, root)) base.schema()
      else withDefaultMetadata(spark, root, base,
        TxTableSource.schemaOf(spark, root, params), travel)
    val opts = new java.util.HashMap[String, String]()
    params.foreach { case (k, v) => opts.put(k, v) }
    opts.put("provider", "graft-tx")
    // declared PARTITIONED BY (the delegate's stored transforms) wins;
    // an API-built table proves its partitioning through its own
    // committed `$p=v` layout — either way INSERT INTO/OVERWRITE route
    // through the clustered partition-scoped write. LENIENT here: a
    // pre-existing table declared with an unsupported transform
    // (bucket/days/...) must stay readable — refusal happens at
    // createTable, where it costs nothing.
    val declaredParts =
      TxTableSource.identityPartColsLenient(base.partitioning().toSeq)
    val partCols =
      if (declaredParts.nonEmpty) declaredParts
      else if (TxTable.exists(spark, root))
        TxTable.layoutPartCols(spark, root)
      else Seq.empty
    // a hash-bucketed layout reports its bucket(n, c) transform so
    // the scans serve the bucketed SPJ face and INSERTs route the
    // clustered write: the metastore DECLARATION (CREATE TABLE ...
    // PARTITIONED BY (bucket(n, c))) and the table's own COMMITTED
    // layout must agree when both exist — a drift means someone wrote
    // the root outside the declaration, and serving either silently
    // would wrong-answer a co-bucketed join
    val declaredBucket = base.partitioning().toSeq
      .flatMap(TxTableSource.bucketTransformOf).headOption
    val committedBucket =
      if (partCols.isEmpty && TxTable.exists(spark, root))
        TxTable.bucketSpecOf(spark, root)
      else None
    val bucketSpec = (declaredBucket, committedBucket) match {
      case (Some(d), Some(c)) =>
        require(d == c, s"graft-tx: table declares bucket layout $d " +
          s"but its commits carry $c - the root was written outside " +
          "the declaration")
        Some(d)
      case (d, c) => d.orElse(c)
    }
    new GraftTxCatalogTable(schema, root,
      new CaseInsensitiveStringMap(opts), partCols, bucketSpec)
  }

  /** Column-DEFAULT metadata survives the live-schema re-derivation.
    * The live schema rebuilds from the table's own commits on every
    * load, which would silently DROP the `CURRENT_DEFAULT`/
    * `EXISTS_DEFAULT` StructField metadata a `CREATE TABLE (d INT
    * DEFAULT 7)` stored in the delegate — after the first commit,
    * `INSERT INTO t (k)` and `VALUES (.., DEFAULT)` would write NULL
    * where they wrote 7 before (a found silent-degradation bug). So
    * the assembled schema re-attaches (a) the delegate's stored
    * default metadata by column name and (b) the `schema:` header
    * DEFAULTs of ALTER-added columns (in logical names), making the
    * INSERT-side default resolution work on both column kinds for
    * the table's whole life. */
  private def withDefaultMetadata(spark: SparkSession, root: String,
    base: Table, live: org.apache.spark.sql.types.StructType,
    travel: Map[String, String])
    : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val CurKey = "CURRENT_DEFAULT"
    val ExKey = "EXISTS_DEFAULT"
    val baseByName = base.schema().fields.map(f => f.name -> f).toMap
    val alterDefaults = TxTable.declaredDefaultSql(spark, root,
      TxTableSource.readerOptions(travel).version(spark, root))
    StructType(live.fields.map { f =>
      val fromAlter = alterDefaults.get(f.name)
      val fromBase = baseByName.get(f.name).map(_.metadata)
        .filter(m => m.contains(CurKey) || m.contains(ExKey))
      (fromAlter, fromBase) match {
        case (Some(sql), _) =>
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(CurKey, sql).putString(ExKey, sql).build())
        case (None, Some(md)) =>
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata).withMetadata(md).build())
        case _ => f
      }
    })
  }
}
