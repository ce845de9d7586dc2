package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot-versioned transactional table — the warehouse's
  * atomically-loadable table (the role a transactional table format
  * plays under a continuous load; ref analog: the reference warehouse
  * loads partitions atomically by renaming completed directories into
  * the table location, src/tools/org/apache/hadoop/tools/
  * HadoopArchives.java-era hygiene generalized).
  *
  * Layout under `root`:
  *   data/<op>-<uuid>/    immutable parquet directories (never edited)
  *   _commits/v00000001   one file per snapshot, listing its data dirs
  *
  * Invariants that make it transactional on any Hadoop filesystem:
  *  - data directories are written FIRST and are immutable; a commit
  *    file only ever points at fully-written data;
  *  - a commit is ONE `fs.create(path, overwrite = false)` — an atomic
  *    claim of version N+1. Losing a race throws, and the writer
  *    retries against the NEW snapshot (optimistic concurrency);
  *  - readers resolve a version's file list once, then read immutable
  *    dirs — a concurrent commit can never tear a read (snapshot
  *    isolation); old versions stay readable (time travel) until
  *    `vacuum`.
  */
object TxTable {

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def commitDir(root: Path) = new Path(root, "_commits")
  private def commitPath(root: Path, v: Int) =
    new Path(commitDir(root), f"v$v%08d")

  /** METADATA SCALE — the latest-version HINT. Snapshot resolution
    * starts at `latestVersion`, and the naive route is a full
    * `listStatus` of `_commits` — O(total commits) per query, and a
    * long-lived table accretes commits without bound (vacuum trims
    * data, history stays until its own horizon). At a million commits
    * that listing IS the read latency on an object store. So every
    * successful commit also writes `_commits/_latest` (temp file +
    * rename — best-effort: a lost race or crash leaves a LOWER value
    * or no file, never a higher one), and readers resolve the head
    * with O(1) metadata RPCs: read the hint, verify that version's
    * commit exists, then probe FORWARD until the first missing
    * version — correctness never depends on the hint being fresh,
    * only on commit versions being dense, which the atomic
    * claim-by-version already guarantees. No hint (pre-hint tables,
    * torn rename windows) falls back to the listing. The
    * `_last_checkpoint` / version-hint move of the log-structured
    * table formats, re-expressed for this commit grammar. */
  private def hintPath(root: Path) = new Path(commitDir(root), "_latest")
  private def writeHint(fs: FileSystem, rp: Path, v: Int): Unit =
    try {
      val tmp = new Path(commitDir(rp),
        s".hint-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(hintPath(rp), false)
      if (!fs.rename(tmp, hintPath(rp))) fs.delete(tmp, false)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Highest committed version, or 0 if the table is empty/absent. */
  def latestVersion(spark: SparkSession, root: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    latestVersion(fs, rp)
  }

  private def latestVersion(fs: FileSystem, rp: Path): Int = {
    val hinted =
      try {
        val hp = hintPath(rp)
        metaRpcs.incrementAndGet() // hint exists probe
        if (!fs.exists(hp)) None
        else {
          val s = readFileUtf8(fs, hp).trim
          if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toInt) else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    hinted.filter { h =>
      metaRpcs.incrementAndGet(); h >= 1 && fs.exists(commitPath(rp, h))
    } match {
      case Some(h) =>
        // stale-low hint: walk forward to the true head (each step is
        // one exists() — the gap is the commits since the last hint
        // write, normally 0 or 1)
        var v = h
        while ({ metaRpcs.incrementAndGet()
          fs.exists(commitPath(rp, v + 1)) }) v += 1
        v
      case None =>
        val cd = commitDir(rp)
        metaRpcs.addAndGet(2) // exists + listStatus
        if (!fs.exists(cd)) 0
        else fs.listStatus(cd).map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
          .map(_.drop(1).toInt).foldLeft(0)(math.max)
    }
  }

  private def readFileUtf8(fs: FileSystem, p: Path): String = {
    metaRpcs.addAndGet(2) // getFileStatus + open
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try { in.readFully(buf); new String(buf, "UTF-8") } finally in.close()
  }

  /** COMMIT-METADATA RPC audit counter. Counts the filesystem
    * metadata round trips the snapshot-resolution plumbing issues
    * (hint reads, exists probes, commit-listing, commit-file status
    * validations, commit content reads) — the per-query tax that on
    * an object store costs 10-50 ms each. Data-file listing/footer
    * probes are NOT counted (they scale with the snapshot, not with
    * how many times the reader re-resolves it). Test-only surface:
    * MetaRpcSpec pins an upper bound per read so redundant
    * re-resolution (the round-15 family drift) cannot creep back. */
  private val metaRpcs = new java.util.concurrent.atomic.AtomicLong
  private[graft] def metaRpcCount: Long = metaRpcs.get
  private[graft] def metaRpcReset(): Unit = metaRpcs.set(0L)

  /** Commit files are IMMUTABLE once claimed (create-no-overwrite /
    * hard-link), so their lines cache for the life of the JVM — one
    * snapshot plan consults the same file for entries, keys, stats
    * columns and the column map, and a multi-version operation
    * (changes, history) re-reads each version repeatedly; without
    * this every consult is a small-file CONTENT round trip, which on
    * an object store is a per-query tax. But a path is NOT a table
    * identity: dropping and recreating a table at a stable path
    * (Scratch.freshRoot, any drop-and-rebuild staging lifecycle)
    * reuses version-numbered commit paths, and a path-keyed hit would
    * serve the OLD table's entry lines — stale data-dir UUIDs,
    * PATH_NOT_FOUND at best, silently reading the old snapshot at
    * worst. So every hit is validated against the file's current
    * FileStatus (mtime + length): one metadata RPC, no content read —
    * still the cheap path versus open+read, and a recreated commit
    * file (new mtime) re-reads instead of serving the ghost. Reads of
    * a vacuumed version fail at getFileStatus with the same
    * FileNotFound the uncached path would raise. */
  private final case class CachedLines(mtime: Long, len: Long,
    lines: Seq[String])
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedLines]()
  private def commitLines(fs: FileSystem, rp: Path, v: Int): Seq[String] = {
    val p = commitPath(rp, v)
    val key = p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    metaRpcs.incrementAndGet() // cache-validation getFileStatus
    val st = fs.getFileStatus(p)
    val c = commitCache.get(key)
    if (c != null && c.mtime == st.getModificationTime &&
      c.len == st.getLen) c.lines
    else {
      val ls = readFileUtf8(fs, p).split("\n").toSeq
      if (commitCache.size >= 8192) commitCache.clear()
      commitCache.put(key, CachedLines(st.getModificationTime, st.getLen, ls))
      ls
    }
  }

  /** One data-dir entry of a snapshot. `dir` entries hold full rows;
    * `delta` entries hold keyed (key..., op, value...) changes to
    * resolve at read time (merge-on-read). `stats` holds per-column
    * min/max over the dir (`col=lo:hi` segments) — recorded at write
    * time for each requested integral column, and used by `read` to
    * prune directories that cannot intersect a requested range box
    * (the partition-pruning / file-skipping analog for a
    * key-addressed table, generalized to any stats column set). */
  private case class Entry(isDelta: Boolean, dir: String,
    stats: Map[String, (Long, Long)],
    sstats: Map[String, (String, String)] = Map.empty,
    xvals: Map[String, String] = Map.empty,
    hstats: Map[String, String] = Map.empty,
    pdels: Map[String, Long] = Map.empty) {
    def line: String = {
      val kind = if (isDelta) "delta:" else "dir:"
      kind + dir + stats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"|$c=$lo:$hi" }.mkString +
        sstats.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s"|str:$c=$lo:$hi" }.mkString +
        xvals.toSeq.sortBy(_._1)
          .map { case (c, h) => s"|sx:$c=$h" }.mkString +
        hstats.toSeq.sortBy(_._1)
          .map { case (c, b) => s"|hll:$c=$b" }.mkString +
        pdels.toSeq.sortBy(_._1)
          .map { case (n, k) => s"|pd:$n=$k" }.mkString
    }
  }

  private val statSeg = """([^=|]+)=(-?\d+):(-?\d+)""".r
  private val strStatSeg = """str:([^=|]+)=([0-9a-f]*):([0-9a-f]*)""".r
  // EXACT single string value of a dir column (`|sx:col=hex`): written
  // only when the writer PROVED the dir holds exactly one distinct
  // non-null value whose UTF-8 fits [[strStatMaxBytes]] untruncated —
  // the string analog of an integral `lo == hi` stat, and the marker
  // the partition-clustering proofs accept for string/date keys (the
  // truncation-widened `str:` bounds deliberately cannot prove it).
  private val sxStatSeg = """sx:([^=|]+)=([0-9a-f]*)""".r
  // Per-dir MERGEABLE NDV sketch (`|hll:col=<base64>`): DataSketches
  // HLL registers recorded at write time by the same 1-row stats
  // aggregate, merged at read into an always-fresh table-level NDV —
  // ANALYZE-grade estimates that never go stale on appends, without a
  // rescan (the data never gets re-read; dirs are immutable so their
  // sketches are too). The value `@` means the blob exceeded the
  // inline cap and lives in-dir as `_hll-<hex(col)>` (see
  // [[hllInlineMax]] — commit metadata stays bounded per dir).
  private val hllStatSeg = """hll:([^=|]+)=(@|[A-Za-z0-9+/=]*)""".r
  // POSITIONAL-DELETE sidecar (`|pd:<name>=<deletedRows>`): an
  // immutable in-dir `_pdel-<uuid>` parquet directory of (_file,
  // _pos) pairs the read side anti-joins away. The entry's `_rows`
  // stat is ADJUSTED at delete time (stays exact); min/max/null
  // stats stay as written — sound for pruning (over-wide), but no
  // longer attained, so the metadata-exactness proofs veto dirs
  // carrying pd segments (see metadataAgg / partitionFileSlices).
  private val pdSeg = """pd:([^=|]+)=(\d+)""".r
  private def parseEntry(l: String): Option[Entry] = {
    val (isDelta, rest) =
      if (l.startsWith("dir:")) (false, l.drop(4))
      else if (l.startsWith("delta:")) (true, l.drop(6))
      else return None
    val parts = rest.split('|')
    val segs = parts.drop(1)
    val sstats = segs.collect {
      case strStatSeg(c, lo, hi) => c -> (lo, hi)
    }.toMap
    val xvals = segs.collect {
      case sxStatSeg(c, h) => c -> h
    }.toMap
    val hstats = segs.collect {
      case hllStatSeg(c, b) => c -> b
    }.toMap
    val pdels = segs.collect {
      case pdSeg(n, k) => n -> k.toLong
    }.toMap
    val stats = segs.flatMap {
      case strStatSeg(_, _, _) => None
      case sxStatSeg(_, _) => None
      case hllStatSeg(_, _) => None
      case pdSeg(_, _) => None
      case statSeg(c, lo, hi) =>
        scala.util.Try(c -> (lo.toLong, hi.toLong)).toOption
      case _ => None
    }.toMap
    Some(Entry(isDelta, parts.head, stats, sstats, xvals, hstats, pdels))
  }

  /** STRING min/max stats live in UTF-8 BYTE space, hex-encoded into
    * the commit line (`|str:col=hexlo:hexhi`). Hex with a fixed two
    * chars per byte preserves unsigned byte order under plain string
    * comparison, and Spark's own string ordering IS unsigned UTF-8
    * byte order (UTF8String.compareTo) — so write-side `min`/`max`
    * aggregates, the stored bounds, and read-side pruning all agree
    * on one ordering even for non-BMP text (where Java's UTF-16
    * compareTo would disagree). Long values are truncated to
    * [[strStatMaxBytes]]: a truncated MIN prefix is already a sound
    * lower bound; a truncated MAX is made sound by incrementing the
    * last non-0xFF byte (the prefix successor — strictly above every
    * string sharing the prefix). An all-0xFF prefix has no finite
    * successor → no stat recorded, the dir just never prunes on that
    * column. The same move Delta/Iceberg make for string file stats. */
  private val strStatMaxBytes = 48
  private def hexEnc(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }
  private[sources] def strStatBounds(mn: String,
    mx: String): Option[(String, String)] = {
    val lo = mn.getBytes("UTF-8")
    val loHex = hexEnc(lo.take(strStatMaxBytes))
    val hi = mx.getBytes("UTF-8")
    if (hi.length <= strStatMaxBytes) Some((loHex, hexEnc(hi)))
    else {
      val p = hi.take(strStatMaxBytes)
      var i = p.length - 1
      while (i >= 0 && p(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else {
        val succ = p.take(i + 1)
        succ(i) = (succ(i) + 1).toByte
        Some((loHex, hexEnc(succ)))
      }
    }
  }
  /** A query-side string bound in the stats' hex byte space (exact —
    * only stored stats are ever truncated). */
  private def hexOf(s: String): String = hexEnc(s.getBytes("UTF-8"))
  /** Inverse of [[hexOf]] for `sx:` exact values. None on malformed
    * input (odd length, non-hex digit — a corrupt/truncated commit
    * segment): a marker that doesn't decode must read as UNPROVABLE,
    * never as a silently-wrong exact value served by metadata paths. */
  private def hexDec(h: String): Option[String] = {
    if (h.length % 2 != 0) return None
    val b = new Array[Byte](h.length / 2)
    var i = 0
    while (i < b.length) {
      val hi = Character.digit(h.charAt(2 * i), 16)
      val lo = Character.digit(h.charAt(2 * i + 1), 16)
      if (hi < 0 || lo < 0) return None
      b(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    Some(new String(b, "UTF-8"))
  }

  /** METADATA SCALE — manifest includes. A commit file may carry an
    * `include:_manifests/m-<uuid>` line in place of a run of entry
    * lines; the manifest file holds exactly those entry lines, in
    * order, and is IMMUTABLE once written (like a data dir). Without
    * this, every commit lists every data dir — at a million dirs each
    * append rewrites ~100 MB of metadata. With it, appends carry the
    * parent's include lines verbatim plus a short inline tail, and
    * [[commitRetry]] rolls the tail into a fresh manifest once it
    * reaches `spark.graft.manifestRollover` (default 256) entries —
    * amortized O(1) metadata per append, the Iceberg manifest-list /
    * Delta checkpoint move re-expressed in this log's line grammar.
    * Expansion is one level deep and order-preserving, so delta
    * resolution order (MoR) is untouched. */
  private val manifestDirName = "_manifests"
  /** Immutable-manifest read cache (qualified path → entry lines).
    * Validated per hit by FileStatus like [[commitCache]] — manifest
    * uuids make a content collision unlikely, but a recreated table
    * must never serve the old table's metadata. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedLines]()
  private def manifestLines(fs: FileSystem, rp: Path,
    rel: String): Seq[String] = {
    val p = new Path(rp, rel)
    val key = p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    val st = fs.getFileStatus(p)
    val cached = manifestCache.get(key)
    if (cached != null && cached.mtime == st.getModificationTime &&
      cached.len == st.getLen) cached.lines
    else {
      val ls = readFileUtf8(fs, p).split("\n").toSeq.filter(_.nonEmpty)
      // soft cap: a long-lived driver session touching many tables
      // must not accumulate manifest text without bound
      if (manifestCache.size >= 4096) manifestCache.clear()
      manifestCache.put(key, CachedLines(st.getModificationTime, st.getLen, ls))
      ls
    }
  }
  private def expandEntryLines(fs: FileSystem, rp: Path,
    lines: Seq[String]): Seq[String] =
    lines.flatMap { l =>
      if (l.startsWith("include:")) manifestLines(fs, rp, l.drop(8))
      else Seq(l)
    }

  /** Entries of snapshot `v` in commit order (manifests expanded). */
  private def snapshotEntries(fs: FileSystem, root: Path,
    v: Int): Seq[Entry] = {
    if (v == 0) Seq.empty
    else expandEntryLines(fs, root, commitLines(fs, root, v))
      .flatMap(parseEntry)
  }

  /** The entry-bearing lines of commit `v` AS WRITTEN — include lines
    * verbatim, inline entries inline. Carrying these (instead of the
    * expansion) is what keeps append commits metadata-O(1). */
  private def rawEntryLines(fs: FileSystem, rp: Path, v: Int): Seq[String] =
    if (v == 0) Seq.empty
    else commitLines(fs, rp, v)
      .filter(l => l.startsWith("include:") || parseEntry(l).isDefined)

  /** The table's declared key columns (recorded by the first keyed
    * commit as a `key:` header line and carried forward by every
    * later commit). Absent for plain append/overwrite tables; the
    * legacy default for delta snapshots without one is Seq("k"). */
  private def snapshotKeys(fs: FileSystem, root: Path,
    v: Int): Option[Seq[String]] =
    if (v == 0) None else parseKeys(commitLines(fs, root, v))

  private def parseKeys(lines: Seq[String]): Option[Seq[String]] =
    lines.find(_.startsWith("key:")).map(_.drop(4).split(",").toSeq)

  /** The columns per-dir stats refer to (comma list; the FIRST is the
    * default range column `read(keyRange)` addresses), for plain
    * (un-keyed) tables that opted into stats via
    * `append(statsCols = ...)`. Keyed tables stat their key columns
    * and don't need this header. */
  private def snapshotStatsCols(fs: FileSystem, root: Path,
    v: Int): Seq[String] =
    if (v == 0) Seq.empty else parseStatsCols(commitLines(fs, root, v))

  private def parseStatsCols(lines: Seq[String]): Seq[String] =
    lines.find(_.startsWith("statscol:")).map(_.drop(9).split(",").toSeq)
      .getOrElse(Seq.empty)

  private def snapshotDirs(fs: FileSystem, root: Path, v: Int): Seq[String] =
    snapshotEntries(fs, root, v).map(_.dir)

  /** Column-mapping header (Delta/Iceberg-style name mapping): one
    * `colmap:<logical>=<physical>,...` line declaring, IN ORDER, the
    * snapshot's visible columns and the physical file-column each
    * reads from. Physical names are immutable once written —
    * `renameColumn` only rebinds the logical side, so a rename is one
    * metadata commit and time travel serves every version under ITS
    * OWN names. An entry with an EMPTY logical (`=physical`) is a
    * DROP tombstone: the physical column stays in old files but no
    * snapshot column binds to it, and the tombstone keeps the
    * physical name reserved so a later added column of the same name
    * cannot resurrect the dropped data. No header = identity mapping;
    * a bare `colmap:` line explicitly RESETS to identity (written by
    * rewrite ops — compactSnapshot/merge — whose new files are born
    * under the logical names, materializing renames). */
  private def snapshotColMap(fs: FileSystem, rp: Path,
    v: Int): Option[Seq[(String, String)]] =
    if (v == 0) None else parseColMap(commitLines(fs, rp, v))

  private def parseColMap(
    lines: Seq[String]): Option[Seq[(String, String)]] =
    lines.find(_.startsWith("colmap:"))
      .map(_.drop(7)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map { p =>
        val i = p.indexOf('=')
        (p.substring(0, i), p.substring(i + 1))
      })

  private def colMapLine(m: Seq[(String, String)]): String =
    "colmap:" + m.map { case (l, p) => s"$l=$p" }.mkString(",")

  /** DECLARED-COLUMN header (`schema:<phys>=<typeDDL>;...`): the types
    * of columns added by `ALTER TABLE ... ADD COLUMNS` that may not
    * yet exist in any data file — the one schema fact parquet footers
    * cannot carry. Reads null-fill a declared column until data
    * arrives (the Delta/Iceberg add-column move). An entry is LIVE
    * only while its physical name is bound by the snapshot's column
    * mapping (addColumn always materializes the mapping), so a
    * rewrite that resets the mapping — whose files were born carrying
    * every visible column — retires the header automatically, and a
    * stale entry can never invent a column. Atomic types only (the
    * DDL round-trips unambiguously; nested columns are unsupported
    * across the format). */
  /** A declared (ADD COLUMNS) column: physical name, type, and the
    * optional DEFAULT — the SQL literal pre-ADD rows read instead of
    * NULL (Iceberg's initial-default move). The header entry is
    * `phys=typeDDL[=defaultSql]`; the default is the LAST field, so
    * its text may itself contain `=` (a string literal), but never
    * `;` or a newline (validated at addColumns). */
  private[sources] case class DeclaredCol(phys: String,
    dt: org.apache.spark.sql.types.DataType,
    default: Option[String]) {
    /** The Catalyst-internal default value (null when none) — what
      * the InternalRow-level DML readers fill for a missing slot. */
    lazy val internalDefault: Any = default.map { sql =>
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(sql), dt, Some("UTC")).eval(null)
    }.orNull
  }

  private def snapshotAddedCols(fs: FileSystem, rp: Path,
    v: Int): Seq[DeclaredCol] =
    if (v == 0) Seq.empty else parseAddedCols(commitLines(fs, rp, v))

  private def parseAddedCols(lines: Seq[String]): Seq[DeclaredCol] =
    lines
      .find(_.startsWith("schema:")).map(_.drop(7)).filter(_.nonEmpty)
      .map(_.split(";").toSeq.map { p =>
        val parts = p.split("=", 3)
        DeclaredCol(parts(0),
          org.apache.spark.sql.types.DataType.fromDDL(parts(1)),
          if (parts.length > 2) Some(parts(2)) else None)
      }).getOrElse(Seq.empty)

  private def schemaLine(cols: Seq[DeclaredCol]): String =
    "schema:" + cols.map { c =>
      s"${c.phys}=${c.dt.sql}" + c.default.map("=" + _).getOrElse("")
    }.mkString(";")

  /** The LIVE declared columns of snapshot `v` — `schema:` entries
    * whose physical name the snapshot's mapping still binds. */
  private def liveAddedCols(fs: FileSystem, rp: Path,
    v: Int): Seq[DeclaredCol] =
    if (v == 0) Seq.empty else liveAddedOf(commitLines(fs, rp, v))

  /** Live ALTER-added DEFAULTs in LOGICAL column names — what the
    * catalog face re-attaches as CURRENT_DEFAULT/EXISTS_DEFAULT
    * StructField metadata so INSERT-side default resolution works. */
  private[sources] def declaredDefaultSql(spark: SparkSession,
    root: String, version: Int): Map[String, String] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(fs, rp)
    if (v < 1) return Map.empty
    val lines = commitLines(fs, rp, v)
    val m = parseColMap(lines)
    liveAddedOf(lines).collect { case c if c.default.isDefined =>
      logicalName(m, c.phys) -> c.default.get
    }.toMap
  }

  /** Fill declared DEFAULT columns a frame's schema lacks — files
    * predating the column read its default on every face, and the
    * maintenance rewrites (compact, optimize, z-order) re-land the
    * default instead of materializing NULL into the rewritten files.
    * Columns the frame already carries are untouched: a stored NULL
    * is a stored NULL (initial-default applies per FILE, the
    * Iceberg v3 semantics). */
  private def fillDeclaredDefaults(df: DataFrame,
    declared: Seq[DeclaredCol]): DataFrame =
    declared
      .filter(c => c.default.isDefined && !df.columns.contains(c.phys))
      .foldLeft(df)((d, c) =>
        // the dead NULL branch keeps the field NULLABLE in the
        // analyzed schema (a bare literal would mark the declared
        // column NOT NULL and reject INSERTs carrying explicit NULLs;
        // when(true, x) doesn't help — CaseWhen's literal-true special
        // case inherits x's non-nullability); the optimizer folds the
        // expression back to the literal at execution
        d.withColumn(c.phys,
          when(lit(false), lit(null).cast(c.dt))
            .otherwise(expr(c.default.get).cast(c.dt))))

  private def liveAddedOf(lines: Seq[String]): Seq[DeclaredCol] = {
    val declared = parseAddedCols(lines)
    if (declared.isEmpty) Seq.empty
    else {
      val bound = parseColMap(lines)
        .map(liveMap(_).map(_._2).toSet).getOrElse(Set.empty)
      declared.filter(c => bound(c.phys))
    }
  }

  /** Physical names of snapshot `v`'s live declared columns — what
    * the COW DML readers null-fill when a pre-ADD dir lacks them. */
  private[sources] def addedColNames(spark: SparkSession, root: String,
    version: Int): Set[String] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    liveAddedCols(fs, rp, v).map(_.phys).toSet
  }

  /** The live (non-tombstone) logical→physical pairs. */
  private def liveMap(m: Seq[(String, String)]): Seq[(String, String)] =
    m.filter(_._1.nonEmpty)

  /** Map a logical column name to its physical file column (identity
    * for unmapped tables). */
  private def physName(m: Option[Seq[(String, String)]],
    logical: String): String =
    m.flatMap(liveMap(_).find(_._1 == logical).map(_._2)).getOrElse(logical)

  /** Map a physical file column back to its logical name (identity
    * when unmapped). */
  private def logicalName(m: Option[Seq[(String, String)]],
    phys: String): String =
    m.flatMap(liveMap(_).find(_._2 == phys).map(_._1)).getOrElse(phys)

  /** Translate user-facing logical range/prune maps to physical. */
  private def physRanges(m: Option[Seq[(String, String)]],
    rs: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    if (m.isEmpty) rs else rs.map { case (c, r) => physName(m, c) -> r }

  private def physStrRanges(m: Option[Seq[(String, String)]],
    rs: Map[String, (String, String)]): Map[String, (String, String)] =
    if (m.isEmpty) rs else rs.map { case (c, r) => physName(m, c) -> r }

  /** Present a PHYSICAL frame under the snapshot's logical names:
    * exhaustive select of the live pairs (tombstoned physicals and
    * stragglers are projected away), in mapping order. */
  private def toLogical(df: DataFrame,
    m: Option[Seq[(String, String)]]): DataFrame = m match {
    case None => df
    case Some(pairs) =>
      val cols = liveMap(pairs).filter(p => df.columns.contains(p._2))
      df.select(cols.map { case (l, p) => col(p).as(l) }: _*)
  }

  /** Translate an incoming LOGICAL frame to physical names for the
    * write path, auto-extending the mapping for columns the map has
    * never seen (schema widening after a rename). A new column whose
    * name collides with a reserved physical (e.g. re-adding a dropped
    * column's name) gets a fresh uuid-suffixed physical so old file
    * data can never leak into it. Returns the translated frame and,
    * when a mapping governs the table, the extended map to commit. */
  private def toPhysicalFrame(df: DataFrame,
    m: Option[Seq[(String, String)]],
    exclude: Set[String] = Set.empty)
    : (DataFrame, Option[Seq[(String, String)]]) = m match {
    case None => (df, None)
    case Some(pairs) =>
      val logToPhys = liveMap(pairs).toMap
      val reserved = scala.collection.mutable.Set(pairs.map(_._2): _*)
      var extended = pairs
      val out = df.columns.toSeq.map { c =>
        if (exclude.contains(c)) col(c)
        else logToPhys.get(c) match {
          case Some(p) => col(c).as(p)
          case None =>
            // the auto-extended pair is written into the colmap header
            // verbatim — a name holding ',' / '=' / newline would
            // corrupt the header and break every later read of the
            // table, so enforce renameColumn's name rule BEFORE any
            // commit is staged (generated physicals only append a hex
            // suffix, so validating the logical covers both sides)
            require(validColName(c),
              s"txtable: invalid column name '$c' for a column-mapped " +
                "table (empty or reserved character)")
            val p =
              if (!reserved.contains(c)) c
              else s"${c}_${java.util.UUID.randomUUID().toString.take(8)}"
            reserved += p
            extended = extended :+ (c -> p)
            col(c).as(p)
        }
      }
      (df.select(out: _*), Some(extended))
  }

  /** DML predicate/SET evaluation on a PHYSICAL dir frame: expose the
    * renamed logical names as extra columns so user SQL speaks the
    * snapshot's names, without disturbing the physical columns the
    * rewrite writes back. Returns (frame, names-to-drop-after). */
  private def withLogicalAliases(df: DataFrame,
    m: Option[Seq[(String, String)]]): (DataFrame, Seq[String]) = {
    val pairs = m.toSeq.flatten
    val renamed = liveMap(pairs)
      .filter { case (l, p) => l != p && df.columns.contains(p) }
    require(renamed.forall { case (l, _) => !df.columns.contains(l) },
      "txtable: a renamed logical name collides with a physical file " +
        "column — run compactSnapshot to materialize the renames first")
    (renamed.foldLeft(df) { case (d, (l, p)) => d.withColumn(l, col(p)) },
      renamed.map(_._1))
  }

  /** The resolved scan plan of one snapshot: which data dirs survive
    * range pruning, and which ranges apply where. Shared by `read`
    * (the DataFrame assembly) and the format face's `inputFiles`
    * (the pruning proof surface) so the two can never disagree. */
  private case class SnapshotPlan(version: Int, keyCols: Seq[String],
    allEntries: Seq[Entry], entries: Seq[Entry],
    preRanges: Map[String, (Long, Long)],
    postRanges: Map[String, (Long, Long)],
    preStrRanges: Map[String, (String, String)] = Map.empty,
    postStrRanges: Map[String, (String, String)] = Map.empty)

  /** ONE snapshot resolution, shared by every layer of a read. The
    * round-15 chain (`read` → `readResolved` → `readResolved0` →
    * `planSnapshot`) each independently re-ran `fsFor` +
    * `latestVersion` + a `commitLines` consult — ~15 commit-metadata
    * RPCs per read where 4-6 suffice, and on an object store each is
    * 10-50 ms. Resolving here ONCE also closes the version-skew race:
    * the null-fill column set, the column map, and the planned
    * entries now all come from the SAME commit file, so a concurrent
    * addColumn landing mid-read can no longer split them across two
    * versions. Facets parse lazily from the held lines (no further
    * RPCs); only manifest expansion (`include:` lines) may read more
    * files, exactly as the uncached path would. */
  private final case class Resolved(fs: FileSystem, rp: Path, v: Int,
    lines: Seq[String]) {
    lazy val colMap: Option[Seq[(String, String)]] = parseColMap(lines)
    lazy val keys: Option[Seq[String]] = parseKeys(lines)
    lazy val statsCols: Seq[String] = parseStatsCols(lines)
    lazy val liveAdded: Seq[DeclaredCol] = liveAddedOf(lines)
    lazy val entries: Seq[Entry] =
      expandEntryLines(fs, rp, lines).flatMap(parseEntry)
  }

  private def resolve(spark: SparkSession, root: String,
    version: Int): Resolved = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(fs, rp)
    Resolved(fs, rp, v,
      if (v >= 1) commitLines(fs, rp, v) else Seq.empty)
  }

  private def planSnapshot(spark: SparkSession, root: String, version: Int,
    keyRange: Option[(Long, Long)],
    colRanges: Map[String, (Long, Long)],
    strRanges: Map[String, (String, String)] = Map.empty): SnapshotPlan =
    planSnapshot(resolve(spark, root, version), keyRange, colRanges,
      strRanges)

  private def planSnapshot(r: Resolved,
    keyRange: Option[(Long, Long)],
    colRanges: Map[String, (Long, Long)],
    strRanges: Map[String, (String, String)]): SnapshotPlan = {
    val v = r.v
    require(v > 0, s"txtable: no committed snapshot at ${r.rp}")
    val allEntries = r.entries
    require(allEntries.nonEmpty,
      s"txtable: snapshot v$v of ${r.rp} is empty")
    val keyCols = r.keys
      .getOrElse(if (allEntries.exists(_.isDelta)) Seq("k") else Seq.empty)
    // the un-named keyRange addresses the table's default range column:
    // first key col, else the first declared stats col
    val rangeCol = keyCols.headOption
      .orElse(r.statsCols.headOption)
    val ranges: Map[String, (Long, Long)] = colRanges ++
      keyRange.flatMap(r => rangeCol.map(_ -> r))
    // Merge-on-read safety: a range on a VALUE column must wait for
    // resolution — pre-filtering the tail would drop a 'U' row whose
    // NEW value left the range (its stale base row would survive the
    // anti-join) and a 'D' row whose carried value is out of range
    // (the deleted base row would resurface). Key columns never change
    // across versions of a row, so key ranges prune dirs and filter
    // rows safely anywhere; on keyed/delta snapshots every other range
    // applies to the RESOLVED rows only. Plain append tables have no
    // resolution step, so all ranges stay pre-scan there.
    val hasDelta = allEntries.exists(_.isDelta)
    val (preRanges, postRanges) =
      if (!hasDelta) (ranges, Map.empty[String, (Long, Long)])
      else ranges.partition { case (c, _) => keyCols.contains(c) }
    // string ranges follow the same MoR split; string columns are
    // never key columns (keys are integral), so on a delta snapshot
    // they are always post-resolution
    val (preStr, postStr) =
      if (!hasDelta) (strRanges, Map.empty[String, (String, String)])
      else (Map.empty[String, (String, String)], strRanges)
    // a dir survives when EVERY named range intersects its recorded
    // stats for that column (no stats for a column ⇒ can't prune on
    // it). String bounds compare in the hex-encoded UTF-8 byte space
    // the stats are stored in — the same total order Spark's own
    // string comparisons use.
    val entries =
      if (preRanges.isEmpty && preStr.isEmpty) allEntries
      else allEntries.filter { e =>
        preRanges.forall { case (c, (lo, hi)) =>
          e.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
        } && preStr.forall { case (c, (lo, hi)) =>
          e.sstats.get(c).forall { case (mn, mx) =>
            mx >= hexOf(lo) && mn <= hexOf(hi)
          }
        }
      }
    SnapshotPlan(v, keyCols, allEntries, entries, preRanges, postRanges,
      preStr, postStr)
  }

  /** Data FILES of the snapshot that survive dir pruning under the
    * given ranges — what the `graft-tx` relation reports as
    * `Dataset.inputFiles`, so option-driven skipping is observable
    * from the standard API. */
  private[sources] def dataFiles(spark: SparkSession, root: String,
    version: Int = -1, keyRange: Option[(Long, Long)] = None,
    colRanges: Map[String, (Long, Long)] = Map.empty,
    strRanges: Map[String, (String, String)] = Map.empty): Array[String] = {
    val r = resolve(spark, root, version)
    val entries = planSnapshot(r, keyRange, colRanges, strRanges).entries
    val files = listDataFiles(spark, r.rp, entries.map(_.dir))
    entries.toArray.flatMap(e => files.getOrElse(e.dir, Seq.empty))
  }

  /** Read snapshot `version` (default: latest). A snapshot with no
    * delta entries reads as the plain union of its data dirs (append
    * semantics untouched); one with deltas resolves merge-on-read:
    * later entries override earlier ones per key, deletes drop. The
    * key columns come from the snapshot's own `key:` header — readers
    * never need to know how the table was written.
    *
    * `keyRange = Some((lo, hi))` is the point/range-lookup fast path:
    * data dirs whose recorded min/max key stats cannot intersect
    * [lo, hi] are pruned from the file listing entirely (never opened
    * — the partition-pruning analog), and the resolved rows are
    * filtered to the range. Pruning a delta dir is safe for the same
    * reason: a change batch whose stats exclude the range cannot
    * affect any row in it. Dirs without stats are never pruned. */
  def read(spark: SparkSession, root: String, version: Int = -1,
    keyRange: Option[(Long, Long)] = None,
    colRanges: Map[String, (Long, Long)] = Map.empty,
    strRanges: Map[String, (String, String)] = Map.empty): DataFrame = {
    val r = resolve(spark, root, version)
    val mOpt = r.colMap
    // callers address columns by the snapshot's LOGICAL names; the
    // physical plumbing below (stats, files, resolution) speaks the
    // immutable physical names
    toLogical(
      readResolved(spark, r, keyRange,
        physRanges(mOpt, colRanges), physStrRanges(mOpt, strRanges)),
      mOpt)
  }

  /** `read` in PHYSICAL column names (pre-mapping) — the internal
    * face rewrite ops and the change-feed staging consume. Declared
    * (ALTER TABLE ADD COLUMNS) columns that no scanned dir carries
    * yet null-fill here, so every read face — API, format, catalog,
    * SQL — serves the full declared schema; range filters requested
    * on a just-filled column still apply (all-NULL never satisfies a
    * between, matching the value-filter semantics). */
  private def readResolved(spark: SparkSession, root: String,
    version: Int): DataFrame =
    readResolved(spark, resolve(spark, root, version), None, Map.empty,
      Map.empty)

  private def readResolved(spark: SparkSession, r: Resolved,
    keyRange: Option[(Long, Long)],
    colRanges: Map[String, (Long, Long)],
    strRanges: Map[String, (String, String)]): DataFrame = {
    val df = readResolved0(spark, r, keyRange, colRanges, strRanges)
    // the null-fill column set comes from the SAME resolved snapshot
    // the plan was built from — never a second head resolution
    val declared = r.liveAdded
    if (declared.isEmpty) df
    else {
      val missing = declared.filterNot(c => df.columns.contains(c.phys))
      // a column declared WITH a DEFAULT fills pre-ADD rows with that
      // literal instead of NULL (initial-default semantics)
      val filled = missing.foldLeft(df) { (d, c) =>
        // dead NULL branch: nullable even when a DEFAULT fills (see
        // fillDeclaredDefaults)
        d.withColumn(c.phys,
          when(lit(false), lit(null).cast(c.dt)).otherwise(
            c.default.map(expr).getOrElse(lit(null)).cast(c.dt)))
      }
      // ranges over a column that was JUST filled must still restrict
      // rows (readResolved0 skipped them — the column wasn't there)
      val ranges: Map[String, (Any, Any)] =
        colRanges.map { case (c, r) => c -> (r: (Any, Any)) } ++
          strRanges.map { case (c, r) => c -> (r: (Any, Any)) }
      missing.map(_.phys).foldLeft(filled) { (d, p) =>
        ranges.get(p) match {
          case Some((lo, hi)) => d.filter(col(p).between(lo, hi))
          case None => d
        }
      }
    }
  }

  private def readResolved0(spark: SparkSession, r: Resolved,
    keyRange: Option[(Long, Long)],
    colRanges: Map[String, (Long, Long)],
    strRanges: Map[String, (String, String)]): DataFrame = {
    val rp = r.rp
    val plan = planSnapshot(r, keyRange, colRanges, strRanges)
    val v = plan.version
    val allEntries = plan.allEntries
    val keyCols = plan.keyCols
    // integral and string ranges filter rows identically (between on
    // the column's own type); only the stats space differs
    val preRanges: Map[String, (Any, Any)] =
      plan.preRanges ++ plan.preStrRanges
    val postRanges: Map[String, (Any, Any)] =
      plan.postRanges ++ plan.postStrRanges
    val entries = plan.entries
    def applyRanges(df: DataFrame, rs: Map[String, (Any, Any)]): DataFrame =
      rs.foldLeft(df) { case (d, (c, (lo, hi))) =>
        if (d.columns.contains(c)) d.filter(col(c).between(lo, hi)) else d
      }
    def rangeFilter(df: DataFrame): DataFrame = applyRanges(df, preRanges)
    // per-dir Spark schemas from footers (no inference jobs); a dir
    // absent from the map (no data file) falls back to inference
    val schemaOf = dirSparkSchemas(spark, rp, allEntries.map(_.dir))
    // defaults fill PER DIR: a pre-ADD dir unioned with a post-ADD dir
    // must read the default while the post-ADD dir reads stored values
    // (an end-of-read fill could not tell the two apart)
    val declaredDefaults = r.liveAdded.filter(_.default.isDefined)
    def readDir(dir: String): DataFrame = {
      val p = new Path(rp, dir).toString
      val raw = schemaOf.get(dir) match {
        case Some(sc) => spark.read.schema(sc).parquet(p)
        case None => spark.read.parquet(p)
      }
      fillDeclaredDefaults(raw, declaredDefaults)
    }
    if (entries.isEmpty) {
      // every dir pruned: empty frame in the table's FULL schema —
      // union the per-dir schemas by name (footer-only probes) so
      // columns added by widened commits survive even though no dir
      // is scanned; delta bookkeeping columns (op, seq) are dropped
      // exactly as resolution would
      val merged = allEntries
        .map(e => readDir(e.dir).filter(lit(false)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      return if (allEntries.exists(_.isDelta)) merged.drop("op", "seq")
      else merged
    }
    // The branch is chosen from the SNAPSHOT's shape (allEntries), not
    // the pruned survivors: in a keyed snapshot a full-row dir after a
    // delta upserts earlier dirs' keys, so even when pruning removed
    // every delta entry the surviving dirs still need later-wins
    // resolution (a plain union would return stale duplicates), and
    // postRanges must still apply to the resolved rows.
    if (!allEntries.exists(_.isDelta)) {
      // Schema evolution: dirs appended with a widened schema resolve
      // by name, missing columns null-filled. The common case (all
      // dirs share one schema) keeps the single multi-path scan — one
      // FileSourceScan over every dir, no per-dir union overhead; the
      // schema probe reads footers only (driver-side metadata).
      // Dirs carrying positional-delete sidecars leave the fast path
      // (each needs its own per-dir anti-join) and union back in —
      // the CLEAN majority still scans as one multi-path relation.
      val (pdE, cleanE) = entries.partition(_.pdels.nonEmpty)
      val cleanDf: Option[DataFrame] =
        if (cleanE.isEmpty) None
        else {
          val paths = cleanE.map(e => new Path(rp, e.dir).toString)
          val schemas = cleanE.map(e => schemaOf.get(e.dir))
          Some(
            if (schemas.distinct.size == 1 && schemas.head.isDefined)
              fillDeclaredDefaults(
                spark.read.schema(schemas.head.get).parquet(paths: _*),
                declaredDefaults)
            else if (schemas.distinct.size == 1)
              fillDeclaredDefaults(spark.read.parquet(paths: _*),
                declaredDefaults)
            else cleanE.map(e => readDir(e.dir))
              .reduce(_.unionByName(_, allowMissingColumns = true)))
        }
      val pdDfs = pdE.map(e => applyPdels(spark, rp, e, readDir(e.dir)))
      rangeFilter((cleanDf.toSeq ++ pdDfs)
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    }
    else {
      // Merge-on-read, scale-safe: the base (the dirs committed before
      // any delta — after compaction, exactly one) is 100 TB-class and
      // must never shuffle on the key just because a small delta
      // exists. Split the snapshot at the first delta entry:
      //   base   = dir entries before it (full rows);
      //   tail   = everything from it on — deltas, plus any full-row
      //            dirs appended after a delta, which act as all-'U'
      //            upsert batches at their commit position.
      // The tail is batch-sized (compaction bounds it), so:
      //   1. resolve the tail alone with one keyed window (small);
      //   2. anti-join the base against the tail's key set — broadcast,
      //      so the base is scanned once and never exchanged;
      //   3. union the base survivors with the tail's live rows.
      // Copy-on-write would instead rewrite the table per micro-batch;
      // this keeps commits O(batch) AND reads O(scan).
      // Split at the SNAPSHOT's first delta position: if that delta
      // itself was pruned, the surviving post-delta dirs still belong
      // to the tail (they upsert at their commit position). Pruning
      // preserves commit order, so pruned-relative indices keep the
      // later-wins ordering intact.
      val firstDeltaPos = allEntries.indexWhere(_.isDelta)
      val origPos = allEntries.zipWithIndex.map { case (e, i) => e.dir -> i }.toMap
      val (baseE, tailE) = entries.zipWithIndex
        .partition { case (e, _) => origPos(e.dir) < firstDeltaPos }
      val tailParts = tailE.map { case (e, i) =>
        val df = rangeFilter(applyPdels(spark, rp, e, readDir(e.dir)))
        val keyed = if (e.isDelta) df else df.withColumn("op", lit("U"))
        keyed.withColumn("_cv", lit(i.toLong))
      }
      // the table's row schema: every column any part carries, in
      // first-seen commit order — a WIDENED delta evolves the schema
      // by name, and parts predating a column read it as null
      val basePartsRaw = baseE.map { case (e, _) =>
        rangeFilter(applyPdels(spark, rp, e, readDir(e.dir)))
      }
      val dataCols = (basePartsRaw ++ tailParts).map(_.columns.toSeq)
        .reduce((a, b) => a ++ b.filterNot(a.contains))
        .filterNot(c => c == "op" || c == "_cv")
      def conform(df: DataFrame, cols: Seq[String]): DataFrame =
        df.select(cols.map(c =>
          if (df.columns.contains(c)) col(c)
          else lit(null).as(c)): _*)
      val keyExprs = keyCols.map(col)
      val baseParts = basePartsRaw.map(conform(_, dataCols))
      // >1 base dir (appends never compacted) needs later-dir-wins
      // resolution; the steady-state single compacted base skips it.
      val base =
        if (baseParts.isEmpty)
          conform(tailParts.head, dataCols).filter(lit(false))
        else if (baseParts.size == 1) baseParts.head
        else {
          val wb = Window.partitionBy(keyExprs: _*).orderBy(col("_cv").desc)
          baseParts.zipWithIndex
            .map { case (df, i) => df.withColumn("_cv", lit(i.toLong)) }
            .reduce(_.unionByName(_))
            .withColumn("_rn", row_number().over(wb))
            .filter(col("_rn") === 1).select(dataCols.map(col): _*)
        }
      // every tail entry pruned (e.g. a key range excluding all delta
      // batches): the resolved base IS the snapshot's answer
      if (tailE.isEmpty) return applyRanges(base, postRanges)
      val wt = Window.partitionBy(keyExprs: _*).orderBy(col("_cv").desc)
      val tail = tailParts.map(conform(_, Seq("op") ++ dataCols ++ Seq("_cv")))
        .reduce(_.unionByName(_))
        .withColumn("_rn", row_number().over(wt))
        .filter(col("_rn") === 1)
        .select((col("op") +: dataCols.map(col)): _*)
      val survivors = base.join(
        broadcast(tail.select(keyExprs: _*)), keyCols, "left_anti")
      applyRanges(survivors.unionByName(
        tail.filter(col("op") =!= "D").select(dataCols.map(col): _*)),
        postRanges)
    }
  }

  /** True once the table has at least one committed snapshot. */
  def exists(spark: SparkSession, root: String): Boolean =
    latestVersion(spark, root) > 0

  /** Timestamp time travel: the snapshot as of wall-clock `tsMillis` —
    * the highest version whose commit file was CREATED at or before
    * it. Commit files are written exactly once (the atomic claim), so
    * their modification time IS the commit time; an as-of read costs
    * one directory listing, no data I/O beyond the chosen snapshot. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long,
    keyRange: Option[(Long, Long)] = None): DataFrame =
    read(spark, root, version = versionAt(spark, root, tsMillis),
      keyRange = keyRange)

  /** The snapshot version live at wall-clock `tsMillis`. vacuum()
    * drops commit files below the retention horizon, so a version's
    * file may be gone — skip it (only retained versions are as-of
    * candidates) instead of throwing FileNotFoundException for
    * timestamps that are perfectly servable from the retained window. */
  private[sources] def versionAt(spark: SparkSession, root: String,
    tsMillis: Long): Int = {
    val (fs, rp) = fsFor(spark, root)
    val v = (1 to latestVersion(spark, root))
      .filter { vv =>
        val p = commitPath(rp, vv)
        fs.exists(p) && fs.getFileStatus(p).getModificationTime <= tsMillis
      }
      .foldLeft(0)(math.max)
    require(v > 0,
      s"txtable: no retained snapshot of $root existed at epoch-millis " +
        s"$tsMillis (older versions may have been vacuumed)")
    v
  }

  /** Highest version whose commit mtime is strictly BEFORE
    * `tsMillis`, or 0 — the exclusive-start bound a
    * `startingTimestamp` change-feed read needs (include everything
    * committed at or after the instant; never throws for an instant
    * that predates the table). */
  private[sources] def versionBefore(spark: SparkSession, root: String,
    tsMillis: Long): Int = {
    val (fs, rp) = fsFor(spark, root)
    (1 to latestVersion(spark, root))
      .filter { vv =>
        val p = commitPath(rp, vv)
        fs.exists(p) && fs.getFileStatus(p).getModificationTime < tsMillis
      }
      .foldLeft(0)(math.max)
  }

  /** Commit history: version, operation, data-dir count. */
  def history(spark: SparkSession, root: String): Seq[(Int, String, Int)] = {
    val (fs, rp) = fsFor(spark, root)
    (1 to latestVersion(spark, root)).map { v =>
      val ls = commitLines(fs, rp, v)
      val op = ls.find(_.startsWith("op:")).map(_.drop(3)).getOrElse("?")
      // count through manifest expansion — a packed log still reports
      // the snapshot's true entry count
      val n = expandEntryLines(fs, rp, ls)
        .count(l => l.startsWith("dir:") || l.startsWith("delta:"))
      (v, op, n)
    }
  }

  /** The per-dir write-statistics aggregate — ONE layout for every
    * write face, whether it rides the write itself (`observe`),
    * rescans one dir, or groups a just-written layout by dir: the row
    * count (pseudo-column `_rows`, which metadata-only COUNT(*) reads
    * back), then the integral columns' long min/max pairs and their
    * NULL counts, then the STRING columns' min/max pairs (recorded as
    * hex-encoded UTF-8 byte bounds, see [[strStatBounds]] for the
    * truncation soundness) and their NULL counts, then one mergeable
    * NDV sketch per `hll` column
    * (per-dir HLL registers merge at read into table-level NDV that
    * stays fresh across appends without a rescan). `hll` pairs each
    * sketched column with its sketch input. Min/max/count/sum are
    * order-free and the HLL registers are a function of the value
    * SET, so every face records what a rescan of the dir would. */
  private final case class StatsAgg(integral: Seq[String],
    strings: Seq[String], hll: Seq[(String, Column)]) {
    // each stats column also records its NULL count under `n,<col>`
    // (',' can never appear in a real column name) — min/max skip
    // NULLs, so only this stat lets a metadata-only GROUP BY trust
    // that a single-valued dir has no hidden NULL-group rows
    private def nulls(c: String): Column =
      sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long")
    val aggs: Seq[Column] = count(lit(1)) +:
      (integral.flatMap(c =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))) ++
        integral.map(nulls) ++
        strings.flatMap(c => Seq(min(col(c)), max(col(c)))) ++
        strings.map(nulls) ++
        hll.map { case (_, e) => hll_sketch_agg(e, hllLgK) })

    /** Dir `dir`'s entry from one result of [[aggs]], slot `i` read as
      * `at(i)`. A NULL slot is "no stat" (an empty dir, an all-NULL
      * column): no bounds, a zero NULL count, no sketch. The `hstats`
      * blobs are raw until [[finishEntries]] spills the oversized. */
    def decode(dir: String, at: Int => Any): Entry = {
      def long(i: Int): Option[Long] = at(i) match {
        case l: java.lang.Long => Some(l.longValue())
        case _ => None
      }
      def str(i: Int): Option[String] = at(i) match {
        case s: String => Some(s)
        case _ => None
      }
      def nullCount(c: String, i: Int) = {
        val n = long(i).getOrElse(0L)
        s"$nullsPrefix$c" -> (n, n)
      }
      val strBase = 1 + 3 * integral.length
      val hllBase = strBase + 3 * strings.length
      val strMinMax = strings.zipWithIndex.flatMap { case (c, i) =>
        str(strBase + 2 * i).zip(str(strBase + 2 * i + 1)).map(c -> _)
      }
      val rows = long(0).getOrElse(0L)
      Entry(isDelta = false, dir,
        Map(rowsKey -> (rows, rows)) ++
          integral.zipWithIndex.flatMap { case (c, i) =>
            long(1 + 2 * i).zip(long(2 + 2 * i)).map(c -> _)
          } ++
          integral.zipWithIndex.map { case (c, i) =>
            nullCount(c, 1 + 2 * integral.length + i)
          } ++
          strings.zipWithIndex.map { case (c, i) =>
            nullCount(c, strBase + 2 * strings.length + i)
          },
        strMinMax.flatMap { case (c, (mn, mx)) =>
          strStatBounds(mn, mx).map(c -> _)
        }.toMap,
        // a string column whose min == max holds EXACTLY ONE distinct
        // non-null value: record it verbatim (under the length cap) as
        // the `sx:` exact marker — what lets the partition-clustering
        // proofs accept string/date keys the way integral `lo == hi`
        // already does
        strMinMax.collect { case (c, (mn, mx)) if mn == mx &&
          mn.getBytes("UTF-8").length <= strStatMaxBytes => c -> hexOf(mn)
        }.toMap,
        hll.map(_._1).zipWithIndex.flatMap { case (c, i) =>
          at(hllBase + i) match {
            case b: Array[Byte] =>
              Some(c -> java.util.Base64.getEncoder.encodeToString(b))
            case _ => None
          }
        }.toMap)
    }
  }
  private object StatsAgg {
    /** The integral and STRING `statsCols` of `schema`, named through
      * `phys`, all sketched after the caller's `keys` sketches; any
      * other type yields no stats for that column, which just disables
      * pruning on it. */
    def of(schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String], phys: String => String = identity,
      keys: Seq[(String, Column)] = Seq.empty): StatsAgg = {
      import org.apache.spark.sql.types._
      def typed(pred: DataType => Boolean) = statsCols.distinct
        .filter(c => schema.find(_.name == c).map(_.dataType).exists(pred))
        .map(phys)
      val integral = typed {
        case LongType | IntegerType | ShortType => true
        case _ => false
      }
      val strings = typed(_ == StringType)
      StatsAgg(integral, strings,
        (keys ++ (integral ++ strings).map(c => c -> col(c))).distinctBy(_._1))
    }
  }

  /** Finish freshly decoded entries: ONE pooled pass spills every
    * oversized sketch to its sidecar, then each dir's on-disk BYTES
    * ride the stats grammar as pseudo-column `_bytes` (like `_rows`)
    * so the format face can answer `sizeInBytes` from the commit
    * alone — that number is what makes Catalyst auto-broadcast a
    * small graft-tx dimension table; a V1 relation without it reports
    * defaultSizeInBytes (huge) and a broadcastable join silently
    * becomes a shuffle. `_bytes` records DATA bytes: the sidecars
    * just spilled into the dir are subtracted from its content
    * summary — the CBO must price the scan, not the metadata riding
    * in the same dir. */
  private def finishEntries(spark: SparkSession, rp: Path,
    raw: Seq[Entry]): Seq[Entry] = {
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val spilled = spillHstatsAll(fs, rp, raw.map(e => e.dir -> e.hstats),
      hllInlineMax(spark))
    raw.map { e =>
      val h = spilled(e.dir)
      val bytes = fs.getContentSummary(new Path(rp, e.dir)).getLength -
        sidecarBytes(fs, rp, e.dir, h)
      e.copy(stats = e.stats + (bytesKey -> (bytes, bytes)), hstats = h)
    }
  }
  private val nullsPrefix = "n,"
  /** lgK of the per-dir NDV sketches: 2^12 registers ≈ 1.6% relative
    * error, ≤ ~2 KB per column per dir dense (tiny in list mode for
    * low-NDV dirs — the common partitioned case). */
  private val hllLgK = 12
  /** METADATA BOUND for the per-dir `hll:` blobs: a base64 blob
    * longer than this many chars is NOT inlined into the entry line —
    * it spills to an immutable in-dir sidecar (`_hll-<hex(col)>`,
    * underscore-hidden so scans and listings never see it; it lives
    * and dies with its dir, so vacuum/clone/time-travel need no new
    * rules) and the entry carries the 1-char `@` marker instead.
    * Low-NDV dirs (the common partitioned case) keep their tiny
    * list-mode blobs inline; a dense lgK=12 sketch (~2.7 KB base64)
    * per statted column at 10^5–10^6 dirs would otherwise put GBs on
    * the O(dirs) commit/manifest PLANNING path, which parses every
    * entry line. The NDV-merge read path pays one pooled small-file
    * read per spilled (dir, col) — once per snapshot, cached. */
  private def hllInlineMax(spark: SparkSession): Int = spark.conf
    .getOption("spark.graft.hllInlineMaxB64").map(_.toInt).getOrElse(512)
  private val hllSpillMarker = "@"
  /** Hex-named so ANY legal column name is path-safe. */
  private def hllSidecarPath(rp: Path, dirName: String, c: String): Path =
    new Path(new Path(rp, dirName), s"_hll-${hexOf(c)}")

  /** Spills the `hll:` blobs over `cap` to their sidecars: ALL
    * oversized blobs across a commit's new dirs write through one
    * bounded pool — a serial create-per-sidecar loop would put 10^4
    * small-file RPC latencies on the commit path at scale (the same
    * job-count discipline as dirSchemas/entrySizes). */
  private def spillHstatsAll(fs: FileSystem, rp: Path,
    perDir: Seq[(String, Map[String, String])], cap: Int)
    : Map[String, Map[String, String]] = {
    val work = for {
      (d, hs) <- perDir; (c, b) <- hs if b.length > cap
    } yield (d, c, b)
    if (work.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, work.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Unit]] =
          work.map { case (d, c, b) =>
            () => {
              val os = fs.create(hllSidecarPath(rp, d, c), true)
              try os.write(java.util.Base64.getDecoder.decode(b))
              finally os.close()
            }
          }
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
      } finally pool.shutdown()
    }
    perDir.map { case (d, hs) =>
      d -> hs.map { case (c, b) =>
        c -> (if (b.length <= cap) b else hllSpillMarker) }
    }.toMap
  }

  /** `Entry` for a freshly-written dir, its stats computed by ONE
    * 1-row [[StatsAgg]] over the dir — with parquet aggregate pushdown
    * a footer read for the min/max/count part, not a data scan. */
  private def statsEntry(spark: SparkSession, rp: Path, dirName: String,
    statsCols: Seq[String], isDelta: Boolean = false): Entry = {
    // The stats-line grammar is only unambiguous when no user column
    // can FORGE a reserved segment: a column literally named "n,k"
    // would write k's null-count stat, "str:k" k's string bounds,
    // "_rows"/"_bytes" the row/byte pseudo-columns — and a forged
    // null-count of 0 makes the metadata-only GROUP BY treat a
    // NULL-bearing dir as null-free (wrong results, not an error).
    // toPhysical enforces this on column-mapped tables; this is the
    // chokepoint every OTHER write path's stats/key columns funnel
    // through, so enforce it here too.
    statsCols.foreach(requireStatsGrammarSafe)
    val df = readDirFrame(spark, rp, dirName)
    val agg = StatsAgg.of(df.schema, statsCols)
    val r = df.agg(agg.aggs.head, agg.aggs.tail: _*).collect()(0)
    finishEntries(spark, rp, Seq(agg.decode(dirName, r.get)))
      .head.copy(isDelta = isDelta)
  }
  /** In-write stats observer — the [[checkGuard]] discipline applied
    * to the per-dir stats aggregate: the [[StatsAgg]] rides the write
    * action itself via `observe`, so a freshly-written dir's [[Entry]]
    * is assembled with NO second scan of the batch. At warehouse scale
    * the post-write stats pass re-read every byte just written; here
    * the metrics are folded per-task during the write and merged on
    * the driver. Values are identical to a rescan (the written rows
    * ARE the observed rows). Returns the wrapped frame to write and an
    * assembler to call AFTER the write action (it blocks on the
    * observation). */
  private def observeStats(df: DataFrame, statsCols: Seq[String])
    : (DataFrame, (SparkSession, Path, String, Boolean) => Entry) = {
    statsCols.foreach(requireStatsGrammarSafe)
    val agg = StatsAgg.of(df.schema, statsCols)
    val aggs = agg.aggs.zipWithIndex.map { case (a, i) => a.as(s"c$i") }
    val obs = org.apache.spark.sql.Observation(
      "graft_stats_" + java.util.UUID.randomUUID().toString.take(8))
    val wrapped = df.observe(obs, aggs.head, aggs.tail: _*)
    val mk = (spark: SparkSession, rp: Path, dirName: String,
      isDelta: Boolean) => {
      val m = obs.get
      finishEntries(spark, rp,
        Seq(agg.decode(dirName, i => m.getOrElse(s"c$i", null))))
        .head.copy(isDelta = isDelta)
    }
    (wrapped, mk)
  }

  /** Batched [[statsEntry]] for the aligned z-prefix buckets one
    * optimize pass just wrote under `parent`: ONE grouped
    * [[StatsAgg]] over the parent read computes every bucket's stats
    * instead of one Spark job per bucket — the single-pass discipline
    * [[appendBucketedBy]] already uses. The grouped aggregate sees
    * exactly each `_b=` dir's rows, so per-bucket numbers are
    * identical to per-dir [[statsEntry]] calls. */
  private def bucketStatsEntries(spark: SparkSession, rp: Path,
    parent: String, buckets: Seq[String],
    statsCols: Seq[String]): Seq[Entry] = {
    statsCols.foreach(requireStatsGrammarSafe)
    val df = spark.read.parquet(new Path(rp, parent).toString)
    val agg = StatsAgg.of(df.schema, statsCols)
    val byBucket = df.groupBy(col("_b").cast("long").as("_b"))
      .agg(agg.aggs.head, agg.aggs.tail: _*)
      .collect() // bucket-cardinality readback (<= nDirs rows)
      .map(r => s"$parent/_b=${r.getLong(0)}" -> r).toMap
    finishEntries(spark, rp, buckets.map { d =>
      val r = byBucket.getOrElse(d, throw new IllegalStateException(
        s"txtable: bucket dir $d missing from the grouped stats pass"))
      // the leading _b group column shifts every stat slot by one
      agg.decode(d, i => r.get(1 + i))
    })
  }

  /** On-disk bytes of dir `d`'s SPILLED hll sidecars (entries whose
    * blob is the `@` marker) — excluded from the `_bytes` data stat. */
  private def sidecarBytes(fs: FileSystem, rp: Path, d: String,
    hstats: Map[String, String]): Long =
    hstats.collect { case (c, b) if b == hllSpillMarker =>
      try fs.getFileStatus(hllSidecarPath(rp, d, c)).getLen
      catch { case _: java.io.IOException => 0L }
    }.sum
  private val bytesKey = "_bytes"
  // Per-dir HASH-BUCKET id (`|_bucket=id:id`): minted only by
  // [[appendBucketedBy]], whose commits also declare the table-level
  // `bucketby:<physCol>,<n>` header. Reserved in the stats grammar
  // (requireStatsGrammarSafe) so no user column can forge it.
  private val bucketStatKey = "_bucket"

  /** The snapshot's declared hash-bucket layout, `(physicalCol,
    * numBuckets)` — present iff the head commit carries a `bucketby:`
    * header (every [[appendBucketedBy]] re-asserts it; content writes
    * that break the clustering strip it). */
  private def bucketSpecAt(fs: FileSystem, rp: Path, v: Int)
    : Option[(String, Int)] =
    if (v <= 0) None
    else commitLines(fs, rp, v).collectFirst {
      case l if l.startsWith("bucketby:") && l.length > 9 =>
        val body = l.drop(9)
        val i = body.lastIndexOf(',')
        (body.substring(0, i), body.substring(i + 1).toInt)
    }

  /** Bucket layout of `root` in LOGICAL column terms (None when the
    * snapshot is not bucket-declared). */
  def bucketSpecOf(spark: SparkSession, root: String,
    version: Int = -1): Option[(String, Int)] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(fs, rp)
    bucketSpecAt(fs, rp, v).map { case (phys, n) =>
      val m = snapshotColMap(fs, rp, v)
      (m.flatMap(_.collectFirst { case (l, p) if p == phys => l })
        .getOrElse(phys), n)
    }
  }

  /** Metadata-only on-disk size of snapshot `v` — the sum of per-dir
    * `_bytes` stats. None when any entry predates byte recording. */
  private[sources] def snapshotBytes(spark: SparkSession, root: String,
    version: Int = -1): Option[Long] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val sizes = snapshotEntries(fs, rp, v).map(_.stats.get(bytesKey).map(_._1))
    if (sizes.isEmpty || sizes.exists(_.isEmpty)) None
    else Some(sizes.flatten.sum)
  }

  /** Write `df` as a new immutable data dir and commit `dirs(prev) ++
    * [it]` (op = append) or `[it]` (op = overwrite) as the next
    * version. Retries the atomic claim on conflict. `statsCols` opts
    * integral columns into per-dir min/max stats for read-side dir
    * pruning (the first is `read(keyRange)`'s default range column;
    * all of them serve `read(colRanges)` box pruning). */
  private def writeAndCommit(df: DataFrame, root: String, op: String,
    keepPrev: Boolean, statsCols: Seq[String] = Seq.empty,
    preCommitCheck: Int => Unit = _ => (),
    batchTag: Option[String] = None,
    skipIf: Int => Boolean = _ => false): Int = {
    val spark = df.sparkSession
    val (fs, rp) = fsFor(spark, root)
    // persistent CHECK constraints gate EVERY write face (append,
    // overwrite, streaming epochs) with ZERO extra scan: the guard
    // observes violation counts during the write action itself, and
    // the verifier runs BEFORE the commit claim — a violating batch
    // never becomes a version, only a deleted staging dir. A frame
    // that cannot evaluate a constraint (a schema-replacing overwrite
    // against a constraint on a dropped column) fails analysis loudly
    // — DROP CONSTRAINT first, never silently skip.
    val v0 = latestVersion(spark, root)
    // a plain append onto a hash-bucketed layout would silently break
    // the clustering contract every bucketed SPJ trusts — refuse
    // loudly (an overwrite REPLACES content, so it may reset the
    // layout; its commit carries no prior headers anyway)
    if (keepPrev) bucketSpecAt(fs, rp, v0).foreach { case (c, n) =>
      throw new IllegalStateException(
        s"txtable: $root is bucket-clustered (bucketby:$c,$n); a " +
          "plain append would break the layout - appendBucketedBy " +
          "maintains it, overwrite replaces it")
    }
    val (guarded, verifyChecks) =
      checkGuard(df, checkConstraints(spark, root, v0))
    // appends translate logical→physical under a column mapping
    // (widening extends the map); an overwrite replaces all content
    // with the caller's logical frame, so its files are born logical
    // and the mapping resets
    val m0 = snapshotColMap(fs, rp, v0)
    val (physDf, extMap) =
      if (keepPrev) toPhysicalFrame(guarded, m0) else (guarded, None)
    val physStats =
      if (keepPrev) statsCols.map(physName(m0, _)) else statsCols
    val dirName = s"data/$op-${java.util.UUID.randomUUID()}"
    // stats ride the write action (observeStats) — no post-write
    // rescan of the batch just to record its commit-line stats
    val (obsDf, mkEntry) = observeStats(physDf, physStats)
    obsDf.write.mode("overwrite").parquet(new Path(rp, dirName).toString)
    try verifyChecks() catch {
      case t: Throwable =>
        fs.delete(new Path(rp, dirName), true)
        throw t
    }
    val entry = mkEntry(spark, rp, dirName, false)
    commitRetry(spark, root) { prevV =>
      // a concurrent writer may have landed this same micro-batch
      // between the caller's pre-check and the claim (appendBatch);
      // drop the staged dir rather than leaking it until vacuum
      if (skipIf(prevV)) {
        fs.delete(new Path(rp, dirName), true)
        return prevV
      }
      // constraint probes (appendChecked) re-validate against the
      // claim's parent, so a concurrent commit that landed between
      // validation and the claim can't smuggle in a violating snapshot
      preCommitCheck(prevV)
      val prev0 = if (keepPrev) snapshotLines(fs, rp, prevV) else Seq.empty
      // re-check at the claim parent: a concurrent writer may have
      // bucket-clustered the table between validation and the claim
      if (prev0.exists(_.startsWith("bucketby:"))) {
        fs.delete(new Path(rp, dirName), true)
        throw new IllegalStateException(
          s"txtable: $root became bucket-clustered concurrently; " +
            "plain appends would break the layout")
      }
      val prev =
        if (extMap.isDefined) prev0.filterNot(_.startsWith("colmap:"))
        else prev0
      val mapHdr =
        if (!keepPrev) m0.map(_ => "colmap:").toSeq
        else extMap.map(colMapLine).toSeq
      // record which columns the stats describe (carry-forward wins so
      // one table never mixes stats declarations)
      val statsHdr =
        if (prev.exists(_.startsWith("statscol:")) || physStats.isEmpty) None
        else Some(s"statscol:${physStats.mkString(",")}")
      (op,
        batchTag.map(t => s"batch:$t").toSeq ++
          statsHdr.toSeq ++ mapHdr ++ prev :+ entry.line)
    }
  }

  /** Raw entry + header lines of a snapshot (key declaration first,
    * then dir/delta entries with their stats), carried forward by
    * appending commits. */
  private def snapshotLines(fs: FileSystem, rp: Path, v: Int): Seq[String] =
    snapshotKeys(fs, rp, v).map(ks => s"key:${ks.mkString(",")}").toSeq ++
      (snapshotStatsCols(fs, rp, v) match {
        case Seq() => Seq.empty
        case cs => Seq(s"statscol:${cs.mkString(",")}")
      }) ++
      // the bucket-layout declaration rides metadata-only commits
      // (checks, tags, analyze) untouched; the content writers that
      // BREAK the clustering strip it from their own commit instead
      bucketSpecAt(fs, rp, v)
        .map { case (c, n) => s"bucketby:$c,$n" }.toSeq ++
      snapshotColMap(fs, rp, v).map(colMapLine).toSeq ++
      rawEntryLines(fs, rp, v)

  /** `batch:<stream>:<id>` replay-protection tag lines of commit `v`
    * (legacy bare `batch:<id>` lines parse as stream ""). */
  private def batchTagLines(fs: FileSystem, rp: Path, v: Int): Seq[String] =
    if (v <= 0) Seq.empty
    else commitLines(fs, rp, v)
      .filter(_.startsWith("batch:"))

  private def tagStream(line: String): String = {
    val rest = line.stripPrefix("batch:")
    val i = rest.lastIndexOf(':')
    if (i < 0) "" else rest.substring(0, i)
  }

  /** Whether stream `streamId`'s replay-protection lineage has ever
    * committed a batch at `root`. Tags are carried forward by every
    * commit, so the latest commit answers for the whole history —
    * metadata-scale. The streaming sink's anonymous-lineage collision
    * guard probes this before adopting the shared "default" lineage. */
  private[sources] def hasStreamTag(spark: SparkSession, root: String,
    streamId: String): Boolean = {
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    v > 0 && batchTagLines(fs, rp, v).exists(t => tagStream(t) == streamId)
  }

  /** The optimistic-concurrency loop: build the commit content against
    * the current snapshot, claim version+1 atomically, retry from the
    * NEW snapshot if another writer claimed it first. */
  /** Metadata packing, applied to every commit body: (1) RE-INCLUDE —
    * any parent manifest whose entry block survives intact and in
    * order in the emitted lines collapses back to its include line,
    * so a bounded DML that rewrites 3 of a million dirs re-lists only
    * the broken manifest's entries, not the table; (2) ROLLOVER — the
    * trailing run of inline entries past the last include line rolls
    * into a fresh manifest once it reaches the threshold, so appends
    * are amortized O(1) metadata. Best-effort by construction: a
    * failed match just leaves lines inline — never incorrect, only
    * larger. Returns the packed lines and any manifest files staged
    * for this attempt (deleted by the caller if the claim loses). */
  private def packEntryLines(fs: FileSystem, rp: Path, prevV: Int,
    lines0: Seq[String], rollover: Int): (Seq[String], Seq[String]) = {
    def isEntry(l: String) = parseEntry(l).isDefined
    val v0 = lines0.toVector
    // (1) re-include the parent's intact manifest blocks — matched
    // against the ORIGINAL line positions (stable indices, one pass)
    // via a first-line index, so a million-line DML commit packs in
    // O(lines), not O(lines × manifests)
    val parentIncludes =
      if (prevV == 0) Seq.empty[String]
      else commitLines(fs, rp, prevV)
        .filter(_.startsWith("include:"))
    val firstPos = new java.util.HashMap[String, Int]()
    v0.zipWithIndex.foreach { case (l, i) =>
      if (!firstPos.containsKey(l)) firstPos.put(l, i)
    }
    // (start, len, includeLine) replacements, non-overlapping
    val repl = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
    parentIncludes.foreach { inc =>
      if (!firstPos.containsKey(inc)) {
        // normalize through parseEntry→line so the match is on entry
        // CONTENT, not byte formatting
        val block = manifestLines(fs, rp, inc.drop(8))
          .flatMap(parseEntry).map(_.line)
        if (block.nonEmpty) {
          val i = firstPos.getOrDefault(block.head, -1)
          if (i >= 0 && i + block.length <= v0.length &&
            v0.slice(i, i + block.length) == block)
            repl += ((i, block.length, inc))
        }
      }
    }
    val covered = new Array[Boolean](v0.length)
    val startOf = new java.util.HashMap[Int, String]()
    repl.sortBy(_._1).foreach { case (s, n, inc) =>
      if (!(s until s + n).exists(covered)) {
        (s until s + n).foreach(covered(_) = true)
        startOf.put(s, inc)
      }
    }
    val cur = v0.zipWithIndex.flatMap { case (l, i) =>
      if (startOf.containsKey(i)) Seq(startOf.get(i))
      else if (covered(i)) Seq.empty
      else Seq(l)
    }
    // (2) roll the trailing inline entry run
    val lastInc = cur.lastIndexWhere(_.startsWith("include:"))
    val tailIdx = cur.zipWithIndex
      .collect { case (l, i) if i > lastInc && isEntry(l) => i }
    if (tailIdx.length < rollover) (cur, Seq.empty)
    else {
      val rel = s"$manifestDirName/m-${java.util.UUID.randomUUID()}"
      val body = tailIdx.map(cur(_))
      val p = new Path(rp, rel)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write((body.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      val st = fs.getFileStatus(p)
      manifestCache.put(
        p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString,
        CachedLines(st.getModificationTime, st.getLen, body))
      val keep = tailIdx.toSet
      val first = tailIdx.head
      val packed = cur.zipWithIndex.flatMap { case (l, i) =>
        if (i == first) Seq(s"include:$rel")
        else if (keep.contains(i)) Seq.empty
        else Seq(l)
      }
      (packed, Seq(rel))
    }
  }

  private def commitRetry(spark: SparkSession, root: String,
    maxRetries: Int = 10)(
    content: Int => (String, Seq[String])): Int = {
    val (fs, rp) = fsFor(spark, root)
    fs.mkdirs(commitDir(rp))
    val rollover = spark.conf
      .getOption("spark.graft.manifestRollover").map(_.toInt).getOrElse(256)
    var stagedManifests: Seq[String] = Seq.empty
    var attempt = 0
    // Any abnormal exit (non-retryable claim failure, exhausted
    // retries, a content-builder throw) leaves the last attempt's
    // staged manifests unreferenced — delete them on the way out
    // instead of leaking until vacuum's orphan sweep. A SUCCESSFUL
    // claim returns from inside the try and skips the catch: its
    // staged manifests are referenced by the committed version.
    try {
    while (attempt <= maxRetries) {
      // a lost race re-packs against the NEW parent; this attempt's
      // staged manifests are unreferenced — drop, don't leak
      stagedManifests.foreach(m => fs.delete(new Path(rp, m), false))
      stagedManifests = Seq.empty
      val prevV = latestVersion(spark, root)
      val (op, lines) = content(prevV)
      // replay tags survive EVERY commit: carry the parent's newest
      // per-stream batch tags forward (minus streams this commit
      // re-tags), so an interleaved append/compaction/optimize can
      // never reopen a streaming sink's exactly-once replay window
      val ownStreams = lines.filter(_.startsWith("batch:"))
        .map(tagStream).toSet
      val carried = batchTagLines(fs, rp, prevV)
        .filterNot(t => ownStreams.contains(tagStream(t)))
      // the column mapping is table-level metadata like the replay
      // tags: carried by EVERY commit unless the commit declares its
      // own (rename/drop set a new map; rewrite ops reset with a bare
      // `colmap:` line; restore re-instates the target version's)
      val mapCarried =
        if (lines.exists(_.startsWith("colmap:"))) Seq.empty
        else snapshotColMap(fs, rp, prevV).map(colMapLine).toSeq
      // declared-column types carry like the mapping — but an entry
      // stays only while THIS commit's effective mapping still binds
      // its physical name (a colmap reset/tombstone retires it), so a
      // stale header can never invent a column
      val schemaCarried =
        if (lines.exists(_.startsWith("schema:"))) Seq.empty
        else {
          val hdr =
            if (prevV == 0) None
            else commitLines(fs, rp, prevV).find(_.startsWith("schema:"))
          hdr.map(_.drop(7)).filter(_.nonEmpty).map { body =>
            val effMap: Option[Seq[(String, String)]] =
              lines.find(_.startsWith("colmap:")) match {
                case Some(l) =>
                  Some(l.drop(7)).filter(_.nonEmpty)
                    .map(_.split(",").toSeq.map { p =>
                      val i = p.indexOf('=')
                      (p.substring(0, i), p.substring(i + 1))
                    })
                case None => snapshotColMap(fs, rp, prevV)
              }
            val bound = effMap.map(liveMap(_).map(_._2).toSet)
              .getOrElse(Set.empty[String])
            val kept = body.split(";").toSeq
              .filter(p => bound(p.takeWhile(_ != '=')))
            if (kept.isEmpty) Seq.empty
            else Seq("schema:" + kept.mkString(";"))
          }.getOrElse(Seq.empty)
        }
      // analyze-time NDV estimates are table-level metadata too:
      // carried until the next analyze re-declares them (read side
      // clamps stale estimates to the live row count)
      val ndvCarried =
        if (lines.exists(_.startsWith("ndv:"))) Seq.empty
        else ndvLineOf(fs, rp, prevV).toSeq
      // equi-height histograms carry like the ndv header — but ONLY
      // while still provably fresh against the entry multiset THIS
      // commit declares: once a data commit changes the multiset the
      // lines are permanently unservable (freshAt can never pass
      // again until the next ANALYZE), so carrying them further would
      // put O(cols x bins) dead bytes on every later commit's
      // planning path. The check runs only when there are lines to
      // carry, and compares the new commit's own entry lines (the
      // same proof the read side runs).
      val histCarried = {
        val c0 =
          if (lines.exists(_.startsWith("hist:"))) Seq.empty
          else histLinesOf(fs, rp, prevV)
        if (c0.isEmpty) c0
        else {
          val newEntries = expandEntryLines(fs, rp, lines.filter(l =>
            l.startsWith("include:") || parseEntry(l).isDefined))
            .flatMap(parseEntry).map(_.line).sorted
          val freshAv = scala.collection.mutable.HashMap[String, Boolean]()
          c0.filter { hl =>
            val av = hl.drop(5).takeWhile(_ != ';')
            freshAv.getOrElseUpdate(av,
              av.nonEmpty && av.forall(_.isDigit) &&
                (try newEntries ==
                  snapshotEntries(fs, rp, av.toInt).map(_.line).sorted
                catch { case scala.util.control.NonFatal(_) => false }))
          }
        }
      }
      // persistent CHECK constraints carry like the column mapping:
      // every commit keeps them unless it declares its own set (a
      // bare `check:` line is the explicit drop-to-zero)
      val checksCarried =
        if (lines.exists(_.startsWith("check:"))) Seq.empty
        else checkLines(fs, rp, prevV)
      val (packedLines, staged) = packEntryLines(fs, rp, prevV,
        mapCarried ++ schemaCarried ++ ndvCarried ++ histCarried ++
          checksCarried ++ lines ++ carried,
        rollover)
      stagedManifests = staged
      val body = (s"op:$op" +: packedLines).mkString("\n")
      val claim = commitPath(rp, prevV + 1)
      try {
        if (fs.getScheme == "file") {
          // LOCAL filesystems: Hadoop's create(overwrite = false) is
          // check-then-act there (RawLocalFileSystem probes existence
          // before opening), so two racers can both pass the check and
          // the later close silently overwrites the earlier claim —
          // a LOST COMMIT (caught by the OCC stress test). Claim via
          // link(2) instead: write the body to a temp file fully, then
          // hard-link it into place — atomic in the kernel, fails with
          // EEXIST if the version was claimed, and the commit is never
          // visible partially written.
          val dst = java.nio.file.Paths.get(claim.toUri.getPath)
          java.nio.file.Files.createDirectories(dst.getParent)
          val tmp = java.nio.file.Files.createTempFile(
            dst.getParent, ".commit-", ".tmp")
          try {
            java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
            java.nio.file.Files.createLink(dst, tmp)
          } finally java.nio.file.Files.deleteIfExists(tmp)
        } else {
          // HDFS-class filesystems: create(overwrite = false) IS the
          // atomic namenode claim
          val out = fs.create(claim, false)
          try out.write(body.getBytes("UTF-8")) finally out.close()
        }
        // A v1 claim means a FRESH table is being born at this path.
        // If a previous table lived (and died) here in this JVM's
        // lifetime, its commit/manifest lines may still be cached —
        // and a later same-length, same-mtime-tick recreate of a
        // version file could slip past the FileStatus validation
        // (coarse mtime granularity). Every same-JVM recreate funnels
        // through THIS claim, so evicting the root's cache entries
        // here closes that window deterministically and for free — no
        // per-hit content read (which would defeat the cache), no
        // extra RPC. Cross-JVM recreates can't hit this JVM's cache
        // with anything the FileStatus check doesn't already cover.
        if (prevV == 0) {
          val prefix = rp.makeQualified(fs.getUri,
            fs.getWorkingDirectory).toString + "/"
          commitCache.keySet.removeIf(_.startsWith(prefix))
          manifestCache.keySet.removeIf(_.startsWith(prefix))
        }
        writeHint(fs, rp, prevV + 1)
        return prevV + 1
      } catch {
        // Only a lost race is retryable: the claimed version already
        // exists. Some filesystems signal that as a generic IOException,
        // so probe for the file. Anything else (permissions, quota, a
        // dead filesystem) is a real failure — rethrow instead of
        // re-running the content builder (for merge, a full O(table)
        // recompute) nine more times and misreporting it as contention.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attempt += 1
        case e: java.io.IOException =>
          if (fs.exists(claim)) attempt += 1 else throw e
      }
    }
    throw new IllegalStateException(
      s"txtable: commit to $root failed after $maxRetries conflicts")
    } catch {
      case e: Throwable =>
        stagedManifests.foreach { m =>
          try fs.delete(new Path(rp, m), false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
    }
  }

  /** Append `df` as a new snapshot (previous data retained).
    * `statsCols` opts integral columns into per-dir min/max stats so
    * later `read(keyRange/colRanges = ...)` lookups can prune the
    * dir (the first column is keyRange's default target). */
  def append(df: DataFrame, root: String,
    statsCols: Seq[String] = Seq.empty): Int =
    writeAndCommit(df, root, "append", keepPrev = true, statsCols)

  /** `append` with micro-batch idempotence — the same `batch:$id`
    * commit tag and replay pre-check `mergeDelta` uses, for streaming
    * sinks feeding an append-only table: a restarted stream re-runs
    * its last batch, the tag recognizes it, and the replay commits
    * nothing (at-least-once delivery → exactly-once table state). */
  def appendBatch(df: DataFrame, root: String, batchId: Long,
    statsCols: Seq[String] = Seq.empty,
    streamId: String = "default",
    preCommit: Int => Unit = _ => ()): Int = {
    val spark = df.sparkSession
    val (fs, rp) = fsFor(spark, root)
    val sid = sanitizeStreamId(streamId)
    def alreadyApplied(v: Int): Boolean =
      appliedBatchId(fs, rp, v, sid).exists(_ >= batchId)
    if (alreadyApplied(latestVersion(spark, root)))
      return latestVersion(spark, root)
    writeAndCommit(df, root, "append", keepPrev = true, statsCols,
      preCommitCheck = preCommit, batchTag = Some(s"$sid:$batchId"),
      skipIf = alreadyApplied)
  }

  /** Newest applied batch id for `streamId` as of commit `v` (tags are
    * carried forward by every commit, so the latest commit file is
    * authoritative). */
  private def appliedBatchId(fs: FileSystem, rp: Path, v: Int,
    streamId: String): Option[Long] =
    batchTagLines(fs, rp, v)
      .filter(t => tagStream(t) == streamId)
      .flatMap(t => t.substring(t.lastIndexOf(':') + 1).toLongOption)
      .maxOption

  /** Newest batch id a stream has folded into `root` (None before the
    * first tagged commit) — the crash-safe progress cursor incremental
    * consumers (TxView) resume from: the cursor and the state it
    * describes commit ATOMICALLY in one commit line, so a crash
    * between "apply" and "record progress" cannot exist. */
  private[sources] def lastAppliedBatchId(spark: SparkSession, root: String,
    streamId: String): Option[Long] = {
    if (!exists(spark, root)) return None
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    if (v == 0) None else appliedBatchId(fs, rp, v, sanitizeStreamId(streamId))
  }

  /** The table's declared key columns, from its latest commit. */
  private[sources] def tableKeys(spark: SparkSession,
    root: String): Option[Seq[String]] = {
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    if (v == 0) None
    else snapshotKeys(fs, rp, v)
      .orElse(if (snapshotEntries(fs, rp, v).exists(_.isDelta)) Some(Seq("k"))
      else None)
  }

  /** Stream identities embed in commit tag lines: strip the two
    * structural characters. */
  private def sanitizeStreamId(s: String): String = {
    val c = s.replace(":", "_").replace("\n", "_")
    if (c.isEmpty) "default" else c
  }

  /** Replace the table contents with `df` atomically. */
  def overwrite(df: DataFrame, root: String,
    statsCols: Seq[String] = Seq.empty): Int =
    writeAndCommit(df, root, "overwrite", keepPrev = false, statsCols)

  /** Copy-on-write CDC merge — the transactional target of the
    * streaming upsert: `changes` rows (k, op, v, seq) fold into the
    * keyed snapshot exactly like Olap.cdcMerge (highest seq per key
    * wins; 'D' deletes, 'I'/'U' set). The merged result is written as
    * a full new snapshot and committed atomically; a reader either
    * sees the whole batch applied or none of it. On a commit conflict
    * the merge RECOMPUTES against the winner's snapshot, so
    * concurrent mergers serialize instead of losing updates. */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
    keyCols: Seq[String] = Seq("k")): Int = {
    val (latest, valueCols) = resolveLatest(changes, keyCols)
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      val base =
        if (prevV > 0) read(spark, root, prevV)
          .select((keyCols.map(col) ++
            valueCols.map(c => col(c).as(s"_base_$c"))): _*)
        else latest
          .select((keyCols.map(col) ++
            valueCols.map(c => col(c).as(s"_base_$c"))): _*)
          .filter(lit(false))
      val merged = base.join(latest, keyCols, "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select((keyCols.map(col) ++ valueCols.map(c =>
          coalesce(col(c), col(s"_base_$c")).as(c))): _*)
      val dirName = s"data/merge-${java.util.UUID.randomUUID()}"
      val (obsMerged, mkEntry) = observeStats(merged, keyCols)
      obsMerged.write.mode("overwrite")
        .parquet(new Path(rp, dirName).toString)
      // copy-on-write from logical frames: new files carry logical
      // names, so the mapping (if any) resets — see compactSnapshot
      ("merge",
        Seq(s"key:${keyCols.mkString(",")}") ++
          snapshotColMap(fs, rp, prevV).map(_ => "colmap:").toSeq :+
          mkEntry(spark, rp, dirName, false).line)
    }
  }

  /** Conditional MERGE INTO — the full SQL merge statement over a
    * txtable target: WHEN MATCHED [AND cond] THEN DELETE, WHEN MATCHED
    * [AND cond] THEN UPDATE SET ..., WHEN NOT MATCHED [AND cond] THEN
    * INSERT. `merge` above is the latest-wins upsert fast path; this
    * is the general statement (Delta/Iceberg MERGE semantics).
    *
    * Clause SQL sees the TARGET's columns by name and the source's
    * value columns as `s_<name>`; update SET expressions may reference
    * both (e.g. `"price + s_price"`). The not-matched (insert)
    * condition must reference `s_` columns or keys — the row has no
    * target side, so plain value-column references are NULL there and
    * the clause would never fire. Clause precedence per row is
    * ANSI order: matched-delete, then matched-update, else keep; a
    * NULL-valued condition does NOT fire its clause (`IS TRUE`
    * semantics — the deleteWhere NULL-predicate lesson). A source with
    * duplicate keys is a cardinality violation and is rejected up
    * front (ANSI: "MERGE cannot update the same row twice").
    *
    * Distributed shape: ONE full-outer sort-merge join on the keys +
    * a projection — O(table + source) with no windows; the rewrite is
    * copy-on-write (one new snapshot dir). For continuous small-batch
    * upserts use `mergeDelta` (O(batch) merge-on-read) instead; this
    * is the statement shape for the periodic reconciliation pass. */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
    keyCols: Seq[String],
    matchedUpdate: Map[String, String] = Map.empty,
    matchedUpdateCond: Option[String] = None,
    matchedDeleteCond: Option[String] = None,
    insertNotMatched: Boolean = true,
    notMatchedCond: Option[String] = None): Int = {
    val (fs, rp) = fsFor(spark, root)
    val valueCols = source.columns.filterNot(keyCols.contains).toSeq
    // cardinality check: one aggregate over the source (source-scale,
    // cheap next to the merge join itself), 0-or-1-row readback
    val dup = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"txtable: mergeInto source has duplicate keys (${keyCols.mkString(",")})")
    def isTrue(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
    commitRetry(spark, root) { prevV =>
      val base =
        if (prevV > 0) read(spark, root, prevV)
        else source.filter(lit(false))
      require(base.columns.sorted.sameElements(source.columns.sorted),
        s"txtable: mergeInto source schema ${source.columns.mkString(",")} " +
          s"must match target ${base.columns.mkString(",")}")
      val src = source.select(keyCols.map(col) ++
        valueCols.map(c => col(c).as(s"s_$c")) :+ lit(true).as("_s"): _*)
      val j = base.withColumn("_t", lit(true)).join(src, keyCols, "full_outer")
      val matched = col("_t").isNotNull && col("_s").isNotNull
      val delC = matchedDeleteCond.map(expr).getOrElse(lit(false))
      val updC = matchedUpdateCond.map(expr).getOrElse(lit(true))
      val insC = notMatchedCond.map(expr).getOrElse(lit(true))
      val keep =
        (col("_s").isNull) ||                       // target-only: untouched
        (matched && !isTrue(delC)) ||               // matched, not deleted
        (col("_t").isNull &&                        // source-only: insert?
          lit(insertNotMatched) && isTrue(insC))
      val out = j.filter(keep).select(
        keyCols.map(col) ++ valueCols.map { c =>
          val set = matchedUpdate.get(c).map(expr).getOrElse(col(c))
          when(matched && isTrue(updC), set)
            .when(col("_t").isNull, col(s"s_$c"))   // inserted row
            .otherwise(col(c)).as(c)
        }: _*)
      val dirName = s"data/merge-${java.util.UUID.randomUUID()}"
      val (obsOut, mkEntry) = observeStats(out, keyCols)
      obsOut.write.mode("overwrite").parquet(new Path(rp, dirName).toString)
      // copy-on-write from logical frames: new files carry logical
      // names, so the mapping (if any) resets — see compactSnapshot
      ("merge",
        Seq(s"key:${keyCols.mkString(",")}") ++
          snapshotColMap(fs, rp, prevV).map(_ => "colmap:").toSeq :+
          mkEntry(spark, rp, dirName, false).line)
    }
  }

  /** Latest change per key (highest seq wins) and the value-column
    * list — everything in `changes` that isn't a key, `op`, or `seq`,
    * in schema order. */
  private def resolveLatest(changes: DataFrame,
    keyCols: Seq[String]): (DataFrame, Seq[String]) = {
    val valueCols = changes.columns
      .filterNot(c => keyCols.contains(c) || c == "op" || c == "seq").toSeq
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("seq").desc)
    val latest = changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select((keyCols.map(col) :+ col("op")) ++ valueCols.map(col): _*)
    (latest, valueCols)
  }

  /** Merge-on-READ CDC: write ONLY the batch's resolved changes as a
    * delta entry — O(batch) per commit instead of merge's O(table)
    * copy-on-write, the shape that survives a continuous load into a
    * 100 TB table. Readers resolve deltas (read() window); call
    * `compactSnapshot` periodically to fold them back so read cost
    * stays bounded. The delta dir is written once; only the cheap
    * commit claim retries under contention. */
  def mergeDelta(spark: SparkSession, root: String, changes: DataFrame,
    keyCols: Seq[String] = Seq("k"), batchId: Option[Long] = None,
    streamId: String = "default",
    preCommit: Int => Unit = _ => ()): Int = {
    val (fs, rp) = fsFor(spark, root)
    val sid = sanitizeStreamId(streamId)
    // Exactly-once under micro-batch REPLAY: a restarted stream re-runs
    // its last uncommitted-downstream batch, so a sink that blindly
    // committed would double-apply it. With `batchId`, a commit whose
    // snapshot already records this stream's id at or past it is
    // recognized and skipped BEFORE writing data — the replayed batch
    // becomes a no-op and the at-least-once source composes to
    // exactly-once table state. Tags are per-STREAM (`sid:id`) and
    // carried forward by every commit (commitRetry), so neither an
    // interleaved compaction nor a second stream writing the same
    // table can confuse the check.
    def alreadyApplied(v: Int): Boolean = batchId.exists { id =>
      appliedBatchId(fs, rp, v, sid).exists(_ >= id)
    }
    if (alreadyApplied(latestVersion(spark, root)))
      return latestVersion(spark, root)
    val (latest, _) = resolveLatest(changes, keyCols)
    // callers speak the snapshot's LOGICAL names; delta FILES join
    // the table's immutable physical columns (op/seq are bookkeeping,
    // never mapped). Widening batches extend the mapping.
    val m0 = snapshotColMap(fs, rp, latestVersion(spark, root))
    val physKeys = keyCols.map(physName(m0, _))
    val (latestPhys, extMap) =
      toPhysicalFrame(latest, m0, exclude = Set("op", "seq"))
    val dirName = s"data/delta-${java.util.UUID.randomUUID()}"
    val (obsLatest, mkEntry) = observeStats(latestPhys, physKeys)
    obsLatest.write.mode("overwrite")
      .parquet(new Path(rp, dirName).toString)
    val entry = mkEntry(spark, rp, dirName, true)
    commitRetry(spark, root) { prevV =>
      // a concurrent writer may have landed the same batch between the
      // pre-check and the claim: re-check against the claim's parent
      // (and drop the staged delta dir rather than leak it)
      if (alreadyApplied(prevV)) {
        fs.delete(new Path(rp, dirName), true)
        return prevV
      }
      preCommit(prevV)
      val recorded = snapshotKeys(fs, rp, prevV)
      require(recorded.forall(_ == physKeys),
        s"txtable: $root is keyed on ${recorded.get.mkString(",")}, " +
          s"got ${physKeys.mkString(",")}")
      val prev = rawEntryLines(fs, rp, prevV)
      ("delta",
        (batchId.map(id => s"batch:$sid:$id").toSeq ++
          extMap.map(colMapLine).toSeq ++
          (s"key:${physKeys.mkString(",")}" +: prev)) :+ entry.line)
    }
  }

  /** Typed z-key SQL exprs + observed [lo, hi] ranges for `zCols` —
    * integral dims key on their own value, DATE dims on
    * days-since-epoch, STRING dims on the first-7.5-UTF-8-bytes hex
    * key ([[graft.operators.Relational.strZKeyExpr]] — order-agrees
    * with Spark's string comparison, so the resulting dir `str:`
    * bounds prune string ranges). ONE 1-row aggregate computes every
    * dim's range; the scaled interleave then spends its bits on the
    * spread that actually varies. */
  private case class ZDim(raw: String, cuts: Option[Seq[Long]],
    lo: Long, hi: Long)

  private def zDims(df: DataFrame, zCols: Seq[String]): Seq[ZDim] = {
    import org.apache.spark.sql.types._
    val R = graft.operators.Relational
    val fields = zCols.map { c =>
      c -> (df.schema.find(_.name == c).map(_.dataType) match {
        case Some(dt @ (StringType | DateType |
          LongType | IntegerType | ShortType)) => dt
        case dt => throw new IllegalArgumentException(
          s"txtable: z-order dim '$c' must be integral, date or " +
            s"string, got $dt")
      })
    }
    // ONE 1-row aggregate: raw min/max per dim (strings as strings —
    // the common prefix derives driver-side)
    val aggs = fields.flatMap {
      case (c, StringType) => Seq(min(col(c)), max(col(c)))
      case (c, DateType) =>
        val d = datediff(col(c), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long")
        Seq(min(d), max(d))
      case (c, _) =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // string dims get RANK-BUCKETIZED: a linear shift of the 60-bit
    // UTF-8 key piles a byte-sparse key space (all July days differ
    // only in bytes the span-shift discards) into 1–2 z-blocks. K
    // equi-height cut points of the key (one approx-percentile pass
    // for ALL string dims) make the curve position uniform by
    // construction — Delta's range_partition_id move. Duplicate cut
    // points (heavy hitters) just merge buckets, never misorder.
    val strIdx = fields.zipWithIndex.collect {
      case ((c, StringType), i) if !r.isNullAt(2 * i) =>
        val p = R.commonPrefixBytes(r.getString(2 * i),
          r.getString(2 * i + 1))
        (c, i, R.strZKeyExpr(c, p))
    }
    val zK = 64
    val cutsOf: Map[Int, Seq[Long]] =
      if (strIdx.isEmpty) Map.empty
      else {
        val probs = lit((1 until zK).map(_.toDouble / zK).toArray)
        val pAggs = strIdx.map { case (_, _, key) =>
          percentile_approx(expr(key), probs, lit(10000)) }
        val pr = df.agg(pAggs.head, pAggs.tail: _*).collect()(0)
        strIdx.zipWithIndex.flatMap { case ((_, i, _), j) =>
          if (pr.isNullAt(j)) None
          else Some(i -> pr.getSeq[Long](j).distinct.sorted)
        }.toMap
      }
    fields.zipWithIndex.map {
      case ((c, StringType), i) =>
        strIdx.find(_._2 == i) match {
          case Some((_, _, key)) =>
            val cuts = cutsOf.getOrElse(i, Seq.empty)
            if (cuts.isEmpty) {
              // near-unreachable guard (percentile over non-null keys
              // returns non-null): lo=hi=0 would make
              // zValueExprScaled treat a raw 60-bit key as a 1-bit
              // span and shift it into the sign bit — pass the
              // OBSERVED key bounds instead so the span is real
              // (layout quality only; stats stay sound either way)
              val p = R.commonPrefixBytes(r.getString(2 * i),
                r.getString(2 * i + 1))
              ZDim(key, None, R.strZKeyOf(r.getString(2 * i), p),
                R.strZKeyOf(r.getString(2 * i + 1), p))
            }
            else ZDim(key, Some(cuts), 0L, cuts.size.toLong)
          case None => ZDim(R.strZKeyExpr(c), None, 0L, 0L) // all NULL
        }
      case ((c, dt), i) =>
        val e = dt match {
          case DateType => s"cast(datediff($c, date'1970-01-01') as bigint)"
          case _ => s"cast($c as bigint)"
        }
        val lo = if (r.isNullAt(2 * i)) 0L else r.getLong(2 * i)
        val hi = if (r.isNullAt(2 * i + 1)) lo else r.getLong(2 * i + 1)
        ZDim(e, None, lo, hi)
    }
  }

  /** `df` plus a `_z` column: each dim evaluates ONCE into a helper
    * column (the string key's hex/conv chain must not inline into
    * every interleave term), bucketized dims rank into their cut
    * points, and the scaled interleave runs over the cheap helper
    * longs. Helpers are dropped; only `_z` remains. */
  private def withZColumn(df: DataFrame, zCols: Seq[String]): DataFrame = {
    val dims = zDims(df, zCols)
    var acc = df
    dims.zipWithIndex.foreach { case (zd, d) =>
      acc = acc.withColumn(s"_zr$d", expr(zd.raw)) }
    dims.zipWithIndex.foreach { case (zd, d) =>
      val e = zd.cuts match {
        case Some(cuts) =>
          // UNROLLED comparison sum, not an `aggregate` lambda: the
          // higher-order function evaluates interpreted per row, and
          // this expression runs over every row of the rewrite AND the
          // max(_z) pass — the unrolled form whole-stage-codegens
          cuts.map(v => s"if(_zr$d >= ${v}L, 1L, 0L)")
            .mkString("(", " + ", ")")
        case None => s"_zr$d"
      }
      acc = acc.withColumn(s"_zd$d", expr(e)) }
    val scaled = dims.zipWithIndex.map { case (zd, d) =>
      (s"_zd$d", if (zd.cuts.isDefined) 0L else zd.lo,
        if (zd.cuts.isDefined) zd.cuts.get.size.toLong else zd.hi) }
    acc.withColumn("_z",
      expr(graft.operators.Relational.zValueExprScaled(scaled)))
      .drop(dims.indices.flatMap(d => Seq(s"_zr$d", s"_zd$d")): _*)
  }

  /** OPTIMIZE … ZORDER BY (x, y): rewrite the current snapshot into
    * up to `nDirs` dirs CLUSTERED by the Morton interleave of the two
    * dimensions, each dir carrying min/max stats on BOTH — one atomic
    * commit (op = compact: content-identical, so the change feed
    * correctly emits nothing and time travel keeps the old layout).
    * After it, `read(colRanges)` dir-pruning bites on EITHER
    * dimension, where a lexicographic sort serves only its leading
    * column — the layout job a 100 TB table runs periodically so
    * point/range lookups touch O(matching dirs), not O(table).
    * Keyed snapshots are resolved first (optimize ⊇ compaction);
    * the stats declaration moves to the z dimensions. */
  def optimizeZOrder(spark: SparkSession, root: String, xCol: String,
    yCol: String, nDirs: Int = 8): Int =
    optimizeZOrderN(spark, root, Seq(xCol, yCol), nDirs)

  /** n-dimensional OPTIMIZE … ZORDER BY (c1, …, cn) — same contract as
    * the 2-dim face; every listed dimension gets dir stats, so
    * `read(colRanges)` pruning bites on any of them. Dims may be
    * integral, DATE, or STRING: string dims interleave on a
    * common-prefix-stripped UTF-8 hex key (order-agrees with Spark's
    * string comparison) and their dirs carry `str:`/`sx:` bounds, so
    * `read(strRanges)` prunes a (date-string, id) layout on BOTH
    * axes; every dim normalizes to its observed [lo, hi] before
    * interleaving (see [[graft.operators.Relational.zValueExprScaled]]). */
  def optimizeZOrderN(spark: SparkSession, root: String,
    zCols: Seq[String], nDirs: Int = 8): Int = {
    require(nDirs >= 1, "optimizeZOrder needs at least one output dir")
    val (fs, rp) = fsFor(spark, root)
    // The O(table) rewrite stages OUTSIDE the claim loop, pinned to the
    // snapshot it read: a commit that lands in between makes the staged
    // copy stale (committing it would drop the interleaved rows), so
    // the claim aborts, the stage is deleted, and the whole rewrite
    // re-runs against the new snapshot — bounded times, not the claim
    // loop's ten (each retry here is a full-table rewrite).
    var attempt = 0
    while (attempt < 3) {
      val base = latestVersion(spark, root)
      require(base > 0, s"txtable: nothing to optimize at $root")
      val resolved = read(spark, root, base)
      val parent = s"data/zopt-${java.util.UUID.randomUUID()}"
      // Dirs are ALIGNED z-prefix blocks (bucket = z >> shift), not
      // sampled quantile ranges: a quantile boundary that straddles a
      // Morton cell widens that dir's min/max box in EVERY dimension
      // and pruning degrades, whereas prefix blocks are axis-aligned
      // boxes by construction — the tightest stats the interleave can
      // give. The shift derives from max(z) alone (one cheap 1-row
      // aggregate): the smallest shift whose ALIGNED block count over
      // [0, maxZ] fits nDirs. Heavily-clustered z distributions may
      // leave some blocks empty (fewer, larger dirs) — that only
      // costs layout granularity, never pruning correctness, and the
      // alternative (estimating distinct blocks per candidate shift)
      // measured 4x the whole rewrite's cost at sf0.1.
      val withZ = withZColumn(resolved, zCols)
      val mzRow = withZ.agg(max("_z")).collect()(0)
      // no max(_z) means zero live rows (an empty table, or a tail of
      // only zero-row dirs): nothing to re-cluster — return the
      // snapshot unchanged rather than failing a routine nightly run
      if (mzRow.isNullAt(0)) return base
      val mz = mzRow.getLong(0)
      val blockBits = 63 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, nDirs.toLong)) // floor(log2(nDirs))
      val zBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, mz))
      val shift = math.max(0, zBits - blockBits)
      withZ
        .withColumn("_b", expr(s"shiftright(_z, $shift)"))
        .repartition(col("_b"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.partitionBy("_b").mode("overwrite")
        .parquet(new Path(rp, parent).toString)
      val m = snapshotColMap(fs, rp, base)
      // dirs rewritten from read()'s logical output: keys move to
      // logical names and any mapping resets (see compactSnapshot)
      val keys = snapshotKeys(fs, rp, base).map(_.map(logicalName(m, _)))
      val statsCols = zCols
      val buckets = fs.listStatus(new Path(rp, parent)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("_b="))
        .sortBy(n => n.stripPrefix("_b=").toLong)
      // ONE grouped stats pass over all buckets (was one Spark job per
      // bucket — nDirs sequential scans of the just-written table)
      val entries = bucketStatsEntries(spark, rp, parent,
        buckets.map(b => s"$parent/$b"),
        keys.getOrElse(Seq.empty) ++ statsCols)
      try {
        return commitRetry(spark, root) { prevV =>
          if (prevV != base) throw new StaleOptimize
          ("compact",
            keys.map(ks => s"key:${ks.mkString(",")}").toSeq ++
              Seq(s"statscol:${statsCols.mkString(",")}") ++
              m.map(_ => "colmap:").toSeq ++
              entries.map(_.line))
        }
      } catch {
        case _: StaleOptimize =>
          fs.delete(new Path(rp, parent), true)
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"txtable: optimize of $root lost the commit race 3 times; " +
        "rerun when concurrent writes quiesce")
  }

  /** Control-flow marker: a concurrent commit invalidated a staged
    * optimize rewrite. */
  private final class StaleOptimize extends RuntimeException

  /** INCREMENTAL OPTIMIZE ZORDER — re-cluster only the UNCLUSTERED
    * TAIL: dirs appended (or DML-rewritten) since the last z-order
    * pass rewrite into their own aligned z-prefix blocks; every dir a
    * previous pass produced carries over BY NAME, unopened. Nightly
    * maintenance of a z-ordered 100 TB fact table then costs O(new
    * data), not O(table) — the full rewrite (optimizeZOrderN) stays
    * the periodic generation-merging pass (each incremental run adds
    * one zopt generation of ≤ nDirs dirs; overlapping generations only
    * cost pruning granularity, never correctness, since every block is
    * an axis-aligned stats box). Clustered dirs are recognized by the
    * `data/zopt-` name prefix the z-order stages mint — dir names are
    * immutable identifiers, so no extra commit state is needed. First
    * run (no prior pass) and non-identity column mappings delegate to
    * the full rewrite (incremental tail dirs would be born under
    * logical names while clustered dirs keep physical — a mixed
    * namespace one snapshot cannot declare). */
  def optimizeZOrderIncremental(spark: SparkSession, root: String,
    zCols: Seq[String], nDirs: Int = 8): Int = {
    require(nDirs >= 1, "optimizeZOrder needs at least one output dir")
    val (fs, rp) = fsFor(spark, root)
    var attempt = 0
    while (attempt < 3) {
      val base = latestVersion(spark, root)
      require(base > 0, s"txtable: nothing to optimize at $root")
      val entries = snapshotEntries(fs, rp, base)
      require(!entries.exists(_.isDelta),
        s"txtable: optimizeZOrderIncremental needs a delta-free " +
          s"snapshot of $root — run compactSnapshot first")
      val m = snapshotColMap(fs, rp, base)
      if (m.exists(_.exists { case (l, p) => l != p }))
        return optimizeZOrderN(spark, root, zCols, nDirs)
      val (clustered, tail) =
        entries.partition(_.dir.startsWith("data/zopt-"))
      if (clustered.isEmpty)
        return optimizeZOrderN(spark, root, zCols, nDirs)
      if (tail.isEmpty) return base
      val keys = snapshotKeys(fs, rp, base)
      val statsCols = snapshotStatsCols(fs, rp, base)
      val parent = s"data/zopt-${java.util.UUID.randomUUID()}"
      // per-dir default fill BEFORE the union — the re-clustered
      // files must carry the default, not a materialized NULL
      val addedNow = liveAddedCols(fs, rp, base)
      val tailDf = tail
        .map(e => fillDeclaredDefaults(visibleDirFrame(spark, rp, e),
          addedNow))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val withZ = withZColumn(tailDf, zCols)
      val mzRow = withZ.agg(max("_z")).collect()(0)
      // no max(_z) means zero live rows (an empty table, or a tail of
      // only zero-row dirs): nothing to re-cluster — return the
      // snapshot unchanged rather than failing a routine nightly run
      if (mzRow.isNullAt(0)) return base
      val mz = mzRow.getLong(0)
      // the tail gets its OWN aligned grid — blocks need not share the
      // base generation's shift to be axis-aligned stats boxes
      val blockBits = 63 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, nDirs.toLong))
      val zBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, mz))
      val shift = math.max(0, zBits - blockBits)
      withZ
        .withColumn("_b", expr(s"shiftright(_z, $shift)"))
        .repartition(col("_b"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.partitionBy("_b").mode("overwrite")
        .parquet(new Path(rp, parent).toString)
      val buckets = fs.listStatus(new Path(rp, parent)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("_b="))
        .sortBy(n => n.stripPrefix("_b=").toLong)
      // ONE grouped stats pass over the tail's buckets (see
      // optimizeZOrderN — was one Spark job per bucket)
      val newEntries = bucketStatsEntries(spark, rp, parent,
        buckets.map(b => s"$parent/$b"),
        (keys.getOrElse(Seq.empty) ++ statsCols ++ zCols).distinct)
      try {
        return commitRetry(spark, root) { prevV =>
          if (prevV != base) throw new StaleOptimize
          ("compact",
            keys.map(ks => s"key:${ks.mkString(",")}").toSeq ++
              Seq(s"statscol:${
                (statsCols ++ zCols).distinct.mkString(",")}") ++
              clustered.map(_.line) ++ newEntries.map(_.line))
        }
      } catch {
        case _: StaleOptimize =>
          fs.delete(new Path(rp, parent), true)
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"txtable: optimize of $root lost the commit race 3 times; " +
        "rerun when concurrent writes quiesce")
  }

  /** Fold all deltas of the current snapshot into one materialized
    * data dir (the compaction job that bounds merge-on-read cost).
    * Readers of the new version pay zero resolution; old versions
    * remain time-travelable until vacuum. */
  def compactSnapshot(spark: SparkSession, root: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    // a HASH-BUCKETED table's full rewrite must RE-LAND the bucketed
    // layout, not fold it into one dir — otherwise maintenance would
    // break the co-located join face and every later INSERT (the
    // declared layout could no longer be re-established over live
    // unbucketed content). One replace-all OCC commit, deltas folded
    // by the resolved read, column mapping reset like the plain path.
    bucketSpecOf(spark, root) match {
      case Some((bcol, n)) =>
        val v = latestVersion(spark, root)
        val m = snapshotColMap(fs, rp, v)
        return appendBucketedBy(read(spark, root), root, bcol, n,
          statsCols =
            snapshotStatsCols(fs, rp, v).map(logicalName(m, _)),
          replace = true)
      case None => ()
    }
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to compact at $root")
      val m = snapshotColMap(fs, rp, prevV)
      val resolved = read(spark, root, prevV)
      val dirName = s"data/compact-${java.util.UUID.randomUUID()}"
      // the new dir is born under the LOGICAL names (read's output),
      // materializing any renames and shedding drop tombstones — so
      // the key/stats headers move to logical and the mapping RESETS
      // (bare colmap: line); time travel still serves old versions
      // under their own maps
      val keys = snapshotKeys(fs, rp, prevV).map(_.map(logicalName(m, _)))
      val statsCols =
        snapshotStatsCols(fs, rp, prevV).map(logicalName(m, _))
      val (obsResolved, mkEntry) = observeStats(resolved,
        keys.getOrElse(Seq.empty) ++ statsCols)
      obsResolved.write.mode("overwrite")
        .parquet(new Path(rp, dirName).toString)
      val entry = mkEntry(spark, rp, dirName, false)
      ("compact",
        keys.map(ks => s"key:${ks.mkString(",")}").toSeq ++
          (if (statsCols.nonEmpty) Seq(s"statscol:${statsCols.mkString(",")}")
           else Seq.empty) ++ m.map(_ => "colmap:").toSeq :+ entry.line)
    }
  }

  /** Bin-packed small-file OPTIMIZE — routine maintenance without the
    * full rewrite: dirs whose on-disk bytes fall below `targetBytes`
    * are grouped (in commit order) into ≈`targetBytes` bins and each
    * bin rewrites into ONE new dir; every dir at or above the
    * threshold carries over BY NAME — pure metadata, never opened.
    * `compactSnapshot` rewrites the whole table, which is right after
    * heavy DML but wrong as maintenance of a 100 TB table whose tail
    * accumulates small streaming batches — this touches only the
    * small tail, so the cost is O(small files), not O(table). The
    * lakehouse OPTIMIZE/rewrite-data-files operation (reference
    * analog: HAR packs many small files into one archive for the same
    * namespace/seek economics, src/core/org/apache/hadoop/fs/
    * HarFileSystem.java:48 — here the pack is transactional and the
    * table stays online).
    *
    * Bins merge ADJACENT dirs only (a plain multiset-preserving
    * union — a delta-free snapshot reads as the union of its dirs, so
    * the packed table is bit-identical) and the merged dir takes its
    * first member's commit position, preserving relative order.
    * Everything stays in PHYSICAL column space, so a column mapping
    * carries unchanged (no reset — unlike compactSnapshot, renames
    * are NOT materialized) and the change feed emits nothing
    * (op:compact, content-preserving). Delta-free snapshots only:
    * a delta's position encodes resolution order against dirs OUTSIDE
    * any bin — run compactSnapshot to fold deltas first. Returns the
    * committed version, or the current one when fewer than two dirs
    * are below the threshold (no commit written). */
  def optimizeCompact(spark: SparkSession, root: String,
    targetBytes: Long = 128L * 1024 * 1024): Int = {
    val (fs, rp) = fsFor(spark, root)
    var staged: Seq[String] = Seq.empty
    commitRetry(spark, root) { prevV =>
      staged.foreach(d => fs.delete(new Path(rp, d), true))
      staged = Seq.empty
      require(prevV > 0, s"txtable: nothing to optimize at $root")
      val entries = snapshotEntries(fs, rp, prevV)
      require(!entries.exists(_.isDelta),
        s"txtable: optimizeCompact needs a delta-free snapshot of $root " +
          "— run compactSnapshot first")
      val sized = entrySizes(spark, rp, entries)
      if (sized.count(_._2 < targetBytes) < 2)
        return prevV // nothing worth packing; no empty commit
      val keys = snapshotKeys(fs, rp, prevV)
      val statsCols = snapshotStatsCols(fs, rp, prevV)
      // PARTITION-AWARE packing: a provably partition-clustered table
      // (the streamed-ingest shape — many small per-epoch dirs, each
      // single-valued and null-free on its partition columns) must
      // compact WITHIN values, or one compaction would destroy the
      // clustering proof — the SPJ face would start refusing a table
      // it accepted yesterday and metadata GROUP BY would bail. The
      // clustering columns are discovered from the stats themselves
      // (single-valued + zero null count in every non-empty dir, the
      // partitionFileSlices proof); merged dirs re-stat through
      // statsEntry, so lo == hi is re-recorded and the proof survives.
      // Unclustered tables see exactly the old behavior (one group).
      val nonEmpty = sized.collect {
        case (e, _) if e.stats.get(rowsKey).exists(_._1 > 0) => e }
      val clusterCols = statsCols.filter(c => nonEmpty.nonEmpty &&
        nonEmpty.forall(e =>
          e.stats.get(c).exists(s => s._1 == s._2) &&
            e.stats.get(s"$nullsPrefix$c").exists(_._1 == 0L)))
      // a hash-bucketed layout packs WITHIN buckets the same way a
      // partitioned one packs within values: the `_bucket` stat joins
      // the group key (when every live dir carries it — a broken
      // layout packs like a plain table, the header rides harmlessly
      // and the face's own slices proof decides)
      val bspec = bucketSpecAt(fs, rp, prevV).filter(_ =>
        nonEmpty.nonEmpty && nonEmpty.forall(e =>
          e.stats.get(bucketStatKey).exists(s => s._1 == s._2)))
      def groupOf(e: Entry): Seq[Long] =
        if (e.stats.get(rowsKey).exists(_._1 == 0L)) Seq.empty
        else bspec.map(_ => e.stats(bucketStatKey)._1).toSeq ++
          clusterCols.map(c => e.stats(c)._1)
      // greedy adjacent packing per value group: consecutive small
      // dirs accumulate until the bin reaches the target; any large
      // dir closes its group's bin and carries over alone
      val bins = scala.collection.mutable.ArrayBuffer[Vector[Entry]]()
      val cur = scala.collection.mutable.LinkedHashMap[Seq[Long],
        (Vector[Entry], Long)]()
      def flush(g: Seq[Long]): Unit = cur.remove(g).foreach {
        case (es, _) => if (es.nonEmpty) bins += es
      }
      sized.foreach { case (e, n) =>
        val g = groupOf(e)
        if (n >= targetBytes) { flush(g); bins += Vector(e) }
        else {
          val (es, b) = cur.getOrElse(g, (Vector.empty[Entry], 0L))
          if (b + n > targetBytes) { flush(g); cur(g) = (Vector(e), n) }
          else cur(g) = (es :+ e, b + n)
        }
      }
      cur.keys.toSeq.foreach(flush)
      // all-singleton bins = nothing to pack (e.g. the small dirs sit
      // in different partition values) — no empty commit
      if (bins.forall(_.size == 1)) return prevV
      val newLines = bins.toSeq.map { bin =>
        if (bin.size == 1) bin.head.line // carried by name, unopened
        else {
          val dirName = s"data/opt-${java.util.UUID.randomUUID()}"
          // the fill is PER DIR: unioning first would null-fill the
          // pre-ADD dirs' rows for a column another bin member carries
          val addedNow = liveAddedCols(fs, rp, prevV)
          val merged = bin
            .map(e => fillDeclaredDefaults(
              visibleDirFrame(spark, rp, e), addedNow))
            .reduce(_.unionByName(_, allowMissingColumns = true))
          val (obsMerged, mkEntry) = observeStats(merged,
            keys.getOrElse(Seq.empty) ++ statsCols)
          obsMerged.write.mode("overwrite")
            .parquet(new Path(rp, dirName).toString)
          staged = staged :+ dirName
          val entry = mkEntry(spark, rp, dirName, false)
          // a merged bucket dir RE-RECORDS its id: every bin member
          // carried the same `_bucket` (it's in the group key), so
          // the proof survives the pack
          bspec.flatMap(_ => bin.head.stats.get(bucketStatKey))
            .fold(entry)(id => entry.copy(
              stats = entry.stats + (bucketStatKey -> id))).line
        }
      }
      // the entry list replaces wholesale, so re-emit the declared
      // bucketby/key/statscol headers; the colmap carries
      // automatically via commitRetry (renames stay metadata)
      ("compact",
        bucketSpecAt(fs, rp, prevV)
          .map { case (c, n) => s"bucketby:$c,$n" }.toSeq ++
          keys.map(ks => s"key:${ks.mkString(",")}").toSeq ++
          (if (statsCols.nonEmpty)
            Seq(s"statscol:${statsCols.mkString(",")}")
           else Seq.empty) ++ newLines)
    }
  }

  /** One data file of a DML-affected dir, with the dir's positional-
    * delete sidecar part files (dead positions fold at scan). */
  private[sources] case class CowFile(path: String, dir: String,
    pdelFiles: Seq[String])

  /** What a SQL row-level rewrite scans and what its commit swaps:
    * the snapshot version pinned at planning, the affected dirs with
    * their entry lines AS WRITTEN (the commit verifies them
    * byte-identical at claim — the OCC conflict detector), their data
    * files, and the headers the replacement commit re-declares. */
  private[sources] case class CowPlan(version: Int,
    colMap: Option[Seq[(String, String)]], affectedDirs: Seq[String],
    affectedLines: Seq[String], files: Seq[CowFile],
    keys: Seq[String], statsCols: Seq[String],
    // physical names of declared (ADD COLUMNS) columns a pre-ADD data
    // file may legitimately lack — the COW readers null-fill these,
    // EXCEPT names in addedDefaults, which fill with that internal
    // value (the column's DEFAULT; filling NULL there would let any
    // unrelated UPDATE silently corrupt defaulted rows to NULL)
    addedCols: Set[String] = Set.empty,
    addedDefaults: Map[String, Any] = Map.empty)

  /** Plan a group-based copy-on-write rewrite: every dir of the
    * latest snapshot EXCEPT those the condition's bounding box
    * provably refutes (the `deleteWhere` disjointness triage — a
    * pruned dir cannot hold a matching row, so keeping it unrewritten
    * is sound; Spark's ReplaceData reads every surviving dir's rows
    * in full). Ranges arrive in LOGICAL names from the pushed
    * filters; stats compare in physical space. */
  private[sources] def cowPlan(spark: SparkSession, root: String,
    colRanges: Map[String, (Long, Long)],
    strRanges: Map[String, (String, String)],
    version: Int = -1): CowPlan = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    require(v > 0, s"txtable: nothing to rewrite at $root")
    val entries = snapshotEntries(fs, rp, v)
    require(!entries.exists(_.isDelta),
      s"txtable: SQL DML needs a delta-free snapshot of $root — " +
        "run compactSnapshot first")
    val m = snapshotColMap(fs, rp, v)
    val pr = physRanges(m, colRanges)
    val spr = physStrRanges(m, strRanges)
    def disjoint(e: Entry): Boolean = pr.exists {
      case (c, (lo, hi)) => e.stats.get(c).exists {
        case (elo, ehi) => ehi < lo || elo > hi } } ||
      spr.exists { case (c, (lo, hi)) =>
        e.sstats.get(c).exists { case (elo, ehi) =>
          ehi < hexOf(lo) || elo > hexOf(hi) } }
    val affected = entries.filterNot(disjoint)
    val fmap = listDataFiles(spark, rp, affected.map(_.dir),
      recursive = true)
    val files = affected.flatMap { e =>
      val pdFiles =
        if (e.pdels.isEmpty) Seq.empty
        else pdelPaths(rp, e).flatMap { d =>
          val p = new Path(d)
          fs.listStatus(p).toSeq.collect {
            case s if s.isFile && !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith(".") => s.getPath.toString
          }
        }
      fmap.getOrElse(e.dir, Seq.empty).map(f => CowFile(f, e.dir, pdFiles))
    }
    val added = liveAddedCols(fs, rp, v)
    CowPlan(v, m, affected.map(_.dir), affected.map(_.line), files,
      snapshotKeys(fs, rp, v).getOrElse(Seq.empty),
      snapshotStatsCols(fs, rp, v),
      added.map(_.phys).toSet,
      added.collect { case c if c.default.isDefined =>
        c.phys -> c.internalDefault }.toMap)
  }

  /** Commit a group-based rewrite: swap `plan`'s affected dirs for
    * the staged files, atomically. The staged files move into ONE new
    * data dir (stats recomputed over it); unaffected entry lines
    * carry over from the CURRENT head — a concurrent commit that only
    * touched other dirs composes fine, but one that changed or
    * removed an affected dir's line aborts loudly: the scanned rows
    * no longer describe the table, and retrying would need a re-scan
    * the write cannot perform. Mirrors `deleteWhere`'s empty-table
    * guard: a rewrite that leaves no entries keeps one zero-row dir
    * so the table stays readable. */
  private[sources] def cowCommit(spark: SparkSession, root: String,
    plan: CowPlan, staged: Seq[String], op: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    val affectedSet = plan.affectedLines.toSet
    // move staged parquet into the table's data area ONCE (the entry
    // is computed over the final dir; commit retries reuse it)
    var ownedDirs: Seq[String] = Seq.empty
    val newLine: Option[String] =
      if (staged.isEmpty) None
      else {
        val dirName = s"data/$op-${java.util.UUID.randomUUID()}"
        val dirPath = new Path(rp, dirName)
        fs.mkdirs(dirPath)
        staged.foreach { f =>
          val src = new Path(f)
          require(fs.rename(src, new Path(dirPath, src.getName)),
            s"txtable: failed to stage $f into $dirName")
        }
        ownedDirs = ownedDirs :+ dirName
        Some(statsEntry(spark, rp, dirName,
          plan.keys ++ plan.statsCols).line)
      }
    val movedDirs = ownedDirs // survive retries; guard dirs don't
    try commitRetry(spark, root) { prevV =>
      // a lost race re-runs this closure: drop the prior attempt's
      // empty-table guard dir (if any) — the new attempt re-decides
      ownedDirs.filterNot(movedDirs.contains)
        .foreach(d => fs.delete(new Path(rp, d), true))
      ownedDirs = movedDirs
      val entries = snapshotEntries(fs, rp, prevV)
      val present = entries.map(_.line).toSet
      val gone = plan.affectedLines.filterNot(present)
      if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"txtable: $op of $root lost its snapshot — ${gone.size} scanned " +
          s"dir(s) changed under the rewrite (e.g. ${gone.head.take(80)}); " +
          "re-run the statement")
      val kept = entries.filterNot(e => affectedSet(e.line)).map(_.line)
      val lines =
        if (kept.nonEmpty || newLine.nonEmpty) kept ++ newLine.toSeq
        else {
          // all rows gone: keep a readable zero-row schema dir
          val schemaSrc = spark.read.parquet(
            new Path(rp, plan.affectedDirs.head).toString)
          val dirName = s"data/$op-${java.util.UUID.randomUUID()}"
          schemaSrc.filter(lit(false)).write.mode("overwrite")
            .parquet(new Path(rp, dirName).toString)
          ownedDirs = ownedDirs :+ dirName
          Seq(statsEntry(spark, rp, dirName,
            plan.keys ++ plan.statsCols).line)
        }
      (op,
        (if (plan.keys.nonEmpty) Seq(s"key:${plan.keys.mkString(",")}")
         else Seq.empty) ++
          (if (plan.statsCols.nonEmpty)
            Seq(s"statscol:${plan.statsCols.mkString(",")}")
           else Seq.empty) ++ lines)
    } catch {
      case e: Throwable =>
        // an aborted commit leaves the moved dirs unreferenced — drop
        // them instead of leaking until vacuum's orphan sweep
        ownedDirs.foreach(d => fs.delete(new Path(rp, d), true))
        throw e
    }
  }

  /** The latest snapshot's column mapping (None = identity / no
    * commits) — what a V2 batch writer needs to stage files under the
    * immutable PHYSICAL names. */
  private[sources] def colMapOf(spark: SparkSession,
    root: String): Option[Seq[(String, String)]] = {
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    if (v == 0) None else snapshotColMap(fs, rp, v)
  }

  /** Commit executor-staged parquet files as one new data dir —
    * `INSERT INTO` (append) / `INSERT OVERWRITE` (replace-all) on the
    * catalog face. Append carries the parent's lines and stats the new
    * dir on the table's own declared columns (staged files are in
    * PHYSICAL names); overwrite replaces all content with the staged
    * logical-born files and resets the column mapping, exactly like
    * [[overwrite]]. An empty overwrite keeps a readable zero-row dir
    * (written from `writeSchema`). An empty append is a no-op. */
  private[sources] def appendStaged(spark: SparkSession, root: String,
    staged: Seq[String], replace: Boolean,
    writeSchema: org.apache.spark.sql.types.StructType,
    bootstrapStatsCols: Seq[String] = Seq.empty,
    bucketSpec: Option[(String, Int)] = None): Int = {
    val (fs, rp) = fsFor(spark, root)
    if (staged.isEmpty && !replace) return latestVersion(spark, root)
    // a DECLARED-bucketed table (CREATE ... PARTITIONED BY
    // (bucket(n, c))) lands every INSERT through the clustered shape:
    // the staged files rewrite into per-bucket dirs (the partitioned
    // write's rewrite idiom — one extra pass over the BATCH, never
    // the table), so SQL-first tables get the zero-shuffle join face
    // without the Scala API. An empty INSERT OVERWRITE falls through
    // to the plain empty snapshot (no live dirs to cluster; the
    // declaration re-establishes the layout on the next content).
    bucketSpec match {
      case Some((bcol, n)) if staged.nonEmpty =>
        // append-staged files speak the snapshot's PHYSICAL names;
        // overwrite files are born logical
        val raw = spark.read.parquet(staged: _*)
        val df =
          if (replace) raw
          else colMapOf(spark, root).map(liveMap(_))
            .fold(raw)(_.foldLeft(raw) { case (d, (l, p)) =>
              if (l == p) d else d.withColumnRenamed(p, l)
            })
        return appendBucketedBy(df, root, bcol, n,
          statsCols =
            if (latestVersion(spark, root) == 0 || replace)
              bootstrapStatsCols
            else Seq.empty,
          replace = replace)
      case _ => ()
    }
    val op = if (replace) "overwrite" else "append"
    val dirName = s"data/$op-${java.util.UUID.randomUUID()}"
    val dirPath = new Path(rp, dirName)
    fs.mkdirs(dirPath)
    staged.foreach { f =>
      val src = new Path(f)
      require(fs.rename(src, new Path(dirPath, src.getName)),
        s"txtable: failed to stage $f into $dirName")
    }
    if (staged.isEmpty) {
      // empty INSERT OVERWRITE: a zero-row file carries the schema
      TxParquetIO.writer(new Path(dirPath, "part-empty.parquet"),
        writeSchema, spark.sessionState.newHadoopConf()).close()
    }
    try commitRetry(spark, root) { prevV =>
      // a table's FIRST content (bootstrap INSERT, or replace-all)
      // declares its stats columns: write-time per-dir stats are what
      // feed dir pruning, metadata aggregates and the CBO, and a
      // SQL-first table should get them without the Scala API
      def bootstrapHdr(cols: Seq[String]): Seq[String] =
        if (cols.isEmpty) Seq.empty
        else Seq(s"statscol:${cols.mkString(",")}")
      if (replace) {
        val hadMap = prevV > 0 && snapshotColMap(fs, rp, prevV).isDefined
        val entry = statsEntry(spark, rp, dirName, bootstrapStatsCols)
        ("overwrite",
          (if (hadMap) Seq("colmap:") else Seq.empty) ++
            bootstrapHdr(bootstrapStatsCols) :+ entry.line)
      } else {
        val statsCols =
          if (prevV == 0) bootstrapStatsCols
          else snapshotKeys(fs, rp, prevV).getOrElse(Seq.empty) ++
            snapshotStatsCols(fs, rp, prevV)
        if (bucketSpecAt(fs, rp, prevV).isDefined) {
          fs.delete(dirPath, true)
          throw new IllegalStateException(
            s"txtable: $root is bucket-clustered; INSERT INTO would " +
              "break the layout - appendBucketedBy maintains it, " +
              "INSERT OVERWRITE replaces it")
        }
        val entry = statsEntry(spark, rp, dirName, statsCols.distinct)
        ("append",
          (if (prevV == 0) bootstrapHdr(statsCols.distinct)
           else Seq.empty) ++
            snapshotLines(fs, rp, prevV) :+ entry.line)
      }
    } catch {
      case e: Throwable =>
        fs.delete(dirPath, true)
        throw e
    }
  }

  /** Commit a MERGE-ON-READ row-level rewrite: the staged delete
    * coordinates (_dir, _file, _pos) land as one `_pdel` positional
    * sidecar per touched dir — the exact grammar
    * `deleteWhere(positional = true)` writes, `_rows` adjusted the
    * same way — and the staged inserts as one new data dir. O(changed)
    * bytes, never O(dir). Only dirs that actually RECEIVE deletes are
    * verified byte-identical against the scanned plan at claim time
    * (positions are meaningless against a rewritten dir); concurrent
    * commits elsewhere compose. Scanned rows were already
    * sidecar-folded, so a coordinate can never double-kill and the
    * `_rows` subtraction stays exact. */
  private[sources] def deltaDmlCommit(spark: SparkSession, root: String,
    plan: CowPlan, stagedInserts: Seq[String], stagedDeletes: Seq[String],
    op: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    var ownedDirs: Seq[String] = Seq.empty
    var ownedSidecars: Seq[Path] = Seq.empty
    def cleanup(): Unit = {
      ownedDirs.foreach(d => fs.delete(new Path(rp, d), true))
      ownedSidecars.foreach(p => fs.delete(p, true))
    }
    try {
      val insertLine: Option[String] =
        if (stagedInserts.isEmpty) None
        else {
          val dirName = s"data/$op-${java.util.UUID.randomUUID()}"
          val dirPath = new Path(rp, dirName)
          fs.mkdirs(dirPath)
          stagedInserts.foreach { f =>
            val src = new Path(f)
            require(fs.rename(src, new Path(dirPath, src.getName)),
              s"txtable: failed to stage $f into $dirName")
          }
          ownedDirs = ownedDirs :+ dirName
          Some(statsEntry(spark, rp, dirName,
            plan.keys ++ plan.statsCols).line)
        }
      // delete coordinates grouped per dir, written ONCE as in-dir
      // sidecars (tiny by construction — O(changed rows)); dedup
      // guards the _rows subtraction against any double-fired
      // coordinate
      val touched: Map[String, (String, Long)] =
        if (stagedDeletes.isEmpty) Map.empty
        else {
          // ONE job whatever the dir count: coordinates cluster by
          // dir (hash repartition = all of a dir's rows in one task)
          // and each task streams its dirs' pairs straight into in-dir
          // sidecar files through TxParquetIO — a scattered delete
          // touching 10^4 dirs costs one shuffle of O(changed)
          // coordinate rows, not 10^4 driver jobs
          val conf = new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf())
          val rootStr = rp.toString
          import spark.implicits._
          val written = spark.read.parquet(stagedDeletes: _*)
            .dropDuplicates("_dir", "_file", "_pos")
            .repartition(col("_dir"))
            .mapPartitions { rows =>
              val out = scala.collection.mutable.Map[String,
                (String, org.apache.parquet.hadoop.ParquetWriter[
                  org.apache.spark.sql.catalyst.InternalRow], Array[Long])]()
              val pdSchema = org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("_file",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("_pos",
                  org.apache.spark.sql.types.LongType)))
              rows.foreach { r =>
                val d = r.getString(0)
                val (_, w, n) = out.getOrElseUpdate(d, {
                  val name = s"_pdel-${java.util.UUID.randomUUID()}"
                  val p = new Path(new Path(new Path(rootStr), d), name)
                  (name, TxParquetIO.writer(
                    new Path(p, "part-0.parquet"), pdSchema, conf.value),
                    Array(0L))
                })
                w.write(org.apache.spark.sql.catalyst.InternalRow(
                  org.apache.spark.unsafe.types.UTF8String
                    .fromString(r.getString(1)), r.getLong(2)))
                n(0) += 1
              }
              out.iterator.map { case (d, (name, w, n)) =>
                w.close(); (d, name, n(0))
              }
            }.collect().toSeq
          written.foreach { case (d, name, _) =>
            ownedSidecars = ownedSidecars :+
              new Path(new Path(rp, d), name)
          }
          written.map { case (d, name, n) => d -> (name, n) }.toMap
        }
      val lineOf = plan.affectedDirs.zip(plan.affectedLines).toMap
      commitRetry(spark, root) { prevV =>
        val entries = snapshotEntries(fs, rp, prevV)
        val present = entries.map(_.line).toSet
        val gone = touched.keys.filter(d =>
          !lineOf.get(d).exists(present.contains)).toSeq
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"txtable: $op of $root lost its snapshot — " +
              s"${gone.size} dir(s) receiving deletes changed under " +
              s"the rewrite (e.g. ${gone.head}); re-run the statement")
        val newLines = entries.flatMap { e =>
          touched.get(e.dir) match {
            case None => Some(e.line)
            case Some((name, n)) =>
              val nAll = e.stats.get(rowsKey).map(_._1).getOrElse {
                applyPdels(spark, rp, e, readDirFrame(spark, rp, e.dir))
                  .count()
              }
              if (n == nAll) None // every visible row died with this commit
              else Some(e.copy(
                stats = e.stats + (rowsKey -> (nAll - n, nAll - n)),
                pdels = e.pdels + (name -> n)).line)
          }
        } ++ insertLine.toSeq
        val lines =
          if (newLines.nonEmpty) newLines
          else {
            val schemaSrc = spark.read.parquet(
              new Path(rp, plan.affectedDirs.head).toString)
            val dirName = s"data/$op-${java.util.UUID.randomUUID()}"
            schemaSrc.filter(lit(false)).write.mode("overwrite")
              .parquet(new Path(rp, dirName).toString)
            ownedDirs = ownedDirs :+ dirName
            Seq(statsEntry(spark, rp, dirName,
              plan.keys ++ plan.statsCols).line)
          }
        (op,
          (if (plan.keys.nonEmpty) Seq(s"key:${plan.keys.mkString(",")}")
           else Seq.empty) ++
            (if (plan.statsCols.nonEmpty)
              Seq(s"statscol:${plan.statsCols.mkString(",")}")
             else Seq.empty) ++ lines)
      } match {
        case v =>
          // a fully-dead dir drops its entry — its freshly-written
          // sidecar is unreferenced; sweep it rather than leaking
          val refd = snapshotEntries(fs, rp, v).flatMap(e =>
            e.pdels.keys.map(n =>
              new Path(new Path(rp, e.dir), n).toString)).toSet
          ownedSidecars.filterNot(p => refd(p.toString))
            .foreach(p => fs.delete(p, true))
          v
      }
    } catch {
      case e: Throwable =>
        cleanup()
        throw e
    }
  }

  /** Copy-on-write row-level DELETE (the `DELETE FROM t WHERE …` of a
    * modern table format): rows matching `predSql` leave the snapshot;
    * everything else is byte-identical and, crucially, mostly NOT
    * rewritten. Per-dir triage against the commit's own stats:
    *
    *  - dirs whose stats box is DISJOINT from `pruneRanges` (the
    *    predicate's bounding box on stats columns) carry over
    *    untouched — never opened. At 100 TB with date/key-clustered
    *    dirs (append order, z-order, compactDirs) this is almost all
    *    of the table; a GDPR key-range delete costs the matching dirs.
    *  - with `rangesExact = true` (caller asserts the predicate IS the
    *    box), dirs fully CONTAINED in the box drop from the snapshot
    *    as pure metadata — the whole-partition TRUNCATE fast path,
    *    zero rows read or written.
    *  - only straddling dirs are opened; those with no matches carry
    *    over unrewritten (one count aggregate), the rest rewrite to a
    *    new dir holding their surviving rows, stats recomputed.
    *
    * Old dirs stay referenced by older versions (time travel reads
    * the pre-delete snapshot until `vacuum`). Requires a delta-free
    * snapshot: MoR deltas are keyed CHANGES, and filtering them with a
    * value predicate is the colRanges-on-values unsoundness all over
    * again — run `compactSnapshot` first. Staged rewrites from a lost
    * OCC race are re-staged against the new parent and the stale dirs
    * deleted, so retries can't leak data dirs. */
  def deleteWhere(spark: SparkSession, root: String, predSql: String,
    pruneRanges: Map[String, (Long, Long)] = Map.empty,
    rangesExact: Boolean = false,
    strPruneRanges: Map[String, (String, String)] = Map.empty,
    positional: Boolean = false): Int = {
    val (fs, rp) = fsFor(spark, root)
    var staged: Seq[String] = Seq.empty
    commitRetry(spark, root) { prevV =>
      staged.foreach(d => fs.delete(new Path(rp, d), true))
      staged = Seq.empty
      require(prevV > 0, s"txtable: nothing to delete from at $root")
      val entries = snapshotEntries(fs, rp, prevV)
      require(!entries.exists(_.isDelta),
        s"txtable: deleteWhere needs a delta-free snapshot of $root — " +
          "run compactSnapshot first")
      val keys = snapshotKeys(fs, rp, prevV)
      val statsCols = snapshotStatsCols(fs, rp, prevV)
      // callers speak logical names: prune ranges translate to the
      // physical stats, and the predicate evaluates over logical
      // aliases laid over each physical dir frame
      val m = snapshotColMap(fs, rp, prevV)
      val pr = physRanges(m, pruneRanges)
      // string boxes triage through the string stats exactly like the
      // integral ones — a domain-/date-string-bounded delete carries
      // disjoint dirs unopened. Truncated bounds stay sound both
      // ways: disjointness compares against widened bounds (over-
      // keeps), containment against narrowed ones (under-drops).
      val spr = physStrRanges(m, strPruneRanges)
      def disjoint(e: Entry): Boolean = pr.exists {
        case (c, (lo, hi)) => e.stats.get(c).exists {
          case (elo, ehi) => ehi < lo || elo > hi } } ||
        spr.exists { case (c, (lo, hi)) =>
          e.sstats.get(c).exists { case (elo, ehi) =>
            ehi < hexOf(lo) || elo > hexOf(hi) } }
      def contained(e: Entry): Boolean = rangesExact &&
        (pr.nonEmpty || spr.nonEmpty) && pr.forall {
          case (c, (lo, hi)) => e.stats.get(c).exists {
            case (elo, ehi) => elo >= lo && ehi <= hi } } &&
        spr.forall { case (c, (lo, hi)) =>
          e.sstats.get(c).exists { case (elo, ehi) =>
            elo >= hexOf(lo) && ehi <= hexOf(hi) } }
      val newLines = entries.flatMap { e =>
        if (disjoint(e)) Some(e.line)
        else if (contained(e)) None
        else if (positional) {
          // POSITIONAL MODE (the deletion-vector move): instead of
          // rewriting a straddling dir copy-on-write, commit the
          // matched rows' (file name, row index) pairs as an
          // immutable in-dir `_pdel-<uuid>` sidecar — O(matched)
          // bytes, not O(dir) — and adjust the entry's `_rows` stat
          // exactly. Reads anti-join the pairs away (applyPdels);
          // compaction folds them. Positions come from the scan's own
          // `_metadata` columns, and prior sidecars are anti-joined
          // FIRST so a re-delete of already-dead rows never
          // double-subtracts `_rows`.
          val raw0 = readDirFrame(spark, rp, e.dir)
            .withColumn("_graft_pd_f",
              substring_index(col("_metadata.file_path"), "/", -1))
            .withColumn("_graft_pd_p", col("_metadata.row_index"))
          val vis =
            if (e.pdels.isEmpty) raw0
            else {
              val dels = spark.read.parquet(pdelPaths(rp, e): _*)
              raw0.join(broadcast(dels),
                raw0("_graft_pd_f") === dels("_file") &&
                  raw0("_graft_pd_p") === dels("_pos"), "left_anti")
            }
          val (df, _) = withLogicalAliases(vis, m)
          val name = s"_pdel-${java.util.UUID.randomUUID()}"
          val sidecar = new Path(new Path(rp, e.dir), name)
          // the matched-row count rides the sidecar write itself
          // (observe) — re-reading the sidecar just to count it was
          // one extra Spark job per touched dir
          val obs = org.apache.spark.sql.Observation(
            "graft_pdel_" + java.util.UUID.randomUUID().toString.take(8))
          df.filter(s"($predSql) IS TRUE")
            .select(col("_graft_pd_f").as("_file"),
              col("_graft_pd_p").as("_pos"))
            .observe(obs, count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(sidecar.toString)
          staged = staged :+ s"${e.dir}/$name"
          val n = obs.get("n").asInstanceOf[Long]
          val nAll = e.stats.get(rowsKey).map(_._1).getOrElse {
            // pre-stats dirs: count the rows visible BEFORE this
            // delete (e.pdels holds only the prior sidecars)
            applyPdels(spark, rp, e, readDirFrame(spark, rp, e.dir))
              .count()
          }
          // more matches than the entry's live rows means the entry's
          // `_rows` (or a prior sidecar) is wrong: dropping the dir on
          // `n == nAll` could then lose rows still live in it
          if (n > nAll) {
            staged.foreach(d => fs.delete(new Path(rp, d), true))
            staged = Seq.empty
            throw new IllegalStateException(
              s"txtable: positional delete matched $n rows in ${e.dir}, " +
                s"whose entry records only $nAll live rows - refusing " +
                "to commit over inconsistent dir metadata")
          }
          if (n == 0L) {
            fs.delete(sidecar, true)
            staged = staged.filterNot(_ == s"${e.dir}/$name")
            Some(e.line)                        // no matches: carry over
          } else if (n == nAll) None            // fully deleted
          else Some(e.copy(
            stats = e.stats + (rowsKey -> (nAll - n, nAll - n)),
            pdels = e.pdels + (name -> n)).line)
        }
        else {
          val (df, extras) = withLogicalAliases(
            visibleDirFrame(spark, rp, e), m)
          // one pass decides: total survivors vs dir row count.
          // SQL DELETE removes only rows where the predicate is TRUE —
          // NULL-pred rows survive, so the keep filter is IS NOT TRUE
          // (plain NOT would silently delete NULLs), matching
          // updateWhere's when(pred).otherwise(keep) semantics
          val survivors = df.filter(s"($predSql) IS NOT TRUE")
            .drop(extras: _*)
          val nKeep = survivors.count()
          val nAll = e.stats.get(rowsKey).map(_._1)
            .getOrElse(df.count())
          if (nKeep == nAll) Some(e.line)       // no matches: carry over
          else if (nKeep == 0L) None            // fully deleted
          else {
            val dirName = s"data/delete-${java.util.UUID.randomUUID()}"
            // stats ride the rewrite action (observeStats) — the
            // post-write statsEntry rescan was a third pass over the
            // surviving rows
            val (obsDf, mkEntry) = observeStats(survivors,
              (keys.getOrElse(Seq.empty) ++ statsCols).distinct)
            obsDf.write.mode("overwrite")
              .parquet(new Path(rp, dirName).toString)
            staged = staged :+ dirName
            Some(mkEntry(spark, rp, dirName, false).line)
          }
        }
      }
      // a delete-all must leave a READABLE empty table, and an empty
      // snapshot has no schema to reconstruct — keep one zero-row dir
      // (parquet footers carry the schema) instead of zero entries
      val lines =
        if (newLines.nonEmpty) newLines
        else {
          val schemaSrc = spark.read
            .parquet(new Path(rp, entries.head.dir).toString)
          val dirName = s"data/delete-${java.util.UUID.randomUUID()}"
          schemaSrc.filter(lit(false)).write.mode("overwrite")
            .parquet(new Path(rp, dirName).toString)
          staged = staged :+ dirName
          Seq(statsEntry(spark, rp, dirName,
            keys.getOrElse(Seq.empty) ++ statsCols).line)
        }
      ("delete",
        keys.map(ks => s"key:${ks.mkString(",")}").toSeq ++
          (if (statsCols.nonEmpty) Seq(s"statscol:${statsCols.mkString(",")}")
           else Seq.empty) ++ lines)
    }
  }

  /** Oracle-gated end-to-end CDC exercise (q_txtable_mor): derive a
    * deterministic change stream from `orders` (key = custkey, op
    * from orderkey residues, seq = orderkey), commit it as TWO
    * merge-on-read delta batches split on a seq boundary (so commit
    * order agrees with seq order and the resolved table equals one
    * global latest-per-key window), then `read` back through the
    * broadcast-anti-join resolution path. The DuckDB oracle replays
    * the same stream as a plain window — hash equality proves the
    * whole write→commit→resolve pipeline, not just unit behavior. */
  def cdcGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-txgate", dir)
    val changes = graft.Tables.orders(spark, dir).select(
      col("o_custkey").as("k"),
      expr("CASE WHEN o_orderkey % 10 = 0 THEN 'D' " +
        "WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END").as("op"),
      col("o_totalprice").as("v"),
      col("o_orderkey").as("seq"))
    // 1-row readback to pick the batch boundary (metadata-scale);
    // null-safe so an empty orders table yields an empty result, not
    // an NPE mid-gate
    val midRow = changes.agg(max("seq")).collect()(0)
    if (midRow.isNullAt(0))
      return changes.select("k", "v").filter(lit(false))
    val mid = midRow.getLong(0) / 2
    mergeDelta(spark, root, changes.filter(col("seq") <= mid))
    mergeDelta(spark, root, changes.filter(col("seq") > mid))
    read(spark, root)
  }

  /** ORACLE-GATED OPTIMIZE-ZORDER exercise (q_txtable_zopt): load
    * orders as four hash-split appends (a layout that serves neither
    * dimension), OPTIMIZE ZORDER BY (o_custkey, o_orderkey), then
    * read a two-dimensional box back through colRanges dir pruning.
    * The DuckDB oracle is the plain filter over orders — hash
    * equality proves the clustered rewrite preserved content AND the
    * stats-pruned read returns exactly the box (pruning may skip
    * dirs, never rows). */
  /** Per-input scratch table root on the cluster's scratch FileSystem
    * (graft.Scratch — `spark.graft.scratchDir` or the default-FS
    * `/tmp/graft-scratch-<user>`), recreated per invocation: repeated
    * gate and bench runs reuse (not accumulate) scratch space, and a
    * best-effort exit hook removes the last instance. Shared by every
    * gate query that materializes a table; on a real cluster these
    * tables land on HDFS/S3A like any dataset, never on driver-local
    * disk. */
  private[sources] def scratchRoot(prefix: String, dir: String): String =
    graft.Scratch.freshRoot(SparkSession.active, prefix, dir)

  /** Partition-clustered append: hive-style `partitionBy` layout
    * lifted into the snapshot — ONE commit entry per partition
    * directory, each with exact single-value stats on the partition
    * column (plus any extra `statsCols` computed per dir). This is
    * the layout that makes the DML triage maximal: a partition-
    * bounded `deleteWhere(rangesExact = true)` drops whole partitions
    * as pure metadata, and partition-bounded reads prune to exactly
    * the matching dirs — the classic date-partitioned warehouse
    * table. The partition column must be integral (stats are integer
    * ranges); values are read back from the directory names Spark
    * writes, so the entry stats can never disagree with the data. */
  def appendPartitioned(df: DataFrame, root: String, partCol: String,
    statsCols: Seq[String] = Seq.empty): Int =
    appendPartitionedBy(df, root, Seq(partCol), statsCols)

  /** [[appendPartitioned]] on a COMPOSITE partition key: one leaf dir
    * per distinct (c1, ..., cn) tuple, each single-valued and
    * null-free on every key column — the layout the multi-key
    * storage-partitioned join face proves its co-clustering from
    * (ref analog: CompositeInputFormat co-partitions its merge join
    * on arbitrary composite tuples, src/mapred/org/apache/hadoop/
    * mapred/join/CompositeInputFormat.java:1). Still ONE pass over
    * the data: hive-style dynamic partitionBy on duplicated helper
    * columns, stats read back per leaf in one grouped aggregate, then
    * pure metadata renames. */
  def appendPartitionedBy(df: DataFrame, root: String,
    partCols: Seq[String], statsCols: Seq[String] = Seq.empty): Int =
    appendPartitionedTagged(df, root, partCols, statsCols, None, _ => false)

  /** Append `df` HASH-BUCKET-clustered on `bucketCol` into
    * `numBuckets` buckets: ONE pass over the data (hive-style
    * dynamic partitionBy on the derived bucket id), one dir per
    * bucket, each dir's entry carrying the reserved `_bucket` stat
    * that proves its id plus per-dir range/null/NDV stats on
    * `statsCols`. The commit declares `bucketby:<physCol>,<n>`;
    * later bucketed appends must match it, and every
    * layout-breaking write face refuses loudly instead of silently
    * degrading the clustering. WHY at warehouse scale: identity
    * partitioning cannot co-locate a HIGH-CARDINALITY join key (one
    * dir per distinct value), but two tables bucketed the same way
    * join with ZERO shuffle through the catalog face's
    * `bucket(n, col)` KeyGroupedPartitioning — the DSv2
    * re-expression of the reference warehouse's bucketed
    * same-partitioner joins (ref: src/mapred/org/apache/hadoop/
    * mapred/join/CompositeInputFormat.java:1 — its "same
    * partitioner, same number of partitions" contract). The bucket
    * id is `pmod(hash(col), n)` — Spark's own Murmur3 `hash()` —
    * the SAME computation [[GraftBucketFunction]] binds for the SPJ
    * face, so write routing and read reporting cannot disagree. */
  def appendBucketedBy(df: DataFrame, root: String, bucketCol: String,
    numBuckets: Int, statsCols: Seq[String] = Seq.empty,
    replace: Boolean = false): Int = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val (fs, rp) = fsFor(spark, root)
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"txtable: numBuckets must be in [2, 1048576], got $numBuckets")
    statsCols.foreach(requireStatsGrammarSafe)
    requireStatsGrammarSafe(bucketCol)
    val dtB = df.schema.find(_.name == bucketCol).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"txtable: no bucket column '$bucketCol' in the frame"))
    require(Seq[DataType](LongType, IntegerType, ShortType, DateType,
      StringType).contains(dtB),
      s"txtable: bucket column must be integral, date or string, " +
        s"got $dtB")
    val v0 = latestVersion(spark, root)
    val (guarded, verifyChecks) =
      checkGuard(df, checkConstraints(spark, root, v0))
    val m0 = snapshotColMap(fs, rp, v0)
    // replace-all content is born LOGICAL and resets the column
    // mapping, exactly like [[overwrite]]; appends translate under
    // the snapshot's mapping
    val (physDf0, extMap) =
      if (replace) (guarded, None) else toPhysicalFrame(guarded, m0)
    val effMap = if (replace) None else extMap.orElse(m0)
    val physB = physName(effMap, bucketCol)
    // the layout contract: match the declared spec exactly, or be the
    // table's first content — a bucketed append onto unbucketed live
    // content would leave a mixed layout no proof can serve. A
    // replace REPLACES content, so any prior layout is legitimate.
    def requireCompat(v: Int): Unit =
      if (!replace) bucketSpecAt(fs, rp, v) match {
        case Some((c, n)) => require(c == physB && n == numBuckets,
          s"txtable: $root is bucketed as bucketby:$c,$n - an append " +
            s"bucketed by $physB,$numBuckets does not match")
        case None =>
          val live = v > 0 && snapshotEntries(fs, rp, v)
            .exists(e => e.stats.get(rowsKey).forall(_._1 > 0))
          require(!live,
            s"txtable: $root has unbucketed content; a bucketed " +
              "append would leave a mixed layout - overwrite first, " +
              "then appendBucketedBy")
      }
    requireCompat(v0)
    val helper = "_graft_bkt"
    val baseDir = s"data/append-${java.util.UUID.randomUUID()}"
    val basePath = new Path(rp, baseDir).toString
    try {
      // the repartition clusters each bucket's rows into one task →
      // one file per bucket per append, whatever the task count
      physDf0
        .withColumn(helper,
          pmod(hash(col(physB)), lit(numBuckets)).cast("long"))
        .repartition(col(helper))
        .write.partitionBy(helper).mode("overwrite").parquet(basePath)
      verifyChecks()
    } catch {
      case t: Throwable =>
        fs.delete(new Path(rp, baseDir), true)
        throw t
    }
    // per-bucket stats in ONE aggregate over the written layout; the
    // real columns stayed IN the files (the helper was a copy of the
    // derived id), so later reads serve full rows per dir. A DateType
    // bucket column is excluded from the NDV sketch (sketch input
    // must be int/long/string); statsCols sketches mirror the
    // partitioned write path
    val agg = StatsAgg.of(df.schema, statsCols, physName(effMap, _),
      keys = if (dtB == DateType) Seq.empty else Seq(physB -> col(physB)))
    val statRows = spark.read.parquet(basePath)
      .groupBy(col(helper).cast("long").as(helper))
      .agg(agg.aggs.head, agg.aggs.tail: _*)
      .collect() // bucket-cardinality readback (<= numBuckets rows)
      .map(r => r.getLong(0) -> r).toMap
    if (statRows.isEmpty) {
      fs.delete(new Path(rp, baseDir), true)
      throw new IllegalArgumentException(
        "txtable: bucketed append of empty frame")
    }
    val entries = finishEntries(spark, rp,
      statRows.keys.toSeq.sorted.map { id =>
        val e = agg.decode(s"$baseDir/$helper=$id",
          i => statRows(id).get(1 + i))
        // bucket dirs record no `sx:` exact markers
        e.copy(stats = e.stats + (bucketStatKey -> (id, id)),
          xvals = Map.empty)
      })
    try commitRetry(spark, root) { prevV =>
      requireCompat(prevV)
      val prev0 =
        if (replace) Seq.empty
        else snapshotLines(fs, rp, prevV)
          .filterNot(_.startsWith("bucketby:"))
      val prev =
        if (extMap.isDefined) prev0.filterNot(_.startsWith("colmap:"))
        else prev0
      val mapHdr =
        if (replace) snapshotColMap(fs, rp, prevV)
          .map(_ => "colmap:").toSeq
        else extMap.map(colMapLine).toSeq
      val physStats = agg.integral ++ agg.strings
      val statsHdr =
        if (prev.exists(_.startsWith("statscol:")) || physStats.isEmpty)
          None
        else Some(s"statscol:${physStats.mkString(",")}")
      (if (replace) "overwrite" else "append",
        Seq(s"bucketby:$physB,$numBuckets") ++
          statsHdr.toSeq ++ mapHdr ++
          prev ++ entries.map(_.line))
    } catch {
      case t: Throwable =>
        fs.delete(new Path(rp, baseDir), true)
        throw t
    }
  }

  /** [[appendPartitionedBy]] with streaming replay protection: the
    * commit carries `batchTag` and `skipIf` recognizes an epoch another
    * writer already folded (the appendBatch contract, partitioned). */
  private def appendPartitionedTagged(df: DataFrame, root: String,
    partCols: Seq[String], statsCols: Seq[String],
    batchTag: Option[String], skipIf: Int => Boolean,
    preCommit: Int => Unit = _ => ()): Int = {
    val spark = df.sparkSession
    val (fs, rp) = fsFor(spark, root)
    require(partCols.nonEmpty, "txtable: no partition columns")
    // this path builds Entry lines directly (per-leaf stats read back
    // from the written layout), bypassing statsEntry — so it must
    // enforce the same stats-grammar guard: a partition/stats column
    // named `_rows`, `str:x` or `n,x` would FORGE reserved segments
    // and the metadata-only paths would then serve the forged numbers
    // as exact (wrong results, not an error)
    (partCols ++ statsCols).foreach(requireStatsGrammarSafe)
    // integral and DATE keys record exact `lo == hi` range stats
    // (dates as their days-since-epoch encoding — exactly the value
    // DateType holds internally, so stats and data cannot drift);
    // STRING keys record the `sx:` exact-value marker — all prove the
    // clustering the SPJ / metadata-GROUP-BY faces demand. Anything
    // else (float, decimal, timestamp) has no exact stats encoding:
    // refuse loudly.
    val partKind: Seq[Char] = partCols.map { partCol =>
      val dt = df.schema.find(_.name == partCol).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"txtable: no partition column '$partCol' in the frame"))
      dt match {
        case org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType => 'i'
        case org.apache.spark.sql.types.DateType => 'd'
        case org.apache.spark.sql.types.StringType => 's'
        case other => throw new IllegalArgumentException(
          s"txtable: partition column '$partCol' must be integral, " +
            s"date or string, got $other")
      }
    }
    val partIsStr: Seq[Boolean] = partKind.map(_ == 's')
    // logical→physical translation under a column mapping, exactly
    // like plain append (widening extends the map); the CHECK guard
    // wraps the LOGICAL frame (constraints speak logical names) and
    // its counts ride the same single pass as the partitioned write
    val v0 = latestVersion(spark, root)
    // value-partitioned appends break a hash-bucketed layout exactly
    // like plain appends do — refuse loudly
    bucketSpecAt(fs, rp, v0).foreach { case (c, n) =>
      throw new IllegalStateException(
        s"txtable: $root is bucket-clustered (bucketby:$c,$n); a " +
          "value-partitioned append would break the layout - " +
          "appendBucketedBy maintains it, overwrite replaces it")
    }
    val (guarded, verifyChecks) =
      checkGuard(df, checkConstraints(spark, root, v0))
    val m0 = snapshotColMap(fs, rp, v0)
    val (physDf0, extMap) = toPhysicalFrame(guarded, m0)
    val effMap = extMap.orElse(m0)
    val physParts = partCols.map(physName(effMap, _))
    val helpers = partCols.indices.map(i => s"_graft_part$i")
    val baseDir = s"data/append-${java.util.UUID.randomUUID()}"
    val basePath = new Path(rp, baseDir).toString
    // ONE pass over the data whatever the partition count (a daily-
    // partitioned year must not become 365 serial jobs): hive-style
    // dynamic `partitionBy` on DUPLICATED helper columns, so the real
    // partition columns stay IN the files (plain partitionBy strips
    // them into the path, which would vanish under the snapshot
    // reader's per-dir scans). The pre-shuffle on the helpers clusters
    // each tuple's rows into the task that writes its dir — one file
    // per partition instead of tasks × dirs fragments.
    // Integral helpers are the value itself; STRING helpers are the
    // 'x'-prefixed lowercase hex of the UTF-8 bytes — hex keeps every
    // dir name path-safe and escape-free whatever the value holds,
    // and the 'x' prefix keeps an empty string out of hive's default
    // partition and all-digit hex out of partition-type inference.
    // string partition VALUES cap at strStatMaxBytes: past that the
    // exact-value stat that proves the clustering cannot be recorded
    // (and the hex dir name would blow filesystem name limits) —
    // checked IN the write expression so the one pass over the data
    // also polices the cap, with no extra validation job
    val capMsg = s"txtable: partition value exceeds $strStatMaxBytes " +
      "UTF-8 bytes - the exact-value stat that proves the clustering " +
      "caps there; hash or bucket long keys instead"
    def helperExpr(p: String, kind: Char) = kind match {
      case 's' => concat(lit("x"), lower(hex(
        when(octet_length(col(p)) > lit(strStatMaxBytes),
          raise_error(lit(capMsg))).otherwise(col(p)))))
      // DateType → its own internal days-since-epoch integer
      case 'd' => datediff(col(p), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast("long")
      case _ => col(p).cast("long")
    }
    try {
      physParts.zip(helpers).zip(partKind)
        .foldLeft(physDf0) { case (d, ((p, h), kind)) =>
          d.withColumn(h, helperExpr(p, kind))
        }.repartition(helpers.map(col): _*)
        .write.partitionBy(helpers: _*).mode("overwrite").parquet(basePath)
      verifyChecks()
    } catch {
      case t: Throwable =>
        fs.delete(new Path(rp, baseDir), true)
        val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .take(16).toSeq
        if (chain.exists(e => e.getMessage != null &&
          e.getMessage.contains(capMsg)))
          throw new IllegalArgumentException(capMsg)
        throw t
    }
    // NULLs can't address a `$partCol=v` dir (they land in the hive
    // default-partition dir) — partitioned appends need a total
    // partition assignment; fail loudly rather than lose rows. Leaf
    // tuples stay in the RAW dir-name token space ("5" / "x6162")
    // until entry building decodes them per column type.
    def leafTuples(p: Path, depth: Int): Seq[Seq[String]] =
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
        .filter(_.startsWith(s"${helpers(depth)}=")).flatMap { n =>
          val v = n.stripPrefix(s"${helpers(depth)}=")
          if (v == "__HIVE_DEFAULT_PARTITION__") {
            fs.delete(new Path(rp, baseDir), true)
            throw new IllegalArgumentException(
              s"txtable: partition column '${partCols(depth)}' contains " +
                "NULLs — partitioned appends need a total partition " +
                "assignment; coalesce NULLs to a sentinel value first")
          }
          if (partIsStr(depth) &&
            (v.length - 1) / 2 > strStatMaxBytes) {
            // unreachable when the write-side raise_error policed the
            // cap; kept as the loud backstop for exotic filesystems
            fs.delete(new Path(rp, baseDir), true)
            throw new IllegalArgumentException(capMsg)
          }
          if (depth == helpers.length - 1) Seq(Seq(v))
          else leafTuples(new Path(p, n), depth + 1).map(v +: _)
        }
    val tuples = leafTuples(new Path(rp, baseDir), 0)
      .sortBy(_.mkString(","))
    if (tuples.isEmpty) {
      fs.delete(new Path(rp, baseDir), true)
      throw new IllegalArgumentException(
        "txtable: partitioned append of empty frame")
    }
    // per-dir exact stats in ONE aggregate over the written layout
    // (the hive partition columns group rows by leaf dir), read back
    // before the rename so the helper names can't collide with data
    // columns. The read-back scans the PHYSICAL files, and read-side
    // prune lookups key entry stats by physical names — so the
    // aggregate and the stats map must both speak physical, not the
    // caller's logical. Partition columns carry per-dir NDV sketches
    // too (the real columns are still data columns here — helpers are
    // the copies), so a partitioned table's merged NDV covers its keys
    // as well; DATE keys sketch their days-since-epoch encoding (the
    // sketch input type must be int/long/string — and distinct days
    // ARE distinct dates, so the estimate is the right one)
    val agg = StatsAgg.of(df.schema, statsCols, physName(effMap, _),
      keys = physParts.zip(partKind).map { case (p, kind) =>
        p -> (if (kind == 'd') helperExpr(p, kind) else col(p))
      })
    def dirNameOf(vs: Seq[String]): String = baseDir + physParts.zip(vs)
      .map { case (p, v) => s"/$p=$v" }.mkString
    val g = helpers.length
    val statRows = spark.read.parquet(basePath)
      // pin helper types: partition-value inference may type small
      // integral tokens INT; 'x'-prefixed hex tokens always infer
      // string and group back verbatim
      .groupBy(helpers.zip(partIsStr).map { case (h, isStr) =>
        (if (isStr) col(h).cast("string") else col(h).cast("long")).as(h)
      }: _*)
      .agg(agg.aggs.head, agg.aggs.tail: _*)
      .collect() // partition-cardinality readback (dates/buckets)
      .map { r =>
        val vs: Seq[String] = partIsStr.zipWithIndex.map { case (isStr, i) =>
          if (isStr) r.getString(i) else r.getLong(i).toString
        }
        vs -> agg.decode(dirNameOf(vs), i => r.get(g + i))
      }.toMap
    // helper dirs → `$physPart=v` entry dirs: one metadata rename per
    // path level per distinct prefix, leaves become the entry dirs
    def renameLevel(p: Path, depth: Int): Unit = {
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
        .filter(_.getName.startsWith(s"${helpers(depth)}="))
        .foreach { d =>
          val v = d.getName.stripPrefix(s"${helpers(depth)}=")
          val dst = new Path(p, s"${physParts(depth)}=$v")
          fs.rename(d, dst)
          if (depth < helpers.length - 1) renameLevel(dst, depth + 1)
        }
    }
    renameLevel(new Path(rp, baseDir), 0)
    val entries = finishEntries(spark, rp, tuples.map { vs =>
      val e = statRows(vs)
      // the NULL-rejection above proved the partition columns null-
      // free — record that as their `n,<col>` stats so metadata-only
      // GROUP BY on a partition column can trust the per-dir counts.
      // Integral keys get exact `lo == hi` range stats; string keys
      // get the truncation-free bounds PLUS the `sx:` exact marker
      // (the token is the value's own hex, so stats and data cannot
      // disagree — both derive from the dir Spark actually wrote).
      val intParts = physParts.zip(partIsStr).zip(vs).collect {
        case ((p, false), v) => p -> (v.toLong, v.toLong)
      }
      val strHex = physParts.zip(partIsStr).zip(vs).collect {
        case ((p, true), v) => p -> v.drop(1) // strip the 'x' prefix
      }
      e.copy(
        stats = e.stats ++ intParts ++
          physParts.map(p => s"$nullsPrefix$p" -> (0L, 0L)),
        sstats = e.sstats ++ strHex.map { case (p, h) => p -> (h, h) },
        xvals = e.xvals ++ strHex)
    })
    commitRetry(spark, root) { prevV =>
      if (skipIf(prevV)) {
        fs.delete(new Path(rp, baseDir), true)
        return prevV
      }
      preCommit(prevV)
      val prev0 = snapshotLines(fs, rp, prevV)
      if (prev0.exists(_.startsWith("bucketby:"))) {
        fs.delete(new Path(rp, baseDir), true)
        throw new IllegalStateException(
          s"txtable: $root became bucket-clustered concurrently; " +
            "value-partitioned appends would break the layout")
      }
      val prev =
        if (extMap.isDefined) prev0.filterNot(_.startsWith("colmap:"))
        else prev0
      val statsHdr =
        if (prev.exists(_.startsWith("statscol:"))) None
        else Some(s"statscol:${
          (physParts ++ statsCols.map(physName(effMap, _))).mkString(",")}")
      ("append", batchTag.map(t => s"batch:$t").toSeq ++
        statsHdr.toSeq ++ extMap.map(colMapLine).toSeq ++
        prev ++ entries.map(_.line))
    }
  }

  /** Footer-derived facts of one staged parquet file: row count, byte
    * length, and per-column integral (min, max) / null counts folded
    * across row groups. A column appears in `stats` only when every
    * row group reports trustworthy values (all-NULL groups contribute
    * nulls but no bounds, like the write-side aggregates); in `nulls`
    * only when every group records a null count. */
  private case class StagedFacts(rows: Long, bytes: Long,
    stats: Map[String, (Long, Long)], nulls: Map[String, Long])

  private def stagedFacts(conf: org.apache.hadoop.conf.Configuration,
    f: Path, cols: Seq[String]): StagedFacts = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics, Statistics => PqStats}
    val fs = f.getFileSystem(conf)
    val bytes = fs.getFileStatus(f).getLen
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      def boundOf(s: PqStats[_], hi: Boolean): Option[Long] = s match {
        case l: LongStatistics => Some(if (hi) l.getMax else l.getMin)
        case i: IntStatistics =>
          Some((if (hi) i.getMax else i.getMin).toLong)
        case _ => None
      }
      var stats = Map.empty[String, (Long, Long)]
      var nulls = Map.empty[String, Long]
      cols.distinct.foreach { c =>
        val chunks = blocks.map(_.getColumns.asScala.find(
          _.getPath.toDotString == c))
        if (!chunks.exists(_.isEmpty)) {
          val cs = chunks.flatten
          val sts = cs.map(_.getStatistics)
          if (!sts.exists(s => s == null || !s.isNumNullsSet)) {
            nulls += c -> sts.map(_.getNumNulls).sum
            // a group without recorded values is trustworthy only if
            // it is PROVABLY all-NULL; otherwise the stat was dropped
            // and the file's bounds are unknowable
            val sound = sts.zip(cs).forall { case (s, ch) =>
              s.hasNonNullValue || s.getNumNulls == ch.getValueCount }
            val valued = sts.filter(_.hasNonNullValue)
            val bounds = valued.flatMap(s =>
              boundOf(s, hi = false).zip(boundOf(s, hi = true)))
            if (sound && bounds.nonEmpty && bounds.size == valued.size)
              stats += c -> (bounds.map(_._1).min, bounds.map(_._2).max)
          }
        }
      }
      StagedFacts(rows, bytes, stats, nulls)
    } finally r.close()
  }

  /** Promote STAGED parquet files — one partition value per file, the
    * layout the partitioned streaming sink's clustered, sorted writers
    * produce — into a partitioned snapshot by RENAME: the single-write
    * ingest path. The stream's own writers are the only pass over the
    * data; per-dir stats come from the parquet FOOTERS (driver-side,
    * 16-way pooled metadata reads), so promotion runs ZERO Spark jobs
    * and moves zero bytes — against the rewrite path's second full
    * write per epoch, this halves the write amplification of a 100 TB
    * ingest pipeline. The layout is TRUSTED ONLY WHEN PROVEN from the
    * footers (every file single-valued and null-free on every
    * partition column — the same proof partitionFileSlices demands);
    * anything unprovable — a file spanning two values (Spark declined
    * the requested clustering), NULL partition values, dropped footer
    * stats, a non-identity column mapping — falls back to the one-pass
    * partitioned rewrite, which re-shuffles but never wrong-answers.
    * STRING partition keys prove through `providedParts` instead: the
    * sink's writer OBSERVED every row it staged, so its per-file key
    * tuple is authoritative — parquet binary footer bounds (which may
    * be truncated) are NEVER consulted for strings, and string stats
    * columns still ride only the rewrite path (truncation-widened
    * bounds are a read-side contract this path must not weaken
    * silently). Exactly-once via the appendBatch batch-tag replay
    * protection. Reference analog: promoting task outputs into the
    * destination by rename is the committer move of
    * src/mapred/org/apache/hadoop/mapred/FileOutputCommitter.java:1 —
    * here the committed artifact also carries its stats. */
  private[graft] def appendPartitionedStaged(spark: SparkSession,
    root: String, stagedFiles: Seq[String], partCols: Seq[String],
    batchId: Long, statsCols: Seq[String] = Seq.empty,
    streamId: String = "default",
    preCommit: Int => Unit = _ => (),
    providedParts: Map[String, Seq[Any]] = Map.empty): Int = {
    val (fs, rp) = fsFor(spark, root)
    // like appendPartitionedTagged, this path mints Entry lines
    // directly — same stats-grammar forgery guard
    (partCols ++ statsCols).foreach(requireStatsGrammarSafe)
    val sid = sanitizeStreamId(streamId)
    val tag = s"$sid:$batchId"
    def alreadyApplied(v: Int): Boolean =
      appliedBatchId(fs, rp, v, sid).exists(_ >= batchId)
    if (alreadyApplied(latestVersion(spark, root))) {
      stagedFiles.foreach(f => fs.delete(new Path(f), false))
      return latestVersion(spark, root)
    }
    // an empty epoch still commits its tag (replay-protection cursor)
    if (stagedFiles.isEmpty)
      return commitRetry(spark, root) { prevV =>
        if (alreadyApplied(prevV)) return prevV
        preCommit(prevV)
        ("append", s"batch:$tag" +: snapshotLines(fs, rp, prevV))
      }
    val conf = spark.sessionState.newHadoopConf()
    def rewriteFallback(): Int = appendPartitionedTagged(
      spark.read.parquet(stagedFiles: _*), root, partCols, statsCols,
      Some(tag), alreadyApplied, preCommit)
    // fast path needs file column names == snapshot physical names
    val m = snapshotColMap(fs, rp, latestVersion(spark, root))
    if (m.exists(_.exists { case (l, p) => l != p })) return rewriteFallback()
    // footer facts for every staged file, overlapped like dirSchemas
    val wanted = partCols ++ statsCols
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, stagedFiles.size))
    val facts: Seq[(String, StagedFacts)] =
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[(String, StagedFacts)]] =
          stagedFiles.map(f =>
            () => f -> stagedFacts(conf, new Path(f), wanted))
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    // each file proves its key tuple ONE of two ways: the writer's
    // own observation (providedParts — any key type, including
    // strings), or the integral footer stats (`lo == hi`, zero
    // nulls). One unprovable file sends the whole epoch down the
    // rewrite path — per-file mixing of proof sources is fine, mixing
    // of OUTCOMES is not (a half-promoted epoch isn't atomic).
    def tupleOf(f: String, sf: StagedFacts): Option[Seq[Any]] =
      providedParts.get(f).orElse {
        val vs = partCols.map { pc =>
          if (sf.nulls.get(pc).contains(0L))
            sf.stats.get(pc).collect { case (lo, hi) if lo == hi => lo: Any }
          else None
        }
        if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
      }
    val keyed = facts.map { case (f, sf) => (f, sf, tupleOf(f, sf)) }
    val proven = keyed.forall(_._3.isDefined) &&
      // string keys must fit the exact-value stat cap — longer values
      // fall to the rewrite, whose loud error names the contract
      keyed.forall(_._3.get.forall {
        case s: String => s.getBytes("UTF-8").length <= strStatMaxBytes
        case _ => true
      })
    if (!proven) return rewriteFallback()
    // CHECK constraints gate the streaming promote path too: a
    // column-pruned read-back of the epoch's staged files (the data
    // is already parquet on disk — the minimal possible validation;
    // the rewrite fallback above inherits the in-write guard). The
    // fast path requires an identity colmap, so the files' names ARE
    // the logical names the predicates speak.
    val epochChecks = checkConstraints(spark, root)
    if (epochChecks.nonEmpty)
      enforceChecksNow(spark.read.parquet(stagedFiles: _*), epochChecks)
    val baseDir = s"data/append-${java.util.UUID.randomUUID()}"
    val entries = promotePartEntries(fs, rp, baseDir, partCols, statsCols,
      keyed.map { case (f, sf, t) => (f, sf, t.get) })
    commitRetry(spark, root) { prevV =>
      if (alreadyApplied(prevV)) {
        fs.delete(new Path(rp, baseDir), true)
        return prevV
      }
      preCommit(prevV)
      val prev = snapshotLines(fs, rp, prevV)
      if (prev.exists(_.startsWith("bucketby:"))) {
        fs.delete(new Path(rp, baseDir), true)
        throw new IllegalStateException(
          s"txtable: $root is bucket-clustered; a partitioned " +
            "streaming append would break the layout")
      }
      val statsHdr =
        if (prev.exists(_.startsWith("statscol:"))) None
        else Some(s"statscol:${(partCols ++ statsCols).mkString(",")}")
      ("append", Seq(s"batch:$tag") ++ statsHdr.toSeq ++
        prev ++ entries.map(_.line))
    }
  }

  /** Promote proven-single-tuple staged files into `$p=v` entry dirs
    * under `baseDir` — the shared layout/stat-minting step of the
    * partitioned promote paths (streaming epoch commits and the SQL
    * write face). One metadata rename per file; per-dir stats folded
    * from the footer facts; integral keys get exact `lo == hi` range
    * stats, string keys the `sx:` exact-value marker — the same
    * clustering proof appendPartitionedBy records. */
  private def promotePartEntries(fs: FileSystem, rp: Path, baseDir: String,
    partCols: Seq[String], statsCols: Seq[String],
    keyed: Seq[(String, StagedFacts, Seq[Any])]): Seq[Entry] = {
    val byTuple = keyed.groupBy(_._3)
    byTuple.toSeq.sortBy(t => tupleSortKey(t._1)).map {
      case (vs, fl) =>
        val dirName = baseDir + partCols.zip(vs).map {
          case (p, v: Long) => s"/$p=$v"
          case (p, v) => s"/$p=x${hexOf(v.toString)}"
        }.mkString
        fs.mkdirs(new Path(rp, dirName))
        fl.foreach { case (f, _, _) =>
          val src = new Path(f)
          require(fs.rename(src,
            new Path(new Path(rp, dirName), src.getName)),
            s"txtable: failed to promote staged file $f")
        }
        val rows = fl.map(_._2.rows).sum
        val bytes = fl.map(_._2.bytes).sum
        val extra = statsCols.distinct.flatMap { c =>
          val ss = fl.map(_._2.stats.get(c))
          val ns = fl.map(_._2.nulls.get(c))
          // bounds: every file must report (all-NULL files excepted —
          // those carry nulls and no bounds, so require nulls known)
          val bound =
            if (ns.exists(_.isEmpty) ||
              fl.zip(ss).exists { case ((_, sf, _), s) =>
                s.isEmpty && !sf.nulls.get(c).contains(sf.rows) }) None
            else ss.flatten match {
              case Seq() => None
              case bs => Some(c -> (bs.map(_._1).min, bs.map(_._2).max))
            }
          val nc =
            if (ns.exists(_.isEmpty)) None
            else Some(s"$nullsPrefix$c" ->
              { val n = ns.flatten.sum; (n, n) })
          bound.toSeq ++ nc.toSeq
        }
        val intParts = partCols.zip(vs).collect {
          case (p, v: Long) => p -> (v, v)
        }
        val strHex = partCols.zip(vs).collect {
          case (p, v: String) => p -> hexOf(v)
        }
        Entry(isDelta = false, dirName,
          Map(rowsKey -> (rows, rows), bytesKey -> (bytes, bytes)) ++
            intParts ++
            partCols.map(p => s"$nullsPrefix$p" -> (0L, 0L)) ++ extra,
          strHex.map { case (p, h) => p -> (h, h) }.toMap,
          strHex.toMap)
    }
  }

  /** The partition tuple a committed dir PROVES through its own name:
    * `data/<op>-<uuid>/p0=v0/p1=v1` segments, matched against the
    * expected physical partition columns in order. Bare-digit tokens
    * decode as the integral/date encoding, `x<hex>` tokens as string
    * values — the exact grammar both partitioned write paths mint.
    * None when the dir doesn't prove the layout (an unpartitioned
    * append, a different key set, a corrupt token): partition-scoped
    * commits treat None as UNPROVABLE and refuse loudly rather than
    * guess. */
  private def dirTupleOf(dir: String,
    physParts: Seq[String]): Option[Seq[Any]] = {
    val segs = dir.split('/').drop(2).toSeq
    if (segs.length != physParts.length) return None
    val vals = segs.zip(physParts).map { case (s, p) =>
      val i = s.indexOf('=')
      if (i < 0 || s.substring(0, i) != p) None
      else {
        val v = s.substring(i + 1)
        if (v.startsWith("x")) hexDec(v.drop(1)).map(x => x: Any)
        else scala.util.Try(v.toLong).toOption.map(x => x: Any)
      }
    }
    if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
  }

  /** The LOGICAL partition columns the table's committed layout
    * proves: when EVERY current data dir carries the same ordered
    * `$p=v` segment structure (the appendPartitionedBy / partitioned-
    * sink / SQL-partitioned-write layout), those columns ARE the
    * table's partitioning — used by the catalog face to expose
    * `partitioning()` (and route INSERT INTO through the clustered
    * write) for tables built by the API before being declared in SQL.
    * Empty for unpartitioned, mixed-layout, keyed or MoR snapshots.
    * Metadata-only: commit lines, no file I/O. */
  private[graft] def layoutPartCols(spark: SparkSession,
    root: String, version: Int = -1): Seq[String] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(fs, rp)
    if (v == 0) return Seq.empty
    if (snapshotKeys(fs, rp, v).isDefined) return Seq.empty
    // a hash-bucketed layout's `_graft_bkt=<id>` dirs are NOT value
    // partitions — the bucket face reports them, not this one
    if (bucketSpecAt(fs, rp, v).isDefined) return Seq.empty
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return Seq.empty
    val segNames: Seq[Option[Seq[String]]] = entries.map { e =>
      val segs = e.dir.split('/').drop(2).toSeq
      if (segs.isEmpty || segs.exists(!_.contains('='))) None
      else Some(segs.map(_.takeWhile(_ != '=')))
    }
    if (segNames.exists(_.isEmpty)) return Seq.empty
    val distinctShapes = segNames.flatten.distinct
    if (distinctShapes.size != 1) return Seq.empty
    val m = snapshotColMap(fs, rp, v)
    // physical → logical; a physical with no live binding (dropped
    // partition column) disproves the layout for the SQL face
    val phys = distinctShapes.head
    val logical = phys.map { p =>
      m match {
        case None => Some(p)
        case Some(pairs) => liveMap(pairs).find(_._2 == p).map(_._1)
      }
    }
    if (logical.exists(_.isEmpty)) Seq.empty else logical.map(_.get)
  }

  /** Which of `tuples` satisfy `predSql` — evaluated by Spark itself
    * over a LOCAL one-row-per-tuple frame in the table's own logical
    * partition schema (so the predicate semantics are exactly the
    * query's; dates decode from their stored day counts). Driver-side
    * metadata scale: one local relation of |distinct tuples| rows. */
  private def evalPartFilter(spark: SparkSession, predSql: String,
    partSchema: org.apache.spark.sql.types.StructType,
    tuples: Seq[Seq[Any]]): Set[Seq[Any]] = {
    if (tuples.isEmpty) return Set.empty
    import org.apache.spark.sql.types._
    val distinctT = tuples.distinct
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList[org.apache.spark.sql.Row]()
    distinctT.zipWithIndex.foreach { case (t, i) =>
      val vs = t.zip(partSchema.fields).map {
        case (v: Long, f) => f.dataType match {
          case LongType => v
          case IntegerType => v.toInt
          case ShortType => v.toShort
          case DateType => java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(v))
          case other => throw new IllegalArgumentException(
            s"txtable: partition column '${f.name}' of type $other " +
              "cannot decode an integral partition token")
        }
        case (v: String, f) =>
          require(f.dataType == StringType,
            s"txtable: partition column '${f.name}' of type " +
              s"${f.dataType} cannot decode a string partition token")
          v
        case (v, f) => throw new IllegalStateException(
          s"txtable: unexpected partition value $v for '${f.name}'")
      }
      rows.add(org.apache.spark.sql.Row.fromSeq(vs :+ i.toLong))
    }
    val schema = StructType(partSchema.fields.toSeq :+
      StructField("__graft_tuple_idx", LongType, nullable = false))
    val hit = spark.createDataFrame(rows, schema).filter(predSql)
      .select("__graft_tuple_idx").collect().map(_.getLong(0)).toSet
    distinctT.zipWithIndex.collect {
      case (t, i) if hit(i.toLong) => t
    }.toSet
  }

  /** SQL-face partitioned commit — `INSERT INTO` / `INSERT OVERWRITE
    * [PARTITION (...)]` / `df.writeTo(t).overwritePartitions()` on a
    * partition-declared catalog table. Executor-staged, writer-
    * clustered parquet files (one partition tuple per file, physical
    * column names, tuples writer-observed) promote by RENAME into
    * `$p=v` entry dirs with footer-derived stats, and land in ONE OCC
    * commit that — per `mode` — also drops exactly the replaced
    * partitions' entries:
    *
    *  - `"append"`    keeps every prior entry (INSERT INTO);
    *  - `"dynamic"`   drops entries whose tuple appears in the staged
    *                  data (dynamic partition overwrite — the daily-
    *                  reload idiom: untouched partitions' files are
    *                  never opened, moved or rewritten);
    *  - `"filter"`    drops entries matching `filterSql` over the
    *                  partition columns (static `INSERT OVERWRITE t
    *                  PARTITION (day=...)`) — staged tuples must all
    *                  satisfy the filter (loud error otherwise, the
    *                  Delta replaceWhere contract);
    *  - `"replace"`   drops everything (INSERT OVERWRITE of the whole
    *                  table) but keeps the clustered layout.
    *
    * Prior entries must PROVE their tuples through their dir names
    * (zero-row entries excepted — they can't violate partition
    * semantics); an unprovable non-empty dir refuses loudly rather
    * than silently keeping replaced rows. Keyed/MoR snapshots refuse —
    * partition-overwrite semantics over keyed resolution would be
    * ambiguous. Reference analog: the warehouse's atomic partition-
    * rename loads (src/mapred/org/apache/hadoop/mapred/
    * FileOutputCommitter.java:1) — here the swap is one commit-log
    * claim, and old versions stay time-travelable until vacuum. */
  private[sources] def commitPartitionedSql(spark: SparkSession,
    root: String, staged: Seq[(String, Seq[Any])],
    logicalParts: Seq[String], mode: String, filterSql: Option[String],
    partSchema: org.apache.spark.sql.types.StructType,
    fileSchema: org.apache.spark.sql.types.StructType,
    bootstrapStatsCols: Seq[String] = Seq.empty): Int = {
    require(Seq("append", "dynamic", "filter", "replace").contains(mode),
      s"txtable: unknown partitioned-commit mode '$mode'")
    val (fs, rp) = fsFor(spark, root)
    if (staged.isEmpty && mode == "append") return latestVersion(spark, root)
    val v0 = latestVersion(spark, root)
    val m = snapshotColMap(fs, rp, v0)
    val physParts = logicalParts.map(physName(m, _))
    physParts.foreach(requireStatsGrammarSafe)
    staged.foreach { case (_, t) =>
      t.foreach {
        case s: String => require(s.getBytes("UTF-8").length <= strStatMaxBytes,
          s"txtable: partition value exceeds $strStatMaxBytes UTF-8 " +
            "bytes - the exact-value stat that proves the clustering " +
            "caps there; hash or bucket long keys instead")
        case _ => ()
      }
    }
    // footer facts for the snapshot's stats columns (physical names;
    // partition columns are writer-proven, not footer-proven); the
    // BOOTSTRAP load declares its own (integral bounds only — that's
    // what footers prove; see stagedFacts)
    val statsCols =
      (if (v0 == 0) bootstrapStatsCols
       else snapshotStatsCols(fs, rp, v0))
        .filterNot(physParts.contains).distinct
    val conf = spark.sessionState.newHadoopConf()
    val facts: Map[String, StagedFacts] =
      if (staged.isEmpty) Map.empty
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, staged.size))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: Seq[java.util.concurrent.Callable[
            (String, StagedFacts)]] = staged.map { case (f, _) =>
            () => f -> stagedFacts(conf, new Path(f), statsCols)
          }
          pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      }
    val opName = if (mode == "append") "append" else "overwrite"
    val baseDir = s"data/$opName-${java.util.UUID.randomUUID()}"
    val newEntries = promotePartEntries(fs, rp, baseDir, physParts,
      statsCols, staged.map { case (f, t) => (f, facts(f), t) })
    val stagedTuples = staged.map(_._2).toSet
    // the staged-⊆-filter contract, checked ONCE outside the retry
    if (mode == "filter" && stagedTuples.nonEmpty) {
      val ok = evalPartFilter(spark, filterSql.get, partSchema,
        stagedTuples.toSeq)
      val bad = stagedTuples -- ok
      if (bad.nonEmpty) {
        fs.delete(new Path(rp, baseDir), true)
        throw new IllegalArgumentException(
          "txtable: INSERT OVERWRITE by filter received rows outside " +
            s"the overwritten partitions (e.g. tuple ${bad.head
              .mkString("(", ",", ")")} fails [${filterSql.get}]) — " +
            "widen the filter or fix the inserted data")
      }
    }
    var emptyDir: Option[String] = None
    try commitRetry(spark, root) { prevV =>
      val entries0 = snapshotEntries(fs, rp, prevV)
      require(!entries0.exists(_.isDelta),
        s"txtable: partitioned SQL writes need a delta-free snapshot " +
          s"of $root — run compactSnapshot first")
      require(snapshotKeys(fs, rp, prevV).isEmpty,
        s"txtable: partitioned SQL writes refuse keyed tables " +
          s"($root declares key columns)")
      def tupleOrRefuse(e: Entry): Option[Seq[Any]] =
        dirTupleOf(e.dir, physParts).orElse {
          // a zero-row entry (the empty-overwrite schema dir) can't
          // violate partition semantics — keep it, never refuse on it
          if (e.stats.get(rowsKey).exists(_._1 == 0L)) None
          else throw new IllegalArgumentException(
            s"txtable: partition-scoped write against $root found dir " +
              s"'${e.dir}' whose layout does not prove partition " +
              s"columns (${physParts.mkString(", ")}) — the table " +
              "mixes unpartitioned data; rewrite it partitioned first")
        }
      val kept: Seq[Entry] = mode match {
        case "append" => entries0
        case "replace" => Seq.empty
        case "dynamic" =>
          entries0.filter(e => !tupleOrRefuse(e).exists(stagedTuples))
        case "filter" =>
          val prevTuples = entries0.flatMap(tupleOrRefuse)
          val matching =
            evalPartFilter(spark, filterSql.get, partSchema, prevTuples)
          entries0.filter(e => !tupleOrRefuse(e).exists(matching))
      }
      // a zero-entry snapshot is unreadable: an overwrite that empties
      // the table keeps a readable zero-row dir carrying the schema
      val lines0 = kept.map(_.line) ++ newEntries.map(_.line)
      val lines =
        if (lines0.nonEmpty) lines0
        else {
          val dirName = emptyDir.getOrElse {
            val d = s"data/$opName-${java.util.UUID.randomUUID()}"
            TxParquetIO.writer(new Path(new Path(rp, d),
              "part-empty.parquet"), fileSchema, conf).close()
            emptyDir = Some(d)
            d
          }
          Seq(statsEntry(spark, rp, dirName, Seq.empty).line)
        }
      val statsHdr =
        if (prevV > 0 && snapshotStatsCols(fs, rp, prevV).nonEmpty)
          Some(s"statscol:${
            snapshotStatsCols(fs, rp, prevV).mkString(",")}")
        else if (physParts.nonEmpty)
          Some(s"statscol:${(physParts ++ statsCols).mkString(",")}")
        else None
      (opName, statsHdr.toSeq ++ lines)
    } catch {
      case e: Throwable =>
        fs.delete(new Path(rp, baseDir), true)
        emptyDir.foreach(d => fs.delete(new Path(rp, d), true))
        throw e
    }
  }

  /** Copy-on-write row-level UPDATE (`UPDATE t SET c = expr WHERE …`):
    * the same stats triage as `deleteWhere` — disjoint dirs carry over
    * by name unopened, no-match dirs carry over after one count, and
    * only dirs actually holding matches rewrite (matched rows through
    * the SET expressions, the rest verbatim). `sets` maps column name
    * to a SQL expression over the row (self-references fine:
    * `"v" -> "v * 2"`); unknown columns are rejected rather than
    * silently widening the schema. Delta-free snapshots only, like
    * deleteWhere and for the same reason. */
  def updateWhere(spark: SparkSession, root: String, predSql: String,
    sets: Map[String, String],
    pruneRanges: Map[String, (Long, Long)] = Map.empty,
    strPruneRanges: Map[String, (String, String)] = Map.empty): Int = {
    require(sets.nonEmpty, "txtable: updateWhere needs at least one SET")
    val (fs, rp) = fsFor(spark, root)
    var staged: Seq[String] = Seq.empty
    commitRetry(spark, root) { prevV =>
      staged.foreach(d => fs.delete(new Path(rp, d), true))
      staged = Seq.empty
      require(prevV > 0, s"txtable: nothing to update at $root")
      val entries = snapshotEntries(fs, rp, prevV)
      require(!entries.exists(_.isDelta),
        s"txtable: updateWhere needs a delta-free snapshot of $root — " +
          "run compactSnapshot first")
      val keys = snapshotKeys(fs, rp, prevV)
      val statsCols = snapshotStatsCols(fs, rp, prevV)
      val m = snapshotColMap(fs, rp, prevV)
      val pr = physRanges(m, pruneRanges)
      val spr = physStrRanges(m, strPruneRanges)
      // SETs address the snapshot's LOGICAL columns; rewritten rows
      // keep the dir's physical schema
      val physSets = sets.map { case (c, ex) => physName(m, c) -> ex }
      def disjoint(e: Entry): Boolean = pr.exists {
        case (c, (lo, hi)) => e.stats.get(c).exists {
          case (elo, ehi) => ehi < lo || elo > hi } } ||
        spr.exists { case (c, (lo, hi)) =>
          e.sstats.get(c).exists { case (elo, ehi) =>
            ehi < hexOf(lo) || elo > hexOf(hi) } }
      val newLines = entries.map { e =>
        if (disjoint(e)) e.line
        else {
          val raw = visibleDirFrame(spark, rp, e)
          val (df, extras) = withLogicalAliases(raw, m)
          physSets.keys.foreach { c =>
            require(raw.columns.contains(c),
              s"txtable: SET of unknown column '${logicalName(m, c)}'") }
          if (df.filter(predSql).isEmpty) e.line
          else {
            // ONE select so every SET expression and the predicate see
            // the OLD row (SQL UPDATE semantics) — chained withColumn
            // would feed earlier SETs into later ones; logical aliases
            // are evaluation-only and dropped by the projection
            val updated = df.select(raw.columns.map { c =>
              physSets.get(c) match {
                case Some(ex) =>
                  when(expr(predSql), expr(ex).cast(raw.schema(c).dataType))
                    .otherwise(col(c)).as(c)
                case None => col(c)
              }
            }.toIndexedSeq: _*)
            val dirName = s"data/update-${java.util.UUID.randomUUID()}"
            // stats ride the rewrite action (observeStats) — the
            // post-write statsEntry rescan was a third pass per dir
            val (obsDf, mkEntry) = observeStats(updated,
              (keys.getOrElse(Seq.empty) ++ statsCols).distinct)
            obsDf.write.mode("overwrite")
              .parquet(new Path(rp, dirName).toString)
            staged = staged :+ dirName
            mkEntry(spark, rp, dirName, false).line
          }
        }
      }
      ("update",
        keys.map(ks => s"key:${ks.mkString(",")}").toSeq ++
          (if (statsCols.nonEmpty) Seq(s"statscol:${statsCols.mkString(",")}")
           else Seq.empty) ++ newLines)
    }
  }

  /** Oracle-gated end-to-end DELETE exercise (q_txtable_delete):
    * stage `orders` as four key-range dirs (each with o_orderkey
    * stats), then run BOTH delete shapes — a whole-quarter range
    * delete with `rangesExact` (must drop dir 0 as pure metadata) and
    * a straddling mod-7 predicate bounded to the lower half (quarters
    * 2/3 prune untouched, quarter 1 rewrites). The DuckDB oracle is
    * the two NOT(...) filters composed — hash equality proves triage,
    * rewrite and commit, not just the happy path. */
  def deleteGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-delgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("o_orderkey")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val maxO = b.getLong(0)
    val q = maxO / 4 + 1
    (0L to 3L).foreach { i =>
      append(o.filter(col("o_orderkey") >= i * q &&
        col("o_orderkey") < (i + 1) * q), root, statsCols = Seq("o_orderkey"))
    }
    deleteWhere(spark, root, s"o_orderkey <= ${q - 1}",
      Map("o_orderkey" -> (0L, q - 1)), rangesExact = true)
    deleteWhere(spark, root,
      s"o_orderkey % 7 = 0 AND o_orderkey <= ${maxO / 2}",
      Map("o_orderkey" -> (0L, maxO / 2)))
    read(spark, root)
  }

  /** Oracle-gated end-to-end UPDATE exercise (q_txtable_update): the
    * same four-dir staging, then a bounded SET price = price * 2 (IEEE
    * doubling is exact, so the oracle hashes bitwise) — lower-half
    * dirs rewrite through the old-row semantics, upper-half dirs prune
    * untouched. */
  def updateGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-updgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("o_orderkey")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val maxO = b.getLong(0)
    val q = maxO / 4 + 1
    (0L to 3L).foreach { i =>
      append(o.filter(col("o_orderkey") >= i * q &&
        col("o_orderkey") < (i + 1) * q), root, statsCols = Seq("o_orderkey"))
    }
    updateWhere(spark, root,
      s"o_orderkey % 5 = 0 AND o_orderkey <= ${maxO / 2}",
      Map("price" -> "price * 2"),
      Map("o_orderkey" -> (0L, maxO / 2)))
    read(spark, root)
  }

  private def bloomPath(rp: Path, dirName: String, colName: String): Path =
    new Path(rp, s"_bloom/$colName/${dirName.replace('/', '_')}.bf")

  /** Build a per-dir BLOOM INDEX on `colName` — file skipping for
    * POINT lookups on a column the physical layout is NOT clustered
    * by, where min/max range stats prune nothing (every dir spans the
    * whole value domain). The lakehouse pattern: on a 100 TB table
    * laid out by date, a needle lookup on order id touches only the
    * dirs whose bloom admits it — O(matching dirs + fpp·dirs) instead
    * of O(table).
    *
    * Blooms are keyed by DIR NAME, and data dirs are content-immutable
    * once committed (every writer stages a fresh UUID dir), so a bloom
    * can never go stale — the index is a pure cache: dirs indexed
    * earlier are skipped on rebuild, dirs appended later simply read
    * unpruned until the next build. One maintenance pass per new dir:
    * a metadata-only row count (parquet footers) + one bloom
    * aggregation scan. Returns the number of dirs newly indexed. */
  /** Parquet footer schema per dir (first data file's), probed with
    * parquet-mr on a bounded driver thread pool — a footer read per
    * dir, never a Spark job (`spark.read.parquet(...).schema` launches
    * a footer-inference JOB per call, which is exactly the per-dir
    * serial-job scaling this path exists to avoid). Serial probing at
    * 10k dirs is a 10k-round-trip tail on an object store; 16-way
    * overlap keeps index maintenance metadata-bound, not
    * latency-bound. Dirs with no data file are omitted. */
  /** JVM-lifetime footer-schema cache, keyed by QUALIFIED dir path.
    * Sound because data dirs are immutable AND collision-free: every
    * dir name embeds a fresh uuid at write time, so unlike the
    * version-numbered commit paths (whose cache must validate per
    * hit), a recreated table at the same root can never mint the same
    * dir path again. Without this every snapshot read re-probes one
    * listing + one footer per dir — at 10k dirs on an object store
    * that is ~20k metadata RPCs per QUERY for schemas that cannot
    * have changed. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.parquet.schema.MessageType]()

  private[graft] def dirSchemas(spark: SparkSession, rp: Path,
    dirs: Seq[String])
    : Map[String, org.apache.parquet.schema.MessageType] = {
    if (dirs.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    val fsq = rp.getFileSystem(conf)
    def qual(d: String): String = new Path(rp, d)
      .makeQualified(fsq.getUri, fsq.getWorkingDirectory).toString
    val hits = dirs.flatMap(d =>
      Option(schemaCache.get(qual(d))).map(d -> _)).toMap
    val misses = dirs.filterNot(hits.contains)
    if (misses.isEmpty) return hits
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, misses.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[
        Option[(String, org.apache.parquet.schema.MessageType)]]] =
        misses.map { d =>
          () => {
            val fs = rp.getFileSystem(conf)
            def firstFile(p: Path): Option[Path] = {
              val (ds, fsx) = fs.listStatus(p).partition(_.isDirectory)
              fsx.map(_.getPath).find { f =>
                val n = f.getName
                n.endsWith(".parquet") && !n.startsWith("_") &&
                  !n.startsWith(".")
              }.orElse(ds.map(_.getPath)
                // positional-delete sidecar dirs hold (_file, _pos)
                // metadata, never the dir's data schema
                .filterNot(_.getName.startsWith("_pdel-"))
                .sortBy(_.getName)
                .iterator.flatMap(firstFile(_).iterator).nextOption())
            }
            firstFile(new Path(rp, d)).map { f =>
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
              try d -> r.getFileMetaData.getSchema finally r.close()
            }
          }
        }
      val probed = pool.invokeAll(tasks.asJava).asScala.flatMap(_.get()).toMap
      // dirs WITHOUT a data file are deliberately not cached (absent
      // from the map by contract); a soft cap bounds a long-lived
      // driver touching unboundedly many tables
      if (schemaCache.size >= 65536) schemaCache.clear()
      probed.foreach { case (d, s) => schemaCache.put(qual(d), s) }
      hits ++ probed
    } finally pool.shutdown()
  }

  /** Spark read type for a bloom-indexable parquet field: integrals
    * and strings only (the types the probe-side `mightContain`
    * dispatch and `df.stat.bloomFilter` agree on). */
  private def bloomableType(schema: org.apache.parquet.schema.MessageType,
    colName: String): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    if (!schema.containsField(colName)) return None
    schema.getType(schema.getFieldIndex(colName)) match {
      case p: org.apache.parquet.schema.PrimitiveType =>
        (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
          case (INT64, null) => Some(LongType)
          case (INT64, l: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if l.isSigned => Some(LongType)
          case (INT32, null) => Some(IntegerType)
          case (INT32, l: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if l.isSigned =>
            Some(l.getBitWidth match {
              case 8 => ByteType
              case 16 => ShortType
              case _ => IntegerType
            })
          case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation)
            => Some(StringType)
          case _ => None
        }
      case _ => None
    }
  }

  /** Spark-visible schema per dir without ANY Spark job: parquet-mr
    * footers (the [[dirSchemas]] driver pool) through Spark's own
    * parquet schema converter. `spark.read.parquet(dir)` launches a
    * schema-inference JOB per call — a 64-dir snapshot used to spend
    * ~4 s of serial driver jobs before reading its first byte; with
    * the schema supplied explicitly the load is pure planning.
    * Dirs with no data file are absent from the result. */
  private def dirSparkSchemas(spark: SparkSession, rp: Path,
    dirs: Seq[String])
    : Map[String, org.apache.spark.sql.types.StructType] = {
    val msgs = dirSchemas(spark, rp, dirs)
    val conv = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get)
    val cache = scala.collection.mutable.HashMap[
      org.apache.parquet.schema.MessageType,
      org.apache.spark.sql.types.StructType]()
    // nullable everywhere, matching inference (file reads are always
    // nullable; StructType.asNullable itself is private[spark])
    def nullify(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
      case st: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullify(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = nullify(m.keyType),
          valueType = nullify(m.valueType), valueContainsNull = true)
      case other => other
    }
    msgs.map { case (d, mt) =>
      d -> cache.getOrElseUpdate(mt, nullify(conv.convert(mt))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Data files of many dirs, listed on the bounded driver pool —
    * one listStatus per dir, overlapped 16 ways: the serial loop is
    * a 10k-round-trip tail at 10k dirs on an object store. Order
    * within each dir follows the listing; callers keep entry order
    * by iterating their own dir sequence. */
  private def listDataFiles(spark: SparkSession, rp: Path,
    dirs: Seq[String], recursive: Boolean = false)
    : Map[String, Seq[String]] = {
    if (dirs.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, dirs.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[(String, Seq[String])]] =
        dirs.distinct.map { d =>
          () => {
            val fs = rp.getFileSystem(conf)
            val keep = (s: org.apache.hadoop.fs.FileStatus) => s.isFile &&
              !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith(".")
            val files =
              if (recursive) {
                // entry dirs may hold partition subdirs (zopt/_b=…,
                // appendPartitioned leaves): one recursive listing.
                // Positional-delete sidecar subtrees (_pdel-*) are
                // metadata, never data — drop anything under one.
                val it = fs.listFiles(new Path(rp, d), true)
                val buf = scala.collection.mutable.ArrayBuffer[String]()
                while (it.hasNext) {
                  val s = it.next()
                  if (keep(s) && !s.getPath.toString.contains("/_pdel-"))
                    buf += s.getPath.toString
                }
                buf.toSeq
              } else fs.listStatus(new Path(rp, d)).filter(keep)
                .map(_.getPath.toString).toSeq
            d -> files
          }
        }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  /** Per-entry on-disk bytes: the `_bytes` commit stat when present
    * (zero I/O), else getContentSummary on the bounded driver pool —
    * never a serial per-dir RPC loop. */
  private def entrySizes(spark: SparkSession, rp: Path,
    entries: Seq[Entry]): Seq[(Entry, Long)] = {
    val missing = entries.filterNot(_.stats.contains(bytesKey))
    val listed: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else {
        val conf = spark.sessionState.newHadoopConf()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, missing.size))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: Seq[java.util.concurrent.Callable[(String, Long)]] =
            missing.map { e =>
              () => {
                val fs = rp.getFileSystem(conf)
                e.dir -> fs.getContentSummary(new Path(rp, e.dir)).getLength
              }
            }
          pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      }
    entries.map(e => e -> e.stats.get(bytesKey).map(_._1)
      .getOrElse(listed(e.dir)))
  }

  /** One data dir as a DataFrame with its schema supplied from the
    * footer — a driver metadata read instead of the schema-inference
    * Spark job `spark.read.parquet(dir)` launches per call. Every
    * per-dir DML/compaction/feed path goes through here. */
  private def readDirFrame(spark: SparkSession, rp: Path,
    dir: String): DataFrame = {
    val p = new Path(rp, dir).toString
    dirSparkSchemas(spark, rp, Seq(dir)).get(dir) match {
      case Some(sc) => spark.read.schema(sc).parquet(p)
      case None => spark.read.parquet(p)
    }
  }

  // ------------------------------------------------ positional deletes

  /** The absolute paths of entry `e`'s position-delete sidecar dirs. */
  private def pdelPaths(rp: Path, e: Entry): Seq[String] =
    e.pdels.keys.toSeq.sorted.map(n =>
      new Path(new Path(rp, e.dir), n).toString)

  /** `df` (a RAW scan of entry `e`'s dir) minus the positions its
    * `pd:` sidecars record: tag each row with its (file name, row
    * index) from the scan's own `_metadata` columns and anti-join the
    * sidecar pairs — broadcast, because positional deletes are
    * low-selectivity by design (a scattered delete that matches most
    * of a dir should use the copy-on-write rewrite instead; the stats
    * triage already routes clustered deletes there). File NAMES (not
    * paths) key the join, so clones — whose entries borrow the source
    * dirs by absolute path — resolve identically; names are unique
    * within one dir and the join is per-dir. */
  private def applyPdels(spark: SparkSession, rp: Path, e: Entry,
    df: DataFrame): DataFrame =
    if (e.pdels.isEmpty) df
    else {
      val dels = spark.read.parquet(pdelPaths(rp, e): _*)
      val tagged = df
        .withColumn("_graft_pd_f",
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn("_graft_pd_p", col("_metadata.row_index"))
      tagged.join(broadcast(dels),
        tagged("_graft_pd_f") === dels("_file") &&
          tagged("_graft_pd_p") === dels("_pos"), "left_anti")
        .drop("_graft_pd_f", "_graft_pd_p")
    }

  /** Entry `e`'s dir as the VISIBLE frame — raw files minus any
    * positional deletes. Every path that reads an EXISTING entry's
    * rows (DML rewrites, compaction folds, the change feed, bloom
    * reads) must use this, or deleted rows would resurrect. */
  private def visibleDirFrame(spark: SparkSession, rp: Path,
    e: Entry): DataFrame =
    applyPdels(spark, rp, e, readDirFrame(spark, rp, e.dir))

  def buildBloomIndex(spark: SparkSession, root: String, colName: String,
    fpp: Double = 0.01): Int = {
    import org.apache.spark.sql.types._
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    val pending = snapshotEntries(fs, rp, v)
      .filter(e => !fs.exists(bloomPath(rp, e.dir, colName)))
    if (pending.isEmpty) return 0
    // Every dir's filter is built in ONE distributed pass (the old
    // per-dir `count(); stat.bloomFilter` loop was 2 SERIAL Spark
    // jobs per dir — 20k jobs at 10k dirs, the job-count scaling bug
    // appendPartitioned already fixed for writes):
    //  * each filter is sized from the `_rows` stat already in the
    //    commit line — no count job at all for post-stats tables;
    //    dirs predating row stats share ONE grouped count job;
    //  * one multi-path scan (explicit single-column read schema, so
    //    the scan is column-pruned regardless of each dir's width)
    //    builds per-dir filters map-side and merges them per dir —
    //    job count is O(1) in the number of dirs;
    //  * filters are written to the index from the EXECUTORS (bloom
    //    files are dir-keyed and idempotent), so no filter ever
    //    transits the driver — 10k dirs × multi-MB filters stay
    //    distributed end to end.
    val schemas = dirSchemas(spark, rp, pending.map(_.dir))
    def colType(d: String): Option[DataType] =
      schemas.get(d).flatMap(bloomableType(_, colName))
    val eligible = pending.filter(e => colType(e.dir).isDefined)
    if (eligible.isEmpty) return 0
    // EXACT file-path → entry-dir map from the driver's own listings
    // (the same authority the scan reads from), broadcast-joined to
    // the scan on the normalized path: per-row dir resolution is then
    // one codegen'd hash probe instead of a per-row Scala-UDF
    // parent-path walk (no codegen boundary in the scan stage). Both
    // sides normalize to the SAME rendering — the PERCENT-ENCODED
    // absolute path with scheme and authority stripped by one anchored
    // regex. input_file_name() yields the URL-encoded URI string, so
    // the driver side must encode too: `new Path(f).toUri.getRawPath`
    // re-encodes the decoded `Path.toString` listing (a table root
    // with a space or non-ASCII byte would otherwise never join and
    // every filter would silently come out empty — the row-count
    // cross-check below turns any future rendering drift into a loud
    // failure instead of missing rows).
    val pathRe = "^(?:[a-zA-Z][a-zA-Z0-9+.\\-]*:(?://[^/]*)?)?(/.*)$"
    val filesOf = listDataFiles(spark, rp, eligible.map(_.dir),
      recursive = true)
    val fileDirRows = eligible.flatMap(e =>
      filesOf.getOrElse(e.dir, Seq.empty).map { f =>
        org.apache.spark.sql.Row(new Path(f).toUri.getRawPath, e.dir)
      })
    val fileDir = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(fileDirRows).asJava),
      StructType(Seq(StructField("_f", StringType),
        StructField("_dir", StringType))))
    def tagged(dirs: Seq[String]): DataFrame =
      dirs.groupBy(d => colType(d).get).map { case (dt, ds) =>
        val isStr = dt == StringType
        spark.read.schema(StructType(Seq(StructField(colName, dt))))
          .parquet(ds.map(d => new Path(rp, d).toString): _*)
          .select(regexp_extract(input_file_name(), pathRe, 1).as("_f"),
            (if (isStr) col(colName)
             else lit(null).cast("string")).as("_vs"),
            (if (isStr) lit(null).cast("long")
             else col(colName).cast("long")).as("_vl"))
      }.reduce(_.unionByName(_))
        .join(broadcast(fileDir), Seq("_f"))
        .select("_dir", "_vs", "_vl")
    val stated = eligible.flatMap(e =>
      e.stats.get(rowsKey).map(s => e.dir -> s._1)).toMap
    val statless = eligible.map(_.dir).filterNot(stated.contains)
    val counted: Map[String, Long] =
      if (statless.isEmpty) Map.empty
      else tagged(statless).groupBy("_dir").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = eligible.map(e => e.dir ->
      math.max((stated ++ counted).getOrElse(e.dir, 1L), 1L)).toMap
    val bcExp = spark.sparkContext.broadcast(expected)
    val fppL = fpp
    val merged = tagged(eligible.map(_.dir)).rdd.mapPartitions { it =>
      val acc = new scala.collection.mutable.HashMap[String,
        (org.apache.spark.util.sketch.BloomFilter, Long)]()
      it.foreach { r =>
        val d = r.getString(0)
        val (bf, n) = acc.getOrElseUpdate(d, (org.apache.spark.util
          .sketch.BloomFilter.create(bcExp.value(d), fppL), 0L))
        if (!r.isNullAt(1)) bf.putString(r.getString(1))
        else if (!r.isNullAt(2)) bf.putLong(r.getLong(2))
        acc(d) = (bf, n + 1)
      }
      acc.iterator
    }.reduceByKey((a, b) => { a._1.mergeInPlace(b._1); (a._1, a._2 + b._2) },
      math.max(1, eligible.size))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val rootStr = rp.toString
    val colL = colName
    val written = merged.mapPartitions { it =>
      val rpL = new Path(rootStr)
      val fsL = rpL.getFileSystem(conf.value)
      it.map { case (d, (bf, n)) =>
        val os = fsL.create(bloomPath(rpL, d, colL), true)
        try bf.writeTo(os) finally os.close()
        (d, n)
      }
    }.collect().toMap
    // CROSS-CHECK: every row the commit's `_rows` stat records for a
    // dir must have reached that dir's filter build. Fewer rows seen
    // than stated means the file→dir path join dropped files (e.g. a
    // path-rendering mismatch between input_file_name and the driver
    // listing) — that would write an UNDER-FULL filter that silently
    // prunes dirs containing probe values, so fail loudly instead.
    // Seen > stated is fine (stats may predate later same-dir files).
    stated.foreach { case (d, exp) =>
      val seen = written.getOrElse(d, 0L)
      if (seen < exp) throw new IllegalStateException(
        s"bloom build for dir $d of $rootStr saw $seen rows but the " +
        s"commit stats record $exp — the file→dir path join dropped " +
        "rows; refusing to write a filter that would silently prune " +
        "matching dirs")
    }
    // dirs with zero rows still get an empty filter: probes never
    // match → pruned, exactly what the old per-dir build produced
    val empty = eligible.map(_.dir).filterNot(written.contains)
    empty.foreach { d =>
      val os = fs.create(bloomPath(rp, d, colName), true)
      try org.apache.spark.util.sketch.BloomFilter
        .create(expected(d), fppL).writeTo(os)
      finally os.close()
    }
    written.size + empty.size
  }

  /** The dirs of the current snapshot a probe set cannot skip: a dir
    * survives if it has no bloom for `colName` (never indexed — must
    * read) or its bloom admits ANY probe. False positives only ever
    * ADD dirs, so pruning is always sound on delta-free snapshots.
    * Exposed for the spec's pruning proof. */
  private[graft] def bloomSurvivingDirs(spark: SparkSession, root: String,
    colName: String, probes: Seq[Any]): (Seq[String], Int) = {
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    val entries = snapshotEntries(fs, rp, v)
    val kept = entries.filter { e =>
      val bp = bloomPath(rp, e.dir, colName)
      if (!fs.exists(bp)) true
      else {
        val in = fs.open(bp)
        val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
        probes.exists(bf.mightContain)
      }
    }.map(_.dir)
    (kept, entries.size)
  }

  /** Point-lookup read through the bloom index: prune dirs whose
    * bloom proves no probe value is present, scan only the
    * survivors, and filter rows to the probe set. Result-identical to
    * `read(...).filter(col isin probes)` — the bloom only skips IO.
    *
    * Delta (merge-on-read) snapshots are REFUSED: a pruned delta
    * could carry an update moving a row OUT of the probe set, and
    * skipping it would resurrect the stale base row — the same value-
    * predicate-over-unresolved-deltas unsoundness `deleteWhere`
    * guards against. Run `compactSnapshot` first. */
  def readBloomFiltered(spark: SparkSession, root: String, colName: String,
    probes: Seq[Any]): DataFrame = {
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    val entries = snapshotEntries(fs, rp, v)
    require(!entries.exists(_.isDelta),
      s"txtable: bloom-filtered reads need a delta-free snapshot " +
        s"(value pruning over unresolved deltas is unsound); " +
        s"run compactSnapshot($root) first")
    val (kept, _) = bloomSurvivingDirs(spark, root, colName, probes)
    val probeFilter = col(colName).isin(probes: _*)
    if (kept.isEmpty) return read(spark, root, v).filter(probeFilter)
      .filter(lit(false))
    val paths = kept.map(d => new Path(rp, d).toString)
    val schemaOf = dirSparkSchemas(spark, rp, kept)
    val schemas = kept.map(schemaOf.get)
    val entryOf = entries.map(e => e.dir -> e).toMap
    // declared DEFAULT columns fill exactly as on the plain read
    // path — PER DIR on the union branches (a pre-ADD dir next to a
    // post-ADD dir must read the default, not union-null)
    val added = liveAddedCols(fs, rp, v)
    def fill(d: DataFrame): DataFrame = fillDeclaredDefaults(d, added)
    val df =
      // kept dirs with positional deletes read their VISIBLE rows
      if (kept.exists(d => entryOf.get(d).exists(_.pdels.nonEmpty)))
        kept.map(d => fill(visibleDirFrame(spark, rp, entryOf(d))))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      else if (schemas.distinct.size == 1 && schemas.head.isDefined)
        fill(spark.read.schema(schemas.head.get).parquet(paths: _*))
      else if (schemas.distinct.size == 1)
        fill(spark.read.parquet(paths: _*))
      else kept.map(d => fill(readDirFrame(spark, rp, d)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    df.filter(probeFilter)
  }

  /** Oracle-gated end-to-end bloom-index exercise (q_txtable_bloom):
    * orders staged into 8 dirs CLUSTERED BY customer (so order keys
    * scatter across every dir and range stats cannot prune), bloom
    * index on o_orderkey, then a 13-probe point lookup at evenly
    * spaced keys — the oracle replays the probe set arithmetically. */
  def bloomGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-bloomgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("o_orderkey")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val step = math.max(b.getLong(0) / 13L, 1L)
    (0L to 7L).foreach { i =>
      append(o.filter(col("o_custkey") % 8 === i), root)
    }
    buildBloomIndex(spark, root, "o_orderkey")
    val probes: Seq[Any] = (1L to 13L).map(_ * step)
    readBloomFiltered(spark, root, "o_orderkey", probes)
  }

  /** Oracle-gated end-to-end MERGE INTO exercise (q_txtable_merge):
    * stage orders, then one conditional merge whose source carries
    * both updates (every key ≡ 0 mod 3, price tripled — exercised
    * through the update condition `s_price <> price`) and inserts
    * (key-shifted copies of every key ≡ 0 mod 10, gated by the
    * not-matched condition `o_custkey % 2 = 0`), with the matched-
    * delete clause removing keys ≡ 0 mod 9. Every clause fires on a
    * disjoint slice, so the oracle replays each branch exactly. */
  def mergeIntoGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-mergegate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("o_orderkey")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val maxO = b.getLong(0)
    append(o, root, statsCols = Seq("o_orderkey"))
    val src = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price") * 3).as("price"))
      .unionByName(o.filter(col("o_orderkey") % 10 === 0)
        .select((col("o_orderkey") + maxO).as("o_orderkey"),
          col("o_custkey"), col("price")))
    mergeInto(spark, root, src, Seq("o_orderkey"),
      matchedUpdate = Map("price" -> "s_price"),
      matchedUpdateCond = Some("s_price <> price"),
      matchedDeleteCond = Some("o_orderkey % 9 = 0"),
      notMatchedCond = Some("s_o_custkey % 2 = 0"))
    read(spark, root)
  }

  /** Oracle-gated SQL row-level DML exercise (q_txtable_sql_dml):
    * orders → a catalog `graft-tx` table, then the full SQL DML
    * surface in sequence — a TRANSLATABLE range DELETE (the
    * SupportsDeleteV2 → deleteWhere fast path), an untranslatable
    * modulo DELETE (the group-based copy-on-write ReplaceData path),
    * an UPDATE, a three-branch MERGE INTO (matched delete / matched
    * update / not-matched insert), and an INSERT INTO — all issued as
    * `spark.sql` statements against the catalog face, never the Scala
    * API. The DuckDB oracle replays every statement relationally;
    * hash equality proves Spark's own DML rewrites drive graft's OCC
    * dir-swap commit to the same table state. */
  def sqlDmlGateQuery(spark: SparkSession, dir: String,
    positional: Boolean = false): DataFrame = {
    if (positional) spark.conf.set("spark.graft.dml.positional", "true")
    else spark.conf.unset("spark.graft.dml.positional")
    try sqlDmlGateBody(spark, dir, positional)
    finally spark.conf.unset("spark.graft.dml.positional")
  }

  private def sqlDmlGateBody(spark: SparkSession, dir: String,
    positional: Boolean): DataFrame = {
    val tbl =
      if (positional) "graft_sqldml_mor_gate" else "graft_sqldml_gate"
    val srcv = tbl + "_src"
    val root = scratchRoot(
      if (positional) "graft-sqldmlmorgate" else "graft-sqldmlgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("k")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val maxK = b.getLong(0)
    append(o, root, statsCols = Seq("k"))
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    try {
      spark.sql(
        s"DELETE FROM $tbl WHERE k <= ${maxK / 10}")
      spark.sql(s"DELETE FROM $tbl WHERE k % 10 = 3")
      spark.sql(
        s"UPDATE $tbl SET price = price * 2 WHERE k % 10 = 4")
      o.filter(col("k") % 10 === 5)
        .unionByName(o.filter(col("k") % 10 === 6)
          .select((col("k") + maxK).as("k"), col("cust"), col("price")))
        .createOrReplaceTempView(srcv)
      spark.sql(
        s"""MERGE INTO $tbl t USING $srcv s
          |ON t.k = s.k
          |WHEN MATCHED AND s.cust % 2 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET price = -1.0
          |WHEN NOT MATCHED THEN
          |  INSERT (k, cust, price) VALUES (s.k, s.cust, s.price)
          |""".stripMargin)
      spark.sql(s"INSERT INTO $tbl SELECT k + ${2 * maxK}, " +
        s"cust, price FROM $srcv WHERE k % 10 = 5 AND cust % 3 = 0")
      read(spark, root)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated MERGE WITH SCHEMA EVOLUTION exercise
    * (q_txtable_merge_evolve): orders → a 3-column catalog graft-tx
    * table, then ONE `MERGE WITH SCHEMA EVOLUTION INTO` statement
    * whose source carries an extra `score` column. Spark's
    * ResolveMergeIntoSchemaEvolution (armed by the table's
    * AUTOMATIC_SCHEMA_EVOLUTION capability) diffs source vs target
    * and lands the missing column through GraftCatalog.alterTable —
    * graft's one atomic ADD COLUMNS commit — BEFORE the row-level
    * rewrite, so pre-merge rows read `score` as NULL (the null-fill
    * contract over pre-ADD files) while matched and inserted rows
    * carry source values. The DuckDB oracle replays the merge
    * relationally, NULL score on unmatched target rows included. */
  def mergeEvolveGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-mevolvegate", dir)
    val tbl = "graft_mevolve_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("k")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
      .withColumn("score", lit(null).cast("double"))
    val maxK = b.getLong(0)
    append(o, root, statsCols = Seq("k"))
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$root')")
    try {
      o.filter(col("k") % 3 === 0)
        .select(col("k"), col("cust"), (col("price") * 3).as("price"),
          ((col("cust") % 97).cast("double") / 10.0).as("score"))
        .unionByName(o.filter(col("k") % 10 === 0)
          .select((col("k") + maxK).as("k"), col("cust"), col("price"),
            ((col("cust") % 89).cast("double") / 100.0).as("score")))
        .createOrReplaceTempView(srcv)
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING $srcv s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      spark.sql(s"SELECT k, cust, price, score FROM $tbl")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated NAMED-REF exercise (q_txtable_tag): orders' even
    * keys load as v1, `CALL system.tag` pins it as 'base', an INSERT
    * OVERWRITE replaces the content with the odd keys, and `CALL
    * system.vacuum(t, 1)` sweeps everything outside the latest
    * snapshot — EXCEPT the tagged version, whose commit, dirs and
    * manifests the tag protects. The returned frame unions the live
    * table with `VERSION AS OF 'base'` (tag-resolved time travel), so
    * hash equality against the oracle proves BOTH that the ref
    * resolves on the SQL face and that vacuum honored the pin — if
    * the tagged snapshot had been swept, the 'base' leg would throw
    * or read nothing. */
  def tagGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-taggate", dir)
    val tbl = "graft_tag_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    if (o.isEmpty) return o.filter(lit(false))
      .withColumn("snap", lit("")).select("snap", "k", "cust", "price")
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, cust BIGINT, price DOUBLE) " +
      s"USING `graft-tx` OPTIONS (path '$root')")
    try {
      spark.sql(s"INSERT INTO $tbl SELECT * FROM $srcv WHERE k % 2 = 0")
      spark.sql(s"CALL spark_catalog.system.tag('$tbl', 'base')")
      spark.sql(
        s"INSERT OVERWRITE TABLE $tbl SELECT * FROM $srcv WHERE k % 2 = 1")
      spark.sql(s"CALL spark_catalog.system.vacuum('$tbl', 1)")
      spark.sql(
        s"""SELECT 'now' AS snap, k, cust, price FROM $tbl
          |UNION ALL
          |SELECT 'base' AS snap, k, cust, price
          |FROM $tbl VERSION AS OF 'base'""".stripMargin)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated CREATE OR REPLACE exercise (q_txtable_replace):
    * a CTAS loads the even orders, then ONE `CREATE OR REPLACE TABLE
    * ... AS SELECT` swaps in the odd orders under a DIFFERENT column
    * set — the staging-catalog path: the replace is a single OCC
    * truncate-overwrite on the table (the stock session catalog
    * refuses this statement outright when the declared schema moved),
    * and the pre-replace snapshot stays readable as VERSION AS OF 1.
    * The returned union of both faces proves content swap, schema
    * swap, and history retention in one hash. */
  def replaceGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-replgate", dir)
    val tbl = "graft_replace_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    if (o.isEmpty) return o.filter(lit(false))
      .withColumn("snap", lit(""))
      .select(col("snap"), col("k"), col("cust"), col("price").as("total"))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$root') " +
      s"AS SELECT k, cust, price FROM $srcv WHERE k % 2 = 0")
    try {
      spark.sql(s"CREATE OR REPLACE TABLE $tbl USING `graft-tx` " +
        s"OPTIONS (path '$root') " +
        s"AS SELECT k, cust, price * 2 AS total FROM $srcv WHERE k % 2 = 1")
      spark.sql(
        s"""SELECT 'new' AS snap, k, cust, total FROM $tbl
          |UNION ALL
          |SELECT 'old' AS snap, k, cust, price AS total
          |FROM $tbl VERSION AS OF 1""".stripMargin)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated COLUMN-DEFAULT exercise (q_txtable_addcol_default):
    * orders loaded, then `ALTER TABLE ... ADD COLUMNS (src STRING
    * DEFAULT 'base', bonus DOUBLE DEFAULT 0.25)` — pre-ADD rows must
    * read the DEFAULTS (initial-default semantics, per file), an
    * INSERT supplies its own values, an UPDATE rewrites a slice
    * through the COW DML readers (which must fill the default, not
    * NULL — the corruption class this gate exists to catch), and
    * optimize_compact folds mixed pre/post-ADD dirs (the folded file
    * must carry the default). The DuckDB oracle replays it all
    * relationally. */
  def addColDefaultGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-dfltgate", dir)
    val tbl = "graft_dflt_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("k")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
      .withColumn("src", lit("")).withColumn("bonus", lit(0.0))
    val maxK = b.getLong(0)
    append(o, root, statsCols = Seq("k"))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$root')")
    try {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS " +
        "(src STRING DEFAULT 'base', bonus DOUBLE DEFAULT 0.25)")
      spark.sql(s"INSERT INTO $tbl SELECT k + $maxK, cust, price, " +
        s"'load2', CAST(cust % 10 AS DOUBLE) / 10 FROM $srcv " +
        "WHERE k % 5 = 0")
      spark.sql(s"UPDATE $tbl SET price = price * 2 WHERE k % 10 = 4")
      spark.sql(s"CALL spark_catalog.system.optimize_compact('$tbl')")
      spark.sql(s"SELECT k, cust, price, src, bonus FROM $tbl")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated CHECK-constraint exercise (q_txtable_check): a
    * table under `ALTER TABLE ADD CONSTRAINT price_pos CHECK (...)`
    * rejects a violating SQL INSERT (Spark's own CheckInvariant — the
    * catalog face reports the constraint ENFORCED) AND a violating
    * raw-API append (the in-write observe guard), accepts a valid
    * load, then `DROP CONSTRAINT` re-permits a sentinel negative row.
    * The DuckDB oracle replays only the writes that should have
    * landed — hash equality proves both rejections actually rejected
    * (a leaked batch changes the row set) and both accepts landed. */
  def checkConstraintGateQuery(spark: SparkSession, dir: String)
    : DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-chkgate", dir)
    val tbl = "graft_chk_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("k")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val maxK = b.getLong(0)
    append(o, root, statsCols = Seq("k"))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$root')")
    try {
      spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT price_pos " +
        "CHECK (price > 0)")
      // violating SQL INSERT: must reject, table unchanged
      val sqlRejected =
        try { spark.sql(s"INSERT INTO $tbl VALUES (-100, -1, -5.0)"); false }
        catch { case _: Exception => true }
      require(sqlRejected, "txtable: CHECK gate - violating INSERT landed")
      // valid SQL load lands
      spark.sql(s"INSERT INTO $tbl SELECT k + $maxK, cust, price " +
        s"FROM $srcv WHERE k % 7 = 0")
      // violating raw-API append: the write-face guard must reject
      import spark.implicits._
      val apiRejected =
        try {
          append(Seq((-200L, -1L, -9.0)).toDF("k", "cust", "price"), root)
          false
        } catch { case _: IllegalArgumentException => true }
      require(apiRejected, "txtable: CHECK gate - violating append landed")
      // DROP re-permits: the sentinel row is IN the oracle's answer
      spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT price_pos")
      spark.sql(s"INSERT INTO $tbl VALUES (-1, -1, -1.0)")
      spark.sql(s"SELECT k, cust, price FROM $tbl")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated SQL MAINTENANCE exercise (q_txtable_sql_maint): a
    * SQL-first table (CREATE + INSERT INTO — write-time stats land by
    * default now), then the full `CALL spark_catalog.system.*`
    * surface — analyze (exact NDV + null counts into the commit
    * header), optimize_compact (bin-pack the four small INSERT dirs),
    * vacuum (drop pre-compaction versions) — followed by a SELECT the
    * DuckDB oracle replays. Hash equality proves the maintenance
    * procedures run end-to-end from pure SQL and change no answers;
    * the procedures themselves are the operational loop a 100 TB
    * table runs nightly. */
  def sqlMaintGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-sqlmaint", dir)
    val tbl = "graft_sqlmaint_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"))
    if (o.isEmpty) return o.filter(lit(false)).groupBy("cust")
      .agg(count(lit(1)).as("cnt"), max(col("k")).as("max_k"))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, cust BIGINT) " +
      s"USING `graft-tx` OPTIONS (path '$root')")
    try {
      // four commits so optimize_compact has dirs to bin-pack
      (0L to 3L).foreach(i => spark.sql(
        s"INSERT INTO $tbl SELECT k, cust FROM $srcv WHERE k % 4 = $i"))
      spark.sql(s"CALL spark_catalog.system.analyze('$tbl', 'cust', " +
        "true, false)")
      spark.sql(s"CALL spark_catalog.system.optimize_compact('$tbl')")
      spark.sql(s"CALL spark_catalog.system.vacuum('$tbl', 1)")
      // restore leg (r16): a junk load lands, CALL restore undoes it —
      // the final SELECT must hash exactly as if it never happened
      // (the operational undo, proven inside the same oracle)
      spark.sql(s"INSERT INTO $tbl VALUES " +
        "(CAST(-1 AS BIGINT), CAST(-1 AS BIGINT))")
      val vJunk = latestVersion(spark, root)
      spark.sql(s"CALL spark_catalog.system.restore('$tbl', ${vJunk - 1})")
      spark.sql(s"SELECT cust, count(*) AS cnt, max(k) AS max_k " +
        s"FROM $tbl GROUP BY cust")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated SQL COLUMN-EVOLUTION exercise (q_txtable_addcol):
    * orders loaded WITHOUT a price column, then `ALTER TABLE ... ADD
    * COLUMNS (price DOUBLE)` — ONE metadata commit, zero data files
    * touched — an INSERT supplying priced rows, and an UPDATE filling
    * the new column on a slice of the PRE-ADD rows (the COW readers
    * null-fill the declared column for files that predate it). The
    * DuckDB oracle replays the evolution relationally; hash equality
    * proves old rows read NULL, new rows carry data, and the UPDATE
    * saw exactly the declared schema. */
  def addColGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-addcgate", dir)
    val tbl = "graft_addcol_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val b = o.agg(max("k")).collect()(0)
    if (b.isNullAt(0)) return o.filter(lit(false))
    val maxK = b.getLong(0)
    append(o.select(col("k"), col("cust")), root, statsCols = Seq("k"))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-tx` OPTIONS (path '$root')")
    try {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (price DOUBLE)")
      spark.sql(s"INSERT INTO $tbl SELECT k + $maxK, cust, price " +
        s"FROM $srcv")
      spark.sql(s"UPDATE $tbl SET price = cust * 1.0 " +
        s"WHERE k % 10 = 0 AND k <= $maxK")
      read(spark, root)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated PARTITION-SCOPED INSERT OVERWRITE exercise
    * (q_txtable_overwrite_part): orders → a month-partitioned catalog
    * table declared and loaded in PURE SQL (`CREATE TABLE ...
    * PARTITIONED BY (om)` + `INSERT INTO` — the clustered `om=<v>`
    * layout lands from the first statement), then BOTH overwrite
    * scopes — a static `INSERT OVERWRITE ... PARTITION (om = 3)`
    * month reload and a dynamic-mode reload of months 5 and 6 — each
    * ONE OCC commit swapping exactly the touched partition dirs
    * (untouched months' files never open; PartitionedSqlSpec asserts
    * byte-identity). The daily/monthly reload idiom of every
    * warehouse (ref analog: atomic partition-rename loads,
    * src/mapred/org/apache/hadoop/mapred/FileOutputCommitter.java:1).
    * The DuckDB oracle replays the three loads relationally. */
  def overwritePartGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-owpgate", dir)
    val tbl = "graft_owp_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"),
      month(col("o_orderdate")).as("om"))
    if (o.isEmpty) return o.filter(lit(false))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, cust BIGINT, " +
      "price DOUBLE, om INT) USING `graft-tx` PARTITIONED BY (om) " +
      s"OPTIONS (path '$root')")
    try {
      spark.sql(s"INSERT INTO $tbl SELECT k, cust, price, om FROM $srcv")
      // static month reload: om=3 replaced by its even-customer rows
      // at doubled price (IEEE-exact, so the oracle hashes bitwise)
      spark.sql(s"INSERT OVERWRITE $tbl PARTITION (om = 3) " +
        s"SELECT k, cust, price * 2 FROM $srcv " +
        "WHERE om = 3 AND cust % 2 = 0")
      // dynamic reload: months 5 and 6 replaced by their cust%3=0
      // rows at tripled price — exactly the partitions in the data
      val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql(s"INSERT OVERWRITE $tbl " +
        s"SELECT k, cust, price * 3, om FROM $srcv " +
        "WHERE om IN (5, 6) AND cust % 3 = 0")
      finally spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", prev)
      read(spark, root)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated STRING-KEY partition overwrite
    * (q_txtable_overwrite_part_str): the #1 real-world reload is
    * `PARTITION (day='2026-08-15')` on a date-string layout — the
    * string-key machinery (`sx:` exact stats, hex dir tokens,
    * TxV2PredicateSql) was proven for INSERT/SPJ since round 13 but
    * never oracle-gated under OVERWRITE. Orders land month-string
    * partitioned ('01'..'12'); a static `PARTITION (om = '03')`
    * reload and a dynamic reload of '05'/'06' each swap exactly their
    * hex-token dirs in ONE OCC commit (PartitionedSqlSpec asserts the
    * untouched string partitions byte-identical). Same relational
    * oracle shape as the INT-key twin. */
  def overwritePartStrGateQuery(spark: SparkSession,
    dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-owpsgate", dir)
    val tbl = "graft_owps_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"),
      date_format(col("o_orderdate"), "MM").as("om"))
    if (o.isEmpty) return o.filter(lit(false))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, cust BIGINT, " +
      "price DOUBLE, om STRING) USING `graft-tx` PARTITIONED BY (om) " +
      s"OPTIONS (path '$root')")
    try {
      spark.sql(s"INSERT INTO $tbl SELECT k, cust, price, om FROM $srcv")
      // static string-key reload (price doubling is IEEE-exact)
      spark.sql(s"INSERT OVERWRITE $tbl PARTITION (om = '03') " +
        s"SELECT k, cust, price * 2 FROM $srcv " +
        "WHERE om = '03' AND cust % 2 = 0")
      // dynamic reload of two string partitions
      val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql(s"INSERT OVERWRITE $tbl " +
        s"SELECT k, cust, price * 3, om FROM $srcv " +
        "WHERE om IN ('05', '06') AND cust % 3 = 0")
      finally spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", prev)
      read(spark, root)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated SHOW PARTITIONS exercise (q_txtable_show_parts): a
    * month-string partitioned SQL-first load, then
    * [[showPartitions]]'s tuple + row tallies — derived from commit
    * stats ALONE (zero data I/O; the sub-second "which partition do I
    * reload?" question at any table size) — hash-checked against the
    * DuckDB group-by over the same source. num_dirs/num_bytes are
    * physical facts with no relational oracle and stay out of the
    * gate (SqlMaintenanceSpec pins them). */
  def showPartsGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-showparts", dir)
    val tbl = "graft_showparts_gate"
    val srcv = tbl + "_src"
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      date_format(col("o_orderdate"), "MM").as("om"))
    if (o.isEmpty)
      return o.select(col("om").as("partition"))
        .withColumn("num_rows", lit(0L)).filter(lit(false))
    o.createOrReplaceTempView(srcv)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, cust BIGINT, om STRING) " +
      s"USING `graft-tx` PARTITIONED BY (om) OPTIONS (path '$root')")
    try {
      spark.sql(s"INSERT INTO $tbl SELECT k, cust, om FROM $srcv")
      showPartitions(spark, root).select("partition", "num_rows")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.catalog.dropTempView(srcv)
      ()
    }
  }

  /** Oracle-gated SQL-FIRST STORAGE-PARTITIONED JOIN
    * (q_txtable_sql_spj): both sides declared AND loaded in pure SQL
    * (`CREATE TABLE ... PARTITIONED BY (b)` + `INSERT INTO`), then
    * joined through the KeyGroupedPartitioning face — the SQL-only
    * user gets the same zero-Exchange bucketed join the API's
    * appendPartitionedBy layout earns (PartitionedSqlSpec asserts the
    * clustered dirs; SpjSpec's plan-walk discipline applies: at
    * 100 TB neither side ever shuffles). Oracle replays the plain
    * equi-join. */
  def sqlPartSpjGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val rootO = graft.Scratch.freshRoot(s, "graft-sqlspjo", dir)
    val rootC = graft.Scratch.freshRoot(s, "graft-sqlspjc", dir)
    graft.Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"), (col("o_custkey") % 16).as("b"))
      .createOrReplaceTempView("graft_sqlspj_osrc")
    graft.Tables.customer(s, dir).select(col("c_custkey"),
      (col("c_custkey") % 16).as("b"), col("c_nationkey"))
      .createOrReplaceTempView("graft_sqlspj_csrc")
    s.sql("DROP TABLE IF EXISTS graft_sqlspj_o")
    s.sql("DROP TABLE IF EXISTS graft_sqlspj_c")
    s.sql("CREATE TABLE graft_sqlspj_o (o_orderkey BIGINT, " +
      "o_custkey BIGINT, b BIGINT) USING `graft-tx` " +
      s"PARTITIONED BY (b) OPTIONS (path '$rootO')")
    s.sql("CREATE TABLE graft_sqlspj_c (c_custkey BIGINT, " +
      "c_nationkey BIGINT, b BIGINT) USING `graft-tx` " +
      s"PARTITIONED BY (b) OPTIONS (path '$rootC')")
    try {
      s.sql("INSERT INTO graft_sqlspj_o SELECT o_orderkey, o_custkey, b " +
        "FROM graft_sqlspj_osrc")
      s.sql("INSERT INTO graft_sqlspj_c SELECT c_custkey, c_nationkey, b " +
        "FROM graft_sqlspj_csrc")
      val l = s.read.format("graft-tx").option("partitionCol", "b")
        .load(rootO)
      val r = s.read.format("graft-tx").option("partitionCol", "b")
        .load(rootC)
      l.as("l").join(r.as("r"), col("l.b") === col("r.b") &&
          col("l.o_custkey") === col("r.c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_sqlspj_o")
      s.sql("DROP TABLE IF EXISTS graft_sqlspj_c")
      ()
    }
  }

  def zoptGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-zoptgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    // 1-row readback for the box bounds (metadata-scale); null-safe
    val bounds = o.agg(max("o_orderkey"), max("o_custkey")).collect()(0)
    if (bounds.isNullAt(0)) return o.filter(lit(false))
    val (maxO, maxC) = (bounds.getLong(0), bounds.getLong(1))
    (0L to 3L).foreach { i =>
      append(o.filter(col("o_orderkey") % 4 === i), root)
    }
    optimizeZOrder(spark, root, "o_custkey", "o_orderkey", nDirs = 8)
    read(spark, root, colRanges = Map(
      "o_custkey" -> (0L, maxC / 4), "o_orderkey" -> (0L, maxO / 4)))
  }

  /** Gate: STRING-DIM OPTIMIZE ZORDER (q_txtable_zorder_str). Orders
    * laid out by (day-string, custkey) — the string dim interleaves
    * on its common-prefix-stripped UTF-8 hex key, so the day DIGITS
    * (past byte 8 of `1996-07-XX`, where a raw prefix never looks)
    * drive the curve; a day strRange × custkey colRange box reads
    * back through dir pruning on BOTH axes (ZOrderSpec asserts the
    * file skipping). Oracle = the plain filter — hash equality
    * proves the mixed-type layout preserved content and pruning
    * skipped dirs, never rows. */
  def zorderStrGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-zstrgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
    val bounds = o.agg(max("o_custkey")).collect()(0)
    if (bounds.isNullAt(0)) return o.filter(lit(false))
    val maxC = bounds.getLong(0)
    (0L to 3L).foreach(i =>
      append(o.filter(col("o_orderkey") % 4 === i), root))
    optimizeZOrderN(spark, root, Seq("day", "o_custkey"), nDirs = 8)
    read(spark, root,
      colRanges = Map("o_custkey" -> (0L, maxC / 4)),
      strRanges = Map("day" -> ("1996-01-01", "1996-12-31")))
  }

  /** Gate: INCREMENTAL OPTIMIZE ZORDER (q_txtable_zopt_incr). Two
    * appends, a first pass (delegates to the full rewrite), two MORE
    * appends, then the incremental pass — only the tail rewrites, the
    * first generation's dirs carry by name — and a 2-dim box read
    * back through colRanges pruning across BOTH generations. Oracle =
    * the plain filter; hash equality proves the generation-layered
    * layout preserves content and pruning skips dirs, never rows. */
  def zoptIncrGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-zincgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    val bounds = o.agg(max("o_orderkey"), max("o_custkey")).collect()(0)
    if (bounds.isNullAt(0)) return o.filter(lit(false))
    val (maxO, maxC) = (bounds.getLong(0), bounds.getLong(1))
    (0L to 1L).foreach(i => append(o.filter(col("o_orderkey") % 4 === i), root))
    optimizeZOrderIncremental(spark, root, Seq("o_custkey", "o_orderkey"),
      nDirs = 8)
    (2L to 3L).foreach(i => append(o.filter(col("o_orderkey") % 4 === i), root))
    optimizeZOrderIncremental(spark, root, Seq("o_custkey", "o_orderkey"),
      nDirs = 8)
    read(spark, root, colRanges = Map(
      "o_custkey" -> (0L, maxC / 4), "o_orderkey" -> (0L, maxO / 4)))
  }

  /** ORACLE-GATED 3-dim OPTIMIZE-ZORDER exercise (q_txtable_zopt3):
    * lineitem loaded as four hash-split appends, OPTIMIZE ZORDER BY
    * (l_partkey, l_suppkey, l_orderkey), then a THREE-dimensional box
    * read back through colRanges dir pruning — the layout a 100 TB
    * fact table needs when lookups come by any of part, supplier or
    * order. Oracle = the plain filter; hash equality proves content
    * preservation and that pruning skipped dirs, never rows. */
  def zopt3GateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-zopt3gate", dir)
    val l = graft.Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast("decimal(18,2)").cast("double").as("qty"))
    // 1-row readback for the box bounds (metadata-scale); null-safe
    val bounds = l.agg(max("l_orderkey"), max("l_partkey"),
      max("l_suppkey")).collect()(0)
    if (bounds.isNullAt(0)) return l.filter(lit(false))
    val (maxO, maxP, maxS) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    (0L to 3L).foreach { i =>
      append(l.filter(col("l_orderkey") % 4 === i), root)
    }
    optimizeZOrderN(spark, root,
      Seq("l_partkey", "l_suppkey", "l_orderkey"), nDirs = 8)
    read(spark, root, colRanges = Map(
      "l_partkey" -> (0L, maxP / 2), "l_suppkey" -> (0L, maxS / 2),
      "l_orderkey" -> (0L, maxO / 2)))
  }

  /** Change-data-feed reader: every row-level change committed in
    * versions (fromV, toV], tagged with `commit_version` and `op`
    * ('I'/'U'/'D') — the table-format change feed a downstream
    * incremental consumer tails instead of re-scanning snapshots.
    *
    * Cost is the point: commits whose change set was RECORDED replay
    * at O(changed rows) — a `delta` commit's dir IS its change set
    * (read verbatim), an `append` commit's new dirs are all-'I', and a
    * `compact` commit is content-preserving (emits nothing) — so
    * tailing a continuously-loaded 100 TB table costs the deltas, not
    * the table. Only commits that REPLACED content without recording
    * what changed (`merge`/`overwrite` on a keyed table) fall back to
    * a keyed full-outer snapshot diff — inherently O(table), kept off
    * the steady-state mergeDelta path and impossible for un-keyed
    * overwrites (no row identity to diff on ⇒ IllegalArgumentException
    * rather than a made-up feed). */
  def changes(spark: SparkSession, root: String, fromV: Int = 0,
    toV: Int = -1): DataFrame = {
    val (fs, rp) = fsFor(spark, root)
    val hi = if (toV >= 0) toV else latestVersion(spark, root)
    require(fromV >= 0 && hi >= fromV,
      s"txtable: bad change range ($fromV, $hi]")
    // a vacuumed horizon cannot be replayed — fail with the cause, not
    // a FileNotFoundException three calls deep (v0 needs no file)
    (math.max(1, fromV) to hi).foreach { v =>
      require(fs.exists(commitPath(rp, v)),
        s"txtable: v$v of $root was vacuumed; change replay must start " +
          "at or after the oldest retained snapshot")
    }
    val opOf: Map[Int, String] = ((fromV + 1) to hi).map { v =>
      v -> commitLines(fs, rp, v)
        .find(_.startsWith("op:")).map(_.drop(3)).getOrElse("?")
    }.toMap
    // Column names drift across mapping-RESET rebirths (a merge/
    // overwrite/compact after renames births its files under the
    // then-LOGICAL names), so batch frames from the two sides of such
    // a boundary disagree on names. Walk the range backwards composing
    // per-version rename maps into the RANGE END's physical namespace
    // so one multi-version feed range unions coherently; rename-only
    // spans keep identical physicals (map stays empty) and a `restore`
    // reset reinstates dirs under their own old physicals (no step).
    val renameToHi: Map[Int, Map[String, String]] = {
      var acc = Map.empty[String, String]
      ((fromV + 1) to hi).reverse.map { v =>
        val here = v -> acc
        val mPrev = snapshotColMap(fs, rp, v - 1)
        if (Set("merge", "overwrite", "compact").contains(opOf(v)) &&
          snapshotColMap(fs, rp, v).isEmpty && mPrev.nonEmpty)
          acc = acc ++ liveMap(mPrev.get).collect {
            case (l, p) if p != l => p -> acc.getOrElse(l, l)
          }
        here
      }.toMap
    }
    val frames = ((fromV + 1) to hi).flatMap { v =>
      val op = opOf(v)
      val prevDirs = snapshotDirs(fs, rp, v - 1).toSet
      val newEntries = snapshotEntries(fs, rp, v)
        .filterNot(e => prevDirs(e.dir))
      def toHiSpace(df: DataFrame): DataFrame = {
        val ren = renameToHi(v)
        if (!df.columns.exists(ren.contains)) df
        else df.select(df.columns.toSeq
          .map(c => col(c).as(ren.getOrElse(c, c))): _*)
      }
      def dirDf(e: Entry) = visibleDirFrame(spark, rp, e)
      val batch: Seq[DataFrame] = op match {
        case "compact" | "rename" | "dropcol" =>
          Seq.empty // same content: new layout / new names only
        case "delta" => newEntries.map(dirDf) // (key..., op, value...)
        // a clone's borrowed dirs are its initial content — inserts,
        // exactly like an append-created table's first commit
        case "append" | "clone" =>
          newEntries.map(e => dirDf(e).withColumn("op", lit("I")))
        case "merge" | "overwrite" | "restore" | "delete" | "update" =>
          // every replace-style commit, including row-level CoW DML
          // (a GDPR deleteWhere, an updateWhere backfill), feeds
          // downstream consumers through the keyed snapshot diff
          val keys = snapshotKeys(fs, rp, v).getOrElse(
            throw new IllegalArgumentException(
              s"txtable: v$v of $root replaced content without a key " +
                "declaration - no row identity to derive a change feed from"))
          // the feed speaks the STABLE physical names (readResolved):
          // a rename never changes feed columns, so downstream CDC
          // consumers survive renames without redeploys
          val cur = readResolved(spark, root, v)
          val prev =
            if (v - 1 > 0) alignedPrev(spark, root, fs, rp, v, cur)
            else cur.filter(lit(false))
          Seq(snapshotDiff(prev, cur, keys))
        case other =>
          throw new IllegalStateException(s"txtable: unknown op '$other'")
      }
      batch.map(df =>
        toHiSpace(df).withColumn("commit_version", lit(v.toLong)))
    }
    if (frames.isEmpty) {
      // empty range over a live table: empty frame in the feed's schema
      val schemaDf = readResolved(spark, root, hi)
      return schemaDf.withColumn("op", lit("I"))
        .withColumn("commit_version", lit(0L)).filter(lit(false))
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = false))
  }

  /** `readResolved(v-1)` carried into version v's PHYSICAL column
    * space for the replace-commit snapshot diff. Within a reset-free
    * span physical names are immutable, so the raw frame already
    * resolves and is served as-is — which also covers a `restore`
    * reset (restored dirs ARE old dirs; prev's physicals match).
    * Only when v is a mapping-RESET rebirth (merge/overwrite/compact
    * after renames: new files born under the LOGICAL names, so cur
    * has columns prev's physical space lacks) does the frame route
    * physical → logical under v-1's map, logical → physical under
    * v's. At such a boundary the feed speaks the CURRENT version's
    * physical names — the names every later commit keeps. */
  private def alignedPrev(spark: SparkSession, root: String,
    fs: FileSystem, rp: Path, v: Int, cur: DataFrame): DataFrame = {
    val raw = readResolved(spark, root, v - 1)
    if (cur.columns.forall(raw.columns.contains)) raw
    else {
      val logical = toLogical(raw, snapshotColMap(fs, rp, v - 1))
      val mTo = snapshotColMap(fs, rp, v)
      logical.select(logical.columns.toSeq
        .map(c => col(c).as(physName(mTo, c))): _*)
    }
  }

  /** I/U/D rows turning `prev` into `cur`, by key: keys only in `cur`
    * are inserts, only in `prev` deletes (values as last seen), in
    * both with any value change updates. The unavoidable O(table)
    * shape behind `changes` for replace-style commits. */
  private def snapshotDiff(prev: DataFrame, cur: DataFrame,
    keyCols: Seq[String]): DataFrame = {
    val valueCols = cur.columns.filterNot(keyCols.contains).toSeq
    val p = prev.select(keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"_p_$c")) :+ lit(true).as("_in_p"): _*)
    val c = cur.select(keyCols.map(col) ++
      valueCols.map(col) :+ lit(true).as("_in_c"): _*)
    c.join(p, keyCols, "full_outer")
      .withColumn("op",
        when(col("_in_p").isNull, lit("I"))
          .when(col("_in_c").isNull, lit("D"))
          .when(valueCols.map(v => !(col(v) <=> col(s"_p_$v")))
            .reduceOption(_ || _).getOrElse(lit(false)), lit("U")))
      .filter(col("op").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("op")) ++
        valueCols.map(v => coalesce(col(v), col(s"_p_$v")).as(v)): _*)
  }

  /** One micro-batch slice of the change feed, at FILE granularity:
    * parquet files whose rows (plus the constant tags) ARE the change
    * rows of `version`. `constOp = Some("I")` for append/clone slices
    * (files hold plain data rows); `None` when the files carry their
    * own `op` column (delta dirs, staged diffs). */
  /** On-disk bytes version `v` ADDED over `v-1` — the sum of the new
    * entries' `_bytes` commit stats. Pure cached-commit-line metadata
    * (no listing, no file open); entries predating byte recording
    * count 0. The streaming source's byte-based admission control
    * prices each version with this. */
  private[sources] def versionAddedBytes(spark: SparkSession, root: String,
    v: Int): Long = {
    val (fs, rp) = fsFor(spark, root)
    val prev = snapshotDirs(fs, rp, v - 1).toSet
    snapshotEntries(fs, rp, v).filterNot(e => prev(e.dir))
      .flatMap(_.stats.get(bytesKey).map(_._1)).sum
  }

  /** Rows version `v` ADDED over `v-1` — the sum of the new entries'
    * `_rows` commit stats; same contract as [[versionAddedBytes]]. */
  private[sources] def versionAddedRows(spark: SparkSession, root: String,
    v: Int): Long = {
    val (fs, rp) = fsFor(spark, root)
    val prev = snapshotDirs(fs, rp, v - 1).toSet
    snapshotEntries(fs, rp, v).filterNot(e => prev(e.dir))
      .flatMap(_.stats.get(rowsKey).map(_._1)).sum
  }

  private[sources] case class ChangeSlice(files: Seq[String],
    constOp: Option[String], version: Int)

  /** The change feed of (fromV, toV] as file slices — the DataSourceV2
    * `planInputPartitions` face of [[changes]]. Driver-side metadata
    * work only, except the documented O(table) fallback: a
    * `merge`/`overwrite`/`restore` commit's keyed snapshot diff is
    * computed ONCE (full Catalyst plan, distributed) and staged to
    * `_changes/v<N>` inside the table; replays and other streams
    * re-serve the staged files. Commits are immutable so the staged
    * content is deterministic; a concurrent staging race is settled by
    * rename atomicity (loser deletes its temp). Every other commit
    * kind serves the COMMITTED parquet files directly — tailing a
    * continuously-loaded 100 TB table moves no data at plan time. */
  private[sources] def changeFileSlices(spark: SparkSession, root: String,
    fromV: Int, toV: Int): Seq[ChangeSlice] = {
    val (fs, rp) = fsFor(spark, root)
    require(fromV >= 0 && toV >= fromV,
      s"txtable: bad change range ($fromV, $toV]")
    (math.max(1, fromV) to toV).foreach { v =>
      require(fs.exists(commitPath(rp, v)),
        s"txtable: v$v of $root was vacuumed; change replay must start " +
          "at or after the oldest retained snapshot")
    }
    def filesOf(dirs: Seq[String]): Seq[String] = {
      val m = listDataFiles(spark, rp, dirs)
      dirs.flatMap(d => m.getOrElse(d, Seq.empty))
    }
    ((fromV + 1) to toV).flatMap { v =>
      val op = commitLines(fs, rp, v)
        .find(_.startsWith("op:")).map(_.drop(3)).getOrElse("?")
      val prevDirs = snapshotDirs(fs, rp, v - 1).toSet
      val newDirs = snapshotEntries(fs, rp, v).map(_.dir)
        .filterNot(prevDirs)
      op match {
        case "compact" | "rename" | "dropcol" =>
          Seq.empty // same content: new layout / new names only
        case "delta" => Seq(ChangeSlice(filesOf(newDirs), None, v))
        case "append" | "clone" =>
          Seq(ChangeSlice(filesOf(newDirs), Some("I"), v))
        case "merge" | "overwrite" | "restore" | "delete" | "update" =>
          val stagedDir = f"_changes/v$v%08d"
          val staged = new Path(rp, stagedDir)
          if (!fs.exists(staged)) {
            val keys = snapshotKeys(fs, rp, v).getOrElse(
              throw new IllegalArgumentException(
                s"txtable: v$v of $root replaced content without a key " +
                  "declaration - no row identity to derive a change feed from"))
            val cur = readResolved(spark, root, v)
            val prev =
              if (v - 1 > 0) alignedPrev(spark, root, fs, rp, v, cur)
              else cur.filter(lit(false))
            val tmp = new Path(rp,
              s"_changes/.tmp-${java.util.UUID.randomUUID()}")
            snapshotDiff(prev, cur, keys)
              .write.mode("overwrite").parquet(tmp.toString)
            fs.mkdirs(new Path(rp, "_changes"))
            // HDFS-semantics rename(tmp, existing-dir) moves tmp
            // INSIDE the dir and returns true — so "rename succeeded"
            // does not mean "we won the stage race". The loser's temp
            // must be removed wherever it landed: delete tmp if it
            // still exists, and sweep any .tmp-* child a concurrent
            // stager nested under the served slice (reads only list
            // files, so a nested dir is dead weight, not corruption).
            fs.rename(tmp, staged)
            if (fs.exists(tmp)) fs.delete(tmp, true)
            if (fs.exists(staged))
              fs.listStatus(staged).filter(s => s.isDirectory &&
                s.getPath.getName.startsWith(".tmp-"))
                .foreach(s => fs.delete(s.getPath, true))
          }
          Seq(ChangeSlice(filesOf(Seq(stagedDir)), None, v))
        case other =>
          throw new IllegalStateException(s"txtable: unknown op '$other'")
      }
    }
  }

  /** Oracle-gated change-feed exercise (q_txtable_changes): the same
    * deterministic orders-derived stream as `cdcGateQuery`, committed
    * as two merge-on-read delta batches plus a compaction, then read
    * back through `changes(0)` — proving the feed replays exactly the
    * recorded per-batch resolved change sets (compaction contributes
    * nothing). The DuckDB oracle recomputes both batches'
    * latest-per-key windows with their version tags. */
  def changesGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-txfeed", dir)
    val changeRows = graft.Tables.orders(spark, dir).select(
      col("o_custkey").as("k"),
      expr("CASE WHEN o_orderkey % 10 = 0 THEN 'D' " +
        "WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END").as("op"),
      col("o_totalprice").as("v"),
      col("o_orderkey").as("seq"))
    val midRow = changeRows.agg(max("seq")).collect()(0)
    if (midRow.isNullAt(0))
      return changeRows.select("k", "op", "v")
        .withColumn("commit_version", lit(0L)).filter(lit(false))
    val mid = midRow.getLong(0) / 2
    mergeDelta(spark, root, changeRows.filter(col("seq") <= mid))
    mergeDelta(spark, root, changeRows.filter(col("seq") > mid))
    compactSnapshot(spark, root)
    changes(spark, root)
  }

  /** SQL twin of [[changesGateQuery]] (q_txtable_changes_sql): the
    * identical two-delta-plus-compaction build, but the feed is
    * consumed through PURE SQL — `CREATE TEMPORARY VIEW ... USING
    * graft-tx OPTIONS (readChangeFeed 'true', startingVersion '1')`
    * then a SELECT — proving a SQL/JDBC CDC consumer (the reference
    * era's incremental-load scripts) can subscribe to the change feed
    * without writing a line of Scala. startingVersion is INCLUSIVE,
    * so 1 covers the same (0, latest] range as `changes(root)`, and
    * the same DuckDB oracle gates both routes. */
  def changesSqlGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-txfeedsql", dir)
    val changeRows = graft.Tables.orders(spark, dir).select(
      col("o_custkey").as("k"),
      expr("CASE WHEN o_orderkey % 10 = 0 THEN 'D' " +
        "WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END").as("op"),
      col("o_totalprice").as("v"),
      col("o_orderkey").as("seq"))
    val midRow = changeRows.agg(max("seq")).collect()(0)
    if (midRow.isNullAt(0))
      return changeRows.select("k", "op", "v")
        .withColumn("commit_version", lit(0L)).filter(lit(false))
    val mid = midRow.getLong(0) / 2
    mergeDelta(spark, root, changeRows.filter(col("seq") <= mid))
    mergeDelta(spark, root, changeRows.filter(col("seq") > mid))
    compactSnapshot(spark, root)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_tx_changes_gate
         |USING `graft-tx` OPTIONS (
         |  path '$root', readChangeFeed 'true', startingVersion '1')
         |""".stripMargin)
    spark.sql(
      "SELECT k, op, v, commit_version FROM graft_tx_changes_gate")
  }

  /** Durable rollback: commit version `toVersion`'s exact entry list
    * as the NEW latest snapshot (op:restore) — time travel makes old
    * versions readable, restore makes one of them the table's forward
    * state, undoing a bad load in one metadata commit while the
    * mistake stays in history for audit. Zero-copy: the restored dirs
    * are the old immutable dirs. Keep vacuum's horizon wide enough to
    * cover restore targets. */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    val (fs, rp) = fsFor(spark, root)
    require(toVersion >= 1 && toVersion <= latestVersion(spark, root),
      s"txtable: cannot restore $root to v$toVersion")
    require(fs.exists(commitPath(rp, toVersion)),
      s"txtable: v$toVersion of $root was vacuumed - nothing to restore")
    val lines = snapshotLines(fs, rp, toVersion)
    commitRetry(spark, root) { prevV =>
      // restoring to a version that predates the column mapping must
      // roll the NAMES back with the data: the target's lines carry no
      // colmap, so without an explicit bare reset commitRetry would
      // re-inject HEAD's mapping and the restore would keep HEAD's
      // renames/drop tombstones over the restored content
      val reset =
        if (!lines.exists(_.startsWith("colmap:")) &&
          snapshotColMap(fs, rp, prevV).isDefined) Seq("colmap:")
        else Seq.empty
      ("restore", reset ++ lines)
    }
  }

  /** ZERO-COPY shallow clone: branch `srcRoot`'s snapshot (current or
    * pinned version) into a new table by writing ONE commit file whose
    * entries reference the source's immutable data dirs by absolute
    * path — no data moves, clone cost is metadata-only whatever the
    * table size. The clone then evolves independently (its appends/
    * deltas/compactions land under its own root; the source never sees
    * them) — the dev/test-branch workflow over a production table.
    * Like every shallow clone, it borrows the source's files: vacuuming
    * the SOURCE below the cloned version invalidates the clone
    * (compact the clone first to materialize it). */
  def cloneAt(spark: SparkSession, srcRoot: String, dstRoot: String,
    version: Int = -1): Int = {
    val (fs, srp) = fsFor(spark, srcRoot)
    val v = if (version >= 0) version else latestVersion(spark, srcRoot)
    require(v > 0, s"txtable: nothing to clone at $srcRoot")
    require(latestVersion(spark, dstRoot) == 0,
      s"txtable: clone target $dstRoot already exists")
    val absolute = snapshotEntries(fs, srp, v).map { e =>
      val abs = new Path(srp, e.dir)
        .makeQualified(fs.getUri, fs.getWorkingDirectory)
      e.copy(dir = abs.toUri.getPath)
    }
    val headers =
      snapshotKeys(fs, srp, v).map(ks => s"key:${ks.mkString(",")}").toSeq ++
        (snapshotStatsCols(fs, srp, v) match {
          case Seq() => Seq.empty
          case cs => Seq(s"statscol:${cs.mkString(",")}")
        }) ++
        // the clone borrows the source's physical files, so it must
        // borrow the cloned version's column mapping with them — a
        // clone of a renamed table reads under the renamed names
        snapshotColMap(fs, srp, v).map(colMapLine).toSeq
    commitRetry(spark, dstRoot) { prevV =>
      require(prevV == 0, s"txtable: clone target $dstRoot gained commits")
      ("clone", headers ++ absolute.map(_.line))
    }
  }

  /** Metadata-only COUNT(*): per-dir row counts ride the stats grammar
    * (pseudo-column `_rows`, recorded by every writer since this
    * version), so the table's cardinality answers from the commit file
    * alone — zero data I/O, the table-format trick behind instant
    * `SELECT count(*)`. None when any dir predates row counting or
    * deltas are pending (a delta's net effect on cardinality needs
    * resolution — never guess). */
  def rowCount(spark: SparkSession, root: String,
    version: Int = -1): Option[Long] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return None
    val counts = entries.map(_.stats.get(rowsKey).map(_._1))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }
  private val rowsKey = "_rows"

  /** The commit's NDV header line (`ndv:<analyzedVersion>;<phys>=<n>,
    * ...`), carried forward by every commit like the column mapping. */
  private def ndvLineOf(fs: FileSystem, rp: Path, v: Int): Option[String] =
    if (v <= 0) None
    else commitLines(fs, rp, v).find(_.startsWith("ndv:"))

  private def histLinesOf(fs: FileSystem, rp: Path, v: Int): Seq[String] =
    if (v <= 0) Seq.empty
    else commitLines(fs, rp, v).filter(_.startsWith("hist:"))

  /** Equi-height histograms of snapshot `version` by LOGICAL name —
    * (height, bins as (lo, hi, ndv)) — served ONLY while provably
    * fresh (the analyze-time entry multiset is unchanged; a stale
    * distribution would misprice filters worse than none). Malformed
    * lines are dropped, never misparsed. */
  private val histCache: java.util.Map[
    String, (Int, Map[String, (Double, Seq[(Double, Double, Long)])])] =
    lruMap(1024)
  private[graft] def columnHistograms(spark: SparkSession, root: String,
    version: Int = -1)
    : Map[String, (Double, Seq[(Double, Double, Long)])] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return Map.empty
    val lines = histLinesOf(fs, rp, v)
    if (lines.isEmpty) return Map.empty
    // the freshness proof below reads and sorts the full entry list of
    // BOTH the current and the analyze-time snapshot — cache the
    // parsed result per (root, version), validated by the commit's own
    // (FileStatus-checked) line text like hllNdvCache, so repeated
    // planning calls pay O(1), and a recreated table at the same path
    // can never serve the ghost's distributions
    val cacheKey = rp.makeQualified(fs.getUri, fs.getWorkingDirectory)
      .toString + "#" + v
    val sig = commitLines(fs, rp, v).hashCode
    val cached = histCache.get(cacheKey)
    if (cached != null && cached._1 == sig) return cached._2
    val m = snapshotColMap(fs, rp, v)
    def logicalOf(p: String): Option[String] = m match {
      case Some(mm) => liveMap(mm).find(_._2 == p).map(_._1)
      case None => Some(p)
    }
    // one freshness proof per distinct analyze version, not per line
    val freshAv = scala.collection.mutable.HashMap[String, Boolean]()
    def freshAt(av: String): Boolean = freshAv.getOrElseUpdate(av,
      av.nonEmpty && av.forall(_.isDigit) &&
        (try snapshotEntries(fs, rp, v).map(_.line).sorted ==
          snapshotEntries(fs, rp, av.toInt).map(_.line).sorted
        catch { case scala.util.control.NonFatal(_) => false }))
    val out = lines.flatMap { line =>
      val segs = line.drop(5).split(";")
      if (segs.length < 4) None
      else {
        if (!freshAt(segs(0))) None
        else {
          val parsed = scala.util.Try {
            val height = segs(2).toDouble
            val bins = segs.drop(3).toSeq.map { b =>
              val Array(lo, hi, nd) = b.split(",")
              (lo.toDouble, hi.toDouble, nd.toLong)
            }
            (height, bins)
          }.toOption
          for (l <- logicalOf(segs(1)); pb <- parsed) yield l -> pb
        }
      }
    }.toMap
    histCache.put(cacheKey, (sig, out))
    out
  }

  /** ANALYZE TABLE — record per-column distinct-value counts in the
    * commit log, the statistic the cost-based optimizer needs for join
    * ordering and selectivity that per-dir min/max can't supply. ONE
    * distributed aggregation pass over the snapshot (HyperLogLog++
    * partial aggregates, map-side combined — `exact = true` swaps in
    * true COUNT(DISTINCT) for oracle-grade numbers at test scale),
    * then one metadata commit carrying an `ndv:` header; every later
    * commit carries the header forward, so the estimates serve until
    * the next analyze (read side clamps them to the live row count —
    * stale means imprecise, never absurd). The distinct-counting
    * semantic of the reference's aggregate library
    * (src/mapred/org/apache/hadoop/mapred/lib/aggregate/
    * UniqValueCount.java:1), persisted as table metadata the way
    * ANALYZE TABLE does in warehouse SQL engines. Columns are LOGICAL
    * names; counts are recorded under the immutable PHYSICAL names so
    * renames never orphan them. */
  def analyze(spark: SparkSession, root: String,
    cols: Seq[String] = Seq.empty, exact: Boolean = false,
    rsd: Double = 0.05, histograms: Boolean = false,
    histogramBins: Int = 64): Int = {
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to analyze at $root")
      val df = read(spark, root, version = prevV)
      val targets =
        if (cols.nonEmpty) cols.distinct
        else df.schema.fields.collect {
          case f if ndvCountable(f.dataType) => f.name
        }.toSeq
      require(targets.nonEmpty, s"txtable: no analyzable columns at $root")
      targets.foreach(c => require(df.columns.contains(c),
        s"txtable: no column '$c' to analyze at $root"))
      val m = snapshotColMap(fs, rp, prevV)
      val phys = targets.map(physName(m, _))
      // the ndv grammar borrows colmap's separators plus ';'
      phys.foreach(p => require(validColName(p) && !p.contains(";"),
        s"txtable: column '$p' cannot carry ndv stats " +
          "(empty or reserved character)"))
      // the same pass also counts NULLs per column: the cost-based
      // optimizer's join estimation demands (ndv AND nullCount) on a
      // join key before it will price the join at all — NDV alone
      // leaves multi-way joins unordered. Encoded `p=<ndv>~<nulls>`.
      val aggs = targets.map(c =>
        (if (exact) count_distinct(col(c))
         else approx_count_distinct(col(c), rsd)).cast("long")) ++
        targets.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long"))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      def nullsOf(i: Int): Long =
        if (r.isNullAt(targets.length + i)) 0L
        else r.getLong(targets.length + i)
      val body = phys.zipWithIndex
        .map { case (p, i) => s"$p=${r.getLong(i)}~${nullsOf(i)}" }
        .mkString(",")
      // exact counts carry a '!' on the version token — downstream,
      // COUNT(DISTINCT) may substitute them only when provably fresh
      val vTok = if (exact) s"$prevV!" else s"$prevV"
      val histLines = if (!histograms) Seq.empty
        else analyzeHistograms(df, targets, phys, nullsOf, prevV,
          histogramBins,
          rowCount(spark, root, prevV).getOrElse(df.count()))
      ("analyze", (s"ndv:$vTok;$body" +: histLines) ++
        snapshotLines(fs, rp, prevV))
    }
  }

  /** EQUI-HEIGHT HISTOGRAMS for ANALYZE (`histograms = true`): the
    * per-column value-distribution statistic Spark's own
    * `spark.sql.statistics.histogram.enabled` ANALYZE computes, here
    * riding `hist:` commit headers so the cost-based optimizer can
    * price FILTERED legs (a uniform-range heuristic on skewed data
    * misestimates a selective filter by orders of magnitude — see
    * CboStatsSpec). Same two-pass algorithm as Spark: one
    * approx-percentile pass finds the `bins + 1` equi-height
    * endpoints for EVERY numeric/date column at once, one
    * `ApproxCountDistinctForIntervals` pass counts each bin's NDV.
    * Line grammar: `hist:<v>;<phys>;<height>;<lo>,<hi>,<ndv>;...` —
    * one line per column, carried by every commit until the next
    * analyze re-declares (the `ndv:` discipline), served only while
    * PROVABLY FRESH (entry multiset unchanged). */
  private def analyzeHistograms(df: DataFrame, targets: Seq[String],
    phys: Seq[String], nullsOf: Int => Long, prevV: Int,
    bins: Int, total: Long): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, DateType, DoubleType, NumericType, TimestampType}
    require(bins >= 2 && bins <= 1024,
      s"txtable: histogramBins must be in [2, 1024], got $bins")
    val hIdx = targets.zipWithIndex.filter { case (c, _) =>
      df.schema(c).dataType match {
        case _: NumericType | DateType | TimestampType => true
        case _ => false
      }
    }
    if (hIdx.isEmpty) return Seq.empty
    def dcol(c: String) = df.schema(c).dataType match {
      case DateType =>
        datediff(col(c), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val probs = lit((0 to bins).map(_.toDouble / bins).toArray)
    // pass 1: all columns' endpoint arrays in ONE aggregate
    val pAggs = hIdx.map { case (c, _) =>
      percentile_approx(dcol(c), probs, lit(10000)) }
    val pRow = df.agg(pAggs.head, pAggs.tail: _*).collect()(0)
    val eps: Seq[Option[Seq[Double]]] = hIdx.indices.map(j =>
      if (pRow.isNullAt(j)) None else Some(pRow.getSeq[Double](j)))
    val live = hIdx.zip(eps).collect { case ((c, i), Some(e)) => (c, i, e) }
    if (live.isEmpty) return Seq.empty
    // pass 2: per-bin NDV for EVERY column in one job — each row
    // explodes to (columnIdx, bin, value) and an approx distinct
    // count per (column, bin) comes back (≤ cols × bins groups,
    // map-side combined). The bin is the endpoint-rank of the value
    // in ITS column's equi-height endpoints, clamped to [0, bins).
    val structs = live.map { case (c, _, e) =>
      val d = dcol(c)
      // rank = |{endpoints <= v}| by a BINARY-SEARCH case tree over
      // the sorted endpoints — O(log bins) comparisons per row where
      // the old linear fold paid O(bins); identical result (standard
      // upper bound over a nondecreasing array, NULLs rank 0 exactly
      // as the fold's when(...).otherwise(0) did)
      def rank(lo: Int, hi: Int): org.apache.spark.sql.Column =
        if (lo == hi) lit(lo)
        else {
          val mid = (lo + hi) / 2
          when(d >= e(mid), rank(mid + 1, hi)).otherwise(rank(lo, mid))
        }
      struct(least(greatest(rank(0, e.size) - 1, lit(0)),
        lit(bins - 1)).as("bin"), d.as("v"))
    }
    val ndvMap: Map[(Int, Int), Long] =
      df.select(posexplode(array(structs: _*)))
        .select(col("pos"), col("col.bin").as("bin"), col("col.v").as("v"))
        .groupBy("pos", "bin")
        .agg(approx_count_distinct(col("v")).as("nd"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    live.zipWithIndex.flatMap { case ((c, i, e), j) =>
      val nn = total - nullsOf(i)
      if (nn <= 0) None
      else {
        val height = nn.toDouble / bins
        Some(s"hist:$prevV;${phys(i)};$height;" +
          (0 until bins).map(b =>
            s"${e(b)},${e(b + 1)},${ndvMap.getOrElse((j, b), 0L)}")
            .mkString(";"))
      }
    }
  }

  private def ndvCountable(dt: org.apache.spark.sql.types.DataType)
    : Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.StringType |
      org.apache.spark.sql.types.BooleanType |
      org.apache.spark.sql.types.DateType |
      org.apache.spark.sql.types.TimestampType => true
    case _ => false
  }

  /** True when snapshot `v`'s entry multiset is identical to the
    * version the ndv header was recorded at — data dirs are immutable,
    * so identical entries mean the analyze-time numbers still describe
    * exactly this data. */
  private def analyzeIsFresh(fs: FileSystem, rp: Path, v: Int,
    line: String): Boolean = {
    val payload = line.drop(4)
    val vTok = payload.take(payload.indexOf(';'))
    val av = vTok.stripSuffix("!")
    av.nonEmpty && av.forall(_.isDigit) &&
      (try snapshotEntries(fs, rp, v).map(_.line).sorted ==
        snapshotEntries(fs, rp, av.toInt).map(_.line).sorted
      catch { case scala.util.control.NonFatal(_) => false })
  }

  /** Raw sketch bytes for every (live entry, col) pair: inline base64
    * decodes driver-side; blobs spilled past the inline cap resolve
    * from their in-dir sidecars with ONE pooled pass of small reads.
    * A pair whose sidecar is missing or unreadable is simply ABSENT —
    * callers treat an absent pair as making the column unservable
    * (the blob-less-dir discipline), never silently under-counted. */
  private def resolveHllBlobs(fs: FileSystem, rp: Path,
    live: Seq[Entry], cols: Set[String])
    : Map[(String, String), Array[Byte]] = {
    val inline = for {
      e <- live; c <- cols
      b64 <- e.hstats.get(c) if b64 != hllSpillMarker
    } yield ((e.dir, c), java.util.Base64.getDecoder.decode(b64))
    val wantSpill = live.flatMap(e => cols.collect {
      case c if e.hstats.get(c).contains(hllSpillMarker) => (e.dir, c) })
    val sidecars: Seq[((String, String), Array[Byte])] =
      if (wantSpill.isEmpty) Seq.empty
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, wantSpill.size))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: Seq[java.util.concurrent.Callable[
            ((String, String), Option[Array[Byte]])]] =
            wantSpill.map { case (d, c) =>
              () => {
                val p = hllSidecarPath(rp, d, c)
                val bytes =
                  try {
                    val n = fs.getFileStatus(p).getLen.toInt
                    val buf = new Array[Byte](n)
                    val in = fs.open(p)
                    try in.readFully(0, buf) finally in.close()
                    Some(buf)
                  } catch { case _: java.io.IOException => None }
                ((d, c), bytes)
              }
            }
          pool.invokeAll(tasks.asJava).asScala
            .flatMap(f => f.get() match {
              case (k, Some(b)) => Some(k -> b)
              case _ => None
            }).toSeq
        } finally pool.shutdown()
      }
    (inline ++ sidecars).toMap
  }

  /** Metadata-only GROUPED NDV: per distinct partition tuple, the
    * approximate COUNT(DISTINCT `col`) from merging that group's
    * per-dir HLL register blobs driver-side — `GROUP BY day →
    * approx distinct users` over a 100 TB partitioned table with
    * ZERO data I/O. Register unions are order-independent, so the
    * estimate is a DETERMINISTIC function of each group's data
    * multiset (~1.6% relative error at lgK=12). Same clustering
    * proof as [[metadataGroupedAgg]]: delta-free snapshot, every
    * live dir single-valued AND provably null-free on every group
    * column, plus a readable sketch blob for `col` in every live
    * dir. None → caller falls back to the scan. Empty `groupCols`
    * serves the scalar (whole-table) estimate. */
  private[graft] def metadataGroupedNdv(spark: SparkSession,
    root: String, version: Int, groupCols: Seq[String], col: String)
    : Option[Seq[(Seq[Any], Long)]] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return None
    if (entries.exists(e => !e.stats.contains(rowsKey))) return None
    val m = snapshotColMap(fs, rp, v)
    val pgs = groupCols.map(physName(m, _))
    val pc = physName(m, col)
    val live = entries.filter(_.stats(rowsKey)._1 > 0)
    // a positional delete leaves deleted values inside the per-dir
    // sketches — the merged estimate would describe data the snapshot
    // no longer serves, so any pd-carrying dir makes the whole
    // grouped-NDV answer unservable (never silently wrong)
    if (live.exists(_.pdels.nonEmpty)) return None
    val ok = live.forall { e =>
      pgs.forall { pg =>
        dirExactValue(e, pg).isDefined &&
          e.stats.get(s"$nullsPrefix$pg").exists(_._1 == 0L)
      } && e.hstats.contains(pc)
    }
    if (!ok) return None
    val blobs = resolveHllBlobs(fs, rp, live, Set(pc))
    if (live.exists(e => !blobs.contains((e.dir, pc)))) return None
    val out = live.groupBy(e => pgs.map(pg => dirExactValue(e, pg).get))
      .toSeq.map { case (gvs, es) =>
        val u = new org.apache.datasketches.hll.Union(hllLgK)
        es.foreach(e => u.update(org.apache.datasketches.hll.HllSketch
          .heapify(blobs((e.dir, pc)))))
        // no 1-clamp here (unlike the CBO ladder): an all-NULL group
        // genuinely has 0 distinct values, and approx_count_distinct
        // must say so
        (gvs, math.max(0L, math.round(u.getResult.getEstimate)))
      }.sortBy(t => tupleSortKey(t._1))
    Some(out)
  }

  /** ALWAYS-FRESH NDV from the per-dir `hll:` register blobs, by
    * PHYSICAL name: merge the live dirs' sketches driver-side (cached
    * per root+version+entry-multiset — snapshots are immutable, but a
    * recreate at the same path must never serve the ghost). A column
    * qualifies only when EVERY live dir carries its blob — one
    * blob-less dir (a pre-HLL commit, a zero-job staged promote)
    * makes the column unservable rather than silently under-counted. */
  // access-ordered LRU: a busy multi-table driver crossing the bound
  // evicts one cold entry, not (the old clear()) every table's merged
  // sketches at once
  private def lruMap[V](cap: Int): java.util.Map[String, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
        override def removeEldestEntry(
          e: java.util.Map.Entry[String, V]): Boolean = size > cap
      })
  private val hllNdvCache: java.util.Map[String, (Int, Map[String, Long])] =
    lruMap(1024)
  private def mergedNdvPhys(fs: FileSystem, rp: Path,
    v: Int): Map[String, Long] = {
    if (v == 0) return Map.empty
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return Map.empty
    val live = entries.filter(_.stats.get(rowsKey).exists(_._1 > 0))
    if (live.isEmpty || live.exists(_.hstats.isEmpty)) return Map.empty
    val key = rp.makeQualified(fs.getUri, fs.getWorkingDirectory)
      .toString + "#" + v
    val sig = live.map(_.line).hashCode
    val cached = hllNdvCache.get(key)
    if (cached != null && cached._1 == sig) return cached._2
    val cols0 = live.head.hstats.keySet
      .filter(c => live.forall(_.hstats.contains(c)))
    val blobs = resolveHllBlobs(fs, rp, live, cols0)
    val cols = cols0.filter(c =>
      live.forall(e => blobs.contains((e.dir, c))))
    val out = cols.map { c =>
      val u = new org.apache.datasketches.hll.Union(hllLgK)
      live.foreach(e => u.update(
        org.apache.datasketches.hll.HllSketch.heapify(blobs((e.dir, c)))))
      c -> math.max(1L, math.round(u.getResult.getEstimate))
    }.toMap
    hllNdvCache.put(key, (sig, out))
    out
  }

  /** LOGICAL-name NDV estimates of snapshot `version`, best source
    * first: the `ndv:` analyze header when PROVABLY FRESH (entries
    * unchanged since the analyze — exact-grade numbers), else the
    * merged per-dir HLL sketches (always-current registers, ~1.6%
    * error, no rescan ever), else the stale header clamped to the
    * live row count (imprecise, never absurd). Physical columns
    * dropped since the analyze are omitted. Empty when neither source
    * exists. */
  private[graft] def columnNdv(spark: SparkSession, root: String,
    version: Int = -1): Map[String, Long] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return Map.empty
    val m = snapshotColMap(fs, rp, v)
    val cap = rowCount(spark, root, v)
    def clamp(n: Long): Long = cap.fold(n)(math.min(n, _))
    // with a mapping, only LIVE physicals have a logical face
    def logicalOf(p: String): Option[String] = m match {
      case Some(mm) => liveMap(mm).find(_._2 == p).map(_._1)
      case None => Some(p)
    }
    val headerLine = ndvLineOf(fs, rp, v)
    val header: Map[String, Long] = headerLine.map { line =>
      val payload = line.drop(4)
      val sep = payload.indexOf(';')
      payload.drop(sep + 1).split(",").toSeq.flatMap { kv =>
        val i = kv.lastIndexOf('=')
        if (i <= 0) None
        else {
          val p = kv.substring(0, i)
          // `<ndv>` (pre-r12 headers) or `<ndv>~<nulls>`
          val n = kv.substring(i + 1).takeWhile(_ != '~')
          if (n.nonEmpty && n.forall(_.isDigit))
            logicalOf(p).map(_ -> clamp(n.toLong))
          else None
        }
      }.toMap
    }.getOrElse(Map.empty)
    if (headerLine.exists(analyzeIsFresh(fs, rp, v, _))) header
    else {
      val merged = mergedNdvPhys(fs, rp, v).flatMap { case (p, n) =>
        logicalOf(p).map(_ -> clamp(n))
      }
      // merged registers describe THIS snapshot — they override a
      // stale header; the header still fills non-sketched columns
      header ++ merged
    }
  }

  /** Per-column NULL counts recorded by the last ANALYZE, by LOGICAL
    * name — served ONLY when the header is provably fresh (entries
    * unchanged since the analyze): unlike NDV there is no sound way
    * to clamp a stale null count, and the per-dir `n,<col>` stats
    * already cover declared statsCols exactly. What this adds is
    * nullCount for analyzed-but-unstatted columns — the missing half
    * of the (ndv, nullCount) pair the CBO's join estimation requires
    * before it prices a join key at all. */
  private[graft] def analyzeNullCounts(spark: SparkSession, root: String,
    version: Int = -1): Map[String, Long] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return Map.empty
    ndvLineOf(fs, rp, v).filter(analyzeIsFresh(fs, rp, v, _)).map { line =>
      val payload = line.drop(4)
      val sep = payload.indexOf(';')
      val m = snapshotColMap(fs, rp, v)
      def logicalOf(p: String): Option[String] = m match {
        case Some(mm) => liveMap(mm).find(_._2 == p).map(_._1)
        case None => Some(p)
      }
      payload.drop(sep + 1).split(",").toSeq.flatMap { kv =>
        val i = kv.lastIndexOf('=')
        val t = if (i <= 0) -1 else kv.indexOf('~', i)
        if (t < 0) None
        else {
          val n = kv.substring(t + 1)
          if (n.nonEmpty && n.forall(_.isDigit))
            logicalOf(kv.substring(0, i)).map(_ -> n.toLong)
          else None
        }
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Exact COUNT(DISTINCT) substitutes for snapshot `version`, by
    * LOGICAL name: nonempty only when the ndv header was recorded
    * with `exact = true` AND the snapshot's entry multiset is
    * IDENTICAL to the analyzed snapshot's — data dirs are immutable,
    * so identical entries mean identical data: a later metadata-only
    * commit (a rename, the analyze commit itself) preserves
    * exactness, any data commit voids it and this returns empty. The
    * freshness proof is two cached commit reads; a vacuumed analyze
    * version simply fails the proof. */
  private[graft] def exactNdv(spark: SparkSession, root: String,
    version: Int = -1): Map[String, Long] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return Map.empty
    ndvLineOf(fs, rp, v).map { line =>
      val payload = line.drop(4)
      val vTok = payload.take(payload.indexOf(';'))
      val fresh = vTok.endsWith("!") && analyzeIsFresh(fs, rp, v, line)
      if (fresh) columnNdv(spark, root, v) else Map.empty[String, Long]
    }.getOrElse(Map.empty)
  }

  /** DESCRIBE STATISTICS — one row per requested column: NDV (from the
    * last analyze), null count, and min/max, assembled ENTIRELY from
    * commit metadata (zero data I/O at any table size). Absent stats
    * are NULL, never guessed. */
  def describeStats(spark: SparkSession, root: String,
    cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val v = latestVersion(spark, root)
    val ndv = columnNdv(spark, root, v)
    val aNulls = analyzeNullCounts(spark, root, v)
    val (ranges, nulls) = metadataAgg(spark, root, v, cols, cols)
      .map(t => (t._2, t._3))
      .getOrElse((Map.empty[String, (Long, Long)], Map.empty[String, Long]))
    cols.map { c =>
      (c, ndv.get(c), nulls.get(c).orElse(aNulls.get(c)),
        ranges.get(c).map(_._1), ranges.get(c).map(_._2))
    }.toDF("col_name", "ndv", "nulls", "min_v", "max_v")
  }

  /** Metadata-only scalar aggregate: COUNT(*) plus exact MIN/MAX for
    * the requested logical columns, answered from the commit's per-dir
    * stats with ZERO data I/O — the move that turns `SELECT count(*),
    * min(k), max(k)` on a 100 TB table into a commit-file read
    * (Delta/Iceberg answer these from their file stats the same way).
    * Sound because integral dir stats are EXACT per-dir min/max (string
    * stats are truncated bounds and are deliberately excluded), and
    * SQL MIN/MAX skip NULLs exactly like the write-side stat
    * aggregates. None (caller falls back to the scan) when: empty
    * table, any MoR delta entry (deltas supersede base rows), any
    * entry without `_rows`, or any live dir missing a requested
    * column's stat. Columns are logical — translated through the
    * snapshot's column mapping like every other read-side lookup. */
  private[graft] def metadataAgg(spark: SparkSession, root: String,
    version: Int, cols: Seq[String], countCols: Seq[String] = Seq.empty)
    : Option[(Long, Map[String, (Long, Long)], Map[String, Long])] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return None
    if (entries.exists(e => !e.stats.contains(rowsKey))) return None
    val m = snapshotColMap(fs, rp, v)
    val total = entries.map(_.stats(rowsKey)._1).sum
    val live = entries.filter(_.stats(rowsKey)._1 > 0)
    // positional deletes keep `_rows` EXACT (adjusted at delete time)
    // but make min/max potentially unattained and nulls a stale upper
    // bound: COUNT(*) stays servable; ranges are vetoed outright; a
    // null count serves only where every pd-carrying dir recorded 0
    // (zero can neither shrink nor grow under deletion)
    val pdLive = live.filter(_.pdels.nonEmpty)
    val ranges =
      if (pdLive.nonEmpty) Map.empty[String, (Long, Long)]
      else cols.distinct.flatMap { c =>
        val pc = physName(m, c)
        val ss = live.map(_.stats.get(pc))
        if (live.isEmpty || ss.exists(_.isEmpty)) None
        else Some(c -> (ss.flatten.map(_._1).min, ss.flatten.map(_._2).max))
      }.toMap
    // count(c) = _rows - sum of per-dir null counts; exact iff every
    // live dir carries the `n,<c>` stat (recorded for every integral
    // stats column at write time)
    val nulls = countCols.distinct.flatMap { c =>
      val pc = s"$nullsPrefix${physName(m, c)}"
      val ss = live.map(_.stats.get(pc))
      if (ss.exists(_.isEmpty)) None
      else if (pdLive.exists(!_.stats.get(pc).exists(_._1 == 0L))) None
      else Some(c -> ss.flatten.map(_._1).sum)
    }.toMap
    Some((total, ranges, nulls))
  }

  /** Metadata-only GROUP BY a single-valued column: per distinct
    * value, (value, COUNT(*), per-column exact MIN/MAX) from the
    * commit stats alone — the partitioned-table "row counts per
    * partition" answered with zero data I/O at any table size. Safe
    * only when every live dir is (a) single-valued on the group
    * column (stat lo == hi) AND (b) PROVABLY NULL-free on it via the
    * `n,<col>` null-count stat — min/max stats skip NULLs, so without
    * (b) a dir could hide NULL-group rows inside its `_rows` count.
    * `appendPartitioned` dirs satisfy both by construction; plain
    * appends qualify when their data happens to be dir-clustered.
    * None → caller falls back to the scan. */
  /** The single-valued key of dir `e` on physical column `pg`: the
    * exact integral value when the range stat proves `lo == hi`, the
    * decoded `sx:` exact string otherwise. None = the dir spans
    * values (or predates the stat) and no clustering is provable. */
  private def dirExactValue(e: Entry, pg: String): Option[Any] =
    e.stats.get(pg).collect { case (lo, hi) if lo == hi => lo: Any }
      .orElse(e.xvals.get(pg).flatMap(hexDec(_).map(identity[Any])))

  /** Deterministic ordering for mixed Long/String key tuples (group
    * output and scan-unit order must be stable across planners). */
  private def tupleSortKey(vs: Seq[Any]): String =
    vs.map {
      case l: Long => f"l$l%020d" // fixed width keeps numeric order
      case s => "s" + s.toString
    }.mkString("\u0000")

  private[graft] def metadataGroupedAgg(spark: SparkSession, root: String,
    version: Int, groupCols: Seq[String], cols: Seq[String],
    countCols: Seq[String] = Seq.empty)
    : Option[Seq[(Seq[Any], Long, Map[String, (Long, Long)],
      Map[String, Long])]] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return None
    if (entries.exists(e => !e.stats.contains(rowsKey))) return None
    val m = snapshotColMap(fs, rp, v)
    val pgs = groupCols.map(physName(m, _))
    val live = entries.filter(_.stats(rowsKey)._1 > 0)
    // every live dir single-valued (integral lo == hi, or the string
    // `sx:` exact marker) AND provably NULL-free on EVERY group column
    // — the composite analog of the single-key proof
    val ok = live.forall { e => pgs.forall { pg =>
      dirExactValue(e, pg).isDefined &&
        e.stats.get(s"$nullsPrefix$pg").exists(_._1 == 0L)
    } }
    if (!ok) return None
    val out = live.groupBy(e => pgs.map(pg => dirExactValue(e, pg).get))
      .toSeq.map { case (gvs, es) =>
        // grouped COUNT stays exact under positional deletes (_rows
        // adjusted; single-valuedness/null-freedom survive deletion);
        // ranges/nulls follow the metadataAgg pd discipline
        val pdEs = es.filter(_.pdels.nonEmpty)
        val cnt = es.map(_.stats(rowsKey)._1).sum
        val ranges =
          if (pdEs.nonEmpty) Map.empty[String, (Long, Long)]
          else cols.distinct.flatMap { c =>
            val pc = physName(m, c)
            val ss = es.map(_.stats.get(pc))
            if (ss.exists(_.isEmpty)) None
            else Some(c -> (ss.flatten.map(_._1).min,
              ss.flatten.map(_._2).max))
          }.toMap
        val nulls = countCols.distinct.flatMap { c =>
          val pc = s"$nullsPrefix${physName(m, c)}"
          val ss = es.map(_.stats.get(pc))
          if (ss.exists(_.isEmpty)) None
          else if (pdEs.exists(!_.stats.get(pc).exists(_._1 == 0L))) None
          else Some(c -> ss.flatten.map(_._1).sum)
        }.toMap
        (gvs, cnt, ranges, nulls)
      }.sortBy(t => tupleSortKey(t._1))
    Some(out)
  }

  /** Partition-clustered FILE layout of snapshot `version` on LOGICAL
    * `partCol`: per distinct value, every data file holding that
    * value's rows, plus the snapshot's column mapping (so a caller can
    * translate its read schema to physical file names). None unless
    * the clustering is provable from the commit alone — delta-free,
    * every live dir single-valued (stat lo == hi) AND null-free
    * (`n,<col>` == 0) on the column; `appendPartitioned` snapshots
    * qualify by construction. Powers the storage-partitioned V2 batch
    * scan (`TxSpjScan`): one scan unit per value, so two tables
    * clustered on the same column JOIN WITHOUT A SHUFFLE. */
  private[sources] def partitionFileSlices(spark: SparkSession,
    root: String, version: Int, partCols: Seq[String])
    : Option[(Seq[(Seq[Any], Seq[String])],
      Option[Seq[(String, String)]])] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return None
    if (entries.exists(e => !e.stats.contains(rowsKey))) return None
    val m = snapshotColMap(fs, rp, v)
    val pgs = partCols.map(physName(m, _))
    val live = entries.filter(_.stats(rowsKey)._1 > 0)
    // clustering is provable iff EVERY live dir is single-valued and
    // null-free on EVERY partition key column — the multi-key analog
    // of the single-column proof (a dir spanning two key tuples can
    // never be assigned one partition). Integral keys prove via
    // `lo == hi` range stats, string keys via the `sx:` exact marker
    // (the truncation-widened `str:` bounds deliberately don't count).
    // the SPJ readers scan RAW parquet files (TxParquetIO) and never
    // apply positional-delete sidecars — a pd-carrying dir therefore
    // fails the clustering proof loudly rather than serving deleted
    // rows (compaction folds the deletes and restores the face)
    val ok = live.nonEmpty && live.forall { e => e.pdels.isEmpty &&
      pgs.forall { pg =>
      dirExactValue(e, pg).isDefined &&
        e.stats.get(s"$nullsPrefix$pg").exists(_._1 == 0L)
    } }
    if (!ok) return None
    val filesByDir = listDataFiles(spark, rp, live.map(_.dir))
    val slices = live.groupBy(e => pgs.map(pg => dirExactValue(e, pg).get))
      .toSeq.map { case (gvs, es) =>
        gvs -> es.flatMap(e => filesByDir.getOrElse(e.dir, Seq.empty))
      }.sortBy(t => tupleSortKey(t._1))
    Some((slices, m))
  }

  /** Hash-bucket-clustered FILE layout of snapshot `version`:
    * `(logicalBucketCol, numBuckets, per-bucket files, colMap)` —
    * None unless the clustering is provable from the commit alone
    * (a `bucketby:` header AND delta-free, pd-free entries each
    * carrying the writer-minted `_bucket` id stat; a compaction or
    * row-level rewrite that re-dirs the files loses the stat and the
    * face degrades to a plain scan rather than wrong-answering).
    * Powers the bucketed storage-partitioned V2 scan: one scan unit
    * per bucket id, so two same-bucketed tables join on the key with
    * zero Exchange. */
  private[sources] def bucketFileSlices(spark: SparkSession,
    root: String, version: Int)
    : Option[(String, Int, Seq[(Int, Seq[String])],
      Option[Seq[(String, String)]])] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(spark, root)
    if (v == 0) return None
    val (physB, n) = bucketSpecAt(fs, rp, v).getOrElse(return None)
    val entries = snapshotEntries(fs, rp, v)
    if (entries.isEmpty || entries.exists(_.isDelta)) return None
    if (entries.exists(e => !e.stats.contains(rowsKey))) return None
    val m = snapshotColMap(fs, rp, v)
    val logicalB = m.flatMap(_.collectFirst {
      case (l, p) if p == physB => l
    }).getOrElse(physB)
    val live = entries.filter(_.stats(rowsKey)._1 > 0)
    val ok = live.nonEmpty && live.forall { e =>
      e.pdels.isEmpty && e.stats.get(bucketStatKey).exists {
        case (lo, hi) => lo == hi && lo >= 0 && lo < n
      }
    }
    if (!ok) return None
    val filesByDir = listDataFiles(spark, rp, live.map(_.dir))
    val slices = live.groupBy(_.stats(bucketStatKey)._1.toInt).toSeq
      .map { case (id, es) =>
        id -> es.flatMap(e => filesByDir.getOrElse(e.dir, Seq.empty))
      }.sortBy(_._1)
    Some((logicalB, n, slices, m))
  }

  /** SHOW PARTITIONS — metadata-only partition introspection for a
    * partition-clustered graft-tx table: one row per distinct
    * partition tuple with its directory / row / byte tallies, derived
    * ENTIRELY from the commit's own entry list and stats — zero data
    * I/O at any table size, the property that makes "which partition
    * do I overwrite?" a sub-second question on a 100 TB table. The
    * tuple values come from the clustered layout's own `$col=value`
    * directory segments (the same segments `layoutPartCols` proves the
    * layout from, already hive-rendered — DATE keys read as their ISO
    * date), so the listing can never disagree with where the data
    * actually lives. Fails loudly on a non-clustered table rather
    * than inventing partitions. SQL face: `CALL spark_catalog.system
    * .partitions('t')`. (ref analog: the warehouse's SHOW PARTITIONS
    * is a metastore read, src/contrib/hive-streaming/build.xml:1.) */
  def showPartitions(spark: SparkSession, root: String,
    version: Int = -1): DataFrame = {
    import spark.implicits._
    // tuples decode with the SAME grammar the partition-scoped
    // writers mint (`x<hex>` string tokens, bare integral/day-count
    // tokens) — the listing can never disagree with what a
    // partition-scoped commit would accept
    val (partCols, tuples) = partitionTuples(spark, root, version)
    val schema = read(spark, root, version = version).schema
    val dateCols = partCols.filter(c => schema.fields
      .find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.DateType)).toSet
    def render(c: String, v: Any): String = v match {
      case l: Long if dateCols(c) =>
        java.time.LocalDate.ofEpochDay(l).toString
      case x => x.toString
    }
    val rows = tuples.map { case (vals, dirs, nRows, nBytes) =>
      (partCols.zip(vals)
        .map { case (c, v) => s"$c=${render(c, v)}" }.mkString("/"),
        dirs, nRows, nBytes)
    }.sortBy(_._1)
    rows.toDF("partition", "num_dirs", "num_rows", "num_bytes")
  }

  /** TYPED partition tuples + (dirs, rows, bytes) tallies of the
    * clustered layout — the data source for the catalog table's
    * SupportsPartitionManagement face (`SHOW PARTITIONS t`, `ALTER
    * TABLE t DROP PARTITION`). Values are Long (integral and DATE
    * day-count tokens) or String, decoded by the same dir-token
    * grammar the writers mint; commit stats only, zero data I/O. */
  private[sources] def partitionTuples(spark: SparkSession, root: String,
    version: Int = -1)
    : (Seq[String], Seq[(Seq[Any], Long, Long, Long)]) = {
    val r = resolve(spark, root, version)
    require(r.v > 0, s"txtable: no committed snapshot at $root")
    val partCols = layoutPartCols(spark, root, r.v)
    require(partCols.nonEmpty,
      s"txtable: $root has no provable partition-clustered layout")
    require(r.entries.forall(_.stats.contains(rowsKey)),
      s"txtable: a dir of $root predates row-count stats — compact " +
        "to restore the metadata-only partition listing")
    val pgs = partCols.map(physName(r.colMap, _))
    val live = r.entries.filter(_.stats(rowsKey)._1 > 0)
    val out = live.groupBy(e => dirTupleOf(e.dir, pgs))
      .toSeq.map { case (tup, es) =>
        val vals = tup.getOrElse(throw new IllegalStateException(
          s"txtable: dir '${es.head.dir}' of $root does not prove its " +
            "partition tuple — mixed layout?"))
        (vals, es.size.toLong, es.map(_.stats(rowsKey)._1).sum,
          es.map(_.stats.get(bytesKey).map(_._1).getOrElse(0L)).sum)
      }.sortBy(t => tupleSortKey(t._1))
    (partCols, out)
  }

  /** Package-visible logical→physical column translation (identity
    * when unmapped) for the V2 faces. */
  private[sources] def physNameOf(m: Option[Seq[(String, String)]],
    logical: String): String = physName(m, logical)

  // ---- Persistent CHECK constraints: `check:name=predicateSql`
  // commit-header lines (one per constraint; the sql is the LAST
  // field, so it may contain '=' but never a newline). They carry
  // across every commit like the column mapping; a bare `check:` line
  // is the explicit drop-to-zero. The SQL face (`ALTER TABLE t ADD
  // CONSTRAINT c CHECK (...)`) lands here via GraftCatalog.alterTable,
  // the catalog table reports them as enforced v2 Check constraints
  // (Spark's own ResolveTableConstraints then adds the CheckInvariant
  // to every catalog-face write), and the raw API write faces enforce
  // them in writeAndCommit so no face can smuggle in a violating
  // snapshot. ----

  private def checkLines(fs: FileSystem, rp: Path, v: Int): Seq[String] =
    if (v == 0) Seq.empty
    else commitLines(fs, rp, v)
      .filter(l => l.startsWith("check:") && l.length > 6)

  /** The table's persistent CHECK constraints, (name, predicateSql). */
  def checkConstraints(spark: SparkSession, root: String,
    version: Int = -1): Seq[(String, String)] = {
    val (fs, rp) = fsFor(spark, root)
    val v = if (version >= 0) version else latestVersion(fs, rp)
    checkLines(fs, rp, v).map { l =>
      val body = l.drop(6)
      val i = body.indexOf('=')
      (body.substring(0, i), body.substring(i + 1))
    }
  }

  /** Arms the write-face CHECK gate: wraps `df` in an `observe` node
    * whose per-constraint violation counts are computed DURING the
    * write action itself (no second scan of the batch's upstream
    * pipeline — at warehouse scale a pre-validation pass would double
    * the input cost), and returns the verifier the caller runs after
    * the action and BEFORE the commit claim. A violating batch never
    * becomes a version; the caller deletes its staging dir. `IS
    * FALSE` counts violations, so NULL evaluations pass — the SQL
    * CHECK convention. */
  private def checkGuard(df: DataFrame,
    checks: Seq[(String, String)]): (DataFrame, () => Unit) =
    if (checks.isEmpty) (df, () => ())
    else {
      val obs = org.apache.spark.sql.Observation(
        "graft_checks_" + java.util.UUID.randomUUID().toString.take(8))
      val aggs = checks.zipWithIndex.map { case ((_, sql), i) =>
        sum(when(expr(s"($sql) IS FALSE"), 1L).otherwise(0L)).as(s"v$i") }
      val wrapped = df.observe(obs, aggs.head, aggs.tail: _*)
      val verify = () => {
        val m = obs.get
        checks.zipWithIndex.foreach { case ((n, sql), i) =>
          val viol = m.get(s"v$i") match {
            case Some(l: java.lang.Long) => l.longValue()
            case _ => 0L // zero-row batch: the sum aggregates to NULL
          }
          require(viol == 0L,
            s"txtable: CHECK constraint '$n' violated by $viol rows " +
              s"(($sql)); batch rejected, table unchanged")
        }
      }
      (wrapped, verify)
    }

  /** Immediate CHECK validation for paths whose data is ALREADY on
    * disk as parquet (the streaming promote path): one column-pruned
    * aggregate over the staged files — reads only the constraint's
    * referenced columns, bounded by the epoch. */
  private def enforceChecksNow(df: DataFrame,
    checks: Seq[(String, String)]): Unit =
    if (checks.nonEmpty) {
      val aggs = checks.zipWithIndex.map { case ((_, sql), i) =>
        sum(when(expr(s"($sql) IS FALSE"), 1L).otherwise(0L)).as(s"v$i") }
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      checks.zipWithIndex.foreach { case ((n, sql), i) =>
        require(r.isNullAt(i) || r.getLong(i) == 0L,
          s"txtable: CHECK constraint '$n' violated by ${r.getLong(i)} " +
            s"rows (($sql)); batch rejected, table unchanged")
      }
    }

  /** Add a named CHECK constraint: validates the predicate analyzes
    * over the live schema AND that no existing row violates it (one
    * aggregate; `IS FALSE` — NULL evaluations pass, the SQL CHECK
    * convention), then lands ONE metadata commit. */
  def addCheckConstraint(spark: SparkSession, root: String,
    name: String, predicateSql: String): Int = {
    require(name.nonEmpty && name.head.isLetter &&
      name.forall(c => c.isLetterOrDigit || c == '_'),
      s"txtable: constraint name must match [A-Za-z][A-Za-z0-9_]*, " +
        s"got '$name'")
    require(!predicateSql.contains("\n") && !predicateSql.contains("\r") &&
      predicateSql.nonEmpty,
      s"txtable: CHECK predicate must be one line, got '$predicateSql'")
    val (fs, rp) = fsFor(spark, root)
    // existing rows must satisfy the constraint NOW — a violating
    // table must refuse the DDL, not fail every later write
    val violations = read(spark, root)
      .filter(s"($predicateSql) IS FALSE").count()
    require(violations == 0L,
      s"txtable: cannot add CHECK '$name' - $violations existing rows " +
        s"violate ($predicateSql)")
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to alter at $root")
      val existing = checkLines(fs, rp, prevV)
      require(!existing.exists(_.startsWith(s"check:$name=")),
        s"txtable: constraint '$name' already exists at $root")
      ("addcheck",
        (existing :+ s"check:$name=$predicateSql") ++
          snapshotLines(fs, rp, prevV))
    }
  }

  /** Drop a named CHECK constraint (one metadata commit). */
  def dropCheckConstraint(spark: SparkSession, root: String,
    name: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      val existing = checkLines(fs, rp, prevV)
      require(existing.exists(_.startsWith(s"check:$name=")),
        s"txtable: no CHECK constraint '$name' at $root")
      val remaining = existing.filterNot(_.startsWith(s"check:$name="))
      ("dropcheck",
        (if (remaining.isEmpty) Seq("check:") else remaining) ++
          snapshotLines(fs, rp, prevV))
    }
  }

  /** Write-time constraints — the warehouse's data-quality gate AT THE
    * COMMIT BOUNDARY: validate `df` (NOT NULL columns, unique keys —
    * uniqueness checked across the batch AND against the existing
    * snapshot's key set) with ONE aggregate job, and only a batch that
    * passes reaches `append`. A failing batch aborts BEFORE any data
    * dir is written, so the table can never hold a violating snapshot
    * — readers are spared the downstream audit entirely. The existing-
    * table uniqueness probe joins the batch's keys (batch-scale,
    * broadcast) against the snapshot — the table side never shuffles. */
  def appendChecked(df: DataFrame, root: String,
    notNull: Seq[String] = Seq.empty,
    uniqueKey: Seq[String] = Seq.empty,
    statsCols: Seq[String] = Seq.empty): Int = {
    val spark = df.sparkSession
    val nullChecks = notNull.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c"))
    val dupCheck =
      if (uniqueKey.isEmpty) Seq.empty
      else Seq((count(lit(1)) -
        count_distinct(struct(uniqueKey.map(col): _*))).as("_dupes"))
    if (nullChecks.nonEmpty || dupCheck.nonEmpty) {
      val aggs = nullChecks ++ dupCheck
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      notNull.zipWithIndex.foreach { case (c, i) =>
        require(r.getLong(i) == 0L,
          s"txtable: constraint violation - ${r.getLong(i)} null values " +
            s"in NOT NULL column '$c'; batch rejected, table unchanged")
      }
      if (dupCheck.nonEmpty)
        require(r.getLong(notNull.size) == 0L,
          s"txtable: constraint violation - ${r.getLong(notNull.size)} " +
            s"duplicate (${uniqueKey.mkString(",")}) keys inside the " +
            "batch; batch rejected, table unchanged")
    }
    // Existing-table uniqueness, in two layers:
    //  1. pre-write, against the current snapshot — a violating batch
    //     fails fast, before any data dir hits the filesystem;
    //  2. INSIDE the commit retry, pinned to the claim's parent, and
    //     only when that parent differs from the pre-validated version:
    //     two concurrent appendChecked writers with overlapping keys
    //     used to both validate against the same old snapshot and both
    //     commit — the loser must re-probe the winner's snapshot and
    //     fail instead. The batch-key side is batch-scale and
    //     broadcast; the table side never shuffles.
    val batchKeys =
      if (uniqueKey.isEmpty) null
      else df.select(uniqueKey.map(col): _*).distinct()
    def probe(v: Int): Unit = if (uniqueKey.nonEmpty && v > 0) {
      val clash = read(spark, root, version = v)
        .join(broadcast(batchKeys), uniqueKey, "left_semi").count()
      require(clash == 0L,
        s"txtable: constraint violation - $clash existing rows share " +
          s"the batch's (${uniqueKey.mkString(",")}) keys; batch rejected")
    }
    val preValidatedV = latestVersion(spark, root)
    probe(preValidatedV)
    writeAndCommit(df, root, "append", keepPrev = true, statsCols,
      preCommitCheck = v => if (v != preValidatedV) probe(v))
  }

  /** Selective small-dir compaction for plain APPEND tables — the
    * OPTIMIZE-style answer to the small-file problem: when the
    * snapshot holds more than `maxDirs` data dirs, fold the SMALLEST
    * ones together until `maxDirs` remain, leaving big dirs untouched
    * (a continuously-appended table re-binpacks its drizzle of small
    * commits without ever rewriting the large base — compaction cost
    * tracks the small tail, not the table). Append-only by design:
    * union order is irrelevant there, so regrouping dirs is safe;
    * keyed/delta snapshots (where commit ORDER resolves conflicts)
    * refuse and use `compactSnapshot`. Stats re-recorded on the
    * folded dir; atomic commit as always. */
  def compactDirs(spark: SparkSession, root: String, maxDirs: Int = 8): Int = {
    require(maxDirs >= 1, "compactDirs must keep at least one dir")
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to compact at $root")
      val entries = snapshotEntries(fs, rp, prevV)
      require(!entries.exists(_.isDelta) && snapshotKeys(fs, rp, prevV).isEmpty,
        "txtable: compactDirs serves plain append tables; keyed/delta " +
          "snapshots resolve by commit order - use compactSnapshot")
      if (entries.size <= maxDirs) return prevV
      val sized = entrySizes(spark, rp, entries)
      // fold the smallest (n - maxDirs + 1) dirs into one
      val (fold, keep) = sized.sortBy(_._2)
        .splitAt(entries.size - maxDirs + 1)
      val foldPaths = fold.map { case (e, _) => new Path(rp, e.dir).toString }
      // schema-evolved dirs fold by name (null-fill), same as read
      val foldSchemaOf = dirSparkSchemas(spark, rp,
        fold.map { case (e, _) => e.dir })
      val foldSchemas = fold.map { case (e, _) => foldSchemaOf.get(e.dir) }
      // declared defaults re-land in the folded files (never NULL) —
      // PER DIR on the union branches, post-fill on the uniform ones
      val addedNow = liveAddedCols(fs, rp, prevV)
      def fill(d: DataFrame): DataFrame = fillDeclaredDefaults(d, addedNow)
      val folded =
        // a fold member with positional deletes must fold its VISIBLE
        // rows (the per-dir path), or deleted rows would resurrect
        if (fold.exists(_._1.pdels.nonEmpty))
          fold.map { case (e, _) => fill(visibleDirFrame(spark, rp, e)) }
            .reduce(_.unionByName(_, allowMissingColumns = true))
        else if (foldSchemas.distinct.size == 1 && foldSchemas.head.isDefined)
          fill(spark.read.schema(foldSchemas.head.get).parquet(foldPaths: _*))
        else if (foldSchemas.distinct.size == 1)
          fill(spark.read.parquet(foldPaths: _*))
        else fold.map { case (e, _) =>
          fill(readDirFrame(spark, rp, e.dir)) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
      val dirName = s"data/compact-${java.util.UUID.randomUUID()}"
      val statsCols = snapshotStatsCols(fs, rp, prevV)
      val (obsFolded, mkEntry) = observeStats(folded, statsCols)
      obsFolded.write.mode("overwrite")
        .parquet(new Path(rp, dirName).toString)
      val entry = mkEntry(spark, rp, dirName, false)
      ("compact",
        (if (statsCols.nonEmpty) Seq(s"statscol:${statsCols.mkString(",")}")
         else Seq.empty) ++
          keep.map(_._1.line) :+ entry.line)
    }
  }

  /** ORACLE-GATED rename/drop evolution exercise (q_txtable_rename):
    * load the even-key half of orders as v1 (columns k, v, prio),
    * RENAME v→amount and DROP prio as two metadata commits, then
    * append the odd half under the NEW names. The result joins the
    * latest snapshot (logical: k, amount) against the v1 time-travel
    * frame STILL SERVED under its original name `v` — hash equality
    * against a DuckDB replay proves the rename preserved every value,
    * the drop narrowed the schema (schema_match would catch a
    * resurrected prio), post-rename appends interoperate with
    * pre-rename files, and time travel keeps each version's names. */
  def renameGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-rengate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      expr("cast(round(o_totalprice * 100, 0) as bigint)").as("v"),
      col("o_orderpriority").as("prio"))
    append(o.filter(col("k") % 2 === 0), root) // v1
    renameColumn(spark, root, "v", "amount")   // v2 (metadata)
    dropColumn(spark, root, "prio")            // v3 (metadata)
    append(o.filter(col("k") % 2 === 1)
      .select(col("k"), col("v").as("amount")), root) // v4, new names
    val latest = read(spark, root)
    val historical = read(spark, root, version = 1)
      .select(col("k"), col("v").as("v_old"))
    latest.join(historical, Seq("k"), "left")
  }

  /** Gate: bin-packed OPTIMIZE. Eight small appended dirs (the
    * streaming-tail shape) pack into few target-size dirs; hash
    * equality against the plain table proves the pack is multiset-
    * preserving. Dir-count/carry-by-name behavior is asserted in
    * TxTableSpec with controlled sizes. */
  def optimizeGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-optgate", dir)
    val l = graft.Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("decimal(18,2)").cast("double").as("qty"))
    (0L to 7L).foreach { i =>
      append(l.filter(col("l_orderkey") % 8 === i), root,
        statsCols = Seq("l_orderkey"))
    }
    optimizeCompact(spark, root, targetBytes = 1L << 40)
    read(spark, root)
  }

  /** Gate: manifest-include metadata packing. Eight orderkey-striped
    * appends at a rollover of 3 force two manifest rolls; a bounded
    * delete in the first stripe breaks one manifest open and
    * re-includes the other; the read then serves through the
    * expansion. Hash equality against the plain filtered table proves
    * the packed log is content-exact end-to-end. Inline/include
    * structure is asserted in TxTableSpec with controlled sizes. */
  def manifestGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-mangate", dir)
    val prev = spark.conf.getOption("spark.graft.manifestRollover")
    spark.conf.set("spark.graft.manifestRollover", "3")
    try {
      val l = graft.Tables.lineitem(spark, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").cast("double").as("qty"))
      val maxK = l.agg(max("l_orderkey")).head.getLong(0)
      val bounds = (0 to 8).map(i => (i * maxK) / 8)
      (0 until 8).foreach { i =>
        append(l.filter(col("l_orderkey") > bounds(i) &&
          col("l_orderkey") <= bounds(i + 1)), root,
          statsCols = Seq("l_orderkey"))
      }
      deleteWhere(spark, root, s"l_orderkey <= ${bounds(1)}",
        pruneRanges = Map("l_orderkey" -> (1L, bounds(1))))
      read(spark, root)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.manifestRollover", v)
      case None => spark.conf.unset("spark.graft.manifestRollover")
    }
  }

  /** Gate: STRING-stats dir skipping. The reference's only scan
    * pruning is path/partition convention (filename globs —
    * src/mapred/org/apache/hadoop/mapred/FileInputFormat.java:1);
    * modern table formats carry string min/max per file instead, so a
    * domain- or date-string-clustered table prunes on any string
    * predicate. Three dirs clustered by order-priority class, then a
    * priority band read back through the string stats — hash equality
    * against the plain filter proves pruning skipped dirs, never rows
    * (and the ScalaTest side asserts dirs actually skip). */
  def stringPruneGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-strgate", dir)
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderpriority").as("prio"))
    Seq(("1", "2"), ("3", "3"), ("4", "5")).foreach { case (a, b) =>
      append(o.filter(substring(col("prio"), 1, 1).between(a, b)), root,
        statsCols = Seq("prio"))
    }
    read(spark, root, strRanges = Map("prio" -> ("1-URGENT", "2-HIGH")))
  }

  /** Gate: METADATA-ONLY scalar aggregate (q_txtable_stats_agg).
    * Four orderkey-striped appends with stats on two columns, then
    * `count(*) / min / max` through the graft-tx face — the
    * `TxStatsAggRewrite` optimizer rule answers it from the commit
    * stats with zero data I/O (the plan is a LocalRelation; asserted
    * in StatsAggSpec). Hash equality against the oracle's full-scan
    * aggregate proves the stats are exact, not merely sound. */
  def statsAggGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-saggate", dir)
    val l = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    (0L to 3L).foreach(i =>
      append(l.filter(col("l_orderkey") % 4 === i), root,
        statsCols = Seq("l_orderkey", "l_partkey")))
    spark.read.format("graft-tx").load(root).agg(
      count(lit(1)).as("cnt"),
      count(col("l_partkey")).as("cnt_pkey"),
      min(col("l_orderkey")).as("min_okey"),
      max(col("l_orderkey")).as("max_okey"),
      min(col("l_partkey")).as("min_pkey"),
      max(col("l_partkey")).as("max_pkey"))
  }

  /** Gate: ANALYZE + metadata statistics (q_txtable_analyze). Three
    * orderkey-striped appends with per-dir stats, one exact analyze
    * pass, then DESCRIBE STATISTICS — NDV from the analyze header,
    * null counts and min/max from the per-dir commit stats, all served
    * without reopening a data file. Hash equality against the oracle's
    * full-scan distinct/null/min/max aggregate proves the recorded
    * statistics are exact, not merely plausible — the trust baseline
    * the V2 `SupportsReportStatistics` face then hands the cost-based
    * optimizer. Distinct-count semantics per the reference's aggregate
    * library (src/mapred/org/apache/hadoop/mapred/lib/aggregate/
    * UniqValueCount.java:1). */
  def analyzeGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-anlgate", dir)
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    (0L to 2L).foreach(i =>
      append(o.filter(col("o_orderkey") % 3 === i), root,
        statsCols = Seq("o_orderkey", "o_custkey")))
    analyze(spark, root, Seq("o_orderkey", "o_custkey"), exact = true)
    describeStats(spark, root, Seq("o_orderkey", "o_custkey"))
  }

  /** Gate: COUNT(DISTINCT) answered from the ANALYZE header
    * (q_txtable_count_distinct). Two custkey-striped appends, one
    * exact analyze, then `count(DISTINCT o_custkey), count(*),
    * min/max` through the graft-tx face — TxStatsAggRewrite serves
    * ALL of it from commit metadata (the distinct count from the
    * header, gated on the exact flag plus the entries-unchanged
    * freshness proof; plan asserted LocalRelation in StatsAggSpec).
    * Hash equality against the oracle's full-scan DISTINCT proves the
    * substitute is exact, not estimated. */
  def countDistinctGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-cdgate", dir)
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    (0L to 1L).foreach(i =>
      append(o.filter(col("o_custkey") % 2 === i), root,
        statsCols = Seq("o_orderkey", "o_custkey")))
    analyze(spark, root, Seq("o_custkey"), exact = true)
    spark.read.format("graft-tx").load(root).agg(
      count_distinct(col("o_custkey")).as("ndv_cust"),
      count(lit(1)).as("cnt"),
      min(col("o_orderkey")).as("min_okey"),
      max(col("o_orderkey")).as("max_okey"))
  }

  /** Gate: STORAGE-PARTITIONED JOIN (q_txtable_spj). Orders and
    * customer, each partitioned 16 ways on the same custkey bucket,
    * joined on (bucket, custkey) through the V2 face — the reported
    * KeyGroupedPartitioning makes Catalyst elide BOTH Exchanges
    * (SpjSpec asserts zero), the bucketed-join shape that at 100 TB
    * moves zero bytes through a shuffle. The oracle replays the plain
    * custkey equi-join (the bucket key is derived from custkey, so it
    * adds no constraint) — hash equality proves the co-partitioned
    * plan loses and invents nothing, including customers whose bucket
    * exists on only one side. A CHILD session carries the SPJ confs so
    * the caller's session is untouched. */
  def spjGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val rootO = graft.Scratch.freshRoot(s, "graft-spjo", dir)
    val rootC = graft.Scratch.freshRoot(s, "graft-spjc", dir)
    val o = graft.Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"), (col("o_custkey") % 16).as("b"))
    val c = graft.Tables.customer(s, dir).select(col("c_custkey"),
      (col("c_custkey") % 16).as("b"), col("c_nationkey"))
    appendPartitioned(o, rootO, "b", statsCols = Seq("o_custkey"))
    appendPartitioned(c, rootC, "b", statsCols = Seq("c_custkey"))
    val l = s.read.format("graft-tx").option("partitionCol", "b").load(rootO)
    val r = s.read.format("graft-tx").option("partitionCol", "b").load(rootC)
    l.as("l").join(r.as("r"), col("l.b") === col("r.b") &&
        col("l.o_custkey") === col("r.c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
  }

  /** (shuffle, broadcast) Exchange counts of `df`'s physical plan —
    * the join gates' evidence, counted by node type so a broadcast
    * can never pass for a shuffle or the other way round. */
  private def planExchanges(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.exchange._
    val p = df.queryExecution.executedPlan
    (p.collect { case e: ShuffleExchangeLike => e }.size,
      p.collect { case e: BroadcastExchangeLike => e }.size)
  }

  /** HASH-BUCKETED storage-partitioned join gate (q_txtable_bucket_
    * spj): orders and customer bucketed 16 ways on the customer key —
    * a HIGH-cardinality join key no identity partitioning could
    * co-locate — joined through the catalog face's `bucket(16, c)`
    * KeyGroupedPartitioning. The gate REQUIRES the planned join to
    * carry zero shuffle and zero broadcast Exchange (a regression to
    * either fails the gate, not just slows it); the DuckDB oracle
    * replays the plain join, so hash equality proves the bucket
    * routing loses and invents no rows. */
  def bucketSpjGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val rootO = graft.Scratch.freshRoot(s, "graft-bktspjo", dir)
    val rootC = graft.Scratch.freshRoot(s, "graft-bktspjc", dir)
    // SQL-FIRST end to end: the DECLARED bucket transform routes the
    // INSERTs through the clustered write — no Scala layout API
    graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .createOrReplaceTempView("graft_bktspj_osrc")
    graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .createOrReplaceTempView("graft_bktspj_csrc")
    s.sql("DROP TABLE IF EXISTS graft_bktspj_o")
    s.sql("DROP TABLE IF EXISTS graft_bktspj_c")
    s.sql("CREATE TABLE graft_bktspj_o (o_orderkey BIGINT, " +
      "o_custkey BIGINT) USING `graft-tx` " +
      s"PARTITIONED BY (bucket(16, o_custkey)) OPTIONS (path '$rootO')")
    s.sql("CREATE TABLE graft_bktspj_c (c_custkey BIGINT, " +
      "c_nationkey INT) USING `graft-tx` " +
      s"PARTITIONED BY (bucket(16, c_custkey)) OPTIONS (path '$rootC')")
    s.sql("INSERT INTO graft_bktspj_o SELECT * FROM graft_bktspj_osrc")
    s.sql("INSERT INTO graft_bktspj_c SELECT * FROM graft_bktspj_csrc")
    try {
      val j = s.table("graft_bktspj_o").as("l")
        .join(s.table("graft_bktspj_c").as("r"),
          col("l.o_custkey") === col("r.c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
      val (shuffles, broadcasts) = planExchanges(j)
      require(shuffles == 0 && broadcasts == 0,
        s"txtable: bucketed SPJ gate planned $shuffles shuffle and " +
          s"$broadcasts broadcast Exchange(s) — the co-bucketed join " +
          "must be shuffle-free and not a broadcast")
      j
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_bktspj_o")
      s.sql("DROP TABLE IF EXISTS graft_bktspj_c")
      s.catalog.dropTempView("graft_bktspj_osrc")
      s.catalog.dropTempView("graft_bktspj_csrc")
      ()
    }
  }

  /** ONE-SIDED-SHUFFLE bucketed join gate (q_txtable_bucket_spj_
    * shuffle): only ORDERS is bucketed (16 ways on o_custkey);
    * customer arrives as a plain un-bucketed frame. With
    * `spark.sql.sources.v2.bucketing.shuffle.enabled` the planner
    * shuffles ONLY the plain side into graft's bucket-function layout
    * and the bucketed (big) side never moves — at 100 TB that is the
    * difference between shuffling a dimension and shuffling the fact.
    * The gate REQUIRES exactly ONE shuffle Exchange and no broadcast
    * in the planned join (a broadcast join plans no shuffle at all, so
    * it is refused by its BroadcastExchange; two shuffles would mean
    * the fact shuffled). The DuckDB oracle replays the plain
    * equi-join — hash equality proves the V2 bucket function routed
    * the shuffled side to the right buckets (a mis-hash silently
    * LOSES matches, which the row hash catches). */
  def bucketSpjShuffleGateQuery(spark: SparkSession,
    dir: String): DataFrame = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val rootO = graft.Scratch.freshRoot(s, "graft-bktshufo", dir)
    appendBucketedBy(graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey")), rootO,
      "o_custkey", 16, statsCols = Seq("o_custkey"))
    s.sql("DROP TABLE IF EXISTS graft_bktshuf_o")
    s.sql("CREATE TABLE graft_bktshuf_o USING `graft-tx` " +
      s"OPTIONS (path '$rootO')")
    try {
      val c = graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val j = s.table("graft_bktshuf_o").as("l")
        .join(c.as("r"), col("l.o_custkey") === col("r.c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
      val (shuffles, broadcasts) = planExchanges(j)
      require(shuffles == 1 && broadcasts == 0,
        s"txtable: one-sided-shuffle SPJ gate planned $shuffles shuffle " +
          s"and $broadcasts broadcast Exchange(s) — only the un-bucketed " +
          "side may shuffle")
      j
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_bktshuf_o")
      ()
    }
  }

  /** Composite-key storage-partitioned join gate: both tables
    * clustered on the SAME two-column key (b1, b2); the equi-join on
    * both keys plus the real key column runs with zero Exchange —
    * the multi-key KeyGroupedPartitioning face over
    * [[appendPartitionedBy]] layouts. */
  def spj2GateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val rootO = graft.Scratch.freshRoot(s, "graft-spj2o", dir)
    val rootC = graft.Scratch.freshRoot(s, "graft-spj2c", dir)
    val o = graft.Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"), (col("o_custkey") % 8).as("b1"),
      (col("o_custkey") % 3).as("b2"))
    val c = graft.Tables.customer(s, dir).select(col("c_custkey"),
      (col("c_custkey") % 8).as("b1"), (col("c_custkey") % 3).as("b2"),
      col("c_nationkey"))
    appendPartitionedBy(o, rootO, Seq("b1", "b2"),
      statsCols = Seq("o_custkey"))
    appendPartitionedBy(c, rootC, Seq("b1", "b2"),
      statsCols = Seq("c_custkey"))
    val l = s.read.format("graft-tx").option("partitionCol", "b1,b2")
      .load(rootO)
    val r = s.read.format("graft-tx").option("partitionCol", "b1,b2")
      .load(rootC)
    l.as("l").join(r.as("r"), col("l.b1") === col("r.b1") &&
        col("l.b2") === col("r.b2") &&
        col("l.o_custkey") === col("r.c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
  }

  /** Gate: METADATA-ONLY GROUP BY the partition key — now a TWO-KEY
    * rollup (q_txtable_part_counts). A composite partitioned append
    * of orders bucketed (8 × 3) ways, then per-(bucket, bucket2)
    * count/min/max through the face — the grouped form of the stats
    * rewrite over the same composite clustering proof the SPJ face
    * uses: one LocalRelation row per partition tuple, no scan (the
    * "how many rows per partition" query that a 100 TB composite-
    * partitioned table answers from its log). Oracle replays the same
    * GROUP BY over the raw table. */
  def partCountsGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-pcgate", dir)
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_orderkey") % 8).as("bucket"),
        (col("o_orderkey") % 3).as("bucket2"))
    appendPartitionedBy(o, root, Seq("bucket", "bucket2"),
      statsCols = Seq("o_orderkey"))
    spark.read.format("graft-tx").load(root)
      .groupBy(col("bucket"), col("bucket2"))
      .agg(count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_okey"),
        max(col("o_orderkey")).as("max_okey"))
  }

  /** Gate: METADATA-ONLY GROUP BY a STRING partition key
    * (q_txtable_part_counts_str) — orders partitioned by its natural
    * o_orderpriority string; the `sx:` exact-value dir stats prove
    * the clustering, so the per-priority count/min/max is one
    * LocalRelation row per value with zero data I/O: the
    * date/category-string-partitioned layout every real warehouse
    * runs (the integral-only proof excluded it before this round). */
  def partCountsStrGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-pcsgate", dir)
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    appendPartitioned(o, root, "o_orderpriority",
      statsCols = Seq("o_orderkey"))
    spark.read.format("graft-tx").load(root)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_okey"),
        max(col("o_orderkey")).as("max_okey"))
  }

  /** Gate: METADATA-GROUPED APPROX COUNT(DISTINCT)
    * (q_txtable_grouped_ndv). Orders partitioned by priority with
    * custkey sketched per dir; under the opt-in
    * `spark.graft.statsAgg.approxNdv`, `GROUP BY priority →
    * approx_count_distinct(custkey)` is answered by merging each
    * group's per-dir HLL register blobs DRIVER-SIDE — zero data I/O
    * at any table size (StatsAggSpec asserts the LocalRelation
    * plan). Register unions are order-independent, so the estimate
    * is a deterministic function of the data; the gate emits the
    * EXACT per-group count plus a tolerance boolean
    * (|est − exact| ≤ 5%), which the oracle replays exactly —
    * hash-green means the metadata estimate tracked the true NDV on
    * every group. */
  def groupedNdvGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.graft.statsAgg.approxNdv", "true")
    graft.functions.GraftFunctions.register(s)
    val root = graft.Scratch.freshRoot(s, "graft-gndv", dir)
    val o = graft.Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"), col("o_custkey"))
    appendPartitioned(o, root, "prio", statsCols = Seq("o_custkey"))
    val est = s.read.format("graft-tx").load(root)
      .groupBy(col("prio"))
      .agg(approx_count_distinct(col("o_custkey")).as("est"))
    val exact = graft.Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(countDistinct(col("o_custkey")).as("exact_cnt"))
    est.join(exact, "prio")
      .select(col("prio"), col("exact_cnt"),
        (abs(col("est") - col("exact_cnt")) <=
          col("exact_cnt") * lit(0.05)).as("ok"))
  }

  /** Gate: STRING-KEY storage-partitioned join (q_txtable_spj_str).
    * Orders and customer each partitioned on the SAME derived string
    * bucket of custkey; the `sx:` exact-value stats prove the string
    * clustering and the V2 KeyGroupedPartitioning face elides both
    * Exchanges (SpjSpec asserts zero) — the date-string co-partitioned
    * fact-fact join at 100 TB. The bucket is derived from custkey, so
    * the oracle is the plain equi-join. */
  def spjStrGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val rootO = graft.Scratch.freshRoot(s, "graft-spjso", dir)
    val rootC = graft.Scratch.freshRoot(s, "graft-spjsc", dir)
    val o = graft.Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"),
      concat(lit("p"), col("o_custkey") % 12).as("b"))
    val c = graft.Tables.customer(s, dir).select(col("c_custkey"),
      concat(lit("p"), col("c_custkey") % 12).as("b"),
      col("c_nationkey"))
    appendPartitioned(o, rootO, "b", statsCols = Seq("o_custkey"))
    appendPartitioned(c, rootC, "b", statsCols = Seq("c_custkey"))
    val l = s.read.format("graft-tx").option("partitionCol", "b").load(rootO)
    val r = s.read.format("graft-tx").option("partitionCol", "b").load(rootC)
    l.as("l").join(r.as("r"), col("l.b") === col("r.b") &&
        col("l.o_custkey") === col("r.c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"))
  }

  /** Gate: STRING-RANGE static partition pruning on the SPJ face
    * (q_txtable_spj_str_range). Orders partitioned by the month
    * STRING of o_orderdate; `month >= '1997-01' AND month <
    * '1998-01'` — the range shape every date-string-partitioned
    * table sees daily — must open ONLY the in-range partitions at
    * PLANNING time (SpjSpec asserts the partition count; this gate
    * hash-proves the pruned read computes exactly the oracle's
    * answer). The prune compares in hex-encoded unsigned-UTF-8 byte
    * space — Spark's own string order (UTF8String.compareTo), never
    * java's UTF-16 — so it is sound for ANY value, not just ASCII
    * dates. Reference analog: CompositeInputFormat co-partitions on
    * byte-ordered Text keys
    * (src/mapred/org/apache/hadoop/mapred/join/CompositeInputFormat.java:1). */
  def spjStrRangeGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    val root = graft.Scratch.freshRoot(s, "graft-spjsrange", dir)
    val o = graft.Tables.orders(s, dir).select(col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    appendPartitioned(o, root, "month", statsCols = Seq("o_orderkey"))
    s.read.format("graft-tx").option("partitionCol", "month").load(root)
      .filter(col("month") >= "1997-01" && col("month") < "1998-01")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("sum_okey"))
  }

  /** Gate: VALUE-COLUMN filter pushdown on the SPJ face
    * (q_txtable_spj_value). Orders partitioned by order-month; the
    * query filters on PRICE and a custkey residue — neither prunes a
    * partition, so every surviving row flows through the DSv2
    * parquet readers with the price predicate pushed as a parquet-mr
    * FilterPredicate (row-group stats skip + record-level filter;
    * SpjSpec asserts the rows-read metric drops) while the residue
    * stays above the scan. Hash equality against the oracle proves
    * the pushed path computes exactly the unpushed answer — pushdown
    * subtracts I/O, never rows. */
  def spjValueGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    val root = graft.Scratch.freshRoot(s, "graft-spjvalue", dir)
    val o = graft.Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    appendPartitioned(o, root, "month", statsCols = Seq("o_orderkey"))
    s.read.format("graft-tx").option("partitionCol", "month").load(root)
      .filter(col("price") > 100000.0 && col("o_custkey") % 10 === 0)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("sum_okey"))
  }

  /** Gate: POSITIONAL-DELETE sidecars (q_txtable_pdelete). Lineitem
    * loaded whole, then two stacked low-selectivity scattered deletes
    * in POSITIONAL mode — each commits O(matched) bytes of (file,
    * position) sidecars instead of rewriting the dirs
    * (Round14Spec asserts the byte bound) — and the read-back rollup
    * must hash-match the oracle's plain double-NOT filter: the
    * anti-join application loses nothing and resurrects nothing. */
  def pdeleteGateQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchRoot("graft-pdel", dir)
    val l = graft.Tables.lineitem(spark, dir).select(col("l_orderkey"),
      col("l_partkey"),
      col("l_quantity").cast("decimal(18,2)").cast("double").as("qty"))
    append(l, root, statsCols = Seq("l_orderkey"))
    deleteWhere(spark, root, "l_partkey % 100 = 0", positional = true)
    deleteWhere(spark, root, "l_partkey % 100 = 7", positional = true)
    read(spark, root)
      .groupBy((col("l_orderkey") % 10).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"))
  }

  /** Gate: SQL TIME TRAVEL on the catalog face
    * (q_txtable_timetravel_sql). A catalog graft-tx table whose v2
    * appended garbage rows; `SELECT ... FOR VERSION AS OF 1` must
    * aggregate exactly the v1 snapshot — the oracle replays v1's
    * content from raw orders, so hash equality proves the SQL-only
    * travel path (GraftCatalog.loadTable(ident, version) →
    * snapshot-pinned catalog table) serves the right data and none
    * of v2's. Catalog names are per-invocation UUIDs and dropped
    * before returning (the cboJoinGateQuery discipline — `spark.sql`
    * analyzes eagerly, so the returned plan keeps its resolved
    * relations). */
  def timeTravelSqlGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val root = scratchRoot("graft-ttsql", dir)
    val o = graft.Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_custkey"), col("o_orderpriority").as("prio"))
    append(o, root)
    // v2 pollution: rows time travel must never see
    append(o.limit(100)
      .withColumn("o_custkey", col("o_custkey") + lit(1000000000L)), root)
    spark.sql(s"CREATE TABLE ttgate_$tag USING `graft-tx` " +
      s"OPTIONS (path '$root')")
    val out = spark.sql(s"SELECT prio, count(*) AS cnt, " +
      s"sum(o_custkey) AS sum_ckey FROM ttgate_$tag FOR VERSION AS OF 1 " +
      "GROUP BY prio")
    spark.sql(s"DROP TABLE ttgate_$tag")
    out
  }

  /** Gate: CBO JOIN REORDER over catalog graft-tx tables
    * (q_txtable_cbo_join). Three catalog tables — lineitem-scale ×
    * orders-scale × nation-scale — joined WRITTEN big×big×small with
    * `spark.sql.cbo.*` on: the relayed commit-log statistics (rows,
    * NDV, null counts from the ANALYZE header) let
    * `plans.TxCboJoinReorder` re-run Spark's CostBasedJoinReorder
    * after the relay, so the tiny nation table joins FIRST
    * (CboStatsSpec asserts the plan; this gate hash-proves the
    * reordered plan computes exactly the oracle's answer). Catalog
    * table names are per-invocation UUIDs — bench retries and
    * parallel runs never collide — and are DROPPED before returning:
    * `s.sql` analyzes eagerly, so the returned plan already holds the
    * resolved relations and the session catalog stays constant across
    * invocations (no table accumulation over bench best-of-N). */
  def cboJoinGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val rootO = scratchRoot("graft-cboj-o", dir)
    val rootC = scratchRoot("graft-cboj-c", dir)
    val rootN = scratchRoot("graft-cboj-n", dir)
    append(graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey")), rootO,
      statsCols = Seq("o_orderkey", "o_custkey"))
    append(graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey")), rootC,
      statsCols = Seq("c_custkey", "c_nationkey"))
    append(graft.Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name")), rootN,
      statsCols = Seq("n_nationkey"))
    Seq(rootO, rootC, rootN).foreach(r => analyze(spark, r, exact = true))
    spark.sql(s"CREATE TABLE cboj_o_$tag USING `graft-tx` " +
      s"OPTIONS (path '$rootO')")
    spark.sql(s"CREATE TABLE cboj_c_$tag USING `graft-tx` " +
      s"OPTIONS (path '$rootC')")
    spark.sql(s"CREATE TABLE cboj_n_$tag USING `graft-tx` " +
      s"OPTIONS (path '$rootN')")
    val s = spark.newSession() // conf scope; shares the catalog
    graft.functions.GraftFunctions.register(s)
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val out =
      try s.sql(
        s"""SELECT n.n_name, count(*) AS cnt, sum(o.o_orderkey) AS sum_okey
           |FROM cboj_o_$tag o
           |JOIN cboj_c_$tag c ON o.o_custkey = c.c_custkey
           |JOIN cboj_n_$tag n ON c.c_nationkey = n.n_nationkey
           |GROUP BY n.n_name""".stripMargin)
      finally Seq(s"cboj_o_$tag", s"cboj_c_$tag", s"cboj_n_$tag")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    out
  }

  /** Gate: PARTITIONED STREAMING INGEST end-to-end
    * (q_txtable_stream_part). A real micro-batch stream — file source
    * over the orders parquet, Trigger.AvailableNow — writes through
    * the graft-tx sink's `partitionBy` option on the STRING priority
    * key: clustered+sorted writers stage one file per value, commit
    * promotes them BY RENAME with writer-proven purity (zero extra
    * Spark jobs, zero second write), and the landed table is
    * immediately SPJ-clustered and metadata-GROUP-BY-able. The gate
    * reads the streamed table back per priority; the oracle replays
    * the same rollup over raw orders — hash equality proves the
    * stream lost and invented nothing. */
  def streamPartGateQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val root = scratchRoot("graft-spgate", dir)
    val ckpt = scratchRoot("graft-spgate-ckpt", dir)
    val src = graft.Tables.orders(spark, dir)
    // the driver's sf dirs hold one parquet FILE per table, the
    // GenScale rungs a DIRECTORY of part files — the streaming file
    // source wants a directory either way: stream the table dir
    // directly when it is one, else scope the sf dir by glob
    val ordersPath = new Path(s"$dir/orders.parquet")
    val pfs = ordersPath.getFileSystem(spark.sessionState.newHadoopConf())
    val reader = spark.readStream.schema(src.schema)
    val q = (if (pfs.getFileStatus(ordersPath).isDirectory)
        reader.parquet(ordersPath.toString)
      else reader.option("pathGlobFilter", "orders.parquet").parquet(dir))
      .select(col("o_orderkey"), col("o_orderpriority"))
      .writeStream.format("graft-tx").option("path", root)
      .option("partitionBy", "o_orderpriority")
      .option("statsCols", "o_orderkey")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.format("graft-tx").load(root)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_okey"),
        max(col("o_orderkey")).as("max_okey"))
  }

  private def validColName(c: String): Boolean =
    c.nonEmpty && !c.exists(ch => ch == ',' || ch == '=' || ch == '\n' ||
      ch == '\r' || ch == '|')

  /** The ONE stats-grammar guard every write path that emits entry
    * lines funnels through: rejects names that could forge a reserved
    * segment — the `_rows`/`_bytes` pseudo-columns, and any ':' (the
    * `str:`/`delta:` style kind prefixes all use it; a column named
    * "str:k" would write k's string bounds). `n,<col>` null-count
    * forgery is already impossible (validColName rejects ','). */
  private def requireStatsGrammarSafe(c: String): Unit =
    require(validColName(c) && !c.contains(":") &&
      c != rowsKey && c != bytesKey && c != bucketStatKey,
      s"txtable: invalid stats/key column name '$c' (empty, " +
        "reserved character, or reserved stats-grammar name)")

  /** Columns of `schema` eligible for write-time per-dir stats — the
    * AUTO default a SQL-first bootstrap (CREATE TABLE + INSERT INTO)
    * records when no `statsCols` table option says otherwise:
    * integral/string columns with grammar-safe names, capped at the
    * first 32 (the Delta data-skipping default). Write-time stats are
    * what make dir pruning, metadata-only aggregates and the CBO's
    * NDV/null-count relay work without ever rescanning — a SQL-only
    * user should not need the Scala API to get them. */
  private[sources] def defaultStatsCols(
    schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.filter { f =>
      (f.dataType match {
        case org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.StringType => true
        case _ => false
      }) && validColName(f.name) && !f.name.contains(":") &&
        f.name != rowsKey && f.name != bytesKey
    }.take(32).map(_.name)

  /** The snapshot's column mapping, materializing the identity map
    * from the physical schema when no header exists yet (one
    * footer-level probe; no data read). */
  private def colMapOrIdentity(spark: SparkSession, root: String,
    fs: FileSystem, rp: Path, v: Int): Seq[(String, String)] =
    snapshotColMap(fs, rp, v).getOrElse(
      readResolved(spark, root, v).columns.toSeq.map(c => (c, c)))

  /** Rename a column in ONE metadata commit — no data rewrite, any
    * table size (the Delta/Iceberg column-mapping move): the commit
    * declares a new `colmap:` binding the new LOGICAL name to the
    * column's immutable PHYSICAL file name. Readers of this and later
    * versions see `to`; time travel before it still sees `from`;
    * `restore` rolls names back with the data; the change feed is
    * unaffected (it speaks physical names precisely so renames can't
    * break CDC consumers). Appends/deltas after the rename keep
    * writing the physical name under the hood. */
  /** ADD a column in ONE metadata commit — no data file is touched at
    * any table size. The column's TYPE (the one fact parquet footers
    * can't yet carry) lands in the `schema:` header; its
    * logical→physical binding joins the column mapping (materialized
    * to identity first if absent, the renameColumn discipline), with
    * a FRESH physical name whenever a tombstoned drop reserved the
    * requested one — a re-added column can never resurrect dropped
    * data. Reads serve NULL until a widened append/INSERT provides
    * values (old dirs keep null-filling forever — the standard
    * Delta/Iceberg add-column semantics); a later rewrite
    * (compactSnapshot) materializes the column physically and retires
    * the header. Atomic (non-nested) types only. */
  def addColumn(spark: SparkSession, root: String, name: String,
    dt: org.apache.spark.sql.types.DataType): Int =
    addColumns(spark, root, Seq(name -> dt))

  /** Multi-column ADD COLUMNS as ONE atomic commit — `ALTER TABLE t
    * ADD COLUMNS (x INT, y INT)` lands both bindings or neither, so a
    * failing later column (duplicate name, unsupported type) can
    * never leave a half-applied DDL statement behind. All validation
    * runs BEFORE the commit is staged. */
  def addColumns(spark: SparkSession, root: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Int =
    addColumnsWithDefaults(spark, root,
      cols.map { case (n, dt) => (n, dt, None) })

  /** ADD COLUMNS with optional per-column DEFAULTs: `ALTER TABLE t
    * ADD COLUMNS (d INT DEFAULT 7)` makes PRE-EXISTING rows read 7
    * (initial-default semantics — the fill applies on every read
    * face AND inside the DML readers, so an unrelated UPDATE can
    * never demote defaulted rows to NULL). The default must be a
    * FOLDABLE literal expression castable to the column type, with
    * no `;`/newline in its SQL text (the header grammar's reserved
    * characters). */
  def addColumnsWithDefaults(spark: SparkSession, root: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType,
      Option[String])]): Int = {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "txtable: ADD COLUMNS needs at least one column")
    require(cols.map(_._1).distinct.size == cols.size,
      s"txtable: duplicate column in ADD COLUMNS: " +
        cols.map(_._1).mkString(", "))
    cols.foreach { case (name, dt, default) =>
      require(validColName(name),
        s"txtable: invalid column name '$name' (empty or reserved " +
          "character)")
      require(!name.contains(";") && !name.contains("="),
        s"txtable: invalid column name '$name' (reserved character)")
      dt match {
        case _: StructType | _: ArrayType | _: MapType =>
          throw new IllegalArgumentException(
            s"txtable: ADD COLUMNS supports atomic types only, got ${dt.sql}")
        case _ => ()
      }
      // the DDL must round-trip the exact type through the header
      require(DataType.fromDDL(dt.sql) == dt,
        s"txtable: type ${dt.sql} does not round-trip the schema header")
      default.foreach { sql =>
        require(!sql.contains(";") && !sql.contains("\n") &&
          !sql.contains("\r") && sql.nonEmpty,
          s"txtable: DEFAULT for '$name' must be one line without ';', " +
            s"got '$sql'")
        val e =
          try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(sql)
          catch { case ex: Exception =>
            throw new IllegalArgumentException(
              s"txtable: cannot parse DEFAULT '$sql' for '$name'", ex)
          }
        require(e.foldable,
          s"txtable: DEFAULT for '$name' must be a literal expression, " +
            s"got '$sql'")
        // the cast must evaluate NOW — a default that cannot produce a
        // value of the column type must fail the DDL, not every read
        org.apache.spark.sql.catalyst.expressions.Cast(e, dt, Some("UTC"))
          .eval(null)
      }
    }
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to alter at $root")
      val m0 = colMapOrIdentity(spark, root, fs, rp, prevV)
      cols.foreach { case (name, _, _) =>
        require(!liveMap(m0).exists(_._1 == name),
          s"txtable: column '$name' already exists at $root")
      }
      var m = m0
      var declared = snapshotAddedCols(fs, rp, prevV)
        .filter(c => liveMap(m0).exists(_._2 == c.phys))
      cols.foreach { case (name, dt, default) =>
        // fresh physical name: never reuse ANY physical (live or
        // tombstoned) — that is the whole point of tombstones
        val phys =
          if (!m.exists(_._2 == name)) name
          else s"${name}_${java.util.UUID.randomUUID().toString.take(8)}"
        require(validColName(phys) && !phys.contains(";"),
          s"txtable: cannot mint a physical name for '$name'")
        m = m :+ (name -> phys)
        declared = declared :+ DeclaredCol(phys, dt, default)
      }
      ("addcol", Seq(colMapLine(m), schemaLine(declared)) ++
        snapshotLines(fs, rp, prevV).filterNot(l =>
          l.startsWith("colmap:") || l.startsWith("schema:")))
    }
  }

  def renameColumn(spark: SparkSession, root: String, from: String,
    to: String): Int = {
    require(validColName(to),
      s"txtable: invalid column name '$to' (empty or reserved character)")
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to rename at $root")
      val m = colMapOrIdentity(spark, root, fs, rp, prevV)
      require(liveMap(m).exists(_._1 == from),
        s"txtable: no column '$from' to rename at $root")
      require(!liveMap(m).exists(_._1 == to),
        s"txtable: column '$to' already exists at $root")
      val next = m.map { case (l, p) => (if (l == from) to else l, p) }
      ("rename", colMapLine(next) +:
        snapshotLines(fs, rp, prevV).filterNot(_.startsWith("colmap:")))
    }
  }

  /** Drop a column in ONE metadata commit — the physical data stays
    * in existing files (time travel still serves it) but the mapping
    * tombstones the physical name, so no current-version read sees it
    * and a later re-added column of the same name gets a FRESH
    * physical (old values can never resurrect). `compactSnapshot`
    * materializes the drop physically. Key and stats columns refuse
    * to drop — resolution and pruning depend on them. */
  def dropColumn(spark: SparkSession, root: String, name: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    commitRetry(spark, root) { prevV =>
      require(prevV > 0, s"txtable: nothing to drop at $root")
      val m = colMapOrIdentity(spark, root, fs, rp, prevV)
      require(liveMap(m).exists(_._1 == name),
        s"txtable: no column '$name' to drop at $root")
      require(liveMap(m).size > 1,
        s"txtable: cannot drop the last column of $root")
      val phys = physName(Some(m), name)
      require(!snapshotKeys(fs, rp, prevV).exists(_.contains(phys)),
        s"txtable: cannot drop key column '$name'")
      require(!snapshotStatsCols(fs, rp, prevV).contains(phys),
        s"txtable: cannot drop stats column '$name' — " +
          "range pruning depends on it")
      require(!bucketSpecAt(fs, rp, prevV).exists(_._1 == phys),
        s"txtable: cannot drop bucket column '$name' — the " +
          "bucket-clustered layout is keyed on it")
      val next = m.map { case (l, p) => (if (l == name) "" else l, p) }
      ("dropcol", colMapLine(next) +:
        snapshotLines(fs, rp, prevV).filterNot(_.startsWith("colmap:")))
    }
  }

  /** DESCRIBE HISTORY analog: one row per retained commit — version,
    * operation, entry/delta counts, the declared keys and stats
    * columns, and the stream batch tags — assembled from the commit
    * files alone (metadata-scale; no data file is opened). Vacuumed
    * versions are absent, exactly as time travel sees them. (The
    * tuple-returning `history` predates this and stays for callers
    * that want the raw triple.) */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    val (fs, rp) = fsFor(spark, root)
    val latest = latestVersion(spark, root)
    val rows = (1 to latest).flatMap { v =>
      if (!fs.exists(commitPath(rp, v))) None
      else {
        val lines = commitLines(fs, rp, v)
        val op = lines.find(_.startsWith("op:")).map(_.drop(3)).getOrElse("?")
        val entries = expandEntryLines(fs, rp, lines).flatMap(parseEntry)
        Some((v, op, entries.size.toLong, entries.count(_.isDelta).toLong,
          lines.find(_.startsWith("key:")).map(_.drop(4)).getOrElse(""),
          lines.find(_.startsWith("statscol:")).map(_.drop(9)).getOrElse(""),
          lines.filter(_.startsWith("batch:")).map(_.drop(6)).mkString(","),
          // the version's VISIBLE columns in logical names — how a
          // rename/drop shows up in the audit trail
          snapshotColMap(fs, rp, v).map(liveMap(_).map(_._1))
            .getOrElse(Seq.empty).mkString(",")))
      }
    }
    import spark.implicits._
    rows.toDF("version", "op", "n_entries", "n_deltas", "keys",
      "stats_cols", "batch_tags", "columns")
  }

  /** SQL face: register the table's CURRENT snapshot (or a pinned
    * `version`) as a temp view, through the `graft-tx` format face
    * (TxTableSource) — one read path for API, format, and SQL users.
    * The version is pinned at registration, so queries against the
    * view never see later commits until re-registered — exactly the
    * repeatable-read behavior a BI session wants. */
  def registerView(spark: SparkSession, name: String, root: String,
    version: Int = -1): Unit = {
    val pinned = if (version >= 0) version else latestVersion(spark, root)
    spark.read.format("graft-tx").option("versionAsOf", pinned).load(root)
      .createOrReplaceTempView(name)
  }

  /** Drop data directories not referenced by the latest `retainLast`
    * snapshots, then drop the commit files older than that horizon.
    * Time travel remains valid inside the horizon. */
  /** What [[vacuum]] would durably reclaim, WITHOUT deleting: the
    * data dirs, commit files and manifests outside the retention
    * horizon — the "how much history am I about to burn?" question an
    * operator asks before running retention on a production table.
    * The age-gated orphan sweeps (crashed temps, lost hint renames)
    * are excluded: they depend on the wall clock, not the horizon,
    * and reclaim scratch, never history. Metadata-only. */
  // ---- Named snapshot refs (tags): `_commits/_tags/<name>` holds the
  // pinned version's digits. Create is atomic create-no-overwrite (two
  // racing taggers: exactly one wins), tags are IMMUTABLE (drop to
  // move), and the name grammar starts with a letter so a ref string
  // is never ambiguous with an integer version. Every versionAsOf
  // face (reader option, SQL FOR VERSION AS OF, catalog time travel)
  // resolves through [[resolveRef]]; vacuum PROTECTS tagged versions
  // — their commit file, data dirs, manifests and sidecars survive
  // any retainLast horizon until the tag is dropped. The audit-pin /
  // release-ref move of the log-structured table formats. ----
  private def tagsDir(rp: Path) = new Path(commitDir(rp), "_tags")

  /** Pin `name` → `version` (default: the current latest). */
  def tag(spark: SparkSession, root: String, name: String,
    version: Int = -1): Int = {
    require(name.nonEmpty && name.head.isLetter &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' ||
        c == '.'),
      s"txtable: tag name must match [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    val (fs, rp) = fsFor(spark, root)
    val v = if (version == -1) latestVersion(fs, rp) else version
    require(v >= 1 && fs.exists(commitPath(rp, v)),
      s"txtable: cannot tag $root at v$v - no such committed version")
    fs.mkdirs(tagsDir(rp))
    val p = new Path(tagsDir(rp), name)
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"txtable: tag '$name' already exists on $root (tags are " +
            "immutable - drop it first to re-pin)", e)
      }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Drop the named ref (the pinned version becomes vacuumable). */
  def deleteTag(spark: SparkSession, root: String, name: String): Unit = {
    val (fs, rp) = fsFor(spark, root)
    require(fs.delete(new Path(tagsDir(rp), name), false),
      s"txtable: no tag '$name' on $root")
  }

  /** All named refs, (name, version), name-sorted. */
  def tags(spark: SparkSession, root: String): Seq[(String, Int)] = {
    val (fs, rp) = fsFor(spark, root)
    val td = tagsDir(rp)
    if (!fs.exists(td)) Seq.empty
    else fs.listStatus(td).toSeq.flatMap { st =>
      val s = readFileUtf8(fs, st.getPath).trim
      if (s.nonEmpty && s.forall(_.isDigit))
        Some(st.getPath.getName -> s.toInt)
      else None
    }.sortBy(_._1)
  }

  /** A version REF string: integer digits → that version, anything
    * else → tag lookup (loud on a missing tag). The single resolver
    * behind every `versionAsOf` face. */
  private[graft] def resolveRef(spark: SparkSession, root: String,
    ref: String): Int = {
    val t = ref.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toInt
    else {
      val (fs, rp) = fsFor(spark, root)
      val p = new Path(tagsDir(rp), t)
      require(fs.exists(p),
        s"txtable: no tag '$t' on $root (and not an integer version)")
      val s = readFileUtf8(fs, p).trim
      require(s.nonEmpty && s.forall(_.isDigit),
        s"txtable: corrupt tag file for '$t' on $root: '$s'")
      s.toInt
    }
  }

  /** Versions a vacuum must keep beyond the retain horizon. */
  private def taggedVersions(spark: SparkSession, root: String,
    upTo: Int): Seq[Int] =
    tags(spark, root).map(_._2).filter(tv => tv >= 1 && tv <= upTo)
      .distinct.sorted

  def vacuumDryRun(spark: SparkSession, root: String,
    retainLast: Int = 1): Seq[String] = {
    require(retainLast >= 1, "vacuum must retain at least the latest snapshot")
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    if (v == 0) return Seq.empty
    val keepVs = (math.max(1, v - retainLast + 1)) to v
    val tagged = taggedVersions(spark, root, v)
    val protectVs = (keepVs ++ tagged).distinct.sorted
    val keep = protectVs.flatMap(snapshotDirs(fs, rp, _)).toSet
    val dataDir = new Path(rp, "data")
    def live(topLevelName: String): Boolean = {
      val self = s"data/$topLevelName"
      keep.contains(self) || keep.exists(_.startsWith(self + "/"))
    }
    val deadDirs =
      if (!fs.exists(dataDir)) Seq.empty
      else fs.listStatus(dataDir).map(_.getPath)
        .filterNot(p => live(p.getName)).map(_.toString).toSeq
    def includesOf(vv: Int): Seq[String] =
      if (vv <= 0 || !fs.exists(commitPath(rp, vv))) Seq.empty
      else commitLines(fs, rp, vv)
        .filter(_.startsWith("include:")).map(_.drop(8))
    val keptManifests = protectVs.flatMap(includesOf).toSet
    val expiredManifests =
      (1 until keepVs.head).flatMap(includesOf).toSet -- keptManifests
    val deadCommits = (1 until keepVs.head)
      .filterNot(tagged.contains)
      .map(old => commitPath(rp, old).toString)
    deadDirs.sorted ++
      expiredManifests.toSeq.sorted.map(m => new Path(rp, m).toString) ++
      deadCommits
  }

  /** DESCRIBE DETAIL: the one-row table summary every operator
    * dashboard wants — latest version, last operation, dir/delta
    * tallies, row/byte totals (when every dir recorded them), key and
    * partition columns — from commit metadata ALONE, zero data I/O at
    * any size. SQL face: `CALL spark_catalog.system.detail('t')`. */
  def describeDetail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val r = resolve(spark, root, -1)
    require(r.v > 0, s"txtable: no committed snapshot at $root")
    val entries = r.entries
    val rowsOpt =
      if (entries.forall(_.stats.contains(rowsKey)))
        Some(entries.map(_.stats(rowsKey)._1).sum)
      else None
    val bytesOpt = snapshotBytes(spark, root, r.v)
    val op = r.lines.find(_.startsWith("op:")).map(_.drop(3)).getOrElse("?")
    val parts = layoutPartCols(spark, root, r.v)
    Seq((root, r.v, op, entries.size.toLong,
      entries.count(_.isDelta).toLong, rowsOpt, bytesOpt,
      r.keys.getOrElse(Seq.empty).mkString(","), parts.mkString(",")))
      .toDF("location", "version", "last_operation", "num_dirs",
        "num_delta_dirs", "num_rows", "size_bytes", "key_columns",
        "partition_columns")
  }

  def vacuum(spark: SparkSession, root: String, retainLast: Int = 1): Unit = {
    require(retainLast >= 1, "vacuum must retain at least the latest snapshot")
    val (fs, rp) = fsFor(spark, root)
    val v = latestVersion(spark, root)
    if (v == 0) return
    val keepVs = (math.max(1, v - retainLast + 1)) to v
    // named refs pin their versions past any retain horizon: the
    // tagged commit, its data dirs, manifests and sidecars all
    // survive until the tag is dropped
    val tagged = taggedVersions(spark, root, v)
    val protectVs = (keepVs ++ tagged).distinct.sorted
    val keep = protectVs.flatMap(snapshotDirs(fs, rp, _)).toSet
    val dataDir = new Path(rp, "data")
    // nested-dir layouts (OPTIMIZE ZORDER buckets, partitioned
    // appends) commit entries UNDER a shared top-level dir — that
    // parent is live when any retained entry equals it or sits
    // inside it
    def live(topLevelName: String): Boolean = {
      val self = s"data/$topLevelName"
      keep.contains(self) || keep.exists(_.startsWith(self + "/"))
    }
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).map(_.getPath)
        .filterNot(p => live(p.getName))
        .foreach(fs.delete(_, true))
    // manifest files referenced only by commits leaving the horizon
    // are provably superseded — drop them with those commits; ones
    // still referenced by any retained commit must stay
    def includesOf(v: Int): Seq[String] =
      if (v <= 0 || !fs.exists(commitPath(rp, v))) Seq.empty
      else commitLines(fs, rp, v)
        .filter(_.startsWith("include:")).map(_.drop(8))
    val keptManifests = protectVs.flatMap(includesOf).toSet
    val expiredManifests =
      (1 until keepVs.head).flatMap(includesOf).toSet -- keptManifests
    expiredManifests.foreach(m => fs.delete(new Path(rp, m), false))
    (1 until keepVs.head).filterNot(tagged.contains)
      .foreach(old => fs.delete(commitPath(rp, old), false))
    // never-referenced manifests (crashed commit attempts) sweep with
    // the same 1 h age gate as the other orphan scratch below
    val mDir = new Path(rp, manifestDirName)
    if (fs.exists(mDir))
      fs.listStatus(mDir)
        .filter(s => !keptManifests.contains(s"$manifestDirName/" +
          s.getPath.getName) &&
          s.getModificationTime < System.currentTimeMillis() - 3600 * 1000L)
        .foreach(s => fs.delete(s.getPath, false))
    // staged change-feed diffs (_changes/v<N>) for versions below the
    // replay horizon can never be served again (changes() refuses
    // vacuumed ranges) — drop them with their commits
    val chDir = new Path(rp, "_changes")
    if (fs.exists(chDir))
      fs.listStatus(chDir).map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
            n.drop(1).toInt < keepVs.head &&
            !tagged.contains(n.drop(1).toInt)
        }
        .foreach(fs.delete(_, true))
    // orphaned scratch from crashed work: change-diff temps that lost
    // (or abandoned) the staging race, and sink epoch dirs whose
    // commit/abort cleanup never ran. Age-gated (1 h) so vacuum never
    // races an in-flight stager or streaming epoch.
    val horizon = System.currentTimeMillis() - 3600 * 1000L
    if (fs.exists(chDir))
      fs.listStatus(chDir)
        .filter(s => s.getPath.getName.startsWith(".tmp-") &&
          s.getModificationTime < horizon)
        .foreach(s => fs.delete(s.getPath, true))
    // latest-hint temps whose rename lost or crashed (writeHint is
    // best-effort) — same 1 h age gate
    fs.listStatus(commitDir(rp))
      .filter(s => s.getPath.getName.startsWith(".hint-") &&
        s.getModificationTime < horizon)
      .foreach(s => fs.delete(s.getPath, false))
    val stagingDir = new Path(rp, "_staging")
    if (fs.exists(stagingDir))
      fs.listStatus(stagingDir)
        // only per-stream DIRS are epoch scratch; plain files at this
        // level (the anonymous-lineage `_default_owner` marker) are
        // durable metadata the sweep must leave alone
        .filter(_.isDirectory).foreach { stream =>
          fs.listStatus(stream.getPath)
            .filter(_.getModificationTime < horizon)
            .foreach(s => fs.delete(s.getPath, true))
          if (fs.listStatus(stream.getPath).isEmpty)
            fs.delete(stream.getPath, false)
        }
    // orphaned in-dir `_pdel-*` sidecars: a lost speculative attempt
    // of the MoR-DML sidecar job, or a sidecar whose dir went fully
    // dead in the same commit — readers only ever open sidecars the
    // entry's own `pd:` segments name, so orphans are dead bytes.
    // Referenced = named by any RETAINED version's entries; the same
    // 1 h age gate keeps the sweep clear of an in-flight commit.
    val refdSidecars = protectVs.flatMap(kv =>
      snapshotEntries(fs, rp, kv).flatMap(e =>
        e.pdels.keys.map(n => new Path(new Path(rp, e.dir), n).toString)))
      .toSet
    if (fs.exists(dataDir)) {
      val stack = scala.collection.mutable.Stack[Path](dataDir)
      while (stack.nonEmpty) {
        val d = stack.pop()
        fs.listStatus(d).foreach { s =>
          if (s.isDirectory) {
            if (s.getPath.getName.startsWith("_pdel-")) {
              if (!refdSidecars.contains(s.getPath.toString) &&
                s.getModificationTime < horizon)
                fs.delete(s.getPath, true)
            } else stack.push(s.getPath)
          }
        }
      }
    }
  }
}
