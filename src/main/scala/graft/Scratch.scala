package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Cluster-portable scratch-space manager for the persisted derived
  * artifacts the graph family and the TxTable gate queries
  * materialize (edge lists, node domains, scratch tables).
  *
  * Why not `java.io.tmpdir`: on a real cluster a driver-local path is
  * meaningless to executors — task output scatters across node-local
  * disks and the read-back fails. Every path here is resolved and
  * manipulated through the Hadoop FileSystem API against the
  * cluster's default filesystem (or an explicit
  * `spark.graft.scratchDir`), so on a 1000-executor deployment the
  * artifacts land on shared storage (HDFS/S3A/...) exactly like any
  * other dataset; at local[*] they resolve to `file:/tmp/...` and
  * behave as before.
  *
  * Analogous role in the reference: the job-scoped shared scratch
  * space of mapred temporary output
  * (src/mapred/org/apache/hadoop/mapred/FileOutputCommitter.java:1) —
  * intermediate artifacts live on the job's FileSystem, never on a
  * single node's local disk.
  */
object Scratch {

  /** Scratch base as a fully-qualified Hadoop-FS path:
    * `spark.graft.scratchDir` when set (any FS URI), else
    * `/tmp/graft-scratch-<user>` resolved against the default
    * FileSystem — shared storage on a cluster, `file:/tmp/...` in
    * local mode. */
  def base(spark: SparkSession): Path = {
    val raw = spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse("/tmp/graft-scratch-" +
        sys.props.getOrElse("user.name", "anon"))
    val p = new Path(raw)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p)
  }

  def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Content version of an input directory: a 64-bit hash folded over
    * the recursive (name, length, mtime) listing. Metadata-scale (one
    * FS listing, no file opened) and deterministic, so a memoized
    * artifact keyed on it is rebuilt exactly when the data under the
    * path changes — a path-only cache key would silently serve stale
    * artifacts after an in-place rewrite. */
  def contentVersion(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    var h = 1125899906842597L
    def mix(x: Long): Unit = h = h * 1099511628211L + x
    def walk(s: org.apache.hadoop.fs.FileStatus): Unit = {
      mix(s.getPath.getName.hashCode.toLong)
      if (s.isDirectory)
        fs.listStatus(s.getPath).sortBy(_.getPath.getName).foreach(walk)
      else { mix(s.getLen); mix(s.getModificationTime) }
    }
    if (fs.exists(p)) walk(fs.getFileStatus(p))
    java.lang.Long.toHexString(h)
  }

  /** Nanoseconds spent BUILDING memoized scratch artifacts this JVM —
    * accumulated by the artifact builders (Dedup.scratchRelation) and
    * read by Bench to split artifact-build seconds out of per-query
    * wall time: a one-off corpus-scale derivation (the TextRank graph
    * at sf1) otherwise bills itself to whichever query runs first,
    * and the rung-over-rung ratios read as plan regressions. */
  private[graft] val buildNanos =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** This JVM's owner token. Every artifact name the JVM mints ends
    * with it, so two JVMs on one scratch root never share a path: one's
    * exit cleanup or superseded-version sweep cannot delete what the
    * other is still reading. */
  private[graft] val owner: String =
    java.util.UUID.randomUUID().toString.take(8)

  // the artifacts this JVM built, deleted when it exits
  private val owned =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]()
  private lazy val exitHook: Unit = { sys.addShutdownHook(cleanup(_ => true)); () }

  /** Delete-on-JVM-exit of `p`, an artifact this JVM built. */
  def registerCleanup(spark: SparkSession, p: Path): Unit = {
    owned.putIfAbsent(p.toString, spark.sessionState.newHadoopConf())
    exitHook
  }

  /** Delete this JVM's registered artifacts that `which` selects —
    * never another JVM's. Best effort via the FileSystem API: failures
    * are swallowed, as Hadoop's own shutdown hook may close the FS
    * cache first. */
  private[graft] def cleanup(which: Path => Boolean): Unit =
    owned.forEach { (path, conf) =>
      val p = new Path(path)
      if (which(p)) {
        owned.remove(path)
        try p.getFileSystem(conf).delete(p, true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  /** A fresh scratch directory of this JVM for `prefix` scoped to
    * input `dir`: any previous leftover with the same identity is
    * removed first (repeated runs reuse, not accumulate, scratch
    * space), and the path is registered for exit cleanup. Returns the
    * qualified URI string — safe to hand to `DataFrame.write`. */
  def freshRoot(spark: SparkSession, prefix: String, dir: String): String = {
    val p = new Path(base(spark), f"$prefix-${dir.hashCode}%08x-$owner")
    val fs = fileSystem(spark, p)
    fs.delete(p, true)
    registerCleanup(spark, p)
    p.toString
  }
}
