package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the metadata-mutating calls made
  * through it — `create`, `mkdirs`, `rename` and `delete` — and its
  * directory listings (`listStatus`, whichever listing call made it)
  * into [[CountingFileSystem.counts]]. Installed for the `file` scheme with
  * its instance cache off ([[CountingFileSystem.conf]]), so every
  * filesystem a session's Hadoop conf resolves, in the session's own
  * calls and in local tasks, counts. */
class CountingFileSystem extends LocalFileSystem {
  private def count(op: String): Unit = {
    CountingFileSystem.counts.merge(op, 1L, (a: Long, b: Long) => a + b)
    ()
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
    bufferSize: Int, replication: Short, blockSize: Long,
    progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = {
    count("mkdirs")
    super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs")
    super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename")
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete")
    super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("listStatus")
    super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
    : RemoteIterator[LocatedFileStatus] = {
    count("listStatus")
    super.listLocatedStatus(f)
  }
}

object CountingFileSystem {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Session conf pairs that route `file:` paths through the counter. */
  val conf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[CountingFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The calls `body` makes, by operation. */
  def during(body: => Any): Map[String, Long] = {
    counts.clear()
    body
    import scala.jdk.CollectionConverters._
    counts.asScala.toMap
  }
}
