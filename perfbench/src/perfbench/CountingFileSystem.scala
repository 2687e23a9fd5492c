package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a count of each namespace operation. The
  * traced session installs it as `fs.file.impl`, so every caller that
  * goes through Hadoop's `FileSystem` is counted without changing the
  * program. Calls through `FileContext` bypass it: Structured
  * Streaming's checkpoint log (offsets, commits) and the rename in
  * MergeOps' swap-units marker are not counted here; the streaming
  * engine's own `walCommit`/`commitOffsets` durations cover the former.
  *
  * Paths under [[ignored]] are not counted: the file source polls its
  * landing directory on a timer, so those listings depend on timing,
  * not on the work asked for. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  /** Counts `op` once per caller request: calls the local filesystem
    * makes to itself (a create's mkdirs of the parent) are not counted. */
  private def counted[A](op: AtomicLong, p: Path)(body: => A): A = {
    val d = depth.get
    if (d == 0 && (p == null || ignored.forall(!p.toUri.getPath.startsWith(_))))
      op.incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(creates, f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    counted(renames, src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(deletes, f)(super.delete(f, recursive))

  override def mkdirs(f: Path): Boolean =
    counted(mkdirss, f)(super.mkdirs(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(mkdirss, f)(super.mkdirs(f, permission))

  override def listStatus(f: Path): Array[FileStatus] =
    counted(lists, f)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(lists, f)(super.listLocatedStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(opens, f)(super.open(f, bufferSize))
}

object CountingFileSystem {
  private val creates, renames, deletes, mkdirss, lists, opens = new AtomicLong
  private val all = Seq("create" -> creates, "rename" -> renames,
    "delete" -> deletes, "mkdirs" -> mkdirss, "list" -> lists, "open" -> opens)

  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Path prefix (URI path) whose operations are not counted. */
  @volatile var ignored: Option[String] = None

  /** Counts so far, by operation name. */
  def snapshot(): Map[String, Long] = all.map { case (k, v) => k -> v.get }.toMap
}
