package perfbench

import java.util.concurrent.atomic.AtomicLongArray
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file:` filesystem that counts metadata and open/create calls by
  * kind. Installed through `spark.hadoop.fs.file.impl` in the traced
  * run only. Calls made by java.nio directly (graft's manifest commit,
  * sidecars, checkpoint manager) never reach it; the `/proc/self/io`
  * byte deltas cover that blind spot.
  *
  * Each call lands in one of two buckets: `Op` when the calling thread
  * (or the task's job) carries the [[Trace.OpProperty]] local property
  * — work the client's current operation caused — and `Other` for
  * everything else, such as a streaming query polling its source. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = { hit(List); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit(List); super.listLocatedStatus(f)
  }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    hit(List); super.listStatusIterator(p)
  }
  override def getFileStatus(f: Path): FileStatus = { hit(Stat); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(Open); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit(Create); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(Rename); super.rename(src, dst) }
}

object CountingLocalFileSystem {
  val Kinds: Seq[String] = Seq("list", "stat", "open", "create", "rename")
  private val List = 0; private val Stat = 1; private val Open = 2
  private val Create = 3; private val Rename = 4
  val Op = 0; val Other = 1

  private val counts = new AtomicLongArray(2 * Kinds.length)

  private def bucket(): Int = {
    val tc = org.apache.spark.TaskContext.get()
    val prop =
      if (tc != null) tc.getLocalProperty(Trace.OpProperty)
      else Trace.context.map(_.getLocalProperty(Trace.OpProperty)).orNull
    if (prop != null) Op else Other
  }

  private def hit(kind: Int): Unit = {
    counts.incrementAndGet(bucket() * Kinds.length + kind); ()
  }

  /** Current totals, indexed `bucket * Kinds.length + kind`. */
  def snapshot(): Array[Long] = Array.tabulate(counts.length)(counts.get)
}
