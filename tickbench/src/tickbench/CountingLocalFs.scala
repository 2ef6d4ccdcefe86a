package tickbench

import java.util.concurrent.atomic.AtomicLongArray
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with every call counted by kind. The traced run
  * installs it as `fs.file.impl`; the untraced run never loads it.
  * Driver-side store calls and executor-side parquet reads share the
  * one JVM-wide counter, so the delta across an op is that op's fs
  * traffic. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(Open); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(Rename); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(Delete); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count(Mkdirs); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count(List); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count(Status); super.getFileStatus(f)
  }
}

object CountingLocalFs {
  val Kinds: Vector[String] =
    Vector("open", "create", "rename", "delete", "mkdirs", "list", "status")
  private val Open = 0
  private val Create = 1
  private val Rename = 2
  private val Delete = 3
  private val Mkdirs = 4
  private val List = 5
  private val Status = 6
  private val counts = new AtomicLongArray(Kinds.size)
  private def count(kind: Int): Unit = counts.incrementAndGet(kind)

  /** Current totals per kind, in [[Kinds]] order. */
  def snapshot(): Array[Long] = Array.tabulate(Kinds.size)(counts.get)
}
