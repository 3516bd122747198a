package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop FS call counters, shared by the `FileSystem` and the
  * `AbstractFileSystem` (FileContext) implementations below. Counting is
  * off unless a traced pass is running.
  */
object FsCounters {
  @volatile var on = false
  val names: Seq[String] =
    Seq("creates", "renames", "deletes", "mkdirs", "lists", "status_calls", "opens")
  private val counts = names.map(_ -> new AtomicLong).toMap
  /** Calls that arrived through FileContext (streaming offset/commit logs). */
  val fileContextCalls = new AtomicLong

  def bump(name: String, viaFileContext: Boolean = false): Unit = if (on) {
    counts(name).incrementAndGet()
    if (viaFileContext) fileContextCalls.incrementAndGet()
  }

  def snapshot(): Map[String, Long] =
    counts.map { case (k, v) => k -> v.get } + ("filecontext_calls" -> fileContextCalls.get)
}

/** `file://` through the checksummed local FS, counting every public call. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FsCounters.bump("creates")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounters.bump("renames"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.bump("deletes"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounters.bump("mkdirs"); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.bump("lists"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.bump("status_calls"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.bump("opens"); super.open(f, bufferSize)
  }
}
