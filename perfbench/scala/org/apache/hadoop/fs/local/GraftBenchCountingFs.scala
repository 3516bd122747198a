package org.apache.hadoop.fs.local

import java.net.URI
import java.util.EnumSet

import graftbench.FsCounters
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus,
  LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` for FileContext callers (Structured Streaming's checkpoint
  * file manager writes its offset and commit logs this way), counting
  * every public call. It lives in this package because `LocalFs`'s
  * constructors are package-private.
  */
class GraftBenchCountingFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  GraftBenchCountingFs.stats = getStatistics

  override def createInternal(f: Path, flag: EnumSet[CreateFlag], absolutePermission: FsPermission,
                              bufferSize: Int, replication: Short, blockSize: Long,
                              progress: Progressable, checksumOpt: Options.ChecksumOpt,
                              createParent: Boolean): FSDataOutputStream = {
    FsCounters.bump("creates", viaFileContext = true)
    super.createInternal(f, flag, absolutePermission, bufferSize, replication, blockSize,
      progress, checksumOpt, createParent)
  }
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    FsCounters.bump("renames", viaFileContext = true)
    super.renameInternal(src, dst, overwrite)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.bump("deletes", viaFileContext = true); super.delete(f, recursive)
  }
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit = {
    FsCounters.bump("mkdirs", viaFileContext = true); super.mkdir(dir, permission, createParent)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.bump("lists", viaFileContext = true); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    FsCounters.bump("lists", viaFileContext = true); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCounters.bump("lists", viaFileContext = true); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.bump("status_calls", viaFileContext = true); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.bump("opens", viaFileContext = true); super.open(f, bufferSize)
  }
}

object GraftBenchCountingFs {
  /** Byte statistics of the FileContext side (null until first use). */
  @volatile var stats: org.apache.hadoop.fs.FileSystem.Statistics = _
}
