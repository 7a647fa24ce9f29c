package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The product's local filesystem, counting metadata and data operations.
  * Hadoop's statistics for the `file` scheme count bytes but no
  * operations, so the traced run installs this subclass as `fs.file.impl`
  * in place of [[graft.hadoop.FastLocalFileSystem]]; behaviour is
  * otherwise unchanged. Reads are opens, listings and status lookups;
  * writes are creates, renames, deletes and directory creations.
  */
class CountingLocalFileSystem extends graft.hadoop.FastLocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet()
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet()
    super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
}
