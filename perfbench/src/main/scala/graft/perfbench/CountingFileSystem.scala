package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the calls the io layer makes: opens
  * (reads), creates, renames, deletes and mkdirs (writes), listings, and
  * status probes.  Installed for the `file` scheme in every session of the
  * benchmark, traced or not, so both pay the same (atomic increments). */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(f, permission) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { probes.incrementAndGet(); super.getFileStatus(f) }
}

object CountingFileSystem {
  val reads, writes, lists, probes = new AtomicLong()
}
