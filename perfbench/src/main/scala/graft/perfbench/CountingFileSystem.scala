package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting its metadata calls, parquet files
  * created and distinct parquet files opened. The
  * traced run installs it as `fs.file.impl`; nothing else uses it. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def getFileStatus(f: Path): FileStatus = {
    meta.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    meta.incrementAndGet(); super.listStatus(f)
  }
  override def mkdirs(f: Path): Boolean = {
    meta.incrementAndGet(); super.mkdirs(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    meta.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    meta.incrementAndGet(); super.delete(f, recursive)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet")) opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getName.endsWith(".parquet")) parquetCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object CountingFileSystem {
  val meta = new AtomicLong(0)
  val parquetCreates = new AtomicLong(0)
  /** Distinct parquet files opened since the last [[takeOpened]]. */
  private val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def takeOpened(): Int = { val n = opened.size; opened.clear(); n }

  final case class Snap(meta: Long, creates: Long) {
    def -(o: Snap): Snap = Snap(meta - o.meta, creates - o.creates)
  }
  def snap(): Snap = Snap(meta.get, parquetCreates.get)
}
