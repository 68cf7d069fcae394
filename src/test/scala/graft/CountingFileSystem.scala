package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, FSDataInputStream,
  FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop filesystem that serves the local disk under the
  * `countfs` scheme and counts every call by kind (`open`, `list`,
  * `status`, `create`, `rename`, `delete`, `mkdirs`) and, for `open`,
  * by file name. Register it on a session with [[CountingFileSystem.install]],
  * then address any local path as `countfs://<absolute path>`: the same
  * bytes, every metadata call counted. It is the seam for specs that
  * pin how much filesystem work a protocol path does, and the place to
  * add fault injection (fail the Nth call of a kind).
  *
  * The wrapped filesystem is a raw (checksum-free) local filesystem
  * that reports the `countfs` scheme, so paths and statuses keep the
  * scheme end to end. */
class CountingFileSystem extends FilterFileSystem(new CountingFileSystem.Raw) {
  import CountingFileSystem.count

  override def listStatus(f: Path): Array[FileStatus] = {
    count("list"); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    count("status"); super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"

  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  private def count(kind: String): Unit =
    counts.computeIfAbsent(kind, _ => new AtomicLong()).incrementAndGet()

  /** Calls of `kind` since the last [[reset]]. */
  def get(kind: String): Long =
    Option(counts.get(kind)).map(_.get).getOrElse(0L)

  /** `open` calls since the last [[reset]] whose file name satisfies `p`. */
  def opens(p: String => Boolean): Long = {
    import scala.jdk.CollectionConverters._
    counts.asScala.collect {
      case (k, v) if k.startsWith("open:") && p(k.stripPrefix("open:")) => v.get
    }.sum
  }

  def reset(): Unit = counts.clear()

  /** Register the scheme on `spark`'s Hadoop configuration. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)

  /** `localPath` (absolute) addressed through the counting scheme. */
  def uri(localPath: String): String =
    s"$Scheme://${new java.io.File(localPath).getAbsolutePath}"

  /** The local filesystem under the `countfs` scheme. Opens are
    * counted here, not in the wrapper: parquet opens files through the
    * `openFile` builder, which the wrapper hands straight to this
    * filesystem. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
    override def initialize(name: URI, conf: Configuration): Unit =
      super.initialize(getUri, conf)
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      count("open"); count(s"open:${f.getName}"); super.open(f, bufferSize)
    }
  }
}
