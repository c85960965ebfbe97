package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under its own `faulty://` scheme. Once armed
  * ([[FaultyFileSystem.failNextCommit]]), the next create of a Delta commit
  * file (any `_delta_log` name containing `.json`, staged or in place)
  * returns a stream that writes half of the first buffer it is given and
  * then throws — a crash in the middle of a commit write. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"

  // the local statuses load permissions lazily through `java.io.File`,
  // which accepts only `file:` URIs — hand out plain statuses instead
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getFileDefault, "", "",
      s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    val commitFile = Option(f.getParent).exists(_.getName == "_delta_log") &&
      f.getName.contains(".json")
    if (!commitFile || !FaultyFileSystem.armed.compareAndSet(true, false)) out
    else new FSDataOutputStream(new OutputStream {
      private def fail() = throw new IOException(s"injected failure writing $f")
      override def write(b: Int): Unit = fail()
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len / 2)
        out.flush()
        fail()
      }
      override def close(): Unit = out.close()
    }, null)
  }
}

object FaultyFileSystem {
  private val armed = new AtomicBoolean(false)

  def failNextCommit(): Unit = armed.set(true)

  /** Route `faulty://` paths of `spark`'s Hadoop configuration here. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl",
      classOf[FaultyFileSystem].getName)
}
