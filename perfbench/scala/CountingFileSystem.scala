package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file://` filesystem with call counters. Hadoop's own `file`
  * statistics count bytes but report zero read and write ops, so the
  * benchmark installs this class through `spark.hadoop.fs.file.impl` and
  * reads the list/open/create/rename counts from the companion. Bytes still
  * come from Hadoop's statistics (see [[CountingFileSystem.bytes]]). */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] =
    counted(lists)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(lists)(super.listLocatedStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(opens)(super.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(creates)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    counted(renames)(super.rename(src, dst))
}

object CountingFileSystem {
  val lists = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  /** Time spent inside these calls on threads other than Spark task
    * threads, i.e. by driver-side metadata work. */
  val driverNanos = new AtomicLong

  private def counted[T](c: AtomicLong)(f: => T): T = {
    c.incrementAndGet()
    if (Thread.currentThread.getName.startsWith("Executor task launch")) f
    else {
      val t = System.nanoTime()
      try f finally driverNanos.addAndGet(System.nanoTime() - t)
    }
  }

  /** (bytes read, bytes written) over every `file` FileSystem instance. */
  def bytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .foldLeft((0L, 0L)) { case ((r, w), s) => (r + s.getBytesRead, w + s.getBytesWritten) }
  }

  final case class Snapshot(lists: Long, opens: Long, creates: Long, renames: Long,
      read: Long, written: Long, driverNs: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(lists - o.lists, opens - o.opens,
      creates - o.creates, renames - o.renames, read - o.read, written - o.written,
      driverNs - o.driverNs)
  }

  val zero: Snapshot = Snapshot(0, 0, 0, 0, 0, 0, 0)

  def snapshot(): Snapshot = {
    val (r, w) = bytes()
    Snapshot(lists.get, opens.get, creates.get, renames.get, r, w, driverNanos.get)
  }
}
