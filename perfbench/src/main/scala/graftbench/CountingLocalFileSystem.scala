package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

/** The local filesystem with call counters: directory listings, file opens
  * and status lookups. Traced runs install it for the `file` scheme
  * (`fs.file.impl`), so the index layer's metadata traffic is counted
  * without touching graft. Hadoop's own statistics for the local
  * filesystem count bytes but not these calls.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong()
  val opens = new AtomicLong()
  val statuses = new AtomicLong()

  def snapshot(): Map[String, Long] =
    Map("listOps" -> lists.get(), "openOps" -> opens.get(), "statusOps" -> statuses.get())
}
