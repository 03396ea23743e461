package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with operation counters, installed as the
  * `file` scheme in a traced run (`spark.hadoop.fs.file.impl`). The
  * default statistics of the local file system count bytes but no
  * operations.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    (if (isData(f)) dataOpens else metaOpens).incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val dataOpens = new AtomicLong
  val metaOpens = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong

  /** A table data file: parquet, but not a delete vector. */
  def isData(f: Path): Boolean = f.getName.endsWith(".parquet") && !f.getName.startsWith("dv-")

  def snapshot(): Map[String, Double] = Map(
    "fs_data_opens" -> dataOpens.get.toDouble,
    "fs_read_ops" -> (dataOpens.get + metaOpens.get).toDouble,
    "fs_write_ops" -> writes.get.toDouble,
    "fs_list_ops" -> lists.get.toDouble)
}
