package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** The local file system under its own scheme (`countfs:///...`),
  * recording the name of every file it opens. Register it with
  * `fs.countfs.impl` and address a table through a `countfs://` path
  * to count the reads a component makes.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = CountingLocalFs.Uri
  override def getScheme: String = CountingLocalFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opened.add(f.getName)
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")
  val opened = new ConcurrentLinkedQueue[String]()

  def install(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[CountingLocalFs].getName)

  /** Opens so far of files whose names start with one of `prefixes`. */
  def count(prefixes: String*): Int = {
    import scala.jdk.CollectionConverters._
    opened.asScala.count(n => prefixes.exists(n.startsWith))
  }
}
