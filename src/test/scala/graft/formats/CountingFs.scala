package graft.formats

import java.io.{FilterOutputStream, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local disk under its own scheme (`countfs:/abs/path`), counting the
  * output streams it opens, the ones closed again and the most open at
  * once, so a test can check that a writer releases every object on every
  * path and how many it holds. Register it with
  * [[CountingFs.conf]]; the counts are JVM-wide, like Spark's local-mode
  * tasks. */
final class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): OutputStream = {
    val open = CountingFs.opened.incrementAndGet() - CountingFs.closed.get
    CountingFs.maxOpen.accumulateAndGet(open, math.max)
    new FilterOutputStream(super.createOutputStreamWithMode(f, append, permission)) {
      private var isClosed = false
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = {
        if (!isClosed) CountingFs.closed.incrementAndGet()
        isClosed = true
        super.close()
      }
    }
  }
}

object CountingFs {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")
  val opened = new AtomicInteger
  val closed = new AtomicInteger
  val maxOpen = new AtomicInteger

  val conf: (String, String) = s"fs.$Scheme.impl" -> classOf[CountingFs].getName

  def uri(absPath: String): String = s"$Scheme:$absPath"

  def reset(): Unit = { opened.set(0); closed.set(0); maxOpen.set(0) }
}
