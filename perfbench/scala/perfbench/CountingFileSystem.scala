package perfbench

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `benchfs:///abs/path` — the local (checksummed) FileSystem under its own
  * scheme, counting `create` calls and timing object writes. Under
  * `local[N]` every task runs in this JVM, so process-wide counters see
  * them all. */
class CountingFileSystem extends FileSystem {
  import CountingFileSystem._

  private var inner: FileSystem = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    inner = FileSystem.getLocal(conf)
  }

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  private def local(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def back(st: FileStatus): FileStatus = {
    st.setPath(new Path(Scheme, null, st.getPath.toUri.getPath))
    st
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    inner.open(local(f), bufferSize)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val t0 = System.nanoTime()
    val out = inner.create(local(f), permission, overwrite, bufferSize,
      replication, blockSize, progress)
    CreateCalls.incrementAndGet()
    WriteNanos.addAndGet(System.nanoTime() - t0)
    new FSDataOutputStream(new TimedStream(out), null)
  }

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    inner.append(local(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    inner.rename(local(src), local(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    inner.delete(local(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    inner.listStatus(local(f)).map(back)
  override def setWorkingDirectory(dir: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path(s"$Scheme:///")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner.mkdirs(local(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    back(inner.getFileStatus(local(f)))
}

object CountingFileSystem {
  val Scheme = "benchfs"
  val CreateCalls = new AtomicLong
  val WriteNanos = new AtomicLong

  def reset(): Unit = {
    CreateCalls.set(0); WriteNanos.set(0)
  }

  /** Times every call that reaches the FileSystem's stream, close included
    * (close flushes the checksum and data buffers). */
  private final class TimedStream(out: OutputStream) extends OutputStream {
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      WriteNanos.addAndGet(System.nanoTime() - t0)
    }
    override def write(b: Int): Unit = timed(out.write(b))
    override def write(b: Array[Byte], off: Int, len: Int): Unit = timed(out.write(b, off, len))
    override def flush(): Unit = timed(out.flush())
    override def close(): Unit = timed(out.close())
  }
}
