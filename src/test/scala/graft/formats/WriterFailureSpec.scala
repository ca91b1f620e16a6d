package graft.formats

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.config.{CompressionType, FormatType}

/** `failfs:///abs/path` — the local FileSystem under its own scheme, whose
  * output streams throw on the `FailAtWrite`-th write reaching any of them
  * and which counts `create` and stream `close` calls. Under `local[N]` every task runs in
  * this JVM, so process-wide counters see them all. */
class FailingFileSystem extends FileSystem {
  import FailingFileSystem._

  private var inner: FileSystem = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    inner = FileSystem.getLocal(conf)
  }

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  private def local(p: Path): Path = new Path("file", null, p.toUri.getPath)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = inner.create(local(f), permission, overwrite, bufferSize,
      replication, blockSize, progress)
    Creates.incrementAndGet()
    new FSDataOutputStream(new FailingStream(out), null)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    inner.open(local(f), bufferSize)
  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("append")
  override def rename(src: Path, dst: Path): Boolean =
    inner.rename(local(src), local(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    inner.delete(local(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    inner.listStatus(local(f))
  override def setWorkingDirectory(dir: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path(s"$Scheme:///")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner.mkdirs(local(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    inner.getFileStatus(local(f))
}

object FailingFileSystem {
  val Scheme = "failfs"
  val Creates = new AtomicInteger
  val Closes = new AtomicInteger
  val Writes = new AtomicInteger
  @volatile var FailAtWrite: Int = Int.MaxValue

  private final class FailingStream(out: OutputStream) extends OutputStream {
    private def counted(f: => Unit): Unit = {
      val n = Writes.incrementAndGet()
      if (n == FailAtWrite) throw new IOException(s"injected failure at write $n")
      f
    }
    override def write(b: Int): Unit = counted(out.write(b))
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      counted(out.write(b, off, len))
    override def close(): Unit = { Closes.incrementAndGet(); out.close() }
  }
}

class WriterFailureSpec extends SparkSuite {
  import FailingFileSystem._

  test("a write failing mid-object closes the open stream and fails the task") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FailingFileSystem].getName)
    val base = s"$Scheme://${tmpDir("graft_failfs")}"
    // one task writes three objects of 10 lines (two writes per line);
    // write 45 lands in the third object, after two complete ones
    val lines = spark.range(30).select(col("id").as("offset"),
      lit(0).as("task"),
      concat(lit("g"), (col("id") / 10).cast("int").cast("string")).as("_filename"),
      col("id").cast("string").as("_line"))
    Creates.set(0); Closes.set(0); Writes.set(0); FailAtWrite = 45
    val err = try intercept[SparkException] {
      GroupFileWriter.writeLines(lines, base, FormatType.Jsonl,
        CompressionType.None, groupCols = Seq("task"))
    } finally FailAtWrite = Int.MaxValue
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("injected failure at write 45"))))
    assert(Creates.get == 3)
    assert(Closes.get == Creates.get,
      s"${Creates.get} streams created, ${Closes.get} closed")
  }
}
