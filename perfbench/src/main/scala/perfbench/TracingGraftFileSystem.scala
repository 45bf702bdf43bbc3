package perfbench

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.cache.GraftFileSystem

/** `tgraft://` — the caching filesystem with benchmark spans around its
  * public calls. Used only in `--trace 1` runs; it shares the JVM's one
  * `CacheManager` with `graft://`, so both schemes see the same cache.
  *
  * Span names: `fs.open`, `fs.status` (get/list calls), `fs.write`
  * (mutations and the close of a write stream) and `stream.read` (reads on
  * an opened stream).
  */
class TracingGraftFileSystem extends GraftFileSystem {
  override protected def outerScheme: String = TracingGraftFileSystem.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    Trace.span("fs.open") {
      new FSDataInputStream(new TracingGraftFileSystem.TracedStream(
        super.open(f, bufferSize)))
    }

  override def getFileStatus(f: Path): FileStatus =
    Trace.span("fs.status")(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    Trace.span("fs.status")(super.listStatus(f))

  override def getFileBlockLocations(file: FileStatus, start: Long,
      len: Long): Array[BlockLocation] =
    Trace.span("fs.status")(super.getFileBlockLocations(file, start, len))

  private def tracedClose(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null, out.getPos) {
      override def close(): Unit = Trace.span("fs.write")(super.close())
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    tracedClose(Trace.span("fs.write")(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    tracedClose(Trace.span("fs.write")(super.append(f, bufferSize, progress)))

  override def rename(src: Path, dst: Path): Boolean =
    Trace.span("fs.write")(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    Trace.span("fs.write")(super.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    Trace.span("fs.write")(super.mkdirs(f, permission))
}

object TracingGraftFileSystem {
  val Scheme = "tgraft"

  /** Forwards every call to the caching stream, timing reads. */
  final class TracedStream(in: FSDataInputStream) extends FSInputStream
      with StreamCapabilities {
    override def hasCapability(c: String): Boolean = in.hasCapability(c)
    override def seek(p: Long): Unit = in.seek(p)
    override def getPos: Long = in.getPos
    override def seekToNewSource(p: Long): Boolean = in.seekToNewSource(p)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()

    override def read(): Int = Trace.span("stream.read")(in.read())
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      Trace.span("stream.read")(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      Trace.span("stream.read")(in.read(pos, b, off, len))
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit =
      Trace.span("stream.read")(in.readFully(pos, b, off, len))
    override def readVectored(
        ranges: java.util.List[_ <: FileRange],
        allocate: java.util.function.IntFunction[java.nio.ByteBuffer]): Unit =
      Trace.span("stream.read")(in.readVectored(ranges, allocate))
  }
}
