package perfbench

import java.io.{EOFException, IOException}
import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `shaped://` — local files made to behave like an object store.
  *
  * Every request the store serves costs one fixed delay
  * (`shaped.delay.ms`), and every byte a read stream transfers is paced to
  * a per-stream cap (`shaped.mbps`, MB/s; 0 = unlimited). The request model
  * follows an S3-style client:
  *   - a positioned read (`read(pos, ...)`, `readFully(pos, ...)`) is one GET;
  *   - a sequential read opens a GET at the current offset; later reads that
  *     continue at the same offset stream on it without a new request, and a
  *     seek ends it;
  *   - `getFileStatus` is one HEAD, `listStatus` one LIST.
  * Writes, renames and deletes are passed through unshaped and uncounted.
  *
  * Egress counts the bytes GETs return plus a modelled LIST response body
  * ([[ShapedFileSystem.ListBaseBytes]] + [[ShapedFileSystem.ListEntryBytes]]
  * per entry, the order of an S3 ListObjectsV2 XML page). HEAD has no body.
  *
  * Counts are exact and the store uses no randomness. The counters are
  * JVM-wide ([[ShapedFileSystem.stats]]) because Hadoop caches one instance
  * per scheme and the benchmark reads them across instances.
  *
  * Plug-in: `fs.shaped.impl = perfbench.ShapedFileSystem` and
  * `graft.underlying.scheme = shaped`.
  */
class ShapedFileSystem extends FileSystem {
  import ShapedFileSystem._

  private val local = new RawLocalFileSystem
  private var delayNs = 0L
  private var bytesPerSec = 0L
  private var workingDir = new Path("/")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
    delayNs = (conf.getDouble(DelayKey, 0.0) * 1e6).toLong
    bytesPerSec = (conf.getDouble(MbpsKey, 0.0) * 1e6).toLong
  }

  override def getUri: URI = URI.create(s"$Scheme:///")
  override def getScheme: String = Scheme

  private def toLocal(p: Path): Path = {
    val q = if (p.isAbsolute) p else new Path(workingDir, p)
    new Path("file", null, Option(q.toUri.getPath).filter(_.nonEmpty).getOrElse("/"))
  }
  private def toShaped(p: Path): Path = new Path(Scheme, null, p.toUri.getPath)
  private def shapedStatus(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      null, null, null, toShaped(st.getPath))

  /** Run one request: pay the fixed delay plus `bytes` at the stream cap,
    * measured from the request's start, and count it. */
  private def request[T](kind: String, startNs: Long)(
      body: => (T, Long)): T = {
    val (out, bytes) = body
    pace(startNs, delayNs + transferNs(bytes))
    val end = System.nanoTime()
    stats.count(kind, bytes, end - startNs)
    Trace.record(s"source.$kind", startNs, end)
    out
  }

  private def transferNs(bytes: Long): Long =
    if (bytesPerSec <= 0 || bytes <= 0) 0L else bytes * 1000000000L / bytesPerSec

  /** Sleep until `startNs + costNs`; the slept time is the injected time. */
  private def pace(startNs: Long, costNs: Long): Unit = {
    val due = startNs + costNs
    var now = System.nanoTime()
    if (now >= due) return
    val from = now
    while (now < due) {
      LockSupport.parkNanos(due - now)
      now = System.nanoTime()
    }
    stats.injectedNs.addAndGet(now - from)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val lp = toLocal(f)
    val len = local.getFileStatus(lp).getLen
    new FSDataInputStream(new ShapedInputStream(local.open(lp, bufferSize), len))
  }

  override def getFileStatus(f: Path): FileStatus =
    request("head", System.nanoTime()) {
      (shapedStatus(local.getFileStatus(toLocal(f))), 0L)
    }

  override def listStatus(f: Path): Array[FileStatus] =
    request("list", System.nanoTime()) {
      val sts = local.listStatus(toLocal(f)).map(shapedStatus)
      (sts, ListBaseBytes + ListEntryBytes * sts.length)
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)

  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }
  override def getWorkingDirectory: Path = workingDir

  override def close(): Unit = try super.close() finally local.close()

  /** Read side of the store: positioned reads are one GET each; sequential
    * reads share one GET for as long as they stay contiguous. */
  private final class ShapedInputStream(in: FSDataInputStream, fileLen: Long)
      extends FSInputStream {
    private var pos = 0L
    /** Offset the open sequential GET has reached; -1 = no GET open. */
    private var streamAt = -1L

    override def seek(p: Long): Unit = {
      if (p < 0 || p > fileLen) throw new EOFException(s"seek $p outside [0,$fileLen]")
      pos = p
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def available(): Int = math.min(Int.MaxValue.toLong, fileLen - pos).toInt

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }

    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (pos >= fileLen) return -1
      val start = System.nanoTime()
      val n = if (streamAt == pos) {
        // continuation of the open GET: bytes at the stream cap, no request
        val got = in.read(pos, buf, off, len)
        if (got > 0) {
          pace(start, transferNs(got))
          stats.bytes.addAndGet(got)
          stats.busyNs.addAndGet(System.nanoTime() - start)
          Trace.record("source.get", start, System.nanoTime())
        }
        got
      } else request("get", start) {
        val got = in.read(pos, buf, off, len)
        (got, math.max(got, 0).toLong)
      }
      if (n > 0) { pos += n; streamAt = pos }
      n
    }

    override def read(position: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (position >= fileLen) return -1
      val n = math.min(len.toLong, fileLen - position).toInt
      readFully(position, buf, off, n)
      n
    }

    override def readFully(position: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      if (position < 0 || position + len > fileLen)
        throw new EOFException(s"readFully [$position,+$len) outside [0,$fileLen)")
      request("get", System.nanoTime()) {
        in.readFully(position, buf, off, len)
        ((), len.toLong)
      }
    }

    override def close(): Unit = { streamAt = -1; in.close(); super.close() }
  }
}

object ShapedFileSystem {
  val Scheme = "shaped"
  val DelayKey = "shaped.delay.ms"
  val MbpsKey = "shaped.mbps"
  /** Modelled LIST response body: a fixed part plus one part per entry. */
  val ListBaseBytes = 512L
  val ListEntryBytes = 256L

  /** JVM-wide request accounting. */
  final class Stats {
    val gets = new AtomicLong
    val heads = new AtomicLong
    val lists = new AtomicLong
    val bytes = new AtomicLong
    val busyNs = new AtomicLong
    val injectedNs = new AtomicLong

    private[perfbench] def count(kind: String, n: Long, ns: Long): Unit = {
      kind match {
        case "get" => gets.incrementAndGet()
        case "head" => heads.incrementAndGet()
        case "list" => lists.incrementAndGet()
        case other => throw new IOException(s"unknown request kind $other")
      }
      bytes.addAndGet(n)
      busyNs.addAndGet(ns)
    }

    def requests: Long = gets.get + heads.get + lists.get

    def snapshot: Map[String, Long] = Map(
      "gets" -> gets.get, "heads" -> heads.get, "lists" -> lists.get,
      "requests" -> requests, "bytes" -> bytes.get,
      "busy_ns" -> busyNs.get, "injected_ns" -> injectedNs.get)
  }

  val stats = new Stats
}
