package perfbench

import java.io.File
import java.net.URI
import java.nio.ByteBuffer
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicIntegerArray
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{FileRange, FileSystem, Path}

/** `point_rw`: no Spark. `cores` closed-loop clients call the caching
  * filesystem directly on shaped files that fit the budget (prefilled).
  *
  * 99% of ops read: half a positioned `readFully` of 4 KiB-1 MiB
  * (log-uniform, offset Zipf over 64 KiB slots), half a `readVectored` of
  * 2-8 ranges of 4-64 KiB, on a file picked by Zipf. The other 1% overwrite
  * a file picked uniformly through `create`. (At 2% about one op in ten
  * waited on a refetch, and the 90th percentile jumped between hit and miss
  * latency from run to run.) A per-file read/write lock gives every read
  * exactly one correct version, and every byte read is checked against it.
  * An op is open + call + close, the cost of one object-store access.
  */
final class PointRwWorkload(args: RunArgs) extends Workload {
  import PointRwWorkload._

  override val clients: Int = Settings.cores
  private val dir = new File(args.data, "point")
  private val versions = new AtomicIntegerArray(FileCount)
  private val locks = Array.fill(FileCount)(new ReentrantReadWriteLock())
  private val fileZipf = new Zipf(FileCount, 0.8)
  private val slotZipf = new Zipf(FileBytes / Slot, 1.1)
  /** Zipf rank -> file, a seeded permutation so the hot files vary by seed. */
  private val fileOfRank = new Random(args.seed).shuffle((0 until FileCount).toVector)
  private val picks = Array.tabulate(clients)(c => new Random(args.seed * 104729 + c + 1))
  private val buffers = Array.fill(clients)(new Array[Byte](MaxRead))
  private val sent = new Array[Long](clients)
  private val keys = Map(false -> "graft", true -> "tgraft")
  private var fs: Map[Boolean, FileSystem] = Map.empty

  private def local(f: Int) = new File(dir, f"f$f%03d.bin")
  private def path(f: Int, traced: Boolean) =
    new Path(s"${keys(traced)}://${local(f).getAbsolutePath}")

  override def generate(): Unit = {
    dir.mkdirs()
    (0 until FileCount).foreach { f =>
      Files.write(local(f).toPath, Content.bytes(Content.key(args.seed, f, 0), FileBytes))
    }
  }

  override def setup(): Unit = {
    val conf = Settings.hadoopConf(Settings.hadoopKeys(args, Settings.DelayMs, Settings.Mbps))
    fs = keys.map { case (t, s) => t -> FileSystem.get(URI.create(s"$s:///"), conf) }
    warm(traced = false)
    // untimed ops until the JIT has compiled the read and write paths
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => (0 until WarmOps).foreach(i => runOp(c, -1L - i, traced = false)))
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  override def prepareTrace(): Unit = warm(traced = true)

  /** Read every file whole once (prefill) and check it. */
  private def warm(traced: Boolean): Unit = (0 until FileCount).foreach { f =>
    val buf = new Array[Byte](FileBytes)
    val in = fs(traced).open(path(f, traced))
    try in.readFully(0L, buf) finally in.close()
    check(args.seed, f, versions.get(f), 0L, buf, 0, FileBytes)
      .foreach(e => throw new IllegalStateException(s"prefill: $e"))
  }

  private def logUniform(r: Random, lo: Int, hi: Int): Int =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo))).toInt

  override def runOp(client: Int, op: Long, traced: Boolean): Outcome = {
    val r = picks(client)
    sent(client) += 1
    // every WriteEvery-th op of a client writes: an exact share, not a
    // binomial one, so runs do not differ in how many writes they make
    if (sent(client) % WriteEvery == 0) write(r.nextInt(FileCount), traced)
    else {
      val f = fileOfRank(fileZipf.sample(r))
      if (r.nextBoolean()) readFully(client, r, f, traced)
      else readVectored(r, f, traced)
    }
  }

  private def write(f: Int, traced: Boolean): Outcome = {
    val lock = locks(f).writeLock()
    lock.lock()
    try {
      val v = versions.get(f) + 1
      val data = Content.bytes(Content.key(args.seed, f, v), FileBytes)
      val t0 = System.nanoTime()
      val out = fs(traced).create(path(f, traced), true)
      try out.write(data) finally out.close()
      val dt = System.nanoTime() - t0
      versions.set(f, v)
      Outcome("write", dt, ok = true)
    } finally lock.unlock()
  }

  private def readFully(client: Int, r: Random, f: Int, traced: Boolean): Outcome = {
    val len = logUniform(r, MinRead, MaxRead)
    val slotStart = slotZipf.sample(r).toLong * Slot + r.nextInt(Slot)
    val off = math.min(slotStart, (FileBytes - len).toLong)
    val buf = buffers(client)
    val lock = locks(f).readLock()
    lock.lock()
    val (v, dt) = try {
      val v = versions.get(f)
      val t0 = System.nanoTime()
      val in = fs(traced).open(path(f, traced))
      try in.readFully(off, buf, 0, len) finally in.close()
      (v, System.nanoTime() - t0)
    } finally lock.unlock()
    verified("read", dt, Seq(check(args.seed, f, v, off, buf, 0, len)))
  }

  private def readVectored(r: Random, f: Int, traced: Boolean): Outcome = {
    // one range per equal segment of the file, so ranges never overlap
    val n = 2 + r.nextInt(7)
    val seg = FileBytes / n
    val ranges = (0 until n).map { i =>
      val len = logUniform(r, MinRead, MaxRange)
      FileRange.createFileRange(i.toLong * seg + r.nextInt(seg - len), len)
    }
    val lock = locks(f).readLock()
    lock.lock()
    val (v, dt, data) = try {
      val v = versions.get(f)
      val t0 = System.nanoTime()
      val in = fs(traced).open(path(f, traced))
      val data = try {
        in.readVectored(ranges.asJava, (n: Int) => ByteBuffer.allocate(n))
        ranges.map(_.getData.get())
      } finally in.close()
      (v, System.nanoTime() - t0, data)
    } finally lock.unlock()
    verified("vectored", dt, ranges.zip(data).map { case (rg, bb) =>
      if (bb.remaining != rg.getLength)
        Some(s"file $f v$v range [${rg.getOffset},+${rg.getLength}) returned ${bb.remaining} bytes")
      else check(args.seed, f, v, rg.getOffset, bb.array, bb.arrayOffset + bb.position,
        rg.getLength)
    })
  }
}

object PointRwWorkload {
  /** 4 x 2 MiB: a quarter of the budget, the most one of the cache
    * registry's four hash segments holds whatever the path hashes. */
  val FileCount = 4
  val FileBytes: Int = 2 << 20
  val Slot: Int = 64 << 10
  val MinRead: Int = 4 << 10
  val MaxRead: Int = 1 << 20
  val MaxRange: Int = 64 << 10
  /** One op in 100 overwrites a file. */
  val WriteEvery = 100
  /** Untimed ops per client in setup. */
  val WarmOps = 500

  /** None when `buf[off, off+len)` holds bytes [offset, offset+len) of
    * version `v` of file `f`; otherwise what differs. */
  def check(seed: Long, f: Int, v: Int, offset: Long, buf: Array[Byte], off: Int,
      len: Int): Option[String] = {
    val bad = Content.firstMismatch(Content.key(seed, f, v), offset, buf, off, len)
    if (bad < 0) None else Some(s"file $f v$v [$offset,+$len) differs at +$bad")
  }

  /** An op whose every check passed, or a failed op naming the first error. */
  def verified(label: String, latencyNs: Long, checks: Seq[Option[String]]): Outcome = {
    val err = checks.flatten.headOption
    Outcome(label, latencyNs, err.isEmpty, err)
  }

  /** Zipf(s) over ranks [0, n), sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
