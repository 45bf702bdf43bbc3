package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: File, work: File) {
  def cacheDir: File = new File(work, "cache")
}

object RunArgs {
  def parse(args: Array[String]): RunArgs = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    RunArgs(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("data")), new File(need("work")))
  }
}

/** One completed benchmark op. `latencyNs` covers only the call into the
  * system under test; checking the result happens after the clock stops. */
final case class Outcome(label: String, latencyNs: Long, ok: Boolean,
    error: Option[String] = None)

/** A workload: inputs, a closed-loop op, and its own setup. */
trait Workload {
  /** Closed-loop clients; each sends its next op when the last returns. */
  def clients: Int = 1
  /** Ops in one balanced pass of a single client's op sequence. Timings
    * use whole passes only, so every run sees the same mix. */
  def cycle: Int = 1
  /** Harness-side input generation, excluded from `setup_s`. */
  def generate(): Unit = ()
  /** Everything before the first timed op: session, warm-up, prefill. */
  def setup(): Unit
  /** Untimed preparation of the `tgraft://` path before a traced window. */
  def prepareTrace(): Unit = ()
  /** Run op `op` on client `client`, through `tgraft://` when `traced`. */
  def runOp(client: Int, op: Long, traced: Boolean): Outcome
  /** Extra per-layer figures only this workload measures. */
  def traceExtras(): Map[String, Double] = Map.empty
  def spark: Option[SparkSession] = None
  def close(): Unit = spark.foreach(_.stop())
}

/** The closed-loop client loop and the measurements shared by every workload. */
object Harness {

  /** A timed window. `outcomes` are every op run, for correctness, and
    * `tracedOps` how many of them kept their spans. The timings use whole
    * passes ending at `elapsedNs`: `timed` are their ops without spans and
    * `tracedTimed` those with spans. With one client, `timedSource` holds
    * the (requests, bytes) the timed ops took from the source. */
  final case class Window(outcomes: Seq[Outcome], tracedOps: Int, timed: Seq[Outcome],
      tracedTimed: Seq[Outcome], elapsedNs: Long, timedSource: Option[(Long, Long)]) {
    def latenciesMs: Array[Double] = sortedMs(timed)
    def tracedLatenciesMs: Array[Double] = sortedMs(tracedTimed)
    def ops: Int = timed.size
  }

  private def sortedMs(os: Seq[Outcome]): Array[Double] =
    os.map(_.latencyNs / 1e6).toArray.sorted

  /** Run `w`'s clients for `seconds`; ops started before the deadline are
    * allowed to finish. Op ids come from `nextOp`. When `traced`, every op
    * runs through `tgraft://` and [[Trace.tracedOps]] picks the ops whose
    * spans are kept. The timings keep whole passes of `w.cycle` ops (all
    * ops if not even one pass finished). */
  def loop(w: Workload, seconds: Double, nextOp: AtomicLong,
      traced: Boolean = false): Window = {
    final case class Done(op: Long, spans: Boolean, outcome: Outcome, endNs: Long,
        requests: Long, bytes: Long)
    val out = new ConcurrentLinkedQueue[Done]()
    val src = ShapedFileSystem.stats
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val op = nextOp.getAndIncrement()
          val spans = traced && Trace.tracedOps(op)
          Trace.setOp(op)
          if (traced && w.clients == 1) Trace.soleOp = op
          val (req0, bytes0) = (src.requests, src.bytes.get)
          val start = System.nanoTime()
          val o = try w.runOp(c, op, traced) catch {
            case e: Throwable => Outcome("error", System.nanoTime() - start,
              ok = false, Some(s"${e.getClass.getName}: ${e.getMessage}"))
          }
          out.add(Done(op, spans, o, System.nanoTime(), src.requests - req0, src.bytes.get - bytes0))
        }
        Trace.setOp(-1)
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Trace.soleOp = -1L
    val all = out.asScala.toSeq.sortBy(_.op)
    val whole = all.size / w.cycle * w.cycle
    val timed = if (whole == 0) all else all.take(whole)
    val (tracedTimed, plainTimed) = timed.partition(_.spans)
    Window(all.map(_.outcome), all.count(_.spans), plainTimed.map(_.outcome),
      tracedTimed.map(_.outcome), timed.map(_.endNs).maxOption.getOrElse(t0) - t0,
      if (w.clients == 1) Some((timed.map(_.requests).sum, timed.map(_.bytes).sum)) else None)
  }

  /** Nearest-rank percentile of an ascending array. */
  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = percentile(xs.toArray.sorted, 0.5)

  /** Bytes allocated on disk under `dir`, from `du`. Cache data files are
    * created sparse at full length, so only the blocks written count, not
    * the apparent sizes. */
  def diskBytes(dir: File): Long =
    if (!dir.exists) 0L
    else {
      val du = new ProcessBuilder("du", "-s", "-B1", dir.getAbsolutePath)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = try new String(du.getInputStream.readAllBytes(), "UTF-8")
        finally du.waitFor()
      out.trim.split("\\s+").headOption.flatMap(_.toLongOption).getOrElse(
        throw new IllegalStateException(s"du $dir printed '$out'"))
    }

  /** Run `body` while a background thread takes `sample` every `everyMs`;
    * one more sample follows `body`. Returns its result and the samples. */
  def sampling[T](everyMs: Long)(sample: => Double)(body: => T): (T, Seq[Double]) = {
    val samples = new ConcurrentLinkedQueue[Double]()
    val stop = new CountDownLatch(1)
    val t = new Thread(() =>
      while (!stop.await(everyMs, TimeUnit.MILLISECONDS)) samples.add(sample),
      "perfbench-sampler")
    t.start()
    val out = try body finally { stop.countDown(); t.join() }
    samples.add(sample)
    (out, samples.asScala.toSeq)
  }

  /** Heap in use after a full collection, MiB: what the program holds on
    * to. The first collection lets Spark's context cleaner drop the
    * broadcasts of finished jobs, about 17 MB on the scan workloads; the
    * second, a second later, measures without them. */
  def heapLiveMb: Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM, MiB (Linux VmHWM). */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** JVM counters: GC time and count, JIT compile time. */
  def jvmSnapshot: Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "jvm.gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "jvm.jit_ms" -> Option(ManagementFactory.getCompilationMXBean)
        .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0))
  }

  /** Run `body`, logging its wall time to stderr under `name`. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  /** Milliseconds since this JVM started. */
  def sinceJvmStartMs: Double =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
}
