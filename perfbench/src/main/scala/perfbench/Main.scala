package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import graft.cache.CacheManager

/** One benchmark run: `--workload --seed --seconds --trace --data --work`.
  *
  * Untraced runs (`--trace 0`) print the end-to-end metrics. Traced runs
  * send every op through `tgraft://`, keep the spans of every other whole
  * pass of the op sequence, and print the per-layer metrics plus the
  * tracing overhead: the median latency of the ops that kept their spans
  * against the others'. The last line of stdout is the JSON result; logs
  * go to stderr.
  */
object Main {
  type Metrics = Seq[(String, Double, String)]

  def workload(args: RunArgs): Workload = args.workload match {
    case "scan_hot" => new ScanWorkload(args, hot = true)
    case "scan_churn" => new ScanWorkload(args, hot = false)
    case "point_rw" => new PointRwWorkload(args)
    case "ops_mix" => new OpsMixWorkload(args)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = RunArgs.parse(argv)
    val w = workload(args)
    val line = try run(args, w) catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
        throw e
    }
    println(line)
    System.out.flush()
    // nothing is left to save: skip Spark's orderly shutdown
    Runtime.getRuntime.halt(0)
  }

  def run(args: RunArgs, w: Workload): String = {
    val g0 = System.nanoTime()
    w.generate()
    val generateMs = (System.nanoTime() - g0) / 1e6
    w.setup()
    System.err.println(f"[perfbench] generate ${generateMs / 1000}%.2fs, " +
      f"setup done ${Harness.sinceJvmStartMs / 1000}%.2fs after JVM start")
    val nextOp = new AtomicLong
    if (!args.trace) {
      val setupS = (Harness.sinceJvmStartMs - generateMs) / 1000.0
      // the cache volume is averaged over the window: on point_rw it swings
      // between 5 and 8 MiB as overwrites drop a file's blocks and reads
      // fetch them again, so a single reading at the end is a coin toss
      val ((win, delta), diskMb) = Harness.sampling(200)(
        Harness.diskBytes(args.cacheDir) / MiB) {
        val r = measured(w, args.seconds.toDouble, traced = false, nextOp)
        CacheManager.current.foreach(_.maintain())
        r
      }
      System.err.println(s"[perfbench] cache volume MB: ${diskMb.map(m => f"$m%.1f").mkString(" ")}")
      result(win.outcomes, endToEnd(win, delta, setupS, diskMb.sum / diskMb.size))
    } else {
      w.prepareTrace()
      val sparkTrace = w.spark.map(SparkTrace.install)
      // odd passes keep their spans, so ops with and without them sample
      // the same mix at the same stage of JIT warm-up
      Trace.tracedOps = op => op / w.cycle % 2 == 1
      Trace.clear()
      Trace.enabled = true
      val (win, delta) = try measured(w, args.seconds.toDouble, traced = true, nextOp,
        sparkTrace.map(t => () => { w.spark.foreach(SparkTrace.drain); t.snapshot }))
      finally Trace.enabled = false
      val extras = w.traceExtras()
      Trace.writeTo(new File(args.work, "spans.jsonl"))
      result(win.outcomes, perLayer(win, delta, extras))
    }
  }

  /** Cache, source, Spark and JVM counters, by name. */
  private def counters(spark: Option[() => Map[String, Double]]): Map[String, Double] = {
    val cache = CacheManager.current.map(_.metrics.snapshot.map {
      case (k, v) => s"cache.$k" -> v.toDouble
    }.toMap).getOrElse(Map.empty[String, Double])
    val source = ShapedFileSystem.stats.snapshot.map { case (k, v) => s"source.$k" -> v.toDouble }.toMap
    cache ++ source ++ Harness.jvmSnapshot ++ spark.map(_()).getOrElse(Map.empty)
  }

  private def measured(w: Workload, seconds: Double, traced: Boolean, nextOp: AtomicLong,
      spark: Option[() => Map[String, Double]] = None): (Harness.Window, Map[String, Double]) = {
    val before = counters(spark)
    val win = Harness.loop(w, seconds, nextOp, traced)
    val after = counters(spark)
    (win, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
  }

  private val MiB = 1024.0 * 1024.0

  def endToEnd(win: Harness.Window, delta: Map[String, Double], setupS: Double,
      diskMb: Double): Metrics = {
    val lat = win.latenciesMs
    // source cost of the timed ops; with several clients every op is timed
    val (requests, bytes) = win.timedSource.getOrElse(
      (delta("source.requests").toLong, delta("source.bytes").toLong))
    val n = math.max(1, win.ops).toDouble
    Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Harness.percentile(lat, 0.50), "ms"),
      ("op_p90_ms", Harness.percentile(lat, 0.90), "ms"),
      ("op_p99_ms", Harness.percentile(lat, 0.99), "ms"),
      ("ops_per_s", win.ops / (win.elapsedNs / 1e9), "1/s"),
      ("source_requests_per_op", requests / n, "count"),
      ("source_mb_per_op", bytes / MiB / n, "MB"),
      ("cache_disk_mb", diskMb, "MB"),
      ("heap_live_mb", Harness.heapLiveMb, "MB"))
  }

  def perLayer(win: Harness.Window, delta: Map[String, Double],
      extras: Map[String, Double]): Metrics = {
    // counters cover every op of the window, spans only the ops that kept them
    val n = math.max(1, win.outcomes.size).toDouble
    val nTraced = math.max(1, win.tracedOps).toDouble
    val d = delta.withDefaultValue(0.0)
    def perOp(k: String) = d(k) / n
    def ratio(a: Double, b: Double) = if (a + b == 0) 0.0 else a / (a + b)
    val spans = Trace.all
    val self = Trace.selfTimes(spans)
    def spanCount(name: String) = spans.count(_.name == name) / nTraced
    def spanMs(name: String, selfOnly: Boolean = false) = spans.filter(_.name == name)
      .map(s => if (selfOnly) self(s.id) else s.durNs).sum / 1e6 / nTraced
    val p50Plain = Harness.percentile(win.latenciesMs, 0.5)
    val p50Traced = Harness.percentile(win.tracedLatenciesMs, 0.5)
    val byQuery = win.timed.groupBy(_.label)
    val weightMb = CacheManager.current.map(_.totalWeightKB / 1024.0).getOrElse(0.0)
    Seq(
      ("stream.read.count", spanCount("stream.read"), "count/op"),
      ("stream.read.ms", spanMs("stream.read"), "ms/op"),
      ("stream.read.self_ms", spanMs("stream.read", selfOnly = true), "ms/op"),
      ("stream.vectored.ranges", perOp("cache.vectored_ranges"), "count/op"),
      ("cache.cached_requests", perOp("cache.cached_requests"), "count/op"),
      ("cache.byte_hit_rate", ratio(d("cache.bytes_from_cache"), d("cache.bytes_from_remote")), "ratio"),
      ("source.requests", perOp("source.requests"), "count/op"),
      ("source.bytes", perOp("source.bytes"), "B/op"),
      ("source.busy_ms", perOp("source.busy_ns") / 1e6, "ms/op"),
      ("source.injected_ms", perOp("source.injected_ns") / 1e6, "ms/op"),
      ("cache.remote_requests", perOp("cache.remote_requests"), "count/op"),
      ("cache.extra_read_bytes", perOp("cache.extra_read_bytes"), "B/op"),
      ("cache.warmup_bytes", perOp("cache.warmup_bytes"), "B/op"),
      ("cache.evictions", perOp("cache.evictions"), "count/op"),
      ("cache.weight_mb", weightMb, "MB"),
      ("cache.block_hit_rate", ratio(d("cache.cached_requests"), d("cache.remote_requests")), "ratio"),
      ("fs.open.count", spanCount("fs.open"), "count/op"),
      ("fs.open.ms", spanMs("fs.open"), "ms/op"),
      ("fs.status.count", spanCount("fs.status"), "count/op"),
      ("fs.status.ms", spanMs("fs.status"), "ms/op"),
      ("fs.write.count", spanCount("fs.write"), "count/op"),
      ("fs.write.ms", spanMs("fs.write"), "ms/op"),
      ("cache.invalidations", perOp("cache.invalidations"), "count/op"),
      ("cache.corruption_fallbacks", perOp("cache.corruption_fallbacks"), "count/op"),
      ("spark.analysis_ms", perOp("spark.analysis_ms"), "ms/op"),
      ("spark.optimization_ms", perOp("spark.optimization_ms"), "ms/op"),
      ("spark.planning_ms", perOp("spark.planning_ms"), "ms/op"),
      ("spark.jobs", perOp("spark.jobs"), "count/op"),
      ("spark.tasks", perOp("spark.tasks"), "count/op"),
      ("spark.task_ms", perOp("spark.task_ms"), "ms/op"),
      ("spark.shuffle_mb", perOp("spark.shuffle_mb"), "MB/op"),
      ("jvm.gc_ms", perOp("jvm.gc_ms"), "ms/op"),
      ("jvm.gc_count", perOp("jvm.gc_count"), "count/op"),
      ("jvm.jit_ms", perOp("jvm.jit_ms"), "ms/op"),
      ("jvm.rss_peak_mb", Harness.rssPeakMb, "MB"),
      ("trace.overhead_pct",
        if (p50Plain == 0) 0.0 else (p50Traced - p50Plain) / p50Plain * 100, "%"),
      ("nocache.op_p50_ms", extras.getOrElse("nocache.op_p50_ms", 0.0), "ms"),
      ("file.op_p50_ms", extras.getOrElse("file.op_p50_ms", 0.0), "ms")) ++
      OpsMixWorkload.Queries.map { q =>
        (s"ops.$q.ms", byQuery.get(q).map(os => Harness.median(os.map(_.latencyNs / 1e6)))
          .getOrElse(0.0), "ms")
      }
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  /** The result line. Failed ops are logged to stderr and fail the run. */
  def result(outcomes: Seq[Outcome], metrics: Metrics): String = {
    val failed = outcomes.filterNot(_.ok)
    failed.take(5).foreach(o => System.err.println(
      s"[perfbench] FAILED ${o.label}: ${o.error.getOrElse("wrong result")}"))
    System.err.println(s"[perfbench] ops=${outcomes.size} failed=${failed.size} " +
      outcomes.groupBy(_.label).map { case (k, v) =>
        f"$k:${v.size}x${Harness.median(v.map(_.latencyNs / 1e6))}%.1fms"
      }.toSeq.sorted.mkString(" "))
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed.isEmpty && outcomes.nonEmpty}, "attempted": ${outcomes.size}, """ +
      s""""failed": ${failed.size}, "metrics": {$body}}"""
  }
}
