package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.cache.GraftFileSystem

/** Fixed benchmark settings. The cache keeps its defaults (1 MiB blocks,
  * `read.threads=0`, no parallel warm-up) except for the budget. */
object Settings {
  /** `graft.cache.max.size.mb` for every workload. */
  val BudgetMb = 32
  /** Object-store shaping for the scan and point workloads. */
  val DelayMs = 20.0
  val Mbps = 100.0

  def cores: Int = Runtime.getRuntime.availableProcessors

  /** Hadoop keys that route `graft://` and `tgraft://` through the cache
    * onto `shaped://`, shaped by `delayMs` and `mbps` (0 = off). */
  def hadoopKeys(args: RunArgs, delayMs: Double, mbps: Double): Map[String, String] = Map(
    "fs.graft.impl" -> classOf[GraftFileSystem].getName,
    "fs.tgraft.impl" -> classOf[TracingGraftFileSystem].getName,
    "fs.shaped.impl" -> classOf[ShapedFileSystem].getName,
    "graft.underlying.scheme" -> ShapedFileSystem.Scheme,
    "graft.cache.dir" -> args.cacheDir.getAbsolutePath,
    "graft.cache.max.size.mb" -> BudgetMb.toString,
    ShapedFileSystem.DelayKey -> delayMs.toString,
    ShapedFileSystem.MbpsKey -> mbps.toString)

  def hadoopConf(keys: Map[String, String]): Configuration = {
    val c = new Configuration()
    keys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** `local[cores]` session with the cache wired onto the shaped store. */
  def session(args: RunArgs, keys: Map[String, String]): SparkSession = {
    val tmp = new File(args.work, "spark").getAbsolutePath
    val b = GraftSession.builder(master = s"local[$cores]",
        shufflePartitions = cores, cacheDir = Some(args.cacheDir.getAbsolutePath))
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
    keys.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
