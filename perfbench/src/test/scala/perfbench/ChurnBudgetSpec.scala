package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.CacheManager

/** scan_churn reads about 4x the cache budget; the cache volume must stay
  * within the budget while it evicts, and every result must verify. */
class ChurnBudgetSpec extends AnyFunSuite {

  /** 68 parquet files in the generator's schema, plus its manifest. */
  private def dataset(dir: File): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("churn-data").getOrCreate()
    try {
      val rows = 36000L * 68
      spark.range(rows).repartition(68)
        .select((Seq(col("id"), (rand(1) * 16).cast("int").as("g"),
          (rand(2) * 1000).cast("int").as("f")) ++
          ScanWorkload.ValueCols.zipWithIndex.map { case (c, i) =>
            (rand(10 + i) * (1L << 31)).cast("long").as(c)
          }): _*)
        .write.parquet(new File(dir, "parts").getAbsolutePath)
    } finally spark.stop()
    val parts = new File(dir, "parts").listFiles().filter(_.getName.endsWith(".parquet"))
    val w = new PrintWriter(new File(dir, "manifest.json"))
    try w.println(parts.map(f => s"""{"name": "parts/${f.getName}"}""")
      .mkString("""{"files": [""", ", ", s"""], "total_bytes": ${parts.map(_.length).sum}}"""))
    finally w.close()
  }

  test("scan_churn keeps cache_disk_mb within the budget while evicting") {
    val root = Files.createTempDirectory("churn-spec").toFile
    val data = new File(root, "data")
    dataset(data)
    val args = RunArgs("scan_churn", 5L, 6, trace = false, data, new File(root, "work"))
    val w = new ScanWorkload(args, hot = false)
    try {
      w.setup()
      val m = CacheManager.current.get
      val evicted0 = m.metrics.evictions.get
      val win = Harness.loop(w, 6.0, new AtomicLong)
      m.maintain()
      assert(win.ops > 0 && win.outcomes.forall(_.ok))
      assert(m.metrics.evictions.get > evicted0)
      val diskMb = Harness.diskBytes(args.cacheDir) / (1024.0 * 1024.0)
      assert(diskMb > 0 && diskMb <= Settings.BudgetMb, s"cache volume $diskMb MB")
    } finally {
      w.close()
      deleteTree(root)
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
