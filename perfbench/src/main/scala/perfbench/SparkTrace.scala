package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters for the traced run: query phase times from each
  * execution's public `QueryExecution.tracker`, and job, task and shuffle
  * totals from a `SparkListener`. Task spans are tied to their benchmark op
  * through the `perfbench.op` local property of the job that ran them. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  /** Phase name (analysis, optimization, planning) -> summed ms. */
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Wall-clock ms -> nanoTime offset, for task spans. */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageOp.put(s, op))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    taskMs.addAndGet(info.duration)
    Option(e.taskMetrics).foreach(m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    val op = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
    Trace.recordFor("spark.task", op, info.launchTime * 1000000L + nanoOffset,
      info.finishTime * 1000000L + nanoOffset)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong).addAndGet(s.durationMs)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def phase(name: String): Long = Option(phaseMs.get(name)).map(_.get).getOrElse(0L)

  def snapshot: Map[String, Double] = Map(
    "spark.analysis_ms" -> phase("analysis").toDouble,
    "spark.optimization_ms" -> phase("optimization").toDouble,
    "spark.planning_ms" -> phase("planning").toDouble,
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_ms" -> taskMs.get.toDouble,
    "spark.shuffle_mb" -> shuffleBytes.get / 1e6)
}

object SparkTrace {
  def install(spark: SparkSession): SparkTrace = {
    val t = new SparkTrace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Block until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain.waitUntilEmpty(spark.sparkContext)
}
