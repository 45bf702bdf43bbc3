package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{ConcurrentHarness, PinScope, SparkEntry}
import graft.operators.Tables

/** `ops_mix`: one closed-loop client cycles through a seed-shuffled list of
  * read-only `SparkEntry` queries, one or two per operator family, over a
  * generated corpus read through a warm `graft://` cache on an unshaped
  * `shaped://` source (zero delay, no cap: it only counts). Spark planning
  * and the operators do the work; the cache does almost none. Every result
  * is checked against the same query over plain `file://`, computed once in
  * setup.
  */
final class OpsMixWorkload(args: RunArgs) extends Workload {
  import OpsMixWorkload._

  private val order: IndexedSeq[String] =
    new scala.util.Random(args.seed).shuffle(Queries).toIndexedSeq
  private val dir = args.data.getAbsolutePath
  private var session: SparkSession = _
  private var fns: Map[String, (SparkSession, String) => DataFrame] = _
  private var expected: Map[String, (Long, Long)] = _
  private var next = 0

  override def spark: Option[SparkSession] = Option(session)
  override def cycle: Int = order.size

  private def hash(name: String, prefix: String): (Long, Long) = {
    Tables.pathPrefix = prefix
    ConcurrentHarness.resultHash(fns(name)(session, dir))
  }

  override def setup(): Unit = {
    session = Harness.phase("session")(
      Settings.session(args, Settings.hadoopKeys(args, 0.0, 0.0)))
    fns = SparkEntry.queries.filter { case (k, _) => Queries.contains(k) }
    expected = Harness.phase("reference")(
      Queries.map(n => n -> PinScope.run(session)(hash(n, ""))).toMap)
    // three passes: after only one, the timed ops ran measurably slower
    // while the JIT was still compiling the operators
    Harness.phase("warm-up")((1 to 3).foreach(_ => check("graft://")))
  }

  override def prepareTrace(): Unit = check("tgraft://")

  private def check(prefix: String): Unit = Queries.foreach { n =>
    val got = PinScope.run(session)(hash(n, prefix))
    if (got != expected(n))
      throw new IllegalStateException(s"$n over $prefix: $got != ${expected(n)}")
  }

  override def runOp(client: Int, op: Long, traced: Boolean): Outcome = {
    val name = order(next % order.size)
    next += 1
    session.sparkContext.setLocalProperty(Trace.OpProperty, op.toString)
    // the pin sweep after each query is cleanup, outside the timed call
    PinScope.run(session) {
      val t0 = System.nanoTime()
      val got = hash(name, if (traced) "tgraft://" else "graft://")
      Outcome(name, System.nanoTime() - t0, got == expected(name))
    }
  }
}

object OpsMixWorkload {
  /** One read-only query per operator family: relational (two), text,
    * dedup, pipeline, embedding, codec. Each runs in about 150-450 ms warm
    * on 4 cores, so a run window holds several whole passes of the list.
    * The count is odd so the median op is the middle one of a single
    * query's samples, not the slowest sample of the query just below it. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q14_window_rank", "d01_text_stats", "d04_dedup_exact",
    "d19_filter_chain", "e01_knn_brute", "m12_png_decode")
}
