package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span recorder for `--trace 1` runs.
  *
  * A span is (name, start, end, parent, op). Spans nest per thread: a span
  * opened while another is open on the same thread is its child. The op id
  * ties spans of one benchmark op together; on Spark executor threads it
  * comes from the `perfbench.op` local property the client sets per query.
  * Recording is off unless [[enabled]], so untraced runs pay one volatile
  * read per boundary. While it is on, spans of an op are kept only if
  * [[tracedOps]] picks the op; spans outside any op are always kept.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, op: Long,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  val OpProperty = "perfbench.op"

  @volatile var enabled = false
  @volatile var tracedOps: Long => Boolean = _ => true
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val clientOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  /** The op a lone client is running, for spans on threads that carry no
    * op of their own, such as the pool Spark checks input paths on; -1
    * when there is no lone client. */
  @volatile var soleOp: Long = -1L

  /** Mark the calling client thread as running op `op`. */
  def setOp(op: Long): Unit = clientOp.set(op)

  def currentOp: Long = {
    val own = clientOp.get.longValue
    if (own >= 0) own
    else Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty(OpProperty)))
      .map(_.toLong).getOrElse(soleOp)
  }

  private def keeps(op: Long): Boolean = op < 0 || tracedOps(op)

  /** Time `body` as a span named `name`, child of the thread's open span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val op = currentOp
    if (!keeps(op)) return body
    val id = ids.incrementAndGet()
    val stack = open.get
    open.set(id :: stack)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      open.set(stack)
      spans.add(Span(id, stack.headOption.getOrElse(0L), name, op, start, end))
    }
  }

  /** Record an already-finished leaf span under the thread's open span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val op = currentOp
      if (keeps(op)) spans.add(Span(ids.incrementAndGet(),
        open.get.headOption.getOrElse(0L), name, op, startNs, endNs))
    }

  /** Record a finished root span for an explicit op (Spark task ends). */
  def recordFor(name: String, op: Long, startNs: Long, endNs: Long): Unit =
    if (enabled && keeps(op)) spans.add(Span(ids.incrementAndGet(), 0L, name, op, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children may overlap each other). */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Write every span as one JSON object per line. */
  def writeTo(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
