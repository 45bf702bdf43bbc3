package perfbench

import java.io.File
import java.net.URI

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ConcurrentHarness

/** `scan_hot` and `scan_churn`: one closed-loop client runs a seeded mix of
  * scan-filter-aggregate queries over generated parquet on the shaped
  * store, read through `graft://`.
  *
  *  - hot: one query per shape, each over 1 or 2 files of a working set of
  *    a quarter of the budget, which setup prefills; ops cycle through them
  *    in a seeded order;
  *  - churn: one query per file of a working set of about 4x the budget;
  *    ops visit the files in a seeded order, so most blocks miss and the
  *    cache evicts.
  *
  * Projections are narrow (two of seven value columns) or wide (all seven), and the
  * filter on `f` (uniform on [0, 1000)) keeps 1%, 10%, 50% or 100% of the
  * rows; consecutive ops cycle through all eight combinations. Every result is checked
  * by `ConcurrentHarness.resultHash` against the same query over plain
  * `file://`, computed once in setup (see [[referenceHashes]]).
  */
final class ScanWorkload(args: RunArgs, hot: Boolean) extends Workload {
  import ScanWorkload._

  private val files: IndexedSeq[String] = manifestFiles(new File(args.data, "manifest.json"))
    .map(f => new File(args.data, f).getAbsolutePath).toIndexedSeq

  /** Queries in op order: op k runs `queries(k % queries.size)`. Shapes
    * cycle through [[Shapes]] so every run sees a balanced mix. */
  val queries: IndexedSeq[Query] = {
    val rnd = new Random(args.seed)
    def shape(id: Int, fs: Seq[String]): Query = {
      val (wide, threshold) = Shapes(id % Shapes.size)
      Query(id, fs, wide, if (wide) ValueCols else NarrowCols, threshold)
    }
    if (hot) rnd.shuffle(Shapes.indices.map { i =>
      shape(i, rnd.shuffle(files).take(1 + i % 2).sorted)
    }).toIndexedSeq
    else rnd.shuffle(files).zipWithIndex.map { case (f, i) => shape(i, Seq(f)) }.toIndexedSeq
  }

  private var session: SparkSession = _
  private var expected: Map[Int, (Long, Long)] = _
  private var next = 0

  override def spark: Option[SparkSession] = Option(session)
  override def cycle: Int = Shapes.size

  def frame(prefix: String, q: Query): DataFrame = {
    val aggs = q.cols.map(c => sum(col(c)).as(s"sum_$c")) ++ Seq(count(lit(1)).as("n")) ++
      (if (q.wide) Seq(min(col("id")).as("min_id"), max(col("id")).as("max_id")) else Nil)
    session.read.schema(Schema).parquet(q.files.map(prefix + _): _*)
      .filter(col("f") < q.threshold)
      .groupBy("g").agg(aggs.head, aggs.tail: _*)
  }

  private def hash(prefix: String, q: Query): (Long, Long) =
    ConcurrentHarness.resultHash(frame(prefix, q))

  /** The queries setup and trace preparation run through the cache, one
    * per shape, so every plan is compiled: all of scan_hot's; the last pass
    * of scan_churn's order, so the first timed ops of a churn run read files
    * the warm-up left uncached. */
  private def warmSet: Seq[Query] =
    if (hot) queries else queries.takeRight(Shapes.size)

  override def setup(): Unit = {
    session = Harness.phase("session")(Settings.session(args,
      Settings.hadoopKeys(args, Settings.DelayMs, Settings.Mbps)))
    expected = Harness.phase("reference")(referenceHashes())
    if (hot) Harness.phase("prefill")(prefill(session, "graft", files))
    Harness.phase("warm-up")(check(warmSet, "graft://"))
  }

  /** `resultHash` of every query over plain `file://`, from one combined
    * job: each file's rows join the queries that read it, are filtered by
    * that query's threshold and aggregated per (query, g). Columns a query
    * does not project are null, which `to_json` omits, so each row's JSON
    * (and so its fingerprint) is the one the query itself produces. */
  private def referenceHashes(): Map[Int, (Long, Long)] = {
    val plan = session.createDataFrame(
      queries.flatMap(q => q.files.map(f => Row.fromSeq(
        Seq(q.id, new File(f).getName, q.threshold, q.wide) ++
          ValueCols.map(q.cols.contains))))
        .asJava,
      StructType(Seq(StructField("qid", IntegerType), StructField("name", StringType),
        StructField("thr", IntegerType), StructField("wide", BooleanType)) ++
        ValueCols.map(c => StructField(s"use_$c", BooleanType))))
    val keys = Seq("qid", "g", "wide") ++ ValueCols.map(c => s"use_$c")
    val agg = session.read.schema(Schema).parquet(files.map("file://" + _): _*)
      .withColumn("name", regexp_extract(input_file_name(), "[^/]+$", 0))
      .join(broadcast(plan), "name")
      .filter(col("f") < col("thr"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), (ValueCols.map(c => sum(col(c)).as(s"s_$c")) ++
        Seq(min(col("id")).as("lo"), max(col("id")).as("hi"))): _*)
    val row = struct((Seq(col("g")) ++
      ValueCols.map(c => when(col(s"use_$c"), col(s"s_$c")).as(s"sum_$c")) ++
      Seq(col("n"), when(col("wide"), col("lo")).as("min_id"),
        when(col("wide"), col("hi")).as("max_id"))): _*)
    val rowHash = xxhash64(to_json(row)).bitwiseAND(lit((1L << 40) - 1))
    val got = agg.groupBy("qid").agg(count(lit(1)), sum(rowHash)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    queries.map(q => q.id -> got.getOrElse(q.id, (0L, 0L))).toMap
  }

  override def prepareTrace(): Unit = check(warmSet, "tgraft://")

  private def check(qs: Seq[Query], prefix: String): Unit = qs.foreach { q =>
    val got = hash(prefix, q)
    if (got != expected(q.id))
      throw new IllegalStateException(s"q${q.id} over $prefix: $got != ${expected(q.id)}")
  }

  override def runOp(client: Int, op: Long, traced: Boolean): Outcome = {
    val q = queries(next % queries.size)
    next += 1
    session.sparkContext.setLocalProperty(Trace.OpProperty, op.toString)
    val t0 = System.nanoTime()
    val got = hash(if (traced) "tgraft://" else "graft://", q)
    Outcome(s"q${q.id}", System.nanoTime() - t0, got == expected(q.id))
  }

  /** scan_hot only: the same query list with no cache, straight over the
    * shaped store and over plain local files. */
  override def traceExtras(): Map[String, Double] = {
    if (!hot) return Map.empty
    def p50(prefix: String): Double = Harness.median(queries.map { q =>
      val t0 = System.nanoTime()
      val got = hash(prefix, q)
      val ms = (System.nanoTime() - t0) / 1e6
      if (got != expected(q.id))
        throw new IllegalStateException(s"q${q.id} over $prefix: $got != ${expected(q.id)}")
      ms
    })
    Map("nocache.op_p50_ms" -> p50("shaped://"), "file.op_p50_ms" -> p50("file://"))
  }
}

object ScanWorkload {
  /** (wide, threshold): narrow or wide projection x four selectivities. */
  val Shapes: Seq[(Boolean, Int)] = for (w <- Seq(false, true); t <- Seq(10, 100, 500, 1000))
    yield (w, t)
  val ValueCols: Seq[String] = (0 until 7).map(i => s"v$i")
  /** The narrow projection. Fixed, so the eight shapes are eight plans. */
  val NarrowCols: Seq[String] = Seq("v1", "v4")
  val Schema: StructType = StructType(
    Seq(StructField("id", LongType), StructField("g", IntegerType),
      StructField("f", IntegerType)) ++ ValueCols.map(StructField(_, LongType)))

  final case class Query(id: Int, files: Seq[String], wide: Boolean,
      cols: Seq[String], threshold: Int)

  /** File names listed in the generator's manifest.json. */
  def manifestFiles(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSeq
  }

  /** Read every file whole through `scheme://`, so all its blocks are cached. */
  def prefill(spark: SparkSession, scheme: String, files: Seq[String]): Unit = {
    val fs = FileSystem.get(URI.create(s"$scheme:///"), spark.sparkContext.hadoopConfiguration)
    files.foreach { f =>
      val p = new Path(s"$scheme://$f")
      val len = fs.getFileStatus(p).getLen.toInt
      val in = fs.open(p)
      try in.readFully(0L, new Array[Byte](len)) finally in.close()
    }
  }
}
