package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.functions.hash_embed
import graft.functions.TextFunctions.preprocess
import graft.operators.IvfIndex

/** Driver cost of one warm online request, per request kind: what the
  * calling thread spends on a `SearchEngine.search`, a
  * `SearchEngine.qaContext` and a single-query
  * `IvfIndex.searchPersisted`, the three kinds `perfbench`'s `qa_online`
  * sends.
  *
  * Set-up builds the engine's resident index and an IVF index over
  * `buildIndex()`'s vectors (in a temporary directory, deleted at the
  * end). Then [[WarmRounds]] rounds of one request of each kind run
  * untimed, and `n` measured rounds follow. For each request it records:
  *  - the calling thread's CPU time (`ThreadMXBean`);
  *  - codegen compiles (`CodegenMetrics`, whole JVM);
  *  - Spark jobs started (a `SparkListener`, drained after the request).
  *
  * It prints one JSON line: the core count, `n`, and per kind the median
  * and quartiles of each measure.
  *
  * Usage: `runMain graft.RequestProbe <sfDir> [n]` (default n = 30; cores
  * from `SPARK_GRAFT_CPUS`, default 4). */
object RequestProbe {

  val WarmRounds = 4

  /** Request texts, cycled: on-topic, off-topic and blank after cleaning. */
  val Texts: Seq[String] = Seq("fast hash join on the big table", "table scan",
    "window agg over a stream", "vector filter scan with a small key",
    "customer order line value", "zebra quantum marmalade harpsichord",
    "spark batch stream", "!!!")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 30
    val cores = GraftSession.cores(4)
    val spark = GraftSession(cores)
    spark.sparkContext.setLogLevel("WARN")
    val engine = new SearchEngine(spark, sfDir)
    val tmp = Files.createTempDirectory("graft-request-probe")
    val ivf = tmp.resolve("ivf").toString
    IvfIndex.persist(engine.buildIndex().select(col("doc_id").as("vec_id"),
      col("embedding")), nCentroids = 0, ivf)
    def oneQuery(text: String) = spark.range(1).select(col("id").as("query_id"),
      hash_embed(preprocess(lit(text)), 64).as("qv"))
    val kinds: Seq[(String, String => Unit)] = Seq(
      "search" -> (t => engine.search(t, 5).collect()), // BOUNDED: 5 rows
      "qaContext" -> (t => engine.qaContext(t).collect()), // BOUNDED: 1 row
      "ivf" -> (t => IvfIndex.searchPersisted(spark, ivf, oneQuery(t),
        nprobe = 4, k = 5).collect())) // BOUNDED: 5 rows

    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val threads = ManagementFactory.getThreadMXBean
    /** (cpu ms, compiles, jobs) of one request. */
    def measure(run: String => Unit, text: String): (Double, Double, Double) = {
      bridge.drainListenerBus(spark)
      jobs.set(0)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu = threads.getCurrentThreadCpuTime
      run(text)
      val cpuMs = (threads.getCurrentThreadCpuTime - cpu) / 1e6
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
      bridge.drainListenerBus(spark)
      (cpuMs, compiled.toDouble, jobs.get.toDouble)
    }
    (0 until WarmRounds).foreach(i => kinds.foreach { case (_, run) =>
      run(Texts(i % Texts.size)) })
    val samples = (0 until n).map(i => kinds.map { case (_, run) =>
      measure(run, Texts(i % Texts.size)) })

    val perKind = kinds.map(_._1).zipWithIndex.map { case (kind, k) =>
      val s = samples.map(_(k))
      s""""$kind": {"cpu_ms": ${quartiles(s.map(_._1))}, """ +
        s""""compiles": ${quartiles(s.map(_._2))}, "jobs": ${quartiles(s.map(_._3))}}"""
    }
    println(s"""{"cores": $cores, "n": $n, "warm_rounds": $WarmRounds, """ +
      s""""kinds": {${perKind.mkString(", ")}}}""")
    spark.stop()
    deleteTree(tmp)
  }

  /** `{"p25": …, "p50": …, "p75": …}`, linearly interpolated. */
  def quartiles(xs: Seq[Double]): String = {
    val s = xs.sorted
    def at(q: Double): Double = {
      val i = q * (s.size - 1)
      val (lo, hi) = (math.floor(i).toInt, math.ceil(i).toInt)
      s(lo) + (s(hi) - s(lo)) * (i - lo)
    }
    f"""{"p25": ${at(0.25)}%.2f, "p50": ${at(0.5)}%.2f, "p75": ${at(0.75)}%.2f}"""
  }

  private def deleteTree(root: Path): Unit =
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
