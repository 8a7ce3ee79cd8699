package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.functions.TextFunctions.{preprocess, shingles, tokens}
import graft.operators.ProductQuantizer

/** Digests stored with the benchmark (`digests.json`, key → digest). Keys
  * under a corpus id hold for every seed; keys under `qa_batch/<corpus>/<seed>`
  * exist only for the seeds recorded, and a seed without them is checked by
  * the structural and exact checks alone. */
final class Digests(stored: Map[String, String], record: Boolean) {
  val observed = mutable.LinkedHashMap.empty[String, String]

  /** None when `d` is the stored digest of `key`, a message otherwise. */
  def expect(key: String, d: String): Option[String] = {
    observed(key) = d
    stored.get(key) match {
      case Some(s) if s == d => None
      case Some(s) => Some(s"digest $d, stored $s")
      case None if record || key.startsWith("qa_batch/") => None
      case None => Some(s"no stored digest for $key")
    }
  }
}

object Digests {
  def load(file: Path, record: Boolean): Digests = {
    val stored =
      if (!Files.exists(file)) Map.empty[String, String]
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
        node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }
    new Digests(stored, record)
  }
}

/** A reading of the clocks an [[Op]] is timed by: wall time, the machine's
  * steal time (CPU time the hypervisor gave to other guests: the `cpu` line
  * of `/proc/stat`, in USER_HZ ticks of 10 ms, summed over the CPUs), this
  * process's CPU time over all its threads, and the part of it spent in the
  * JIT compiler threads (their `/proc/self/task/<tid>/stat` times, in
  * ticks). Where `/proc` is missing, steal and JIT read 0. */
final case class Clock(wallNs: Long, stealMs: Double, cpuNs: Long, jitMs: Double) {
  def since(start: Clock, kind: String): Op = {
    val jit = jitMs - start.jitMs
    Op(kind, (wallNs - start.wallNs) / 1e6, stealMs - start.stealMs,
      (cpuNs - start.cpuNs) / 1e6 - jit, jit)
  }
}

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val TickMs = 10.0

  private def read(f: java.io.File): String = new String(Files.readAllBytes(f.toPath))

  private def stealMs(): Double =
    try {
      val cpu = read(new java.io.File("/proc/stat")).linesIterator.next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble * TickMs else 0.0
    } catch { case _: java.io.IOException => 0.0 }

  /** CPU time of the JIT compiler threads. The JVM runs with a fixed number
    * of them (`-XX:-UseDynamicNumberOfCompilerThreads`), so none exits and
    * takes its time out of the sum. */
  private def jitMs(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.map { d =>
      try {
        if (!read(new java.io.File(d, "comm")).contains("CompilerThre")) 0.0
        else {
          // utime and stime are fields 14 and 15, counted after the
          // parenthesised thread name
          val st = read(new java.io.File(d, "stat"))
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          (f(11).toDouble + f(12).toDouble) * TickMs
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }

  def now(): Clock = Clock(System.nanoTime(), stealMs(), os.getProcessCpuTime, jitMs())
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Rows per second of graft's native expressions, each over a cached
  * DataFrame of the workload's own inputs written to the noop sink, so scan
  * and shuffle stay out of the number. */
object Kernels {
  private val TargetRows = 20000L

  def rates(spark: SparkSession, texts: DataFrame, vectors: DataFrame): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = {
      val c = df.repartition(cores).cache()
      c.count()
      cached += c
      c
    }
    def grow(df: DataFrame): DataFrame = {
      val reps = math.max(1L, (TargetRows + df.count() - 1) / df.count())
      df.crossJoin(spark.range(reps).toDF("rep_")).drop("rep_")
    }
    try {
      val docs = hold(grow(texts.select(col("text"))))
      val clean = hold(docs.select(preprocess(col("text")).as("clean")))
      val toks = hold(clean.select(tokens(col("clean")).as("toks")))
      val sh = hold(toks.select(shingles(col("toks"), 3).as("sh")))
      val vecs = hold(grow(vectors.select(col("embedding"))))
      val q = vectors.select(col("embedding")).head().getSeq[Float](0)
      val sims = hold(vecs.select(monotonically_increasing_id().as("id"),
        cosine_similarity(col("embedding"), typedLit(q)).as("sim")))
      val books = ProductQuantizer.codebooks(vectors, 4, 16)
      def rate(rows: Long, df: DataFrame): Double = {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        rows / Workload.median(ts)
      }
      val nDocs = docs.count()
      val nVecs = vecs.count()
      Map(
        "preprocess" -> rate(nDocs, docs.select(preprocess(col("text")))),
        "hash_embed" -> rate(nDocs, clean.select(hash_embed(col("clean"), Inputs.Dim))),
        "cosine_similarity" -> rate(nVecs,
          vecs.select(cosine_similarity(col("embedding"), typedLit(q)))),
        "top_k_by_score" -> rate(nVecs, sims.groupBy(col("id") % 64)
          .agg(top_k_by_score(col("sim"), col("id"), 10))),
        "shingles" -> rate(nDocs, toks.select(shingles(col("toks"), 3))),
        "minhash_signature" -> rate(nDocs, sh.select(minhash_signature(col("sh"), 128))),
        "pq_encode" -> rate(nVecs, vecs.select(pq_encode(col("embedding"), books))))
    } finally cached.foreach(_.unpersist(blocking = true))
  }
}

/** The job-tag attribution check: two back-to-back calls with known shuffle
  * record counts must each be credited exactly their own. Nothing waits for
  * the listener between the calls, so the first call's task events may still
  * be queued when the second starts: attribution by a time window around each
  * call would mix them, attribution by job tag must not. */
object SelfTest {
  val Expected: Seq[(String, Long)] =
    Seq(s"${JobLedger.Prefix}selftest.a" -> 1000L, s"${JobLedger.Prefix}selftest.b" -> 2500L)

  def run(spark: SparkSession): Seq[String] = {
    val sc = spark.sparkContext
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    try {
      def call(tag: String, df: DataFrame): Unit = {
        sc.addJobTag(tag)
        try df.write.format("noop").mode("overwrite").save()
        finally sc.removeJobTag(tag)
      }
      call(Expected(0)._1, spark.range(0, 1000, 1, 4).repartition(3).toDF())
      call(Expected(1)._1, spark.range(0, 2500, 1, 5).repartition(2).toDF())
      org.apache.spark.perfbench.ListenerBus.drain(spark)
      Expected.collect { case (tag, want) if ledger.totals(tag).shuffleRecords != want =>
        s"$tag: ${ledger.totals(tag).shuffleRecords} shuffle records attributed, want $want"
      }
    } finally sc.removeSparkListener(ledger)
  }
}
