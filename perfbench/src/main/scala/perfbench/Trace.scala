package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Totals of the tasks that ran for one job tag. */
final case class TagTotals(
    jobs: Int = 0,
    shuffleRecords: Long = 0,
    inputBytes: Long = 0,
    inputRecords: Long = 0,
    cpuNs: Long = 0,
    gcMs: Long = 0,
    spillBytes: Long = 0) {
  def +(o: TagTotals): TagTotals = TagTotals(jobs + o.jobs,
    shuffleRecords + o.shuffleRecords, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords, cpuNs + o.cpuNs, gcMs + o.gcMs,
    spillBytes + o.spillBytes)
}

/** Attributes jobs, stages and task metrics to the job tag that was set
  * when the job was submitted (`SparkContext.addJobTag`). A stage shared by
  * several jobs belongs to the first job that listed it. Only tags with the
  * benchmark's prefix are kept. */
final class JobLedger extends SparkListener {
  import JobLedger._
  private val byTag = mutable.Map.empty[String, TagTotals]
  private val stageTag = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def ourTag(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(TagsProperty)))
      .flatMap(_.split(",").find(_.startsWith(Prefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    ourTag(e.properties).foreach { t =>
      byTag(t) = byTag.getOrElse(t, TagTotals()).copy(
        jobs = byTag.get(t).map(_.jobs).getOrElse(0) + 1)
      e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = t)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { t =>
      byTag(t) = byTag.getOrElse(t, TagTotals()) + TagTotals(
        shuffleRecords = m.shuffleWriteMetrics.recordsWritten,
        inputBytes = m.inputMetrics.bytesRead,
        inputRecords = m.inputMetrics.recordsRead,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        spillBytes = m.diskBytesSpilled)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  def totals(tag: String): TagTotals = synchronized(byTag.getOrElse(tag, TagTotals()))

  /** Task durations (ms) of every attributed stage whose tag passes `keep`. */
  def stageDurations(keep: String => Boolean): Seq[Seq[Long]] = synchronized {
    stageTasks.collect { case (s, d) if keep(stageTag(s)) => d.toSeq }.toSeq
  }

  /** Wall ms inside [from, to] during which no job was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val spans = jobIntervals.map { case (s, e) => (s max from, e min to) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    busy += curE - curS
    (to - from) - busy
  }
}

object JobLedger {
  val Prefix = "pb:"
  /** Spark's local property that carries a job's tags. */
  val TagsProperty = "spark.job.tags"
}

/** One timed span: name, start, end (ns) and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def ns: Long = end - start
}

/** One invocation of a public call, split into its three phases. */
final case class CallSample(name: String, constructMs: Double, constructJobs: Int,
                            planMs: Double, execMs: Double, execJobs: Int,
                            totals: TagTotals, fusedNodes: Int)

/** Where the benchmark calls into graft. Untraced, a call is construct, plan
  * and execute with nothing around them. Traced, each phase runs under its
  * own job tag inside a span, and the listener bus is drained after the call
  * so its jobs, stages and task metrics are complete. Spans stay in memory
  * until the run ends. */
final class Calls(val spark: SparkSession, listen: Boolean) {
  val ledger = new JobLedger
  if (listen) spark.sparkContext.addSparkListener(ledger)
  /** Whether calls are traced now; a traced run alternates. */
  var tracing = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.ArrayBuffer.empty[CallSample]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var callNo = 0

  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def close(): Unit =
    if (listen) spark.sparkContext.removeSparkListener(ledger)

  private def tagged[A](tag: String)(body: => A): A =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
    }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def record(name: String, base: String, cMs: Double, pMs: Double,
                     eMs: Double, plan: Option[DataFrame]): Unit = {
    span("trace.drain")(org.apache.spark.perfbench.ListenerBus.drain(spark))
    val c = ledger.totals(base + "c")
    val p = ledger.totals(base + "p")
    val e = ledger.totals(base + "e")
    val fused = plan.map(df => Calls.fusedNodes(df)).getOrElse(0)
    samples += CallSample(name, cMs, c.jobs, pMs, eMs, p.jobs + e.jobs,
      c + p + e, fused)
  }

  /** A call that returns a DataFrame: `construct` is the public call,
    * `exec` the action that completes its result. */
  def frame[T](name: String)(construct: => DataFrame)(exec: DataFrame => T): T = {
    callNo += 1
    val base = s"${JobLedger.Prefix}$name:$callNo:"
    span(name) {
      val t0 = System.nanoTime()
      val df = span("construct")(tagged(base + "c")(construct))
      val cMs = ms(t0)
      val t1 = System.nanoTime()
      span("plan")(tagged(base + "p")(df.queryExecution.executedPlan))
      val pMs = ms(t1)
      val t2 = System.nanoTime()
      val out = span("exec")(tagged(base + "e")(exec(df)))
      val eMs = ms(t2)
      if (tracing) record(name, base, cMs, pMs, eMs, Some(df))
      out
    }
  }

  /** A call that completes its own work and returns nothing (the index
    * writers): all of it counts as execution. */
  def action(name: String)(body: => Unit): Unit = {
    callNo += 1
    val base = s"${JobLedger.Prefix}$name:$callNo:"
    span(name) {
      val t0 = System.nanoTime()
      span("exec")(tagged(base + "e")(body))
      val eMs = ms(t0)
      if (tracing) record(name, base, 0.0, 0.0, eMs, None)
    }
  }
}

object Calls extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** `VectorTopKJoinExec` and `VectorTopKAggExec` nodes in a call's executed
    * plan, inside AQE's query stages too. */
  def fusedNodes(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case p if p.nodeName.startsWith("VectorTopK") => p
    }.size

  /** Self time of every span: its duration minus its children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.ns).sum).toMap
    spans.map(s => s.id -> (s.ns - childNs.getOrElse(s.id, 0L))).toMap
  }
}
