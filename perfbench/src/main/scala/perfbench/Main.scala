package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import Workload.median

/** One benchmark run: one workload in this JVM, on `local[nproc]`, driven by
  * one client thread.
  *
  * {{{
  * Main --root <checkout> --workload <name> --seed <n> --seconds <s>
  *      --trace <0|1> [--source <digest>] [--record-digests]
  * }}}
  *
  * Set-up is repeated: a fresh session and the workload's preparation, three
  * times, of which the median counts; then a fixed number of warm-up
  * rounds, which count too. The workload's rounds then repeat for
  * `--seconds`. Times are CPU times of this process (see [[Clock]]): on a
  * shared host wall times drift with the neighbours' load. Untraced, the
  * last stdout line carries the end-to-end metrics. Traced, rounds alternate
  * between traced and untraced, and the last line carries the per-layer
  * metrics, including the tracing overhead measured between the two kinds
  * of round. */
object Main {
  val CallNames: Seq[String] = Seq(
    "SearchEngine.search", "SearchEngine.qaContext", "IvfIndex.searchPersisted",
    "SearchEngine.buildIndex", "IvfIndex.persist", "ProductQuantizer.persist",
    "Search.fusedTopK", "ProductQuantizer.searchPersisted",
    "Search.thresholdRetrieval", "Search.topicChanges", "Sessionize.qaContext",
    "Dedup.jaccardNeighbors", "Dedup.containmentNeighbors")
  val KernelNames: Seq[String] = Seq("preprocess", "hash_embed",
    "cosine_similarity", "top_k_by_score", "shingles", "minhash_signature",
    "pq_encode")
  private val SetupReps = 3
  private val SettleTolerance = 0.2

  private final case class Round(traced: Boolean, fromMs: Long, toMs: Long,
                                 samples: Range, ops: Seq[Op],
                                 phases: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val jvm0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap ++
      args.filter(_ == "--record-digests").map(_ -> "1")
    def need(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val root = Paths.get(need("--root")).toAbsolutePath
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val record = opts.contains("--record-digests")
    sys.props("graft.sort") = "false"
    val work = root.resolve("perfbench").resolve(".work")
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workload(workload, work, seed)
    val digests = Digests.load(root.resolve("perfbench").resolve("digests.json"), record)

    var spark: SparkSession = null
    def restart(): SparkSession = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(work, cores)
      spark
    }
    Files.createDirectories(work.resolve("run"))
    if (!Files.exists(Corpus.Default.dir(work).resolve("_READY")))
      Corpus.ensure(restart(), work, Corpus.Default)

    // set-up: fresh session + preparation, repeated; the median counts
    var calls: Calls = null
    val setupReps = (1 to SetupReps).map { _ =>
      val c0 = Clock.now()
      if (calls != null) calls.close()
      calls = new Calls(restart(), listen = trace)
      wl.prepare(calls)
      Clock.now().since(c0, "setup")
    }
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def heapMb(): Double = {
      // the second collection also frees what the first one's reference
      // processing released (broadcast and shuffle cleanup)
      System.gc()
      Thread.sleep(20)
      System.gc()
      oldGen.map(_.getUsage.getUsed)
        .getOrElse(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0
    }
    val heapRounds = mutable.ArrayBuffer.empty[Double]
    val allRounds = mutable.ArrayBuffer.empty[Round]
    def runRound(traced: Boolean): Round = {
      calls.tracing = traced
      val s0 = calls.samples.size
      val e0 = System.currentTimeMillis()
      val ops = calls.span("round")(wl.round(calls))
      val r = Round(traced, e0, System.currentTimeMillis(),
        s0 until calls.samples.size, ops, wl.phases)
      calls.tracing = false
      allRounds += r
      heapRounds += heapMb()
      r
    }

    // warm-up: a fixed number of rounds, so that every run measures the
    // same rounds of the JVM's warm-up curve. Whether the per-kind CPU
    // medians of its last two rounds were within the tolerance of the two
    // before is recorded.
    val w0 = Clock.now()
    val warmRounds = (1 to wl.warmRounds).map(_ => runRound(traced = false))
    val m0 = Clock.now()
    def cpuMedians(rs: Seq[Round]): Map[String, Double] =
      rs.flatMap(_.ops).groupBy(_.kind).map { case (k, os) => k -> median(os.map(_.cpuMs)) }
    val warmSteps = warmRounds.grouped(2).map(cpuMedians).toSeq
    val settled = warmSteps.size >= 2 && {
      val Seq(prev, last) = warmSteps.takeRight(2)
      wl.kinds.forall(k => prev.contains(k) && last.contains(k) &&
        math.abs(last(k) - prev(k)) <= SettleTolerance * prev(k))
    }
    val rounds = mutable.ArrayBuffer.empty[Round]
    val warm = m0.since(w0, "warm-up")
    // CPU times are scaled by the unstolen share of the machine (see
    // README, "Why CPU time"); set-up's include the JIT compiler's, as
    // compiling is set-up work
    def setupCpuS(o: Op): Double = (o.cpuMs + o.jitMs) * o.unstolen(cores) / 1e3
    val setupS = median(setupReps.map(setupCpuS)) + setupCpuS(warm)

    // measurement; a traced run alternates traced and untraced rounds
    // (untraced first), until both kinds have been measured
    def bothKinds = rounds.exists(_.traced) && rounds.exists(!_.traced)
    while (rounds.isEmpty || (trace && !bothKinds) ||
           (System.nanoTime() - m0.wallNs) / 1e9 < seconds)
      rounds += runRound(trace && rounds.count(_.traced) * 2 < rounds.size)
    val measuredS = (System.nanoTime() - m0.wallNs) / 1e9

    val c0 = System.nanoTime()
    val checked = wl.check(calls, digests)
    val checkS = (System.nanoTime() - c0) / 1e9
    val selfTest = if (trace) SelfTest.run(spark) else Nil
    val kernels =
      if (trace) {
        val (texts, vectors) = wl.kernelInputs(spark)
        Kernels.rates(spark, texts, vectors)
      } else Map.empty[String, Double]

    val plainOps = rounds.filterNot(_.traced).flatMap(_.ops).toSeq
    val wallMs = plainOps.map(_.ms).sorted
    val n = wallMs.size
    // p90 by nearest rank: a run holds too few operations for a percentile
    // with ten samples beyond it to lie above the median
    val tailIdx = math.ceil(0.9 * n).toInt - 1
    val stealFrac = plainOps.map(_.stolenMs).sum / cores / wallMs.sum
    val cpuRawMs = median(plainOps.map(_.cpuMs))
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("cpu_p50_ms", cpuRawMs * (1 - stealFrac), "ms"),
      ("heap_peak_mb", heapRounds.max, "MB"))
    val byKind = plainOps.groupBy(_.kind).flatMap { case (k, os) =>
      Seq(s"p50_ms.$k" -> median(os.map(_.ms)), s"cpu_p50_ms.$k" -> median(os.map(_.cpuMs))) }
    val phaseMedians = rounds.filterNot(_.traced).flatMap(_.phases).groupBy(_._1)
      .map { case (k, vs) => k -> median(vs.map(_._2).toSeq) }

    val perLayer = if (trace) layerMetrics(calls, rounds.toSeq, checked,
      kernels, plainOps, phaseMedians, 1 - stealFrac) ++ Seq(
      ("wall.latency_p50_ms", median(wallMs), "ms"),
      ("wall.latency_tail_ms", wallMs(tailIdx), "ms"),
      ("jvm.jit_cpu_ms", median(plainOps.map(_.jitMs)), "ms"),
      ("host.steal_frac", stealFrac, "ratio")) else Nil

    val problems = checked.problems ++ selfTest
    val correct = checked.failed == 0 && selfTest.isEmpty && checked.attempted > 0
    val metrics = (if (trace) perLayer else endToEnd).map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> checked.attempted.toString,
      "failed" -> (checked.failed + selfTest.size).toString,
      "metrics" -> Json.obj(metrics)))

    val host = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString, "seconds" -> Json.num(seconds),
      "nproc" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(s"${sys.props("java.vendor")} ${sys.props("java.version")}"),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "master" -> Json.str(s"local[$cores]"),
      "graft_sort" -> Json.str(sys.props("graft.sort")),
      "source" -> Json.str(opts.getOrElse("--source", "unknown")))
    def nums(xs: Iterable[Double]): String = xs.map(Json.num).mkString("[", ", ", "]")
    val detail = Seq(
      "setup_reps_cpu_s" -> nums(setupReps.map(_.cpuMs / 1e3)),
      "setup_reps_s" -> nums(setupReps.map(_.ms / 1e3)),
      "warmup_cpu_s" -> Json.num(warm.cpuMs / 1e3), "warmup_s" -> Json.num(warm.ms / 1e3),
      "warmup_rounds" -> wl.warmRounds.toString,
      "warmup_settled" -> settled.toString,
      "warmup_pair_cpu_medians_ms" -> warmSteps.map(m => Json.obj(m.toSeq.sorted.map {
        case (k, v) => k -> Json.num(v) })).mkString("[", ", ", "]"),
      "round_s" -> nums(allRounds.map(r => (r.toMs - r.fromMs) / 1e3)),
      "round_cpu_s" -> nums(allRounds.map(_.ops.map(_.cpuMs).sum / 1e3)),
      "round_jit_s" -> nums(allRounds.map(_.ops.map(_.jitMs).sum / 1e3)),
      "rounds_measured" -> rounds.size.toString, "measured_s" -> Json.num(measuredS),
      "check_s" -> Json.num(checkS),
      "heap_mb_rounds" -> nums(heapRounds),
      "jvm_s" -> Json.num((System.currentTimeMillis() - jvm0) / 1e3),
      "ops_untraced" -> n.toString,
      "latency_p50_ms" -> Json.num(median(wallMs)),
      "latency_p90_ms" -> Json.num(wallMs(tailIdx)),
      "tail_samples_beyond" -> (n - 1 - tailIdx).toString,
      "steal_frac" -> Json.num(stealFrac),
      "cpu_p50_unscaled_ms" -> Json.num(cpuRawMs)) ++
      (byKind ++ phaseMedians).toSeq.sorted.map { case (k, v) => k -> Json.num(v) } ++
      Seq("problems" -> problems.map(Json.str).mkString("[", ", ", "]"))
    val recordJson = Json.obj(Seq("host" -> Json.obj(host),
      "detail" -> Json.obj(detail), "result" -> result))

    val results = work.resolve("results")
    Files.createDirectories(results)
    val stem = s"$workload-s$seed-t${if (trace) 1 else 0}"
    Files.write(results.resolve(s"$stem.json"), recordJson.getBytes(UTF_8))
    if (trace) writeSpans(results.resolve(s"$stem.spans.jsonl"), calls.spans.toSeq)
    if (record) Files.write(work.resolve(s"observed-$workload-s$seed.json"),
      Json.obj(digests.observed.toSeq.map { case (k, v) => k -> Json.str(v) })
        .getBytes(UTF_8))
    problems.foreach(p => System.err.println(s"[perfbench] problem: $p"))
    System.err.println(s"[perfbench] record: $recordJson")
    calls.close()
    spark.stop()
    println(result)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // status history is kept even without a UI; a short one keeps the
      // heap after GC about the program's state, not about past jobs
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def layerMetrics(calls: Calls, rounds: Seq[Round],
                           checked: Checked, kernels: Map[String, Double],
                           plainOps: Seq[Op], phases: Map[String, Double],
                           unstolen: Double)
      : Seq[(String, Double, String)] = {
    val traced = rounds.filter(_.traced)
    val samples = calls.samples.toSeq
    def med(xs: scala.collection.Seq[Double]): Double = median(xs)
    val perCall = CallNames.flatMap { c =>
      val ss = samples.filter(_.name == c)
      Seq(
        (s"$c.construct_ms", med(ss.map(_.constructMs)), "ms"),
        (s"$c.construct_jobs", med(ss.map(_.constructJobs.toDouble)), "count"),
        (s"$c.plan_ms", med(ss.map(_.planMs)), "ms"),
        (s"$c.exec_ms", med(ss.map(_.execMs)), "ms"),
        (s"$c.exec_jobs", med(ss.map(_.execJobs.toDouble)), "count"),
        (s"$c.shuffle_records", med(ss.map(_.totals.shuffleRecords.toDouble)), "count"))
    }
    def perRound(f: Seq[CallSample] => Double): Double =
      med(traced.map(r => f(r.samples.map(samples(_)))))
    val widest = calls.ledger.stageDurations(_ => true)
      .filter(_.nonEmpty).sortBy(d => (d.size, d.sum)).lastOption
    val skew = widest.map { d =>
      val m = med(d.map(_.toDouble))
      if (m > 0) d.max / m else 1.0
    }.getOrElse(0.0)
    val ivf = samples.filter(_.name == "IvfIndex.searchPersisted")
    val corpusRows = checked.layer.getOrElse("IvfIndex.corpus_rows", 0.0)
    val selfNs = Calls.selfNs(calls.spans.toSeq)
    val roots = calls.spans.filter(_.name == "round")
    val rootNs = roots.map(_.ns).sum.toDouble
    val tracedOps = traced.flatMap(_.ops.map(_.cpuMs))
    val plainMed = med(plainOps.map(_.cpuMs))
    val byKind = plainOps.groupBy(_.kind).map { case (k, os) => k -> med(os.map(_.ms)) }
    val cpuByKind = plainOps.groupBy(_.kind)
      .map { case (k, os) => k -> med(os.map(_.cpuMs)) * unstolen }
    Seq(
      perCall,
      KernelNames.map(k => (s"functions.$k.rows_per_s", kernels.getOrElse(k, 0.0), "1/s")),
      Seq(
        ("plans.fused_topk_nodes", perRound(_.map(_.fusedNodes.toDouble).sum), "count"),
        ("sources.input_bytes", perRound(_.map(_.totals.inputBytes.toDouble).sum), "bytes"),
        ("spark.driver_gap_s",
          med(traced.map(r => calls.ledger.idleMs(r.fromMs, r.toMs) / 1e3)), "s"),
        ("spark.executor_cpu_s", perRound(_.map(_.totals.cpuNs / 1e9).sum), "s"),
        ("spark.gc_s", perRound(_.map(_.totals.gcMs / 1e3).sum), "s"),
        ("spark.spill_bytes", perRound(_.map(_.totals.spillBytes.toDouble).sum), "bytes"),
        ("spark.task_skew", skew, "ratio"),
        ("IvfIndex.scan_fraction",
          if (corpusRows > 0) med(ivf.map(_.totals.inputRecords / corpusRows)) else 0.0,
          "ratio"),
        ("SearchEngine.qaContext.hit_rate",
          checked.layer.getOrElse("SearchEngine.qaContext.hit_rate", 0.0), "ratio"),
        ("IvfIndex.recall_at_10", checked.layer.getOrElse("IvfIndex.recall_at_10", 0.0),
          "ratio"),
        ("qa_online.search_p50_ms", byKind.getOrElse("search", 0.0), "ms"),
        ("qa_online.qa_p50_ms", byKind.getOrElse("qa", 0.0), "ms"),
        ("qa_online.ivf_p50_ms", byKind.getOrElse("ivf", 0.0), "ms"),
        ("qa_online.search_cpu_ms", cpuByKind.getOrElse("search", 0.0), "ms"),
        ("qa_online.qa_cpu_ms", cpuByKind.getOrElse("qa", 0.0), "ms"),
        ("qa_online.ivf_cpu_ms", cpuByKind.getOrElse("ivf", 0.0), "ms"),
        ("batch.build_s", phases.getOrElse("build_s", 0.0), "s"),
        ("batch.search_s", phases.getOrElse("search_s", 0.0), "s"),
        ("batch.dedup_s", phases.getOrElse("dedup_s", 0.0), "s"),
        ("trace.overhead_frac",
          if (plainMed > 0) med(tracedOps) / plainMed - 1 else 0.0, "ratio"),
        ("trace.accounted_frac",
          if (rootNs > 0) 1 - roots.map(r => selfNs(r.id)).sum / rootNs else 0.0,
          "ratio"))
    ).flatten
  }

  private def writeSpans(file: Path, spans: Seq[Span]): Unit = {
    val self = Calls.selfNs(spans)
    val lines = spans.sortBy(_.start).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
      "self_ns" -> self(s.id).toString)))
    Files.write(file, lines.asJava, UTF_8)
  }
}
