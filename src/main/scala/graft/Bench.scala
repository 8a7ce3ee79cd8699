package graft

import java.nio.file.{Files, Paths}

/** Driver benchmark contract: one JSON line on stdout.
  * Optional args narrow to specific queries (local iteration only). */
object Bench {
  def main(args: Array[String]): Unit = {
    // bench mode: drop the trailing oracle-determinism sorts (Verify and
    // the driver compare keep them — default true) so timings measure the
    // operators, not the hash-compare contract's global orderBy
    sys.props("graft.sort") = "false"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cores(4))
    spark.sparkContext.setLogLevel("WARN")
    // per-query shuffle accounting: the scale design lives or dies on
    // shuffle volume, so the bench reports it next to wall time (bytes
    // WRITTEN to shuffle per query, attributed via listener-bus drains
    // around each timed run)
    // bytes AND records: bytes are what the wire carries (but they ride
    // the compressor, whose ratio shifts with data entropy — vocabulary-
    // heavy corpora compress worse as they grow, so byte ratios inflate
    // past the row ratio); records are the compression-independent,
    // exactly-row-linear signal the scaling gate checks
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    // spill volume rides the same listener: the number that separates
    // "the operator shuffles more" from "the operator's sort/hash spills
    // under the executor memory at this SF" — the distinction the
    // decade-wall analysis of the shingle joins needs (wall ratios alone
    // can't tell SMJ sort-spill constants from plan growth)
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          spillMem.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
          spillDisk.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
          ()
        }
      })
    // the bench catalog = the correctness catalog + the bench-only
    // phase rows (build/serve wall splits of composite headline rows —
    // no oracle, so they live only here)
    val catalog = SparkEntry.queries ++ SparkEntry.benchPhases
    val selected =
      if (args.nonEmpty) catalog.view.filterKeys(args.toSet).toMap
      else catalog
    // a failed drain degrades metrics attribution, never the bench run:
    // waitUntilEmpty throws after ~10 s if the bus is backlogged, and
    // losing one query's shuffle attribution beats losing the round
    def drain(): Unit =
      try org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      catch { case scala.util.control.NonFatal(_) => () }
    // warm-up actions: JIT, codegen cache, FileSourceScan init. One
    // relational query AND one documents query — the text-normalization
    // regex chain is the hottest JIT surface, and without warming it the
    // first few text queries (in sorted order) absorb its compile cost.
    // The index-backed searches warm their build-once caches (ONLY when
    // selected) so their TIMED runs measure the pruned search, not the
    // index build — the build-once/search-many contract they check.
    (Seq("q1_agg", "text_tokens") ++
      Seq("q_ivf_persisted", "q_ivf_bucketed", "q_pq_persisted",
          "q_bm25_persisted", "q_hybrid_rrf", "q_bucketed_join",
          "q_partition_prune", "q_retrieval_eval",
          "q_cdc_bucketed", "q_snapshot_diff_bucketed",
          "dedup_jaccard_bucketed", "dedup_containment_bucketed",
          "dedup_shingle_incremental")
        .filter(selected.contains))
      .foreach(n =>
        SparkEntry.queries.get(n).foreach(f => f(spark, sfDir).count()))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // fixed name order: Map iteration order reshuffles whenever a key is
    // added, which silently re-deals JIT warmth across queries and makes
    // round-over-round per-query deltas incomparable
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      System.gc() // stabilize: drop prior queries' broadcast/codegen garbage
      drain()
      // progress marker on stderr: when a big-SF sweep dies mid-suite
      // (GC spiral, heartbeat timeout) this is how the culprit query is
      // identified — stdout stays reserved for the one JSON line
      System.err.println(s"[bench] running $name")
      val sh0 = shuffleBytes.get
      val sr0 = shuffleRecords.get
      val sm0 = spillMem.get
      val sd0 = spillDisk.get
      val t0 = System.nanoTime()
      // noop sink: forces full materialization of every output column —
      // count() lets the optimizer prune entire subtrees (outer-join
      // elimination made some pipelines look 50x faster than they are)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      val shMb = (shuffleBytes.get - sh0) / 1e6
      val shRec = shuffleRecords.get - sr0
      // isolation: drop this query's localCheckpoint blocks before the
      // next one runs — otherwise block-manager occupancy and GC pressure
      // grow monotonically across the suite and late queries read 2×
      // their isolated time (the sweep runs AFTER the clock stops; it is
      // bench bookkeeping, not part of the query)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      (name, dt, ok, shMb, shRec,
        (spillMem.get - sm0) / 1e6, (spillDisk.get - sd0) / 1e6)
    }
    // failed queries report -1 (never a fast-looking timing) and are listed
    val qs = results.map { case (k, v, ok, _, _, _, _) =>
      "\"" + k + "\":" + (if (ok) v else -1.0) }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _, _, _) =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    val shuffle = results.map { case (k, _, _, mb, _, _, _) =>
      "\"" + k + "\":" + (math.floor(mb * 100) / 100) }.mkString("{", ",", "}")
    val shuffleRec = results.map { case (k, _, _, _, rec, _, _) =>
      "\"" + k + "\":" + rec }.mkString("{", ",", "}")
    val spillMemS = results.map { case (k, _, _, _, _, sm, _) =>
      "\"" + k + "\":" + (math.floor(sm * 100) / 100) }.mkString("{", ",", "}")
    val spillDiskS = results.map { case (k, _, _, _, _, _, sd) =>
      "\"" + k + "\":" + (math.floor(sd * 100) / 100) }.mkString("{", ",", "}")
    // '#' phase rows (q_bm25#build, dedup_shingles#build) time work their
    // parent catalog rows already pay inline — keeping them in the summed
    // total would double-count it and silently inflate cross-round total
    // comparisons (they stay in every per-query map). Flagged in the JSON
    // as "phase_rows_in_total": rounds ≤ 17 summed them in.
    val total = results.collect {
      case (k, v, true, _, _, _, _) if !k.contains("#") => v }.sum
    // "sort":false is a methodology flag: timings EXCLUDE the trailing
    // oracle-determinism sorts (graft.sort=false above). Rounds ≤ 9
    // included them — cross-round comparisons must account for it.
    val full = s"""{"metric":"total","value":$total,"unit":"sec","sort":${Determinism.enabled},"saturated":${GraftSession.saturated},"phase_rows_in_total":false,"queries":$qs,"failed":$failed,"shuffle_mb":$shuffle,"shuffle_rec":$shuffleRec,"spill_mem_mb":$spillMemS,"spill_disk_mb":$spillDiskS,"sf":"$sfDir"}"""
    println(full)
    // the driver records only the LAST 2000 stdout chars, which until
    // round 9 captured the (deterministic) shuffle map and truncated the
    // wall times out of every BENCH_r*.json. Two fixes:
    //  1. the full line also lands in tools/bench_last.json (best-effort;
    //     the driver commits the working tree, so it survives per-round);
    //  2. the FINAL stdout line is a times-only map sorted ASCENDING by
    //     time — if the tail still truncates, it eats the fastest
    //     queries' entries and keeps the slow ones + failed + total.
    try Files.writeString(Paths.get("tools/bench_last.json"), full + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    val timesAsc = results
      .sortBy { case (_, v, ok, _, _, _, _) => if (ok) v else -1.0 }
      .map { case (k, v, ok, _, _, _, _) =>
        "\"" + k + "\":" + (if (ok) math.floor(v * 100) / 100 else -1.0) }
      .mkString("{", ",", "}")
    println(s"""{"times_asc":$timesAsc,"failed":$failed,"total_sec":${math.floor(total * 100) / 100},"sf":"$sfDir"}""")
    spark.stop()
  }
}
