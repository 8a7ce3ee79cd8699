package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Search}
import graft.sources.Tables

class IvfSpec extends SparkSuite {
  import spark.implicits._

  lazy val t = Tables(spark, sfDir)
  lazy val queries = t.embeddings.filter($"vec_id" < 10)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  test("every corpus vector gets exactly one centroid assignment") {
    val assign = IvfIndex.assignments(t.embeddings,
      IvfIndex.centroids(t.embeddings, 16))
    assert(assign.count() == t.embeddings.count())
    assert(assign.select($"vec_id").distinct().count() == t.embeddings.count())
    assert(assign.select($"centroid_id").distinct().count() <= 16)
  }

  test("prototypicality: per-cluster z-flags the far tail, zero-variance clusters stay quiet") {
    // cluster A (centroid 0 = [1,0]): six members AT the centroid + one
    // at angle (cos 0.8 → dist ≈ 0.2). With 6 zeros and one positive m,
    // z(outlier) = 6/√6 = √6 ≈ 2.449 and z(member) = −1/√6 — EXACTLY,
    // for any m > 0 (z is scale-invariant), so the assertion is immune
    // to float jitter in the cosine. Cluster B (centroid 1 = [0,1]):
    // four identical members → sd = 0 → the zero-variance z=0 path.
    val a = Array(1f, 0f); val b = Array(0f, 1f)
    val tilt = Array(0.8f, 0.6f) // unit norm; cos to A = .8, to B = .6
    val rows = Seq(
      (0L, a), (1L, b),
      (2L, a), (3L, a), (4L, a), (5L, a), (6L, a),
      (7L, tilt),
      (8L, b), (9L, b), (10L, b))
    val emb = rows.toDF("vec_id", "embedding")
    val got = IvfIndex.prototypicality(emb, nCentroids = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toMap
    def g4(x: Double) = math.floor(x * 1e4) / 1e4
    // the tilted vector: assigned to A, z = √6 > 2 → flagged
    assert(got(7L) == (0L, g4(math.sqrt(6.0)), true), s"got ${got(7L)}")
    // on-centroid A members: z = −1/√6, not flagged
    Seq(0L, 2L, 3L, 4L, 5L, 6L).foreach { id =>
      assert(got(id) == (0L, g4(-1.0 / math.sqrt(6.0)), false), s"vec $id: ${got(id)}")
    }
    // zero-variance cluster B: z = 0 everywhere, nothing flagged
    Seq(1L, 8L, 9L, 10L).foreach { id =>
      assert(got(id) == (1L, 0.0, false), s"vec $id: ${got(id)}")
    }
  }

  test("auto-k IVF: nCentroids=0 resolves to the corpus-scaled count") {
    // sf0.001 sits under floor×targetList, so auto-k resolves to the
    // floor (16) and the whole search must equal the explicit-16 build —
    // the seam every build/search path shares (centroids()); the
    // scaling region itself is pinned in DedupSpec's autoCentroids spec
    val auto = IvfIndex.search(queries, t.embeddings,
      nCentroids = 0, nprobe = 4, k = 5).collect().toSeq
    val explicit = IvfIndex.search(queries, t.embeddings,
      nCentroids = 16, nprobe = 4, k = 5).collect().toSeq
    assert(auto == explicit)
    // recall stays audited, not asserted, through the same auto seam
    val audit = IvfIndex.recallAudit(queries, t.embeddings,
      nCentroids = 0, nprobe = 4, k = 5).collect()
    assert(audit.nonEmpty)
  }

  test("IVF results are a subset of the corpus and self is always found") {
    val res = IvfIndex.search(queries, t.embeddings,
      nCentroids = 16, nprobe = 4, k = 5)
    // query vectors are corpus members: rank-1 hit must be the vector itself
    val self = res.filter($"rank" === 1)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    assert(self.forall { case (q, v) => q == v })
  }

  test("persisted index: partition-pruned search equals in-memory IVF") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.persist(t.embeddings, nCentroids = 16, path = dir)
    val fromDisk = IvfIndex.searchPersisted(spark, dir, queries,
      nprobe = 4, k = 5)
    val inMem = IvfIndex.search(queries, t.embeddings, 16, 4, 5)
    assert(fromDisk.collect().toSeq == inMem.collect().toSeq)
    val plan = planOf(IvfIndex.searchPersisted(spark, dir, queries, 4, 5))
    assert(plan.contains("PartitionFilters: [centroid_id"), plan)
  }

  test("persisted index: a rewrite at the same file: URI is served fresh") {
    val uri = java.nio.file.Files.createTempDirectory("graft-ivf-rw")
      .toUri.toString.stripSuffix("/")
    IvfIndex.persist(t.embeddings, nCentroids = 16, path = uri)
    val before = IvfIndex.searchPersisted(spark, uri, queries, 4, 5).collect().toSeq
    assert(before == IvfIndex.search(queries, t.embeddings, 16, 4, 5).collect().toSeq)
    IvfIndex.persist(t.embeddings, nCentroids = 4, path = uri)
    val after = IvfIndex.searchPersisted(spark, uri, queries, 4, 5).collect().toSeq
    assert(after == IvfIndex.search(queries, t.embeddings, 4, 4, 5).collect().toSeq)
    assert(after != before, "4 of 4 probes must answer differently from 4 of 16")
  }

  test("persisted index: rows appended by appendBatch are served on the next call") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    IvfIndex.persist(t.embeddings.filter($"vec_id" % 2 === 0), nCentroids = 16, path = dir)
    val half = IvfIndex.searchPersisted(spark, dir, queries, 16, 5).collect().toSeq
    streaming.IndexMaintenance.appendBatch(t.embeddings.filter($"vec_id" % 2 === 1),
      spark.read.parquet(s"$dir/centroids"), dir)
    // every centroid probed: the answer is exact over all rows, odd ones included
    val full = IvfIndex.searchPersisted(spark, dir, queries, 16, 5).collect().toSeq
    assert(full == Search.bruteForceTopK(queries, t.embeddings, 5).collect().toSeq)
    assert(full != half)
  }

  test("persisted index: a warm search runs at most one job before it returns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-warm").toString
    IvfIndex.persist(t.embeddings, nCentroids = 16, path = dir)
    IvfIndex.searchPersisted(spark, dir, queries, 4, 5).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          job: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val frame = IvfIndex.searchPersisted(spark, dir, queries, 4, 5)
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      assert(jobs.get <= 1, s"${jobs.get} jobs before a warm search returned")
      assert(frame.collect().length == 10 * 5)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("persisted index over an empty corpus: zero rows, usual schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    IvfIndex.persist(t.embeddings.filter(lit(false)), nCentroids = 16, path = dir)
    val got = IvfIndex.searchPersisted(spark, dir, queries, 4, 5)
    assert(got.collect().isEmpty)
    val full = java.nio.file.Files.createTempDirectory("graft-ivf-full").toString
    IvfIndex.persist(t.embeddings, nCentroids = 16, path = full)
    val usual = IvfIndex.searchPersisted(spark, full, queries, 4, 5).schema
    assert(got.schema.map(f => f.name -> f.dataType) ==
      usual.map(f => f.name -> f.dataType))
  }

  test("persisted index: a path that does not exist is a named error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-none").toString
    val e = intercept[IllegalArgumentException](
      IvfIndex.searchPersisted(spark, s"$dir/absent", queries, 4, 5))
    assert(e.getMessage.contains("no persisted IVF index"), e.getMessage)
  }

  test("loadOrRebuild: rebuilds on missing or count-mismatched index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf2").toString
    assert(!IvfIndex.loadOrRebuild(spark, dir, t.embeddings, 16)) // built
    assert(IvfIndex.loadOrRebuild(spark, dir, t.embeddings, 16))  // reused
    val half = t.embeddings.filter($"vec_id" % 2 === 0)
    assert(!IvfIndex.loadOrRebuild(spark, dir, half, 16))         // mismatch
    assert(IvfIndex.loadOrRebuild(spark, dir, half, 16))
  }

  test("quantized search: high recall vs full-precision exact search") {
    import graft.functions._
    val qcorpus = t.embeddings.select($"vec_id",
      quantize8($"embedding").as("qcodes"))
    val approx = operators.Search.quantizedTopK(queries, qcorpus, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val exact = operators.Search.bruteForceTopK(queries, t.embeddings, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall@5 = $recall")
  }

  test("bucketed posting-list index: no-exchange aggregation, search equal") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    IvfIndex.persistBucketed(t.embeddings, nCentroids = 16,
      table = "graft_postings_bucketed", path = s"$dir/tbl")
    try {
      // bucketed layout: per-centroid aggregation plans with NO Exchange
      val agg = spark.table("graft_postings_bucketed")
        .groupBy($"centroid_id").agg(count(lit(1)).as("n"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed aggregation should not shuffle:\n$plan")
      // and the bucketed search path returns the in-memory IVF results
      val fromTable = IvfIndex.searchBucketed(spark,
        "graft_postings_bucketed", queries, nprobe = 4, k = 5)
      val inMem = IvfIndex.search(queries, t.embeddings, 16, 4, 5)
      assert(fromTable.collect().toSeq == inMem.collect().toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_postings_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_postings_bucketed_centroids")
    }
  }

  test("checked q_ivf_persisted: pruned search plan, same results as q_ivf_search") {
    val fused = SparkEntry.queries("q_ivf_search")(spark, sfDir)
    val persisted = SparkEntry.queries("q_ivf_persisted")(spark, sfDir)
    assert(persisted.collect().toSeq == fused.collect().toSeq)
    val plan = planOf(SparkEntry.queries("q_ivf_persisted")(spark, sfDir))
    // partition pruning on the postings side
    assert(plan.contains("PartitionFilters: [centroid_id"), plan)
    // no index rebuild inside the search: no corpus × centroids argmin
    // aggregate, and every corpus-parquet scan is the pushed-down 5-row
    // query side (a full-corpus scan would lack the vec_id<5 pushdown)
    assert(!plan.contains("min(struct"), plan)
    val nCorpus = "embeddings\\.parquet".r.findAllIn(plan).size
    val nQuerySide = "LessThan\\(vec_id,5\\)".r.findAllIn(plan).size
    assert(nCorpus > 0 && nCorpus == nQuerySide, plan)
  }

  test("checked q_ivf_bucketed equals q_ivf_search and prunes buckets") {
    // the catalog table doubles as the build-once cache — deliberately
    // NOT dropped, so later invocations (plan audit, bench) reuse it
    val fused = SparkEntry.queries("q_ivf_search")(spark, sfDir)
    val bucketed = SparkEntry.queries("q_ivf_bucketed")(spark, sfDir)
    assert(bucketed.collect().toSeq == fused.collect().toSeq)
    // probed-centroid IN filter prunes buckets: at most 4 distinct
    // probed centroids over 8 buckets → never the full 8
    val plan = planOf(SparkEntry.queries("q_ivf_bucketed")(spark, sfDir))
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, plan)
    assert(sel.get.group(1).toInt < 8, plan)
  }

  test("quantized IVF: full probe equals quantized brute force exactly") {
    import graft.functions._
    val qcorpus = t.embeddings.select($"vec_id",
      quantize8($"embedding").as("qcodes"))
    // probing every centroid = no pruning: must equal the quantized
    // brute-force ranking row for row
    val full = IvfIndex.searchQuantized(queries, t.embeddings, qcorpus,
      nCentroids = 16, nprobe = 16, k = 5).collect().toSeq
    val brute = Search.quantizedTopK(queries, qcorpus, 5).collect().toSeq
    assert(full == brute)
    // pruned probe still recovers most of the exact-corpus ids
    val pruned = IvfIndex.searchQuantized(queries, t.embeddings, qcorpus,
        16, 4, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val exact = IvfIndex.search(queries, t.embeddings, 16, 4, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val agree = (pruned intersect exact).size.toDouble / exact.size
    assert(agree >= 0.8, s"quantized-vs-exact IVF agreement = $agree")
  }

  test("salted join equals plain join on skewed keys") {
    import org.apache.spark.sql.functions._
    val big = spark.range(0, 10000)
      .select((when($"id" % 10 === 0, 1L).otherwise($"id")).as("k"),
        $"id".as("payload"))
    val small = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v"))
    val plain = big.join(small, "k").select($"payload", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = operators.Salting.saltedJoin(big, small, "k", 8)
      .select($"payload", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("recallAudit: one row per query, exact at full probe, bounded at 4/16") {
    // probing every centroid is brute force: recall must be exactly 1.0
    val full = IvfIndex.recallAudit(queries, t.embeddings, 16, 16, 5)
    val fullRows = full.as[(Long, Long, Double)].collect()
    assert(fullRows.length == 10)
    assert(fullRows.forall { case (_, hits, rec) => hits == 5L && rec == 1.0 })
    // partial probe: still one row per query, 0 <= n_hits <= k, and the
    // mean matches the set-level recall asserted in the test below
    val part = IvfIndex.recallAudit(queries, t.embeddings, 16, 4, 5)
      .as[(Long, Long, Double)].collect()
    assert(part.length == 10)
    assert(part.forall { case (_, hits, _) => hits >= 0L && hits <= 5L })
    assert(part.map(_._2).sum.toDouble / (10 * 5) >= 0.4)
  }

  test("recallAuditFiltered: under-k eligible set at full probe reads " +
    "recall 1.0 (denominator = exact-result count, not fixed k)") {
    // exactly ONE eligible row at sf0.001 (vec 1); probing every
    // centroid makes the scoped IVF exhaustive over it, so perfect
    // retrieval must read 1.0 — not 1/k's misleading "raise nprobe"
    val pred = $"label" % 2 === 0 && $"vec_id" < 3
    val rows = IvfIndex.recallAuditFiltered(
      queries.filter($"query_id" < 5), t.embeddings, pred, 16, 16, 5)
      .as[(Long, Long, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (_, hits, rec) =>
      assert(hits == 1L && rec == 1.0, s"got ($hits, $rec)")
    }
  }

  test("IVF recall@5 vs brute force is reasonable at nprobe=4/16") {
    val exact = Search.bruteForceTopK(queries, t.embeddings, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = IvfIndex.search(queries, t.embeddings, 16, 4, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall@5 = $recall") // 4/16 probes, random data
    // probing everything must recover brute force exactly
    val full = IvfIndex.search(queries, t.embeddings, 16, 16, 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(full == exact)
  }

  test("mmr rerank: λ=1 degenerates to top-k, λ<1 swaps in diversity") {
    // q sees a at sim .9 twice (ids 10,11 — identical vectors) and the
    // diverse b at sim .4 with cos(b,a) ≈ .3. Plain relevance keeps the
    // duplicate pair; MMR(λ=.5) pays the redundancy penalty and swaps
    // the second duplicate for b: (.5·.9 − .5·1) < (.5·.4 − .5·.3).
    val a = Array(0.9f, 0.4359f, 0f, 0f)
    val b = Array(0.4f, -0.1376f, 0f, 0.9062f)
    val corpus = Seq((10L, a), (11L, a), (12L, b))
      .toDF("vec_id", "embedding")
    val qs = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("query_id", "qv")
    val relevance = Search.mmrRerank(qs, corpus, k = 2, nCandidates = 3,
        lambda = 1.0)
      .select($"vec_id").as[Long].collect().toSeq
    assert(relevance == Seq(10L, 11L), s"λ=1 must be plain top-k: $relevance")
    val diverse = Search.mmrRerank(qs, corpus, k = 2, nCandidates = 3,
        lambda = 0.5)
      .select($"vec_id").as[Long].collect().toSeq
    assert(diverse == Seq(10L, 12L), s"MMR must swap in b: $diverse")
    // k > candidates: selection stops at the candidate count, no repeats
    val all = Search.mmrRerank(qs, corpus, k = 5, nCandidates = 3,
        lambda = 0.5)
      .select($"vec_id").as[Long].collect().toSeq
    assert(all.length == 3 && all.distinct.length == 3, s"$all")
  }

  test("hard negatives: self and near-dups excluded, best confusables kept") {
    val anchors = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("query_id", "qv")
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),        // self — excluded structurally
      (1L, Array(0.999f, 0.0447f, 0f, 0f)), // near-dup (sim > .95) — excluded
      (2L, Array(0.8f, 0.6f, 0f, 0f)),     // the hard negative
      (3L, Array(0f, 1f, 0f, 0f)))         // easy negative
      .toDF("vec_id", "embedding")
    val got = Search.hardNegatives(anchors, corpus, k = 2)
      .select($"rank", $"vec_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 3L)),
      s"expected the sub-threshold band ranked by sim: $got")
  }

  test("recall sweep: both axes monotone, full probe hits recall 1.0") {
    val sweep = IvfIndex.recallSweep(queries, t.embeddings, nCentroids = 16,
        nprobes = Seq(1, 4, 16))
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(sweep.map(_._1).toSeq == Seq(1L, 4L, 16L))
    // more probes can only ADD candidates: recall and scanned share are
    // non-decreasing in nprobe
    assert(sweep.map(_._3).sliding(2).forall(p => p(0) <= p(1)), sweep.toSeq)
    assert(sweep.map(_._5).sliding(2).forall(p => p(0) <= p(1)), sweep.toSeq)
    // probing every centroid scans the whole corpus and equals brute force
    val full = sweep.last
    assert(full._3 == 1.0, s"full-probe recall: ${full._3}")
    assert(full._5 == 1.0, s"full-probe scan share: ${full._5}")
    // the trade exists: the cheapest point scans a strict subset
    assert(sweep.head._5 < 1.0)
  }
}
