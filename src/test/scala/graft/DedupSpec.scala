package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._
import graft.functions.TextFunctions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val base = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
  private val nearDup = base.split(" ").updated(10, "CHANGED").mkString(" ")
  private val distinctDoc = (1 to 80).map(i => s"z${i}q").mkString(" ")

  test("clusterHistogram: size distribution of converged clusters") {
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinctDoc))
      .toDF("doc_id", "text")
    val got = operators.Dedup.clusterHistogram(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // {1,2} pair into one 2-cluster; 3 stays a singleton
    assert(got == Map(1L -> (1L, 1L), 2L -> (1L, 2L)), s"got $got")
  }

  test("bucketed shingle store: jaccard + containment bit-equal to the " +
    "recompute path, self-join reads buckets with no sh exchange") {
    val t = sources.Tables(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shingle-store").toString
    operators.Dedup.persistShingles(t.documents, "graft_test_shingles", dir)
    try {
      val jacB = operators.Dedup.jaccardNeighborsFromStore(
        spark, "graft_test_shingles")
      // the corpus-sized self-join must read co-located buckets: no
      // hashpartitioning exchange on the shingle hash anywhere (the
      // remaining exchanges are pair-table-sized: the inter aggregate
      // and the per-doc window)
      val plan = planOf(jacB)
      assert(!plan.contains("hashpartitioning(sh"),
        s"bucketed shingle join still exchanges on sh:\n$plan")
      // and the scan's sortBy metadata is trusted (single-file buckets +
      // the legacy outputOrdering flag): no Sort on sh above the scans —
      // the sort/spill constant the decade sweeps measured is GONE, not
      // just the exchange
      assert(!plan.contains("Sort [sh"),
        s"bucketed shingle join still sorts on sh:\n$plan")
      assert(jacB.collect().toSeq ==
        operators.Dedup.jaccardNeighbors(t.documents).collect().toSeq,
        "layout changed the jaccard answer")
      val contB = operators.Dedup.containmentNeighborsFromStore(
        spark, "graft_test_shingles")
      assert(!planOf(contB).contains("hashpartitioning(sh"))
      assert(contB.collect().toSeq ==
        operators.Dedup.containmentNeighbors(t.documents).collect().toSeq,
        "layout changed the containment answer")
    } finally spark.sql("DROP TABLE IF EXISTS graft_test_shingles")
  }

  test("shingle store append: append->serve equals rebuild->serve, " +
    "compaction restores the sort-free single-file buckets") {
    val tbl = "graft_test_shingle_inc"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shingle-inc").toString
    // the cross-part pair: doc 1 (build) and doc 2 (append) are near-dups
    // — every shared shingle is a SINGLETON within each part, so the pair
    // survives only because the appendable store keeps minDf = 1 rows
    val part1 = Seq((1L, base), (3L, distinctDoc)).toDF("doc_id", "text")
    val part2 = Seq((2L, nearDup),
      (4L, (1 to 80).map(i => s"pad${i}word").mkString(" ")))
      .toDF("doc_id", "text")
    try {
      operators.Dedup.persistShingles(part1, tbl, s"$dir/store", minDf = 1)
      operators.Dedup.appendShingles(part2, tbl)
      val served = operators.Dedup.jaccardNeighborsFromStore(spark, tbl)
        .collect().toSeq
      // append -> serve must equal rebuild -> serve == the recompute path
      // (df-cap non-binding here, so the staleness window is empty)
      val recomputed = operators.Dedup
        .jaccardNeighbors(part1.union(part2)).collect().toSeq
      assert(served == recomputed,
        "appended store diverged from the full recompute")
      val best = served.map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(best(1L) == 2L && best(2L) == 1L,
        s"cross-part singleton pair lost: $best")
      // the appended store keeps its exchange-free bucketing (two files
      // per touched bucket — sort metadata NOT yet trusted)
      val planBefore = planOf(
        operators.Dedup.jaccardNeighborsFromStore(spark, tbl))
      assert(!planBefore.contains("hashpartitioning(sh"),
        s"append broke the bucketed layout:\n$planBefore")
      def nFiles: Int = new java.io.File(s"$dir/store").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val filesBefore = nFiles
      val compacted = operators.Dedup.compactShingleStore(spark, tbl)
      assert(compacted > 0, "appended buckets must be compacted")
      assert(nFiles < filesBefore,
        s"file count must drop: $filesBefore -> $nFiles")
      // one sorted file per bucket again: the serve join drops its
      // within-bucket Sorts AND keeps the answer bit-identical
      val afterDf = operators.Dedup.jaccardNeighborsFromStore(spark, tbl)
      val planAfter = planOf(afterDf)
      assert(!planAfter.contains("hashpartitioning(sh"), planAfter)
      assert(!planAfter.contains("Sort [sh"),
        s"compaction failed to restore the sort-free scan:\n$planAfter")
      assert(afterDf.collect().toSeq == recomputed,
        "compaction changed the serve answer")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("jaccardIncrementalFromStore: exact base-only neighbors through " +
    "the appendable store") {
    val tbl = "graft_test_shingle_base"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shingle-base").toString
    // base: the distinctive doc + an unrelated one; probe: a near-dup of
    // doc 1 (one token changed) and a doc sharing nothing with the base
    val baseDocs = Seq((1L, base), (2L, distinctDoc)).toDF("doc_id", "text")
    val probe = Seq((10L, nearDup),
      (11L, (1 to 80).map(i => s"none${i}y").mkString(" ")))
      .toDF("doc_id", "text")
    try {
      operators.Dedup.persistShingles(baseDocs, tbl, s"$dir/store",
        minDf = 1)
      val got = operators.Dedup
        .jaccardIncrementalFromStore(probe, spark, tbl).collect()
      // doc 11 shares no shingle with the base -> no row (the
      // jaccardNeighbors drop-out contract); doc 10's best base
      // neighbor is 1 with the EXACT jaccard 75/81 (one token of 80
      // changed -> 3 of 78 shingles differ each side)
      assert(got.map(_.getLong(0)).toSeq == Seq(10L), got.mkString(","))
      assert(got.head.getLong(1) == 1L)
      assert(got.head.getDouble(2) ==
        math.floor(75.0 / 81.0 * 1e6) / 1e6, got.head)
      // probe rows never appear as neighbors: base-only by construction
      // (also proven by the id domain above). And the probe must equal
      // the recompute jaccard restricted to new x base pairs:
      val full = operators.Dedup
        .jaccardNeighbors(baseDocs.union(probe)).collect()
        .filter(r => r.getLong(0) >= 10L && r.getLong(1) < 10L)
      assert(full.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq == got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq, "probe diverged from the restricted recompute")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("lshRecallAudit: exact truth vs the production candidate funnel") {
    val t0 = "alpha beta gamma delta epsilon zeta eta theta"
    val t8 = "alpha beta gamma xx yy zz ww" // shares exactly 1 shingle with t0
    val docs = Seq(
      (0L, t0), (2L, t0),                      // exact pair in the sample
      (4L, "one two three four five six"),     // unrelated, in sample
      (8L, t8),                                // low-jaccard partner of 0/2
      (6L, "too short"),                       // < 3 tokens: outside universe
      (1L, t0), (3L, "pad words here today"))  // odd ids: outside sample
      .toDF("doc_id", "text")
    // threshold 0.5: truth = {(0,2)}; the exact copy is a certain LSH catch
    val strict = operators.Dedup.lshRecallAudit(docs, sampleMod = 2)
      .collect().head
    assert(strict.getLong(0) == 4, s"n_sample: $strict")   // 0, 2, 4, 8
    assert(strict.getLong(1) == 1 && strict.getLong(2) == 1 &&
      strict.getLong(3) == 1, s"pair counts: $strict")
    assert(strict.getDouble(4) == 1.0 && strict.getDouble(5) == 1.0)
    // threshold 0.05 admits the 1-shared-shingle pairs (jac 1/10) into
    // TRUTH; 16×8 banding deterministically misses them → measured recall
    // drops to 1/3 while the candidate set is unchanged
    val loose = operators.Dedup.lshRecallAudit(docs, sampleMod = 2,
      threshold = 0.05).collect().head
    assert(loose.getLong(1) == 3, s"n_truth: $loose") // (0,2) (0,8) (2,8)
    assert(loose.getLong(2) == 1 && loose.getLong(3) == 1, s"cand: $loose")
    assert(loose.getDouble(4) == math.floor(1.0 / 3.0 * 1e6) / 1e6)
    assert(loose.getDouble(5) == 1.0)
    // sub-3-token docs never enter the universe even as exact copies
    val withTiny = operators.Dedup.lshRecallAudit(
      docs.union(Seq((10L, "too short")).toDF("doc_id", "text")),
      sampleMod = 2).collect().head
    assert(withTiny.getLong(0) == 4 && withTiny.getLong(1) == 1,
      s"tiny-doc leak: $withTiny")
  }

  test("minhash+LSH banding surfaces near-duplicate pairs") {
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinctDoc))
      .toDF("doc_id", "text")
    val sigs = docs.select($"doc_id",
      band_hashes(minhash_signature(
        shingles(tokens(preprocess($"text")), 3), 128), 16, 8).as("bh"))
    val bucketed = sigs.select($"doc_id", posexplode($"bh").as(Seq("band", "h")))
    val pairs = bucketed.as("a").join(bucketed.as("b"),
        $"a.band" === $"b.band" && $"a.h" === $"b.h" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct().as[(Long, Long)]
      .collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missed: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"false positive: $pairs")
  }

  test("minhash signature agreement approximates jaccard similarity") {
    val docs = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    val sigs = docs.select($"doc_id",
      minhash_signature(shingles(tokens(preprocess($"text")), 3), 128).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 128.0
    // one token changed in 80 → 3 of 78 shingles differ on each side;
    // true jaccard = 75/81 ≈ 0.926
    assert(agree > 0.8 && agree <= 1.0, s"minhash agreement $agree")
  }

  test("exact dedup groups identical normalized texts") {
    val t = sources.Tables(spark, sfDir)
    val groups = operators.Dedup.exactGroups(t)
    assert(groups.agg(sum($"dup_count")).head().getLong(0) ==
      t.documents.count())
    // sf0.001 documents are all distinct
    assert(groups.filter($"dup_count" > 1).count() == 0)
  }

  test("degenerate bucket: identical docs don't blow up pair generation") {
    // 500 identical docs → every band bucket holds all 500. With the cap
    // below that, ALL pair generation is skipped (no |bucket|² join) and
    // every doc comes back a singleton — for minhash, simhash AND the
    // connected-components path (which shares minhash's pair code).
    val docs = (1L to 500L).map(i => (i, base)).toDF("doc_id", "text")
    val mh = operators.Dedup.minhashCandidates(docs, maxBucket = 100)
    assert(mh.count() == 500)
    assert(mh.filter($"n_candidates" > 0).count() == 0)
    val sh = operators.Dedup.simhashCandidates(docs, maxBucket = 100)
    assert(sh.count() == 500)
    assert(sh.filter($"n_candidates" > 0).count() == 0)
    val cl = operators.Dedup.clusters(docs, maxBucket = 100)
    assert(cl.count() == 500)
    assert(cl.filter($"cluster_size" =!= 1L).count() == 0)
    // sanity: with the cap above the bucket size the dups ARE found
    val found = operators.Dedup.minhashCandidates(docs, maxBucket = 600)
    assert(found.filter($"n_candidates" === 499L).count() == 500)
  }

  test("jaccard shingle-df cap drops boilerplate join keys") {
    // every doc shares one boilerplate shingle; contents otherwise unique.
    // Without a df cap that shingle is a quadratic key (50² pairs).
    val docs = (1L to 50L).map(i =>
      (i, s"shared boiler plate u${i}a u${i}b u${i}c u${i}d"))
      .toDF("doc_id", "text")
    val capped = operators.Dedup.jaccardNeighbors(docs, maxShingleDf = 10)
    assert(capped.count() == 0, "hot shingle must not produce pairs")
    val uncapped = operators.Dedup.jaccardNeighbors(docs, maxShingleDf = 100)
    assert(uncapped.count() == 50, "cap above df keeps exact semantics")
  }

  test("minhash estimates: identical docs read 1.0, edits lower it") {
    val a = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val b = a.split(" ").updated(10, "EDIT").mkString(" ")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val est = operators.Dedup.minhashEstimates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(est((1L, 2L)) == 1.0, s"identical docs: ${est((1L, 2L))}")
    val e13 = est((1L, 3L))
    assert(e13 < 1.0 && e13 > 0.5, s"one edit in 80 tokens: $e13")
  }

  test("incremental dedup flags new docs matching the base, not fresh ones") {
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val base = Seq((1L, baseText),
      (2L, (1 to 80).map(i => s"other${i}x").mkString(" "))).toDF("doc_id", "text")
    val fresh = (1 to 80).map(i => s"new${i}z").mkString(" ")
    val nearDup = baseText.split(" ").updated(10, "EDITED").mkString(" ")
    val incoming = Seq((10L, nearDup), (11L, fresh)).toDF("doc_id", "text")
    val got = operators.Dedup.incrementalCandidates(incoming, base)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(got(10L)._2, "near-dup of base doc 1 must be flagged")
    assert(!got(11L)._2, "fresh doc must pass")
    assert(got.size == 2, "one row per NEW doc only — base docs never appear")
    // base-side skew cap: a degenerate base bucket produces no probes
    val bigBase = (100L to 160L).map(i => (i, baseText)).toDF("doc_id", "text")
    val capped = operators.Dedup.incrementalCandidates(
      incoming, bigBase, maxBucket = 50)
    assert(capped.filter($"is_dup_of_base").count() == 0)
  }

  test("semantic dedup: learned blocks separate far clusters, find near-dups") {
    // two orthogonal directions; seeds are vec_id 0 and 1 (nCentroids=2).
    // 2 ≈ 0 (same direction, tiny wiggle), 3 ≈ 1. Blocks must come out
    // {0,2} and {1,3}, and each vector's NN is its in-block partner.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f, 0f)),
      (3L, Array(0.04f, 0.999f, 0f, 0f))).toDF("vec_id", "embedding")
    val nn = operators.Dedup.semanticNeighbors(vecs, nCentroids = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(nn(0L) == (2L, true))
    assert(nn(2L) == (0L, true))
    assert(nn(1L) == (3L, true))
    assert(nn(3L) == (1L, true))
  }

  test("hierarchical semantic dedup: equals the flat argmin on separated " +
    "clusters; corpus-sized stages never see all k centroids") {
    // two separated coarse clusters (x-ish and y-ish), each with two
    // fine sub-directions: coarse seeds {0,1} (k1 = ceil(sqrt(4)) = 2)
    // receive fine seeds {0,2} and {1,3}, and every corpus vector's
    // GLOBAL nearest fine centroid lives inside its nearest coarse
    // cell — the hierarchy-consistent case where the two-level argmin
    // must equal the flat one EXACTLY
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.97f, 0.26f, 0f, 0f)),
      (3L, Array(0.26f, 0.97f, 0f, 0f)),
      (4L, Array(0.999f, 0.01f, 0f, 0f)),
      (5L, Array(0.97f, 0.25f, 0.02f, 0f)),
      (6L, Array(0.01f, 0.999f, 0f, 0f)),
      (7L, Array(0.25f, 0.97f, 0f, 0.02f))).toDF("vec_id", "embedding")
    val scaled = operators.Dedup
      .semanticNeighborsScaled(vecs, nCentroids = 4).collect().toSeq
    val flat = operators.Dedup
      .semanticNeighbors(vecs, nCentroids = 4).collect().toSeq
    assert(scaled == flat,
      s"two-level argmin diverged on separated clusters:\n$scaled\n$flat")
    // every vector with a same-block neighbor surfaces exactly once
    assert(scaled.map(_.getLong(0)).distinct.size == scaled.size)
  }

  test("incremental semantic dedup: frozen base blocks, neighbors from " +
    "the base only") {
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.03f, 0f, 0f)),
      (3L, Array(0.03f, 0.999f, 0f, 0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sem-store").toString
    operators.Dedup.persistSemanticBlocks(base, "graft_test_sem_blocks",
      dir, nCentroids = 2)
    try {
      val probe = Seq(
        (10L, Array(0.998f, 0.04f, 0f, 0f)), // x-ish: block 0, nn = 2
        (11L, Array(0.04f, 0.998f, 0f, 0f))) // y-ish: block 1, nn = 3
        .toDF("vec_id", "embedding")
      val got = operators.Dedup
        .semanticIncrementalFromStore(probe, spark, "graft_test_sem_blocks")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
      assert(got(10L) == ((2L, true)), s"got ${got(10L)}")
      assert(got(11L) == ((3L, true)), s"got ${got(11L)}")
      // neighbors come from the BASE only — probe rows never appear as
      // anyone's neighbor, and the base was never re-blocked
      assert(got.values.map(_._1).forall(Set(0L, 1L, 2L, 3L)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_sem_blocks")
      spark.sql("DROP TABLE IF EXISTS graft_test_sem_blocks_centroids")
      spark.sql("DROP TABLE IF EXISTS graft_test_sem_blocks_coarse")
    }
  }

  test("persistSemanticBlocks blocks the base HIERARCHICALLY and the " +
    "incremental probe replays the same two-level argmin") {
    // 12 unit-ish vectors in 4 directions — enough structure that the
    // two-level (coarse = 2 seeds, fine = 4) assignment is exercised
    // with a real fine fan-out, not the coarse==fine degenerate case
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0.9f, 0.1f, 0f, 0f), Array(0.1f, 0.9f, 0f, 0f))
    val base = (0L until 12L)
      .map(i => (i, dirs((i % 4).toInt).map(_ + 0.01f * (i / 4))))
      .toDF("vec_id", "embedding")
    val tbl = "graft_test_sem_hier"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sem-hier").toString
    try {
      operators.Dedup.persistSemanticBlocks(base, tbl, dir, nCentroids = 4)
      // the coarse seed table exists with ceil(sqrt(4)) = 2 rows — the
      // probe's replay half of the frozen-assignment contract
      assert(spark.table(s"${tbl}_coarse").count() == 2)
      // the persisted block column IS the two-level argmin, bit-equal to
      // hierarchicalAssign over the same frozen seed tables — never the
      // flat n*k assignment the round-17 verdict flagged
      val stored = spark.table(tbl)
        .select($"vec_id", $"block").as[(Long, Long)].collect().toMap
      val expected = operators.Dedup.hierarchicalAssign(base,
          operators.IvfIndex.centroids(base, 2),
          operators.IvfIndex.centroids(base, 4))
        .select($"vec_id", $"block").as[(Long, Long)].collect().toMap
      assert(stored == expected,
        s"persisted blocks diverge from the two-level argmin:\n$stored\n$expected")
      // probe-side consistency: a new vector IDENTICAL to a base member
      // must land in that member's block and read sim 1.0 — the
      // base-build and probe assignments share one rule by construction
      val probe = base.filter($"vec_id" === 5L)
        .select(($"vec_id" + 100L).as("vec_id"), $"embedding")
      val got = operators.Dedup
        .semanticIncrementalFromStore(probe, spark, tbl).collect().head
      assert(got.getLong(0) == 105L && got.getLong(1) == 5L &&
        got.getBoolean(3), s"identical probe missed its base twin: $got")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_centroids")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_coarse")
    }
  }

  test("semantic dedup assignment is narrow: no shuffle before the block join") {
    val t = sources.Tables(spark, sfDir)
    val nn = operators.Dedup.semanticNeighbors(t.embeddings)
    val plan = planOf(nn)
    // exactly the blocked self-join's exchanges + the sub-salt guard's
    // block-size aggregate (one tiny shuffle + its broadcast) + the top-k
    // agg + the final sort should shuffle; the centroid ASSIGNMENT itself
    // must not add an exchange (it is a projection over the scan). Count
    // node HEADERS — every node also reappears in the tree summary.
    val exchanges = """\(\d+\) \w*Exchange""".r.findAllIn(plan).size
    assert(exchanges <= 7, s"assignment added exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("blocked NN sub-salts oversized blocks: dups still found, work bounded") {
    // 64 identical embeddings collapsing into ONE learned block — the
    // degenerate corpus the guard exists for (near-duplicate mass is
    // exactly what a dedup corpus contains). maxBlock=16 → 4 hash-assigned
    // sub-blocks: per-task pairs drop from 64² to ~4·16², and every vector
    // still finds a perfect duplicate INSIDE its own sub-block (the banded
    // paths drop oversized buckets; this path must not — oversized blocks
    // are where the duplicates live).
    val vecs = (0L until 64L).map(i => (i, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val nn = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1,
        maxBlock = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(nn.size == 64, s"every vector must keep a row: ${nn.size}")
    assert(nn.values.forall(_._2), "identical vectors must all be dups")
    // the neighbor really is in-sub-block: replicate the salt assignment
    val salt = vecs.select($"vec_id",
        pmod(xxhash64($"vec_id"), lit(4L)).as("s"))
      .as[(Long, Long)].collect().toMap
    nn.foreach { case (v, (n, _)) =>
      assert(salt(v) == salt(n), s"$v's neighbor $n crossed sub-blocks") }
    // blocks at/under the cap: bit-identical to the unsalted join
    val def_ = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1)
      .collect().toSeq
    val atCap = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1,
      maxBlock = 64).collect().toSeq
    assert(def_ == atCap)
  }

  test("pair budget bounds block work smoothly — no quadratic window") {
    // 64 identical vectors in one block, pairBudget=1024: salts =
    // ceil(64²/1024) = 4 — the budget engages long before the size cap
    // (maxBlock=1024) would, splitting the block into 4 sub-blocks so
    // total pair work ≤ ~budget instead of 64². Every vector still finds
    // a perfect dup inside its own sub-block.
    val vecs = (0L until 64L).map(i => (i, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val nn = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1,
        pairBudget = 1024L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(nn.size == 64 && nn.values.forall(_._2))
    val salt = vecs.select($"vec_id",
        pmod(xxhash64($"vec_id"), lit(4L)).as("s"))
      .as[(Long, Long)].collect().toMap
    nn.foreach { case (v, (n, _)) =>
      assert(salt(v) == salt(n), s"$v's neighbor $n crossed sub-blocks") }
    // a budget the block fits under: bit-identical to the default join
    val def_ = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1)
      .collect().toSeq
    val roomy = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1,
      pairBudget = 64L * 64L).collect().toSeq
    assert(def_ == roomy)
  }

  test("exactness boundary: default pairBudget = maxBlock² — every block " +
       "at/under the size cap is bit-identical to the unsalted join") {
    // 600 vectors in one block: 600² = 360,000 pairs exceeds the OLD
    // 2^18 default budget (which silently sub-salted blocks > 512 while
    // the oracle did the full join) but fits the maxBlock²=2^20 default,
    // so salts = 1 and the result must equal an explicit full-join
    // budget bit-for-bit. Pins the contract the DuckDB oracles assume:
    // the exact region is maxBlock, not some smaller budget-derived cap.
    val vecs = (0L until 600L)
      .map(i => (i, Array(1f + (i % 3) * 0.001f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val def_ = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1)
      .collect().toSeq
    val full = operators.Dedup.semanticNeighbors(vecs, nCentroids = 1,
      pairBudget = 600L * 600L).collect().toSeq
    assert(def_ == full)
    assert(def_.size == 600)
  }

  test("coherent sub-blocking keeps near-dup pairs together; hash salting splits some") {
    // ONE oversized block (32 > maxBlock=8) of 16 tight near-dup pairs
    // spread around 4 far directions. Hash sub-salting assigns pair
    // members independently (a pair survives with p = 1/salts); coherent
    // refinement assigns both members to the same nearest seed, so EVERY
    // pair must be found.
    // ids interleave the four directions (0,1,2,3,0,1,…) so the
    // id-ordered seed sample lands one seed per cluster — the
    // uncorrelated-ids layout a real corpus has
    val vecs = (0L until 32L).map { i =>
      val d = (i % 4).toInt
      val v = Array.fill(4)(0f)
      v(d) = 1f
      v((d + 1) % 4) += 0.002f * ((i / 4) % 8 + 1)
      (i, v)
    }.toDF("vec_id", "embedding").withColumn("block", lit("all"))
      .select($"block", $"vec_id", $"embedding")
    val coherent = operators.Dedup.blockedNeighbors(
      operators.Dedup.coherentBlocks(vecs, maxBlock = 8),
      simThreshold = 0.95, maxBlock = 8, pairBudget = 64L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(coherent.size == 32)
    assert(coherent.values.forall(identity),
      s"coherent refinement lost near-dups: ${coherent.filterNot(_._2)}")
    val hashed = operators.Dedup.blockedNeighbors(
      vecs, simThreshold = 0.95, maxBlock = 8, pairBudget = 64L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // the hash guard bounds work but is blind to similarity: with salts=4
    // on this layout at least one same-direction neighbor pair splits
    assert(hashed.count(!_._2) > 0,
      "expected the random split to lose at least one pair (layout-pinned)")
  }

  test("farthest-first seeds survive id-geometry correlation (id-ordered seeds collapse)") {
    // ADVERSARIAL layout: ids correlate with geometry so the k
    // lowest-id members all fall in ONE cluster — ids 0-3 cluster A,
    // 4-7 B, 8-11 C, 12-15 D, then 16-31 wrap around. Id-ordered seeds
    // (the pre-round-11 scheme) would put all 4 seeds in cluster A:
    // B∪C∪D (24 rows) tie onto one seed, the coherent group oversizes,
    // and the hash guard splits pairs. Farthest-first over the 4×
    // candidate pool (16 ids — spanning all four clusters) must seed
    // every cluster: 4 sub-blocks of 8, zero lost pairs.
    val vecs = (0L until 32L).map { i =>
      val d = ((i / 4) % 4).toInt       // cluster from id-block
      val m = ((i / 16) * 4 + i % 4).toInt // member 0-7 within cluster
      val v = Array.fill(4)(0f)
      v(d) = 1f
      v((d + 1) % 4) += 0.002f * (m / 2 + 1) // members pair up (0,1),(2,3),…
      (i, v)
    }.toDF("vec_id", "embedding").withColumn("block", lit("all"))
      .select($"block", $"vec_id", $"embedding")
    val refined = operators.Dedup.coherentBlocks(vecs, maxBlock = 8)
    val groups = refined.groupBy($"block").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(groups === Seq(8L, 8L, 8L, 8L),
      s"seeds did not spread across the clusters: group sizes $groups")
    val nn = operators.Dedup.blockedNeighbors(refined,
      simThreshold = 0.95, maxBlock = 8, pairBudget = 64L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(nn.size == 32)
    assert(nn.values.forall(identity),
      s"id-correlated layout lost near-dups: ${nn.filterNot(_._2)}")
  }

  test("farthestFirstPick is deterministic, spreads, and tie-breaks by id order") {
    val a = Seq(1f, 0f, 0f, 0f); val b = Seq(0f, 1f, 0f, 0f)
    val c = Seq(0f, 0f, 1f, 0f)
    // pool of 6 in id order: a a b b c c — 3 seeds must hit a, then the
    // first of each remaining far direction (lowest id on ties)
    val picked = operators.Dedup.farthestFirstPick(
      Seq(a, a, b, b, c, c), 3)
    assert(picked.map(_.i) === Seq(0L, 1L, 2L))
    assert(picked.map(_.emb) === Seq(a, b, c))
    // pool == k: id order, no spread pass
    val all = operators.Dedup.farthestFirstPick(Seq(a, b), 2)
    assert(all.map(_.emb) === Seq(a, b))
    // k > pool: bounded by the pool
    assert(operators.Dedup.farthestFirstPick(Seq(a), 5).size === 1)
    assert(operators.Dedup.farthestFirstPick(Seq.empty, 3).isEmpty)
  }

  test("farthest_first_seeds expression ≡ the reference implementation") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    // randomized-ish pools (fixed values, no RNG) across the edge cases:
    // spread picks, ties, pool == k, k > pool, empty pool, zero vectors
    val pools: Seq[Seq[Seq[Float]]] = Seq(
      Seq(Seq(1f, 0f, 0f), Seq(1f, 0f, 0f), Seq(0f, 1f, 0f),
        Seq(0f, 0f, 1f), Seq(0.7f, 0.7f, 0f), Seq(0f, 0f, 0f)),
      Seq(Seq(0.3f, 0.1f, 0.9f), Seq(0.2f, 0.8f, 0.1f)),
      Seq(Seq(0f, 0f, 0f), Seq(0f, 0f, 0f), Seq(1f, 1f, 1f)),
      Seq.empty)
    for (pool <- pools; k <- Seq(0, 1, 2, 3, 5)) {
      val want = operators.Dedup.farthestFirstPick(pool, k).map(_.emb)
      val got = Seq(1)
        .toDF("one")
        .select(graft.functions.farthest_first_seeds(
          typedLit(pool), lit(k)).as("s"))
        .collect().head.getSeq[scala.collection.Seq[Float]](0)
        .map(_.toSeq)
      assert(got == want, s"pool=$pool k=$k")
    }
  }

  test("coherent sub-blocking bypasses blocks at/under the cap untouched") {
    val vecs = (0L until 10L).map(i => (i, Array(1f, 0f, 0f, i * 0.01f)))
      .toDF("vec_id", "embedding").withColumn("block", lit("b"))
      .select($"block", $"vec_id", $"embedding")
    val out = operators.Dedup.coherentBlocks(vecs, maxBlock = 16)
    // early return: the SAME plan (block column type untouched)
    assert(out.schema("block").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.count() == 10)
  }

  test("coherent refinement still bounded on identical-vector degenerate blocks") {
    // 64 identical vectors: every member ties onto seed 0, so the
    // coherent group IS the whole block — the hash guard must still
    // engage underneath and every vector still finds a perfect dup.
    val vecs = (0L until 64L).map(i => (i, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding").withColumn("block", lit("one"))
      .select($"block", $"vec_id", $"embedding")
    val nn = operators.Dedup.blockedNeighbors(
      operators.Dedup.coherentBlocks(vecs, maxBlock = 16),
      simThreshold = 0.95, maxBlock = 16, pairBudget = 1L << 20)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(nn.size == 64)
    assert(nn.values.forall(identity))
  }

  test("window-dup apply: non-canonical spans cut, first occurrence survives") {
    import spark.implicits._
    // doc 1 carries the 5-token span "a b c d e" that doc 2 repeats
    // (and doc 2 repeats it TWICE). Canonical = doc 1's occurrence:
    // doc 1 comes back verbatim; both of doc 2's copies drop, its
    // unique tail survives. Unique doc 3 is untouched.
    val span = "a b c d e"
    val docs = Seq(
      (1L, s"$span x y z"),
      (2L, s"$span q $span r"),
      (3L, "u v w m n o p")).toDF("doc_id", "text")
    val got = operators.Dedup.windowDupApply(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 8L, 0L, "a b c d e x y z"),
      (2L, 12L, 10L, "q r"),
      (3L, 7L, 0L, "u v w m n o p")), s"got $got")
    // consistency with the measurement: a doc whose spans were all cut
    // canonical-side reads 0 dropped here while windowDupCoverage still
    // reports its coverage (both occurrences count as covered there)
    val cov = operators.Dedup.windowDupCoverage(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(cov(1L) > 0 && cov(2L) > 0 && cov(3L) == 0.0)
  }

  test("banding cap audit measures exactly what the cap drops") {
    import spark.implicits._
    // 20 identical docs: every one of the 16 bands collapses to ONE
    // bucket of 20. With maxBucket=10 the cap drops them all — and the
    // audit must say so, per band: 20 rows dropped, 20·19/2 = 190
    // within-bucket pairs lost (the upper bound; here exact, since every
    // bucket is capped so no pair survives via another band)
    val docs = (1L to 20L).map(i => (i, base)).toDF("doc_id", "text")
    val audit = operators.Dedup.bandingCapAudit(docs, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(audit.map(_._1) == (0L until 16L), s"one row per band: $audit")
    audit.foreach { case (_, nb, nc, rows, pairs) =>
      assert(nb == 1 && nc == 1 && rows == 20 && pairs == 190, audit.toString)
    }
    // consistency with the candidate pass it audits: same cap → zero
    // candidates; cap above the bucket size → audit reports nothing lost
    assert(operators.Dedup.minhashCandidates(docs, maxBucket = 10)
      .filter($"n_candidates" > 0).count() == 0)
    operators.Dedup.bandingCapAudit(docs, maxBucket = 20).collect()
      .foreach(r => assert(r.getLong(2) == 0 && r.getLong(3) == 0 &&
        r.getLong(4) == 0, "nothing capped means nothing dropped"))
  }

  test("lsh sweep: nested bandings give monotone candidates, exact dups survive every config") {
    import spark.implicits._
    // doc 4 is an exact duplicate of doc 1: all 128 signature positions
    // agree, so every banding config pairs them and the n_match >= 64
    // gate counts them as an estimated dup
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinctDoc), (4L, base))
      .toDF("doc_id", "text")
    val sweep = operators.Dedup.lshSweep(docs).collect()
    assert(sweep.map(_.getLong(0)).toSeq == Seq(32L, 16L, 8L))
    assert(sweep.map(_.getLong(1)).toSeq == Seq(4L, 8L, 16L))
    // 32×4 bands refine 16×8 refine 8×16 (i//4 refines i//8 refines
    // i//16): a wide band matching forces all its sub-bands to match, so
    // candidate sets are nested and counts monotone as bands shrink
    val cands = sweep.map(_.getLong(2))
    assert(cands(0) >= cands(1) && cands(1) >= cands(2),
      s"candidate monotonicity violated: ${cands.toSeq}")
    sweep.foreach { r =>
      assert(r.getLong(3) >= 1L, "exact-dup pair cleared the gate")
      val (prec, mej) = (r.getDouble(4), r.getDouble(5))
      assert(prec > 0.0 && prec <= 1.0 && mej > 0.0 && mej <= 1.0,
        s"ratios out of range: $prec $mej")
    }
    // the strictest config (8 bands × 16 rows) admits only the exact
    // pair here, so its precision estimate is exactly 1 on the grid
    assert(sweep.last.getDouble(4) == 1.0)
  }

  test("auto-k keeps expected block size scale-invariant") {
    import operators.IvfIndex.autoCentroids
    // floor region: small corpora (and the sf0.01 oracle) resolve to
    // exactly `floor` centroids — oracles stay stable
    assert(autoCentroids(500) == 16)
    assert(autoCentroids(0) == 16)
    // scaling region: expected block size n/k stays within a constant
    // band (target/2, target] as the corpus grows 100×, 10 000×
    for (n <- Seq(100000L, 1000000L, 10000000L, 1000000000L)) {
      val k = autoCentroids(n)
      val block = n.toDouble / k
      assert(block <= 256.0 && block > 128.0,
        s"n=$n k=$k expected block $block escaped the target band")
    }
    // monotone in n: more data never means fewer blocks
    assert(autoCentroids(1 << 20) < autoCentroids(1 << 24))
  }

  test("incremental dedup from the persisted signature store matches recompute") {
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val base = Seq((1L, baseText),
      (2L, (1 to 80).map(i => s"other${i}x").mkString(" "))).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, baseText.split(" ").updated(10, "EDITED").mkString(" ")),
      (11L, (1 to 80).map(i => s"new${i}z").mkString(" "))).toDF("doc_id", "text")
    val tbl = "graft_test_sig_store"
    val dir = java.nio.file.Files.createTempDirectory("graft-sig").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    operators.Dedup.persistSignatures(base, tbl, s"$dir/sig")
    val fromStore =
      operators.Dedup.incrementalCandidatesFromStore(incoming, spark, tbl)
    val recompute = operators.Dedup.incrementalCandidates(incoming, base)
    assert(fromStore.collect().toSeq == recompute.collect().toSeq,
      "the store LAYOUT must never change the answer")
    // plan gate: the base side is a TABLE SCAN of the persisted store —
    // no base-corpus signature recompute — joined against the broadcast
    // increment (zero exchange on the store side)
    val plan = planOf(fromStore)
    assert(plan.contains(tbl), s"store scan missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"probe not broadcast:\n$plan")
  }

  test("oversized increment: un-hinted probe shuffles ONLY the increment") {
    // the backfill scenario the forced broadcast would kill: with
    // autoBroadcast=false and the broadcast threshold off (simulating an
    // increment past the hard limit), the probe must fall back to a
    // shuffled join whose ONE (band,h) Exchange sits on the increment
    // side — the bucketed store never moves
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val base = Seq((1L, baseText),
      (2L, (1 to 80).map(i => s"other${i}x").mkString(" "))).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, baseText.split(" ").updated(10, "EDITED").mkString(" ")),
      (11L, (1 to 80).map(i => s"new${i}z").mkString(" "))).toDF("doc_id", "text")
    val tbl = "graft_test_sig_store_shuffled"
    val dir = java.nio.file.Files.createTempDirectory("graft-sigsh").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    operators.Dedup.persistSignatures(base, tbl, s"$dir/sig")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = operators.Dedup.incrementalCandidatesFromStore(
        incoming, spark, tbl, autoBroadcast = false)
      val plan = planOf(df)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), s"no shuffled fallback:\n$plan")
      val bandExchanges =
        """hashpartitioning\(band""".r.findAllIn(plan).size
      assert(bandExchanges == 1,
        s"expected exactly ONE (band,h) Exchange (increment side only), " +
          s"got $bandExchanges:\n$plan")
      // the physical fallback must be invisible in the answer
      val hinted = operators.Dedup.incrementalCandidatesFromStore(
        incoming, spark, tbl)
      assert(df.collect().toSeq == hinted.collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("fingerprint near-dup: hamming<=3 always found, far prints dropped") {
    import spark.implicits._
    // pigeonhole recall: <=3 flipped bits touch at most 3 of the 4
    // 16-bit bands, so every within-tolerance pair shares an intact band.
    // a~b differ in 2 bits; c differs from a in 10 bits spread over ALL
    // four bands (no intact band -> never even a candidate); d == a.
    val a = 0x0123456789abcdefL
    val b = a ^ (1L << 3) ^ (1L << 40)
    val c = a ^ 0x0101010101010101L ^ 0x8080L
    val fps = Seq((1L, a), (2L, b), (3L, c), (4L, a)).toDF("doc_id", "fp")
    val got = operators.Dedup.fingerprintNearDup(fps).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(1L) == (2L, 2L), s"a pairs with b and d: ${got(1L)}")
    assert(got(2L) == (2L, 1L), s"b pairs with a and d: ${got(2L)}")
    assert(got(3L) == (0L, -1L), s"c is far from everything: ${got(3L)}")
    assert(got(4L) == (2L, 1L), s"d pairs with a and b: ${got(4L)}")
    // and the multimodal wrapper: identical payloads -> identical
    // fingerprints -> flagged as perceptual dups end to end
    val media = Seq((1L, "same bytes"), (2L, "same bytes"), (3L, "different"))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val nd = multimodal.Multimodal.payloadNearDup(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nd(1L) == 1L && nd(2L) == 1L && nd(3L) == 0L, s"$nd")
  }

  test("verified dedup: exact jaccard re-checks the estimate survivors") {
    val a = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val b = a.split(" ").updated(10, "EDIT").mkString(" ")
    // 1=2 identical (exact 1.0, confirmed); 3 has one edit — 3 of 78
    // shingles differ each side, true jaccard 75/81 ≈ 0.926 < 0.95
    // (survives the estimate gate, fails confirmation); 4=5 are EMPTY
    // (no shingles): union 0 ⇒ exact duplicates by definition
    val docs = Seq((1L, a), (2L, a), (3L, b), (4L, ""), (5L, ""))
      .toDF("doc_id", "text")
    val got = operators.Dedup
      .verifiedDuplicates(docs, minMatch = 32, confirmThreshold = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(4), r.getBoolean(5))).toMap
    assert(got((1L, 2L)) == (1.0, true))
    assert(got((4L, 5L)) == (1.0, true))
    val (j13, c13) = got((1L, 3L))
    assert(j13 > 0.9 && j13 < 0.93 && !c13, s"one edit in 80: $j13 $c13")
  }

  test("embedding neighbors: symmetric sanity on crafted vectors") {
    // covered at sf0.01 by the oracle; here: threshold flag consistency
    val t = sources.Tables(spark, sfDir)
    val nn = operators.Dedup.embeddingNeighbors(t)
    val bad = nn.filter(($"nn_score" >= 0.95) =!= $"is_dup").count()
    assert(bad == 0)
  }

  test("containment flags a doc swallowed by a bigger doc that jaccard misses") {
    val small = (1 to 30).map(i => s"w${i % 17}tok$i").mkString(" ")
    // big = small + 150 extra tokens: every shingle of `small` appears in
    // `big` (the splice point only ADDS shingles), so containment(1→2)=1,
    // while jaccard ≈ 28/178 ≈ 0.16 — the asymmetric measure is the point
    val big = small + " " + (31 to 180).map(i => s"x${i}pad").mkString(" ")
    val other = (1 to 60).map(i => s"q${i}z").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other))
      .toDF("doc_id", "text")
    val got = operators.Dedup.containmentNeighbors(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got(1L) == (2L, 1.0, true), s"contained doc: ${got.get(1L)}")
    // the reverse direction scores low: big is NOT contained in small
    val (c2, s2, f2) = got(2L)
    assert(c2 == 1L && s2 < 0.2 && !f2, s"container doc: ${got.get(2L)}")
    // doc 3 shares no shingle with anything → drops out entirely
    assert(!got.contains(3L), s"isolated doc should drop: $got")
    // jaccard on the same corpus would NOT flag the pair at any sane
    // threshold — the blindness containment exists to fix
    val jac = operators.Dedup.jaccardNeighbors(docs)
      .filter($"doc_id" === 1L).head()
    assert(jac.getDouble(2) < 0.2, s"jaccard sees ${jac.getDouble(2)}")
  }

  test("edit verification: distance counts the churn, gate splits on it") {
    // doc 2 = doc 1 with one token replaced by an equal-length token
    // (edit distance = the changed chars); doc 3 is unrelated and never
    // becomes an LSH candidate, so it produces NO pair row at all
    val a = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val b = a.replace("w10tok10", "w10tokXX")
    val docs = Seq((1L, a), (2L, b), (3L, distinctDoc))
      .toDF("doc_id", "text")
    val rows = operators.Dedup.editVerified(docs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
      s"only the candidate pair: ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(2) == 2L, s"two chars changed: ${r.getLong(2)}")
    assert(r.getBoolean(5), "2 edits over ~700 chars is a dup")
    val sim = r.getDouble(4)
    assert(sim > 0.99 && sim < 1.0, s"edit_sim: $sim")
  }

  test("window-dup coverage: interval union over shared and repeated spans") {
    // doc 1 and doc 2 share a verbatim 6-token run → with k=5 that's 2
    // duplicated windows each, at consecutive positions: union covers
    // min(5, 1) + 5 = 6 tokens of each doc's 20 → coverage 0.3
    val shared = "s1 s2 s3 s4 s5 s6"
    val d1 = s"a1 a2 a3 a4 a5 a6 a7 $shared b1 b2 b3 b4 b5 b6 b7"
    val d2 = s"c1 c2 c3 c4 c5 c6 c7 $shared e1 e2 e3 e4 e5 e6 e7"
    // doc 3 repeats ITS OWN 5-token run (positions 0 and 10): two dup
    // windows 10 apart → 5 + 5 = 10 of 15 tokens covered → 0.6666, cut
    val run = "r1 r2 r3 r4 r5"
    val d3 = s"$run m1 m2 m3 m4 m5 $run"
    // doc 4 shares nothing; doc 5 is shorter than k
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, (1 to 20).map(i => s"u$i").mkString(" ")),
      (5L, "tiny doc here")).toDF("doc_id", "text")
    val got = operators.Dedup.windowDupCoverage(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    assert(got(1L) == (20L, 16L, 2L, 0.3, true), s"doc1: ${got(1L)}")
    assert(got(2L) == (20L, 16L, 2L, 0.3, true), s"doc2: ${got(2L)}")
    assert(got(3L) == (15L, 11L, 2L, 0.6666, false), s"doc3: ${got(3L)}")
    assert(got(4L) == (20L, 16L, 0L, 0.0, true), s"doc4: ${got(4L)}")
    assert(got(5L) == (3L, 0L, 0L, 0.0, true), s"doc5: ${got(5L)}")
  }

  test("dfProfile: pair mass lands on the hot shingle's log2 bucket") {
    // one boilerplate trigram shared by 4 docs (df=4 -> bucket 2,
    // pairs = 4*3/2 = 6) next to two df=1 shingles (bucket 0, zero
    // pairs): the profile shows ALL the quadratic work on the hot
    // bucket — the evidence the maxShingleDf cap acts on
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (4L, "alpha beta gamma"),
      (5L, "p1 p2 p3 p4")).toDF("doc_id", "text")
    val got = operators.Dedup.dfProfile(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      0L -> ((2L, 2L, 0L, 0.0)),      // two unique trigrams of doc 5
      2L -> ((1L, 4L, 6L, 1.0))),     // the df=4 boilerplate trigram
      s"got $got")
  }

  test("oversized jaccard increment: un-hinted probe shuffles ONLY the " +
    "increment, same answer") {
    // the backfill scenario for the EXACT-jaccard probe (the r18 advice:
    // the hard broadcast would fail at the hard limit): with
    // autoBroadcast=false and the threshold off, the join must fall back
    // to a shuffle whose ONE sh Exchange sits on the increment side —
    // the bucketed store never moves
    val baseDocs = Seq((1L, base), (2L, distinctDoc)).toDF("doc_id", "text")
    val probe = Seq((10L, nearDup)).toDF("doc_id", "text")
    val tbl = "graft_test_shingle_shuffled"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shsh").toString
    operators.Dedup.persistShingles(baseDocs, tbl, s"$dir/store", minDf = 1)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = operators.Dedup.jaccardIncrementalFromStore(
        probe, spark, tbl, autoBroadcast = false)
      val plan = planOf(df)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), s"no shuffled fallback:\n$plan")
      val shExchanges = """hashpartitioning\(sh""".r.findAllIn(plan).size
      assert(shExchanges == 1,
        s"expected exactly ONE sh Exchange (increment side only), " +
          s"got $shExchanges:\n$plan")
      // the physical fallback must be invisible in the answer
      val hinted = operators.Dedup
        .jaccardIncrementalFromStore(probe, spark, tbl)
      assert(df.collect().toSeq == hinted.collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("jaccard probe is replay-immune: its own appended shingles never " +
    "surface as neighbors") {
    // the ShingleDedupStream crash window: the batch's shingles already
    // landed (a crashed attempt's completed append), then the probe
    // re-runs. The probe anti-joins its own ids off the base side, so
    // the replayed answer equals the pre-append answer bit for bit.
    val baseDocs = Seq((1L, base), (2L, distinctDoc)).toDF("doc_id", "text")
    val probe = Seq((10L, nearDup),
      (11L, nearDup.split(" ").updated(20, "ALSOEDITED").mkString(" ")))
      .toDF("doc_id", "text")
    val tbl = "graft_test_shingle_replay"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shre").toString
    try {
      operators.Dedup.persistShingles(baseDocs, tbl, s"$dir/store",
        minDf = 1)
      val before = operators.Dedup
        .jaccardIncrementalFromStore(probe, spark, tbl).collect().toSeq
      // simulate the crashed attempt's completed append, then replay
      operators.Dedup.appendShingles(probe, tbl)
      val replayed = operators.Dedup
        .jaccardIncrementalFromStore(probe, spark, tbl).collect().toSeq
      assert(replayed == before,
        s"replayed probe diverged:\n$before\nvs\n$replayed")
      // sanity: docs 10 and 11 are near-dups of EACH OTHER, so without
      // the self-exclusion the replay would flag 10<->11 at a higher
      // jaccard than their base match — pin that the neighbor stays base
      assert(replayed.forall(_.getLong(1) <= 2L), replayed.mkString(","))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("compactShingleStore(enforceDf): store-wide re-cap drops the " +
    "over-cap shingle, keeps the rest, preserves the bucketed serve") {
    // build at cap 3 (nothing capped: every shingle df <= 2), then
    // append batches until one shingle's STORE-WIDE df = 4 > 3 — the
    // appendShingles staleness window. The enforcing compaction must
    // drop exactly that shingle's rows (bucket-locally) and keep the
    // single-file sort-free serve plan.
    val mk = (id: Long, mid: String) =>
      (id, s"alpha beta gamma $mid p${id}x q${id}y")
    val b0 = Seq(mk(1L, "one"), mk(2L, "two")).toDF("doc_id", "text")
    val tbl = "graft_test_shingle_recap"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-recap").toString
    try {
      operators.Dedup.persistShingles(b0, tbl, s"$dir/store",
        maxShingleDf = 3, minDf = 1)
      operators.Dedup.appendShingles(
        Seq(mk(3L, "three")).toDF("doc_id", "text"), tbl, maxShingleDf = 3)
      operators.Dedup.appendShingles(
        Seq(mk(4L, "four")).toDF("doc_id", "text"), tbl, maxShingleDf = 3)
      spark.catalog.refreshTable(tbl)
      val hot = fnv1a64(lit("alpha beta gamma"))
      // the shared trigram now has store-wide df 4 — over the build cap
      assert(spark.table(tbl).filter(col("sh") === hot).count() == 4)
      val rowsBefore = spark.table(tbl).count()
      operators.Dedup.compactShingleStore(spark, tbl,
        enforceDf = Some(3))
      spark.catalog.refreshTable(tbl)
      assert(spark.table(tbl).filter(col("sh") === hot).count() == 0,
        "over-cap shingle survived the enforcing compaction")
      assert(spark.table(tbl).count() == rowsBefore - 4,
        "re-cap dropped more than the over-cap shingle's rows")
      // the rewrite must keep the exchange-free, sort-free serve plan
      val plan = planOf(
        operators.Dedup.jaccardNeighborsFromStore(spark, tbl))
      assert(!plan.contains("hashpartitioning(sh"), plan)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("semantic store format marker: a store without the meta table " +
    "fails fast with the rebuild message; oversized increment falls " +
    "back un-hinted") {
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.03f, 0f, 0f)),
      (3L, Array(0.03f, 0.999f, 0f, 0f))).toDF("vec_id", "embedding")
    val tbl = "graft_test_sem_marker"
    Seq("", "_centroids", "_coarse", "_meta")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sem-marker").toString
    try {
      operators.Dedup.persistSemanticBlocks(base, tbl, dir, nCentroids = 2)
      val probe = Seq((10L, Array(0.998f, 0.04f, 0f, 0f)))
        .toDF("vec_id", "embedding")
      // autoBroadcast=false: un-hinted join, identical answer
      val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val unhinted =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          operators.Dedup.semanticIncrementalFromStore(
            probe, spark, tbl, autoBroadcast = false).collect().toSeq
        } finally spark.conf
          .set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val hinted = operators.Dedup
        .semanticIncrementalFromStore(probe, spark, tbl).collect().toSeq
      assert(unhinted == hinted, "fallback changed the answer")
      // a pre-hierarchical / hand-assembled store (no marker) must fail
      // with the rebuild instruction, not probe with divergent blocks
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_meta")
      val e = intercept[IllegalArgumentException] {
        operators.Dedup.semanticIncrementalFromStore(probe, spark, tbl)
      }
      assert(e.getMessage.contains("rebuild the base"), e.getMessage)
    } finally Seq("", "_centroids", "_coarse", "_meta")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  /** The shingle pair family computed with plain Scala sets over the
    * engine's own per-doc shingle sets: the df window, the pair join,
    * both measures and the (score desc, id asc) argmax, floored to the
    * 1e-6 grid. Returns (jaccard, containment at 0.8) per doc. */
  private def shingleReference(docs: DataFrame, maxDf: Int)
      : (Map[Long, (Long, Double)], Map[Long, (Long, Double, Boolean)]) = {
    val sets = operators.Dedup.shingleSets(docs, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val df = sets.values.toSeq.flatten.groupBy(identity)
      .map { case (s, xs) => s -> xs.size }
    val joinable = sets.map { case (id, s) =>
      id -> s.filter(x => df(x) >= 2 && df(x) <= maxDf) }
    val n = sets.map { case (id, s) => id -> s.size.toLong }
    val pairs = for {
      (a, sa) <- joinable.toSeq; (b, sb) <- joinable.toSeq
      if a != b
      inter = (sa intersect sb).size.toLong
      if inter > 0
    } yield (a, b, inter)
    def best(score: (Long, Long, Long) => Double): Map[Long, (Long, Double)] =
      pairs.groupBy(_._1).map { case (a, ps) =>
        val (b, s) = ps.map { case (_, b, i) => (b, score(a, b, i)) }
          .sortBy { case (b, s) => (-s, b) }(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
          .head
        a -> ((b, s))
      }
    def floor6(x: Double) = math.floor(x * 1e6) / 1e6
    val jac = best((a, b, i) => i.toDouble / (n(a) + n(b) - i))
      .map { case (a, (b, s)) => a -> ((b, floor6(s))) }
    val cont = best((a, _, i) => i.toDouble / n(a).toDouble)
      .map { case (a, (b, s)) => a -> ((b, floor6(s), s >= 0.8)) }
    (jac, cont)
  }

  private def jaccardMap(df: DataFrame) =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap

  private def containmentMap(df: DataFrame) =
    df.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap

  test("jaccard + containment equal a plain Scala set reference") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val small = "red orange yellow green blue indigo violet"
    val docs = Seq(
      (1L, a), (4L, a), (9L, a),                   // exact duplicates
      (2L, small),                                 // contained in 7
      (7L, small + " cyan magenta black white grey"),
      (3L, "lone wolf walks alone tonight"),       // shares nothing
      // 5 shares one shingle with 6 and one with 8, same sizes: a tie
      (8L, "x2 y2 z2 four five six"),
      (5L, "one two three four five six"),
      (6L, "one two three x1 y1 z1")) ++
      // a boilerplate shingle pair with df 4
      (10L to 13L).map(i => (i, s"copyright all rights reserved u$i v$i w$i"))
    val corpus = docs.toDF("doc_id", "text")
    // 1000: no cap binds; 3: the df-4 boilerplate drops; 2: the df-3
    // duplicate family drops too
    val refs = Seq(1000, 3, 2).map { maxDf =>
      val (jacRef, contRef) = shingleReference(corpus, maxDf)
      assert(jaccardMap(operators.Dedup.jaccardNeighbors(corpus,
        maxShingleDf = maxDf)) == jacRef, s"jaccard, maxShingleDf=$maxDf")
      assert(containmentMap(operators.Dedup.containmentNeighbors(corpus,
        maxShingleDf = maxDf)) == contRef, s"containment, maxShingleDf=$maxDf")
      (jacRef, contRef)
    }
    val (jac, cont) = refs.head
    // the reference itself reads what the corpus was built to show
    assert(jac(4L) == ((1L, 1.0)) && jac(9L) == ((1L, 1.0)) &&
      jac(1L) == ((4L, 1.0)), s"duplicates: $jac")
    assert(cont(2L) == ((7L, 1.0, true)) && cont(7L) == ((2L, 0.5, false)),
      s"containment: $cont")
    assert(jac(5L)._1 == 6L && cont(5L)._1 == 6L, "tie must go to id 6")
    assert(!jac.contains(3L) && !cont.contains(3L), "isolated doc kept")
    assert(jac.contains(10L) && !refs(1)._1.contains(10L),
      "maxShingleDf=3 must drop the boilerplate family")
    assert(refs(1)._1.contains(1L) && !refs(2)._1.contains(1L),
      "maxShingleDf=2 must drop the duplicate family")
  }

  test("jaccard + containment on degenerate corpora: empty, all-null, " +
    "one repeated text") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nulls = (1L to 5L).map(i => (i, null: String)).toDF("doc_id", "text")
    Seq(empty, nulls).foreach { d =>
      val j = operators.Dedup.jaccardNeighbors(d)
      val c = operators.Dedup.containmentNeighbors(d)
      assert(j.columns.toSeq == Seq("doc_id", "neighbor_id", "jaccard"))
      assert(c.columns.toSeq ==
        Seq("doc_id", "container_id", "containment", "is_contained"))
      assert(j.collect().isEmpty && c.collect().isEmpty)
    }
    // one text five times: every doc's best is the smallest other id at
    // 1.0; with the cap below the df (5), no shingle may join
    val same = (1L to 5L).map(i => (i, "the same words in every document"))
      .toDF("doc_id", "text")
    val want = (1L to 5L).map(i => i -> (if (i == 1L) 2L else 1L)).toMap
    assert(jaccardMap(operators.Dedup.jaccardNeighbors(same)) ==
      want.map { case (i, o) => i -> ((o, 1.0)) })
    assert(containmentMap(operators.Dedup.containmentNeighbors(same)) ==
      want.map { case (i, o) => i -> ((o, 1.0, true)) })
    assert(operators.Dedup.jaccardNeighbors(same, maxShingleDf = 4)
      .collect().isEmpty)
    assert(operators.Dedup.containmentNeighbors(same, maxShingleDf = 4)
      .collect().isEmpty)
  }

  test("jaccard + containment run only the shingle-set barrier's jobs " +
    "before they return") {
    val docs = sources.Tables(spark, sfDir).documents
    docs.schema
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          job: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsWhile(build: => DataFrame): Int = {
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      jobs.set(0)
      build
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val barrier = jobsWhile(
        operators.Barrier(operators.Dedup.shingleSets(docs, 3)))
      assert(barrier > 0, "the shingle-set barrier ran no job")
      val jac = jobsWhile(operators.Dedup.jaccardNeighbors(docs))
      val cont = jobsWhile(operators.Dedup.containmentNeighbors(docs))
      assert(jac == barrier && cont == barrier,
        s"construction jobs: jaccard $jac, containment $cont, " +
          s"the barrier alone $barrier")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("semantic dedup on an empty embeddings table: zero rows, usual " +
    "schema; no seed vec_id is a named error") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f, 0f))).toDF("vec_id", "embedding")
    val want = operators.Dedup.semanticNeighbors(vecs, nCentroids = 2)
    Seq(0, 2).foreach { k =>
      val got = operators.Dedup.semanticNeighbors(vecs.limit(0),
        nCentroids = k)
      assert(got.schema == want.schema, s"nCentroids=$k")
      assert(got.collect().isEmpty, s"nCentroids=$k")
    }
    val e = intercept[IllegalArgumentException] {
      operators.Dedup.semanticNeighbors(
        vecs.withColumn("vec_id", $"vec_id" + 100L), nCentroids = 2)
    }
    assert(e.getMessage.contains("vec_id < 2"), e.getMessage)
  }
}
