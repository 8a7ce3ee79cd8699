package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.functions.TextFunctions._
import graft.sources.Tables
import graft.operators.Barrier.BarrierOps

/** Deduplication operators for LLM-data pipelines.
  *
  * Scale shapes (100 TB):
  *  - exact: one hash-shuffle groupBy; map-side partial agg collapses
  *    duplicates before the wire;
  *  - minhash-LSH / simhash: banding turns all-pairs O(N²) into
  *    equi-joins on band buckets — shuffle volume ∝ docs × bands, and
  *    only intra-bucket pairs are ever materialized;
  *  - jaccard: explode on (rare) shingles, pairs only where a shingle is
  *    shared;
  *  - embedding: blocked self-join (here by `label`, i.e. an IVF-style
  *    coarse cluster) — never corpus × corpus.
  */
object Dedup {

  /** Exact duplicate groups keyed by md5 of the normalized text:
    * canonical (min) doc id + multiplicity per group. */
  def exactGroups(t: Tables): DataFrame = exactGroups(t.documents)

  /** [[exactGroups]] over any `(doc_id, text)` table. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(preprocess(col("text")).cast("binary")).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
           count(lit(1)).as("dup_count"))
      .orderBy(col("text_hash"))

  /** Symmetric candidate pairs → per-doc rollup (every doc keeps a row:
    * n_candidates, smallest partner id).
    *
    * `pairs` is materialized before the symmetric union: both union
    * branches read the same child, and without a barrier Spark executes
    * the entire pair-generation subtree (explode → window cap →
    * self-join → distinct) once per branch — 2× the most expensive stage
    * of the dedup pipeline for zero benefit. */
  private def perDocSummary(docs: DataFrame, rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.barrier()
    val sym = pairs.select(col("id1").as("doc_id"), col("id2").as("partner"))
      .union(pairs.select(col("id2").as("doc_id"), col("id1").as("partner")))
    docs.select(col("doc_id"))
      .join(sym.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_candidates"),
             min(col("partner")).as("min_partner")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** The skew guard shared by every banded candidate generator: drop rows
    * in (band, h) buckets larger than `maxBucket`. A degenerate bucket
    * (the empty-document signature, boilerplate shared by millions of
    * docs) would otherwise produce |bucket|² candidate pairs on one task.
    * Excluding them is an explicit, documented recall trade — huge buckets
    * are almost always degenerate content at corpus scale, and their
    * members still surface through their other `bands-1` buckets. */
  private def capBuckets(bucketed: DataFrame, maxBucket: Int): DataFrame =
    bucketed
      .withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("h"))))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** `(doc_id, band, h)` → distinct capped candidate pairs (id1 < id2) —
    * the ONE pair-generation code path for every banded generator
    * (minhash LSH, simhash, [[clusters]]). `verify` is an optional exact
    * post-join check over the aliased sides (e.g. simhash's hamming
    * distance, referencing `a.`/`b.` columns carried in `bucketed`). */
  private def bandedPairs(bucketed: DataFrame, maxBucket: Int,
                          verify: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val capped = capBuckets(bucketed, maxBucket)
    // merge hint: BOTH sides are the corpus-sized signature table, so
    // neither is broadcast- or hash-BUILD-safe at scale — AQE left to
    // itself picks ShuffledHashJoin at saturation and holds the entire
    // build side live per task (the r15 ~40 GB GC stall; an executor
    // OOM at 100 TB). Sort-merge spills both sides; PlanDoctor's
    // `shuffled-hash-join-unbounded-build` rule enforces the discipline
    val joined = capped.hint("merge").as("a")
      .join(capped.hint("merge").as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
    verify.fold(joined)(joined.filter)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** SYMMETRIC capped LSH candidate edges (both directions) — the
    * near-dup candidate graph that [[clusters]] propagates labels over
    * and [[Graph.nearDupRank]] ranks. The one-direction pair table is
    * barriered BEFORE the symmetric union so the signature/join subtree
    * executes once, not once per direction. */
  private[operators] def candidateEdges(docs: DataFrame,
                                        maxBucket: Int = 1000): DataFrame = {
    val pairs = bandedPairs(minhashBuckets(docs, 128, 16, 3), maxBucket)
      .barrier()
    pairs.union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
  }

  /** Banded minhash signatures: (doc_id, band, h), materialized.
    *
    * [[Barrier]] = materialization barrier: Generate re-evaluates
    * its child per OUTPUT row (the minhash chain would run `bands` times
    * per doc), and the optimizer moves projections past a mere
    * repartition(); materializing the signature table is the only
    * reliable cut (57 s -> sub-second at sf0.1). On a cluster, run with
    * reliable barriers (see [[Barrier]]) or persist the signature table
    * outright ([[persistSignatures]]). */
  private def minhashBuckets(docs: DataFrame, numHashes: Int, bands: Int,
                             shingleLen: Int): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      band_hashes(
        minhash_signature(
          shingles(tokens(preprocess(col("text"))), shingleLen), numHashes),
        bands, numHashes / bands).as("bh"))
    sigs.barrier()
      .select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "h")))
  }

  /** MinHash(k)+LSH banding near-dup candidates over word shingles, with
    * the [[capBuckets]] skew guard. */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 128, bands: Int = 16,
                        shingleLen: Int = 3, maxBucket: Int = 1000): DataFrame =
    perDocSummary(docs,
      bandedPairs(minhashBuckets(docs, numHashes, bands, shingleLen),
        maxBucket))

  /** The capped one-direction candidate PAIR table (id1 < id2, distinct)
    * at the production parameters — THE shared upstream of the pair-
    * consumer family ([[minhashCandidatesFrom]], [[clustersFromPairs]],
    * [[graft.operators.Graph.nearDupRankFromPairs]]): a pipeline
    * generates candidates once and every downstream stage reads them. */
  def candidatePairs(docs: DataFrame, maxBucket: Int = 1000): DataFrame =
    bandedPairs(minhashBuckets(docs, 128, 16, 3), maxBucket)

  /** The banded signature table `(doc_id, band, h)` at the production
    * parameters — one level upstream of [[candidatePairs]]: signatures
    * are the build artifact every banded consumer (pair generation, the
    * cap audit) derives from. */
  def bandedSignatures(docs: DataFrame): DataFrame =
    minhashBuckets(docs, 128, 16, 3)

  /** [[candidatePairs]] from an already-materialized
    * [[bandedSignatures]] table. */
  def candidatePairsFrom(banded: DataFrame, maxBucket: Int = 1000): DataFrame =
    bandedPairs(banded, maxBucket)

  /** [[minhashCandidates]] over an already-materialized
    * [[candidatePairs]] table — the materialize-once seam. */
  def minhashCandidatesFrom(docs: DataFrame, pairs: DataFrame): DataFrame =
    perDocSummary(docs, pairs)

  /** Recall ACCOUNTING for the `maxBucket` skew guard: [[capBuckets]]
    * drops over-cap (band, h) buckets silently — a documented trade, but
    * "documented" is not "measured". This emits the per-band side table
    * a release review reads next to the dedup summaries: buckets seen,
    * buckets capped, signature rows inside capped buckets, and the
    * within-bucket pair count those buckets would have generated
    * (ESTIMATED pair loss: an upper bound per band, since capped members
    * can still pair through their other `bands − 1` buckets — the same
    * caveat the cap's recall argument rests on, now with numbers). One
    * groupBy over the signature table (the cheap domain — bands × docs
    * rows, no document text) plus a bands-sized aggregate; the same
    * accounting discipline as [[graft.streaming.LateData]]'s watermark-
    * drop audit. Run it with the SAME `maxBucket` as the candidate pass
    * it audits. */
  def bandingCapAudit(docs: DataFrame, numHashes: Int = 128, bands: Int = 16,
                      shingleLen: Int = 3, maxBucket: Int = 1000): DataFrame =
    bandingCapAuditFrom(minhashBuckets(docs, numHashes, bands, shingleLen),
      maxBucket)

  /** [[bandingCapAudit]] over an already-materialized
    * [[bandedSignatures]] table — run it with the SAME `maxBucket` as
    * the candidate pass it audits. */
  def bandingCapAuditFrom(banded: DataFrame, maxBucket: Int = 1000)
      : DataFrame = {
    val sizes = banded
      .groupBy(col("band"), col("h")).agg(count(lit(1)).as("bsz"))
    sizes.groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("bsz") > maxBucket, col("bsz")).otherwise(0L))
          .as("rows_dropped"),
        sum(when(col("bsz") > maxBucket, expr("bsz * (bsz - 1) DIV 2"))
          .otherwise(0L)).as("est_pairs_lost"))
      .orderBy(col("band"))
  }

  /** GROUND-TRUTH recall of the capped LSH funnel, measured on a
    * deterministic corpus sample — the number [[bandingCapAudit]]'s
    * upper-bound accounting and [[lshSweep]]'s precision side cannot
    * provide: how many TRUE near-dup pairs the production candidate
    * generator actually surfaces. Truth = exact word-shingle jaccard
    * ≥ `threshold` over all within-sample pairs; candidates = the SAME
    * capped banded generator the dedup family runs (full-corpus
    * signatures, so cross-sample bucket crowding and the `maxBucket`
    * cap act exactly as in production), restricted to the sample.
    *
    * One summary row: sample size, truth/candidate/caught pair counts,
    * recall = caught/truth and precision = caught/candidates (both 1.0
    * when their denominator is empty, floored to the 1e-6 grid —
    * integer÷integer, engine-exact).
    *
    * Scale shape: the sample is `doc_id % sampleMod == 0` (the
    * `q_classify` held-out convention — size the mod to the corpus so
    * the sample stays audit-sized; the exact all-pairs truth join is
    * sample²-bounded BY CONTRACT, the one place quadratic work is
    * acceptable because the input is capped). Docs with no 3-shingle
    * (sub-3-token) are excluded from the audit universe — they are
    * exact-dedup's domain, and their sentinel signatures would make
    * LSH look artificially perfect on them. */
  def lshRecallAudit(docs: DataFrame, numHashes: Int = 128, bands: Int = 16,
                     shingleLen: Int = 3, maxBucket: Int = 1000,
                     sampleMod: Int = 4, threshold: Double = 0.5): DataFrame =
    lshRecallAuditFrom(docs,
      bandedPairs(minhashBuckets(docs, numHashes, bands, shingleLen),
        maxBucket),
      shingleLen, sampleMod, threshold)

  /** [[lshRecallAudit]] with the production candidate pairs given
    * already-materialized ([[candidatePairs]] — full-corpus signatures,
    * so cross-sample bucket crowding and the cap act exactly as in
    * production). The exact-jaccard truth side is unchanged.
    *
    * INVARIANT: `prodPairs` must have been generated at this same
    * `shingleLen` — the exact-jaccard truth side is recomputed here from
    * `shingleLen`, so pairs built at a different length would produce a
    * silently inconsistent recall number (recall over mismatched
    * universes), not an error. Callers that memoize pair tables key them
    * per corpus at the default length; pass the same length here. */
  def lshRecallAuditFrom(docs: DataFrame, prodPairs: DataFrame,
                         shingleLen: Int = 3,
                         sampleMod: Int = 4, threshold: Double = 0.5)
      : DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be ≥ 1, got $sampleMod")
    // audit universe: sampled docs' DISTINCT shingle sets (row form)
    val sets = docs.filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id"),
        explode(shingles(tokens(preprocess(col("text"))), shingleLen))
          .as("sh"))
      .distinct()
      .barrier() // read 3×: sizes, both sides of the intersection join
    val sizes = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .barrier() // read 5×: n_sample + two size attaches + two semi-joins
    val inter = sets.as("a")
      .join(sets.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("i"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("sz").as("sz2")), Seq("id2"))
      .filter(col("i").cast("double") /
        (col("sz1") + col("sz2") - col("i")).cast("double") >= threshold)
      .select(col("id1"), col("id2"))
    // the PRODUCTION generator's pairs, unchanged, restricted to the
    // universe
    val cand = prodPairs
      .filter(col("id1") % sampleMod === 0 && col("id2") % sampleMod === 0)
      .join(sizes.select(col("doc_id").as("id1")), Seq("id1"), "left_semi")
      .join(sizes.select(col("doc_id").as("id2")), Seq("id2"), "left_semi")
      .select(col("id1"), col("id2"))
      .barrier() // read 2×: n_cand + the caught join
    val truthB = truth.barrier() // read 2×: n_truth + the caught join
    val ns = sizes.agg(count(lit(1)).as("n_sample"))
    val nt = truthB.agg(count(lit(1)).as("n_truth"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val caught = truthB.join(cand, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_caught"))
    ns.crossJoin(broadcast(nt)).crossJoin(broadcast(nc))
      .crossJoin(broadcast(caught))
      .select(col("n_sample"), col("n_truth"), col("n_cand"), col("n_caught"),
        when(col("n_truth") === 0L, lit(1.0))
          .otherwise(floor(col("n_caught").cast("double") /
            col("n_truth").cast("double") * 1e6) / 1e6).as("recall"),
        when(col("n_cand") === 0L, lit(1.0))
          .otherwise(floor(col("n_caught").cast("double") /
            col("n_cand").cast("double") * 1e6) / 1e6).as("precision"))
  }

  /** Provenance near-dup matrix — WHICH SOURCES near-duplicate each
    * other: the capped LSH candidate pairs ([[minhashCandidates]]'s
    * generator, unordered `id1 < id2`) mapped to their unordered
    * `(source_a ≤ source_b)` cell, with the cell's share of all
    * candidate pairs. The dataset-card companion a release review reads
    * next to the dedup summaries: a hot off-diagonal cell means one
    * source is mirroring another (and the smaller one is probably the
    * copy); a hot diagonal cell means intra-source boilerplate.
    *
    * Scale shape: candidate pairs are band-bounded (never all-pairs);
    * the two source lookups are doc_id equi-joins whose right side is a
    * 2-column projection of the corpus, and the matrix itself is
    * |sources|² rows — the final aggregate is map-side combined down to
    * a handful of cells. The share divides two identical longs-as-
    * doubles and floors to the 1e-6 grid. */
  def sourceMatrix(docs: DataFrame, numHashes: Int = 128, bands: Int = 16,
                   shingleLen: Int = 3, maxBucket: Int = 1000): DataFrame =
    sourceMatrixFrom(docs,
      bandedPairs(minhashBuckets(docs, numHashes, bands, shingleLen),
        maxBucket))

  /** [[sourceMatrix]] over an already-materialized [[candidatePairs]]
    * table — the materialize-once seam. */
  def sourceMatrixFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val cells = pairs
      .join(src.select(col("doc_id").as("id1"), col("source").as("s1")),
        Seq("id1"))
      .join(src.select(col("doc_id").as("id2"), col("source").as("s2")),
        Seq("id2"))
      .groupBy(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .barrier() // |sources|² rows, read twice: total + output
    cells
      .crossJoin(broadcast(cells.agg(sum(col("n_pairs")).as("t"))))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (floor(col("n_pairs").cast("double") / col("t").cast("double")
          * 1e6) / 1e6).as("pair_share"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash similarity ESTIMATES for the LSH candidate pairs: the step
    * between candidate generation ([[minhashCandidates]]) and a
    * verify-with-exact-jaccard pass — est = matching signature positions
    * / numHashes, an unbiased jaccard estimator that never touches the
    * documents again (the signatures are already there; at 100 TB this is
    * why pipelines verify ON the signatures and reserve exact-jaccard for
    * the survivors). Signatures are computed ONCE (checkpointed) and feed
    * both the banded pair generation and the estimate join. */
  def minhashEstimates(docs: DataFrame, numHashes: Int = 128,
                       bands: Int = 16, shingleLen: Int = 3,
                       maxBucket: Int = 1000): DataFrame =
    estimatePairs(docs, numHashes, bands, shingleLen, maxBucket)
      .withColumn("est_jaccard",
        floor(col("n_match").cast("double") / numHashes * 1e4) / 1e4)
      .orderBy(col("id1"), col("id2"))

  /** Capped LSH candidate pairs with their matching-signature-position
    * count: `(id1, id2, n_match)` — the shared core of
    * [[minhashEstimates]] and [[verifiedDuplicates]]. Signatures are
    * computed ONCE (checkpointed) and feed both the banded pair
    * generation and the estimate join. */
  private def estimatePairs(docs: DataFrame, numHashes: Int, bands: Int,
                            shingleLen: Int, maxBucket: Int): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      minhash_signature(
        shingles(tokens(preprocess(col("text"))), shingleLen), numHashes)
        .as("sig"))
      .barrier() // barrier + read thrice (bands, both join sides)
    val banded = sigs
      .select(col("doc_id"),
        posexplode(band_hashes(col("sig"), bands, numHashes / bands))
          .as(Seq("band", "h")))
    val pairs = bandedPairs(banded, maxBucket)
    val matches = aggregate(
      zip_with(col("s1"), col("s2"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    pairs
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")), Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")), Seq("id2"))
      .select(col("id1"), col("id2"), matches.cast("long").as("n_match"))
  }

  /** The LSH banding TRADE as a table — the dedup twin of
    * `q_recall_sweep`: for each banding `(b bands × r rows, b·r =
    * numHashes)` the candidate volume and estimated candidate quality a
    * deployment reads to pick its operating point (few rows per band →
    * high recall, many low-jaccard candidates; many rows → precise, can
    * miss near-dups). MinHash signatures are computed ONCE (barriered);
    * each config re-bands the SIGNATURE table (the cheap domain —
    * `numHashes` longs per doc, never document text) and its estimate
    * join input is ∝ that config's candidates. All quality numbers
    * derive from integer `n_match` sums (order-invariant, oracle-exact):
    * `n_est_dups` counts candidates clearing the `minMatch / numHashes`
    * integer gate, `precision_est` and `mean_est_jaccard` are floored
    * to the 1e-4 grid. */
  def lshSweep(docs: DataFrame, numHashes: Int = 128,
               bandConfigs: Seq[Int] = Seq(32, 16, 8),
               shingleLen: Int = 3, maxBucket: Int = 1000,
               minMatch: Int = 64): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      minhash_signature(
        shingles(tokens(preprocess(col("text"))), shingleLen), numHashes)
        .as("sig"))
      .barrier() // one signature pass serves every banding config
    val matches = aggregate(
      zip_with(col("s1"), col("s2"), (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    bandConfigs.map { b =>
      val r = numHashes / b
      val banded = sigs.select(col("doc_id"),
        posexplode(band_hashes(col("sig"), b, r)).as(Seq("band", "h")))
      bandedPairs(banded, maxBucket)
        .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")), Seq("id1"))
        .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")), Seq("id2"))
        .select(matches.cast("long").as("n_match"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("n_match") >= minMatch, 1L).otherwise(0L)),
            lit(0L)).as("n_est_dups"),
          coalesce(sum(col("n_match")), lit(0L)).as("sum_match"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_est_dups"),
          when(col("n_candidates") === 0L, 0.0).otherwise(
            floor(col("n_est_dups").cast("double")
              / col("n_candidates").cast("double") * 1e4) / 1e4)
            .as("precision_est"),
          when(col("n_candidates") === 0L, 0.0).otherwise(
            floor(col("sum_match").cast("double")
              / (col("n_candidates").cast("double") * numHashes) * 1e4) / 1e4)
            .as("mean_est_jaccard"))
    }.reduce(_.unionAll(_)).orderBy(col("bands").desc)
  }

  /** The final stage of the dedup funnel: LSH candidates → signature-level
    * estimate → EXACT word-shingle jaccard, computed ONLY for pairs whose
    * estimate clears `minMatch` matching signature positions (an INTEGER
    * gate — `minMatch / numHashes` ≈ the jaccard threshold — so the engine
    * and the oracle agree bit-for-bit with no float-edge risk). At 100 TB
    * the corpus-wide work stays in the cheap signature domain: the exact
    * step's join input is ∝ survivors, never ∝ candidates, and shingle
    * SETS are (re)built only for surviving docs (semi-join pushdown).
    * Output: survivors with estimate, exact jaccard, and the `confirmed`
    * gate at `confirmThreshold`. Two empty shingle sets (docs shorter than
    * the shingle) are exact duplicates of each other: union = 0 ⇒
    * jaccard 1. */
  def verifiedDuplicates(docs: DataFrame, numHashes: Int = 128,
                         bands: Int = 16, shingleLen: Int = 3,
                         maxBucket: Int = 1000, minMatch: Int = 32,
                         confirmThreshold: Double = 0.5): DataFrame = {
    val surv = estimatePairs(docs, numHashes, bands, shingleLen, maxBucket)
      .filter(col("n_match") >= minMatch)
      .barrier() // read thrice: id semi-join + the two set joins
    val ids = surv.select(col("id1").as("doc_id"))
      .union(surv.select(col("id2").as("doc_id"))).distinct()
    val sets = shingleSets(docs.join(ids, Seq("doc_id"), "left_semi"),
        shingleLen)
      .barrier() // barrier: see cappedShingleTable; read twice
    val inter = size(array_intersect(col("sh1"), col("sh2")))
    val uni = size(col("sh1")) + size(col("sh2")) - inter
    surv
      .join(sets.select(col("doc_id").as("id1"), col("shs").as("sh1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("shs").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("n_match"),
        (floor(col("n_match").cast("double") / numHashes * 1e4) / 1e4)
          .as("est_jaccard"),
        when(uni === 0, lit(1.0))
          .otherwise(inter.cast("double") / uni.cast("double")).as("jac"))
      .select(col("id1"), col("id2"), col("n_match"), col("est_jaccard"),
        (floor(col("jac") * 1e6) / 1e6).as("exact_jaccard"),
        (col("jac") >= confirmThreshold).as("confirmed"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Incremental near-dup detection: flag NEW documents against an
    * EXISTING base corpus — the production shape for a daily increment
    * landing on a 100 TB base. The base NEVER self-joins: its banded
    * signatures are (re)computed or read from the persisted signature
    * table, the increment's signatures probe them with a plain equi-join
    * on (band, bucket), and the join output is ∝ increment × matches,
    * not base². The [[capBuckets]] skew guard applies to the BASE side
    * (the boilerplate buckets live there); the increment probes uncapped.
    * Output: one row per new doc — candidate count, smallest base
    * partner, and the `is_dup_of_base` gate a pipeline filters on. */
  def incrementalCandidates(newDocs: DataFrame, base: DataFrame,
                            numHashes: Int = 128, bands: Int = 16,
                            shingleLen: Int = 3, maxBucket: Int = 1000,
                            autoBroadcast: Boolean = true): DataFrame =
    incrementalProbe(newDocs,
      capBuckets(minhashBuckets(base, numHashes, bands, shingleLen),
        maxBucket),
      numHashes, bands, shingleLen, autoBroadcast)

  /** Write `docs`'s banded minhash signature table as a BUCKETED catalog
    * table — the one-time full pass that makes [[incrementalCandidatesFromStore]]
    * incremental. The [[capBuckets]] skew guard is applied AT WRITE (the
    * cap is a property of the base corpus alone, so capping once at build
    * equals capping on every probe), and the table is bucketed by the
    * probe-join key `(band, h)` (the [[IvfIndex.persistBucketed]] pattern):
    * a probe too large to broadcast shuffles ONLY the increment side —
    * the 100 TB store is already distributed on the join key and never
    * moves again. */
  def persistSignatures(docs: DataFrame, table: String, path: String,
                        numHashes: Int = 128, bands: Int = 16,
                        shingleLen: Int = 3, maxBucket: Int = 1000,
                        nBuckets: Int = 8): Unit =
    capBuckets(minhashBuckets(docs, numHashes, bands, shingleLen), maxBucket)
      .write.mode("overwrite")
      .bucketBy(nBuckets, "band", "h").sortBy("band", "h")
      .option("path", path)
      .saveAsTable(table)

  /** Append `docs`'s banded signatures to an existing signature store —
    * the micro-batch increment of [[persistSignatures]] (used by
    * [[graft.streaming.IncrementalDedupStream]]). The skew cap applies
    * WITHIN the appended batch only: the store-wide cap is a build-time
    * property, and re-capping across appends would re-read the store each
    * batch — the one thing an incremental pipeline must never do.
    * Duplicate appends (a replayed micro-batch) are harmless for
    * correctness: candidate pairs are DISTINCT doc-id pairs, so replayed
    * signature rows cannot change any later probe's answer. */
  def appendSignatures(docs: DataFrame, table: String,
                       numHashes: Int = 128, bands: Int = 16,
                       shingleLen: Int = 3, maxBucket: Int = 1000,
                       nBuckets: Int = 8): Unit =
    capBuckets(minhashBuckets(docs, numHashes, bands, shingleLen), maxBucket)
      .write.mode("append")
      .bucketBy(nBuckets, "band", "h").sortBy("band", "h")
      .saveAsTable(table)

  /** Compact the persisted signature store: [[appendSignatures]] adds
    * bucketed files per micro-batch forever — after weeks of triggers the
    * probe's scan pays per-file open/footer cost that dwarfs the data
    * (the same small-file decay [[graft.streaming.IndexMaintenance.compact]]
    * fixes for posting lists). This is the BUCKET-PRESERVING twin: files
    * group by the bucket id Spark encodes in the file name (`…_NNNNN.c000…`),
    * each over-`maxFiles` bucket is rewritten to one file, and the
    * compacted file is renamed back INTO the bucket-id naming scheme so
    * the catalog table's bucketed scan (and therefore the exchange-free
    * probe join) keeps working unchanged — rows, bucket membership, and
    * every probe answer are identical, only the file count drops. Rows
    * are re-sorted on (band, h) within the rewritten file, preserving the
    * store's sortBy contract. Buckets compact independently, so at fleet
    * scale the pass parallelizes per bucket. Concurrency contract
    * (stricter than the posting-list compactor's): run between appends
    * AND between probes — a concurrent probe can fail mid-compaction on
    * a just-deleted file (the rename-in/delete-after window protects
    * DATA, not concurrent readers' file listings). The rewrite is also
    * SELF-HEALING: rows are deduplicated while coalescing a bucket, so
    * the duplicate signature rows a crash in the overlap window leaves
    * behind (tolerated for probe answers, but silently inflating the
    * store) are reabsorbed by the next compaction of that bucket —
    * exact-duplicate rows can only arise from crash/replay, since rows
    * carry doc_id. Returns the number of buckets compacted. */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
                            table: String, maxFiles: Int = 8): Int =
    compactBucketedStore(spark, table, Seq("band", "h"), maxFiles)

  /** The shared bucket-preserving compactor behind
    * [[compactSignatureStore]] and [[compactShingleStore]] — the
    * contract lives on the public wrappers; this is the mechanism:
    * group files by the bucket id Spark encodes in the name, rewrite
    * each over-`maxFiles` bucket to one deduplicated file re-sorted on
    * `sortCols`, rename back INTO the bucket-id naming scheme so the
    * catalog's bucketed scan keeps working unchanged. */
  private def compactBucketedStore(spark: org.apache.spark.sql.SparkSession,
                                   table: String, sortCols: Seq[String],
                                   maxFiles: Int,
                                   rewriteAll: Boolean = false,
                                   transform: DataFrame => DataFrame =
                                     identity): Int = {
    import org.apache.hadoop.fs.Path
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc =
      new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Spark's bucketed-file convention: bucket id is the final _NNNNN
    // group before the extensions (BucketingUtils.getBucketId's pattern)
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    val byBucket = fs.listStatus(loc)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .groupBy(f => f.getPath.getName match {
        case bucketRe(b) => b.toInt
        case _           => -1
      })
      .filter { case (b, _) => b >= 0 }
    var compacted = 0
    byBucket.foreach { case (b, files) =>
      if (rewriteAll || files.length > maxFiles) {
        val tmp = new Path(loc, f".compact-$b%05d")
        fs.delete(tmp, true)
        transform(
          spark.read.parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
            .dropDuplicates()) // self-heal crash-window duplicate rows
          .coalesce(1)
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.mode("overwrite").parquet(tmp.toString)
        // rename the replacement IN before deleting the originals: a
        // crash in the overlap window leaves duplicate signature rows,
        // which the probe contract tolerates (candidate pairs are
        // DISTINCT doc-id pairs — see appendSignatures' replay note);
        // the delete-first order would instead lose the bucket silently
        // (its rows stranded under a dot-dir the scan never reads)
        fs.listStatus(tmp)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (f, i) =>
            fs.rename(f.getPath, new Path(loc,
              f"part-$i%05d-compact-${java.util.UUID.randomUUID}_$b%05d.c000.snappy.parquet"))
          }
        files.foreach(f => fs.delete(f.getPath, false))
        fs.delete(tmp, true)
        compacted += 1
      }
    }
    if (compacted > 0) spark.catalog.refreshTable(table)
    compacted
  }

  /** [[incrementalCandidates]] served from the PERSISTED signature table:
    * the production shape for a daily increment landing on a 100 TB base —
    * the base corpus is never re-read and its signatures are never
    * recomputed; the only minhash work is over the increment. Identical
    * results to the recompute form (the store holds exactly the capped
    * banded signatures that form would compute — same oracle). */
  def incrementalCandidatesFromStore(newDocs: DataFrame,
                                     spark: org.apache.spark.sql.SparkSession,
                                     table: String, numHashes: Int = 128,
                                     bands: Int = 16, shingleLen: Int = 3,
                                     autoBroadcast: Boolean = true)
      : DataFrame = {
    // the store is append-heavy BY DESIGN (every increment/micro-batch
    // adds its signatures, possibly from another session — streaming
    // foreachBatch runs on a session clone): drop this session's cached
    // file listing so the probe sees every append, not the snapshot from
    // the first read. A relation-cache refresh re-lists files; it never
    // re-reads data.
    spark.catalog.refreshTable(table)
    incrementalProbe(newDocs, spark.table(table),
      numHashes, bands, shingleLen, autoBroadcast)
  }

  /** The shared probe: increment signatures × base banded-signature table
    * (recomputed or persisted) → per-new-doc summary.
    *
    * `autoBroadcast=true` (the daily-increment default) puts an explicit
    * broadcast hint on the increment side: a daily batch is orders of
    * magnitude smaller than the base, so the base-side scan joins with NO
    * exchange. An explicit hint OVERRIDES Spark's size threshold, though —
    * a too-large build side fails the job at the broadcast hard limit
    * instead of falling back. So for oversized increments (a backfill
    * replaying weeks of docs at once) pass `autoBroadcast=false`: the
    * un-hinted join lets Spark/AQE pick a runtime broadcast when the
    * measured increment is small and a shuffled join otherwise — and
    * against the BUCKETED signature store ([[persistSignatures]]) that
    * shuffled join puts its one Exchange on the increment side only; the
    * 100 TB store never moves (plan-gated in DedupSpec). Results are
    * identical either way — the switch is pure physical planning. */
  private def incrementalProbe(newDocs: DataFrame, baseBuckets: DataFrame,
                               numHashes: Int, bands: Int, shingleLen: Int,
                               autoBroadcast: Boolean = true)
      : DataFrame = {
    val nb = minhashBuckets(newDocs, numHashes, bands, shingleLen)
    val probeSide = if (autoBroadcast) broadcast(nb.as("a")) else nb.as("a")
    val pairs = baseBuckets.as("b")
      .join(probeSide,
        col("a.band") === col("b.band") && col("a.h") === col("b.h"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("base_id"))
      .distinct()
    newDocs.select(col("doc_id"))
      .join(pairs.groupBy(col("new_id").as("doc_id"))
        .agg(count(lit(1)).as("n_base_candidates"),
          min(col("base_id")).as("min_base_partner")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_base_candidates"))
      .select(col("doc_id"), col("n_base_candidates"),
        col("min_base_partner"),
        (col("n_base_candidates") > 0).as("is_dup_of_base"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** SimHash64 + banded (4 × 16-bit) candidate generation, verified by
    * exact hamming distance ≤ `maxHamming`. Buckets capped like every
    * other banded generator ([[capBuckets]]): 16-bit chunks bound bucket
    * degeneracy less severely than minhash bands, but an all-identical
    * corpus still collapses into 4 quadratic buckets without the cap. */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
                        maxBucket: Int = 1000): DataFrame =
    hammingNearDup(
      docs.select(col("doc_id"),
        simhash64(tokens(preprocess(col("text")))).as("sh"))
        .barrier(), // barrier: see minhashBuckets
      maxHamming, maxBucket)

  /** Banded-hamming near-dup over ANY caller-supplied 64-bit fingerprint
    * `(doc_id, fp)` — the [[simhashCandidates]] machinery with the
    * text-hashing step unplugged, so perceptual hashes (image dHash,
    * audio chromaprints, [[graft.multimodal.Multimodal.perceptualFingerprints]])
    * ride the exact same banding + cap + hamming-verify + per-doc-summary
    * path. The 4×16-bit banding guarantees RECALL for the tolerance it
    * verifies: ≤ 3 flipped bits can touch at most 3 of the 4 bands, so
    * every pair within `maxHamming` ≤ 3 shares at least one intact band
    * and is generated as a candidate (pigeonhole — same argument as
    * simhash's). */
  def fingerprintNearDup(fps: DataFrame, maxHamming: Int = 3,
                         maxBucket: Int = 1000): DataFrame =
    hammingNearDup(
      fps.select(col("doc_id"), col("fp").as("sh")).barrier(),
      maxHamming, maxBucket)

  /** Shared core: `(doc_id, sh)` 64-bit hashes → 4×16-bit banded
    * candidates ([[capBuckets]]-guarded), exact-hamming verified, rolled
    * up per doc. */
  private def hammingNearDup(hashed: DataFrame, maxHamming: Int,
                             maxBucket: Int): DataFrame = {
    val banded = hashed.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("sh"), 16 * j).bitwiseAND(lit(0xffffL)).as("h"))): _*))
        .as("bc"))
      .select(col("doc_id"), col("sh"), col("bc.band"), col("bc.h"))
    val pairs = bandedPairs(banded, maxBucket,
      verify = Some(
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming))
    perDocSummary(hashed, pairs)
  }

  /** The per-doc shingle SET `(doc_id, shs)`: the distinct word
    * `shingleLen`-grams of the normalized text, built array-side
    * (`array_distinct` over [[graft.functions.WordShingles]]). The one
    * definition behind [[cappedShingleTable]], [[dfProfile]] and
    * [[verifiedDuplicates]]. */
  private[graft] def shingleSets(docs: DataFrame,
                                 shingleLen: Int): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(
        shingles(tokens(preprocess(col("text"))), shingleLen)).as("shs"))

  /** The df-capped per-doc shingle table `(doc_id, n_sh, sh)` behind
    * [[jaccardNeighbors]], [[containmentNeighbors]] and the shingle
    * store.
    *
    * The per-doc shingle SET ([[shingleSets]]) is checkpointed BEFORE
    * the explode — the barrier that stops Generate from re-evaluating
    * the array build per output row (the round-1 33 s quadratic
    * blowup). Building the set array-side also yields `n_sh =
    * size(set)` for free.
    *
    * Everything after that barrier is lazy. The df-cap window
    * hash-partitions and sorts the table on `sh`, which is exactly the
    * distribution and order [[pairIntersections]]' merge join needs: the
    * self-join reuses the window's one exchange on both sides and
    * neither re-shuffles nor re-sorts. A barrier here would erase that
    * clustering (the join would re-sort the whole table) and run the
    * exchange at construction. A consumer joining the table against
    * something else, as [[jaccardIncrementalFromStore]] does, puts its
    * own barrier on it.
    *
    * Shingles travel as their 64-bit FNV, not the string: ~3-4× less
    * shuffle per row and cheaper join probes. `n_sh` counts distinct
    * STRINGS (pre-hash, exactly the oracle's denominator); a hash
    * collision could only inflate one intersection count, with
    * P ≈ pairs·2⁻⁶⁴ — never observed, and the oracle would catch it.
    *
    * `maxShingleDf` caps the document frequency of join-key shingles: a
    * boilerplate 3-gram shared by M docs is a quadratic key (M² pairs on
    * one task). Shingles hotter than the cap are dropped from the
    * INTERSECTION join only — per-doc set sizes (the denominators) still
    * count them — a documented recall trade, like `maxBucket` in the
    * banded generators. The df cap runs AFTER n_sh (denominators stay
    * exact); with the default `minDf = 2`, df = 1 rows are dropped
    * too — a shingle appearing in one document can never produce a pair,
    * so excluding it changes NOTHING while cutting the self-join's input
    * by the unique-shingle share of the corpus (on web corpora the large
    * majority). A store that will receive APPENDS must pass `minDf = 1`
    * ([[appendShingles]]): df is computed WITHIN the batch, and a
    * singleton's twin may arrive in a later batch — dropping it here
    * would silently lose that cross-batch pair. */
  private[graft] def cappedShingleTable(docs: DataFrame, shingleLen: Int,
                                 maxShingleDf: Int,
                                 minDf: Int = 2): DataFrame =
    shingleSets(docs, shingleLen)
      .barrier() // barrier: see minhashCandidates
      .select(col("doc_id"), size(col("shs")).as("n_sh"),
        explode(col("shs")).as("s"))
      .select(col("doc_id"), col("n_sh"),
        graft.functions.fnv1a64(col("s")).as("sh"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__df") <= maxShingleDf && col("__df") >= minDf)
      .drop("__df")

  /** Shingle document-frequency profile: the df distribution in log2
    * buckets, each bucket carrying its shingle count, posting mass, and
    * — the number that matters — its PAIR mass Σ df·(df−1)/2, the
    * quadratic join work shingles of that df would generate. This is
    * the operating-curve data behind `maxShingleDf`: the cap is a
    * recall/cost trade ([[cappedShingleTable]]), and this table shows
    * exactly how much of the corpus' pair work each df decade carries
    * (on web corpora the top decades are boilerplate: huge pair mass,
    * near-zero dedup signal).
    *
    * Scale shape: one shingle pass (the [[cappedShingleTable]] chain
    * without the cap), one map-side-combined df aggregate keyed on the
    * 64-bit shingle FNV (8 bytes/row through the only corpus-sized
    * shuffle — the strings never leave the scan; a collision would
    * merge two shingles' df rows, P ≈ shingles²·2⁻⁶⁵, and the oracle
    * counts strings so the gate would catch it), then a fold onto the
    * ≤ capBucket+1 log2 grid. Pair mass rides DECIMAL(38,0) — df² at
    * corpus scale overflows a LONG. */
  def dfProfile(docs: DataFrame, shingleLen: Int = 3,
                capBucket: Int = 20): DataFrame = {
    val dfs = shingleSets(docs, shingleLen)
      .barrier() // see minhashCandidates: Generate re-evaluation cut
      .select(explode(col("shs")).as("s"))
      .select(graft.functions.fnv1a64(col("s")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val buckets = dfs
      .select(least(length(bin(col("df"))).cast("long") - 1,
        lit(capBucket.toLong)).as("df_bucket"), col("df"))
      .groupBy(col("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        sum(expr("cast(df as decimal(38,0)) * (df - 1) div 2")).as("pairs"))
    val total = buckets.agg(sum(col("pairs")).as("tot"))
    buckets.crossJoin(broadcast(total))
      .select(col("df_bucket"), col("n_shingles"), col("n_postings"),
        col("pairs").cast("long").as("n_pairs"),
        when(col("tot") > 0,
          expr("cast(pairs * 1000000 as decimal(38,0)) div tot")
            .cast("double") / 1e6).otherwise(lit(0.0)).as("pair_share"))
      .transform(graft.Determinism.sorted(_)(col("df_bucket")))
  }

  /** Word-n-gram Jaccard nearest neighbor per doc (docs sharing no shingle
    * have no neighbor and drop out — same on the oracle side). Built on
    * [[cappedShingleTable]]; the default df cap is above the max
    * observed df at oracle scale, so sf0.01 results are exact. */
  def jaccardNeighbors(docs: DataFrame, shingleLen: Int = 3,
                       maxShingleDf: Int = 1000): DataFrame =
    jaccardNeighborsOn(cappedShingleTable(docs, shingleLen, maxShingleDf))

  /** The shingle pair kernel behind the whole jaccard/containment family,
    * recompute and store paths alike: over a `(doc_id, n_sh, sh)` table
    * (a [[cappedShingleTable]] or a [[persistShingles]] store scan), every
    * pair of docs sharing at least one shingle as `(doc_id, other_id, n1,
    * n2, inter)`, in BOTH orderings — `n1` is `doc_id`'s set size, `n2`
    * `other_id`'s, `inter` the shared-shingle count.
    *
    * One pipeline, no barrier: the merge join consumes the input's
    * `sh`-clustering as is — the df-cap window's exchange (reused by
    * both sides) or the store's buckets — so the corpus-sized side is
    * neither re-shuffled nor re-sorted. The merge hint keeps it that
    * way: both sides are corpus-sized, never hash-build (see
    * [[bandedPairs]]; the saturated-SHJ OOM profile).
    *
    * Intersection counts are SYMMETRIC, so each unordered pair is joined
    * and aggregated ONCE (id1 < id2) — halving the pair aggregate, the
    * widest shuffle of the pipeline — and both orderings are re-emitted
    * AFTER the fold by one explode over the candidate-pair-sized table.
    * `n_sh` rides the join and the group key: it is functionally
    * dependent on `doc_id`, so grouping on `(id1, n1, id2, n2)` forms
    * the same groups as `(id1, id2)` and the denominators need no
    * back-join (the [[jaccardIncrementalFromStore]] pattern). */
  private def pairIntersections(sh: DataFrame): DataFrame = {
    val side = sh.select(col("doc_id"), col("n_sh"), col("sh")).hint("merge")
    side.as("a")
      .join(side.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("a.n_sh").as("n1"),
        col("b.doc_id").as("id2"), col("b.n_sh").as("n2"))
      .agg(count(lit(1)).as("inter"))
      .select(explode(array(
        struct(col("id1").as("doc_id"), col("id2").as("other_id"),
          col("n1"), col("n2"), col("inter")),
        struct(col("id2").as("doc_id"), col("id1").as("other_id"),
          col("n2").as("n1"), col("n1").as("n2"), col("inter")))).as("p"))
      .select(col("p.doc_id"), col("p.other_id"), col("p.n1"), col("p.n2"),
        col("p.inter"))
  }

  /** Per doc, the pair with the highest `score`, ties to the smallest
    * `other_id`: `(doc_id, other_id, score)`, `score` unfloored. The
    * codegen'd struct-max — a partial-aggregable fold instead of an
    * exchange+sort+row_number window, selecting exactly the window's
    * rn=1 row (total order on finite doubles; -other_id flips the
    * tie-break to ascending). */
  private def bestPair(pairs: DataFrame, score: Column): DataFrame =
    pairs.groupBy(col("doc_id"))
      .agg(max(struct(score.as("score"), (-col("other_id")).as("nid")))
        .as("best"))
      .select(col("doc_id"), (-col("best.nid")).as("other_id"),
        col("best.score").as("score"))

  /** [[jaccardNeighbors]] over an already-built (df-capped) shingle
    * table: |A∩B| / (|A| + |B| − |A∩B|) on the [[pairIntersections]]
    * kernel, top-1 by [[bestPair]], floored AFTER the argmax. */
  private def jaccardNeighborsOn(sh: DataFrame): DataFrame =
    bestPair(pairIntersections(sh),
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .select(col("doc_id"), col("other_id").as("neighbor_id"),
        (floor(col("score") * 1e6) / 1e6).as("jaccard"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** ASYMMETRIC containment dedup: for each doc, the corpus doc that best
    * CONTAINS it — containment(A→B) = |shingles(A) ∩ shingles(B)| /
    * |shingles(A)|. This is the near-dup class Jaccard structurally
    * misses: a quoted article, a re-post with added commentary, a page
    * embedding a whole smaller page — when B ≫ A, jaccard ≈ |A|/|B| stays
    * tiny no matter how completely B swallows A, while containment hits
    * 1.0. (MinHash LSH inherits the same blindness: band collisions track
    * jaccard, so A⊂B pairs rarely collide — which is why this runs on the
    * shingle-join candidate path, not the banded one.)
    *
    * Same scale shape as [[jaccardNeighbors]]: the same
    * [[cappedShingleTable]] and the same [[pairIntersections]] kernel,
    * whose two orderings are exactly what an asymmetric measure needs —
    * A→B and B→A get different scores from the same intersection count.
    *
    * Output: per doc, the best container (ties → smallest id) with
    * `containment` and the `is_contained` gate at `threshold`; docs
    * sharing no shingle drop out (same contract as [[jaccardNeighbors]]). */
  def containmentNeighbors(docs: DataFrame, shingleLen: Int = 3,
                           maxShingleDf: Int = 1000,
                           threshold: Double = 0.8): DataFrame =
    containmentNeighborsOn(
      cappedShingleTable(docs, shingleLen, maxShingleDf), threshold)

  /** [[containmentNeighbors]] over an already-built shingle table: only
    * the CONTAINED side's size enters the measure; the gate evaluates on
    * the argmax row's raw containment, before the floor. */
  private def containmentNeighborsOn(sh: DataFrame,
                                     threshold: Double): DataFrame =
    bestPair(pairIntersections(sh),
        col("inter").cast("double") / col("n1").cast("double"))
      .select(col("doc_id"), col("other_id").as("container_id"),
        (floor(col("score") * 1e6) / 1e6).as("containment"),
        (col("score") >= threshold).as("is_contained"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** Persist the df-capped shingle table BUCKETED BY SHINGLE HASH — the
    * build-once layout for the shingle-join family (the
    * [[persistSignatures]] pattern applied to [[jaccardNeighbors]] /
    * [[containmentNeighbors]]): both sides of the self-join read
    * co-located, within-bucket-SORTED files, so the join runs with NO
    * exchange and NO sort on the corpus-sized table. The recompute path
    * pays the df-cap window's exchange and sort on every run (its join
    * reuses them, so it pays them once per run); the store pays them
    * ONCE at build, and every later dedup pass starts at the join.
    *
    * `repartition(nBuckets, sh)` uses the same hash as the bucket
    * layout, so each task holds exactly one bucket and writes ONE file
    * per bucket — the single-file-per-bucket condition under which the
    * scan's sort order is trusted and the join-side Sort nodes vanish.
    *
    * `minDf`: a serve-only store keeps the default (df = 1 shingles can
    * never pair — dropping them shrinks the store by the unique-shingle
    * share of the corpus); a store that will receive [[appendShingles]]
    * increments MUST be built with `minDf = 1`, because a build-batch
    * singleton's twin may arrive in a later append and the pair is lost
    * if the singleton was dropped at build. */
  def persistShingles(docs: DataFrame, table: String, path: String,
                      shingleLen: Int = 3, maxShingleDf: Int = 1000,
                      nBuckets: Int = 32, minDf: Int = 2): Unit =
    cappedShingleTable(docs, shingleLen, maxShingleDf, minDf)
      .repartition(nBuckets, col("sh"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "sh").sortBy("sh")
      .option("path", path)
      .saveAsTable(table)

  /** Append `docs`'s shingles to an existing shingle store — the
    * build-once/append-many half of the bucketed shingle family
    * ([[appendSignatures]]' contract applied to [[persistShingles]]).
    * Always emitted with `minDf = 1`: df is computed WITHIN the batch,
    * and a batch singleton's twin may live in the base or a later
    * append — only the serve-time join may decide a shingle never pairs.
    *
    * Df-cap STALENESS contract (stated, like the signature store's):
    * `maxShingleDf` applies within each appended batch only — the cap
    * is a property of the corpus the batch was built against, and
    * re-capping store-wide would re-read the whole store per append,
    * the one thing an incremental pipeline must never do. A shingle
    * whose STORE-WIDE df crosses the cap after appends is therefore
    * retained where a full rebuild would drop it: serve answers can
    * include pairs the rebuilt store suppresses (a recall-upward,
    * cost-upward divergence — the join fans wider). When appended mass
    * materially shifts the df distribution (watch [[dfProfile]]'s top
    * decades), REBUILD: the cap is a build-time property.
    *
    * Exactly-once contract (STRICTER than the signature store's):
    * jaccard/containment `inter` counts COUNT matched rows, so a
    * replayed batch inflates every affected pair's intersection —
    * unlike banded candidates (distinct doc-id pairs), replays here are
    * NOT harmless. Drive appends through an idempotent channel —
    * [[graft.streaming.ShingleDedupStream]] IMPLEMENTS the guard
    * (intent/done batch-id markers + a store-containment witness on
    * crash replay) — or run [[compactShingleStore]] before serving:
    * its rewrite deduplicates exact rows, reabsorbing a crash-window
    * replay.
    *
    * Append adds one file per bucket per batch: the scan keeps its
    * exchange-free bucketing, but Spark only trusts `sortBy` metadata
    * for single-file buckets, so the serve join re-sorts WITHIN buckets
    * until [[compactShingleStore]] restores one file per bucket. */
  def appendShingles(docs: DataFrame, table: String,
                     shingleLen: Int = 3, maxShingleDf: Int = 1000,
                     nBuckets: Int = 32): Unit =
    cappedShingleTable(docs, shingleLen, maxShingleDf, minDf = 1)
      .repartition(nBuckets, col("sh"))
      .write.mode("append")
      .bucketBy(nBuckets, "sh").sortBy("sh")
      .saveAsTable(table)

  /** Bucket-preserving compaction of the shingle store — the
    * [[compactSignatureStore]] contract for [[appendShingles]]'s
    * small-file decay, with one extra payoff specific to this store:
    * coalescing each bucket back to ONE file (re-sorted on `sh`)
    * restores the single-file-per-bucket condition under which the scan
    * re-claims its `sortBy` ordering, so the serve join drops its
    * within-bucket Sorts again. The rewrite deduplicates exact rows
    * (self-healing a crash-window replayed append — see
    * [[appendShingles]]' exactly-once contract). Returns the number of
    * buckets compacted.
    *
    * `enforceDf = Some(cap)` additionally RE-CAPS the store to the
    * store-wide df bound during the rewrite, closing [[appendShingles]]'
    * staleness window (its per-batch cap lets a shingle's cumulative df
    * drift over the bound a full rebuild would apply): all rows of any
    * shingle whose TOTAL occurrence count exceeds `cap` are dropped.
    * This is exact and shuffle-free because `sh` is the bucketing key —
    * every row of a shingle lives in one bucket, so a per-bucket count
    * IS the store-wide df — and it forces a rewrite of EVERY bucket
    * (the cap is a store-wide property; file counts don't gate it),
    * turning the documented "rebuild when df drifts" trigger into a
    * scheduled bucket-local maintenance pass. */
  def compactShingleStore(spark: org.apache.spark.sql.SparkSession,
                          table: String, maxFiles: Int = 1,
                          enforceDf: Option[Int] = None): Int =
    compactBucketedStore(spark, table, Seq("sh"), maxFiles,
      rewriteAll = enforceDf.isDefined,
      transform = enforceDf.fold(identity[DataFrame] _) { cap => df =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
        df.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= cap).drop("__df")
      })

  /** [[jaccardNeighbors]] served from a [[persistShingles]] store —
    * identical results (the layout must never change the answer; the
    * spec pins bit-equality and the exchange-free join plan). */
  def jaccardNeighborsFromStore(spark: org.apache.spark.sql.SparkSession,
                                table: String): DataFrame = {
    spark.catalog.refreshTable(table) // see incrementalCandidatesFromStore
    jaccardNeighborsOn(spark.table(table))
  }

  /** [[containmentNeighbors]] served from the SAME store — one shingle
    * build feeds the whole family. */
  def containmentNeighborsFromStore(
      spark: org.apache.spark.sql.SparkSession, table: String,
      threshold: Double = 0.8): DataFrame = {
    spark.catalog.refreshTable(table)
    containmentNeighborsOn(spark.table(table), threshold)
  }

  /** Incremental word-shingle jaccard: a NEW batch of documents probed
    * against the PERSISTED base shingle store — per new doc, the best
    * BASE neighbor by EXACT jaccard ([[jaccardNeighbors]]' contract
    * with neighbors drawn from the base only). This is the
    * exact-verified face of [[incrementalCandidatesFromStore]]'s
    * banded probe (the signature probe ESTIMATES via band collisions;
    * this computes true jaccard from the stored shingle rows), and the
    * probe-side consumer of the [[persistShingles]]/[[appendShingles]]
    * build-once/append-many lifecycle. The base store must be built
    * (and appended) with `minDf = 1`: a base singleton's twin may be
    * exactly what the increment brings.
    *
    * Scale shape: with `autoBroadcast=true` (the daily-increment
    * default) the increment's capped shingle table BROADCASTS (a
    * daily batch vs a 100 TB base) into the bucketed store scan, so
    * the base never moves. The hint OVERRIDES Spark's size threshold —
    * a backfill-sized increment would fail at the broadcast hard limit
    * — so for oversized increments pass `autoBroadcast=false`: the
    * un-hinted join lets AQE pick a runtime broadcast when the
    * measured increment is small and a shuffled join otherwise, and
    * against the `sh`-bucketed store that shuffle puts its one
    * Exchange on the increment side only (plan-gated in DedupSpec) —
    * the exchange stays one-sided either way. Results are identical
    * through both paths; the switch is pure physical planning (the
    * [[incrementalCandidatesFromStore]] contract). `inter` counts joined rows
    * per (new, base) pair; both denominators ride OUTSIDE the widest
    * join (n_base stored per row at build, n_new computed within the
    * batch), so the join carries only `(ids, sh)`-width rows. */
  def jaccardIncrementalFromStore(newDocs: DataFrame,
                                  spark: org.apache.spark.sql.SparkSession,
                                  table: String, shingleLen: Int = 3,
                                  maxShingleDf: Int = 1000,
                                  autoBroadcast: Boolean = true): DataFrame = {
    spark.catalog.refreshTable(table)
    // exclude base rows carrying the increment's own ids: a no-op in
    // normal operation (new docs are NEW), but it makes the probe
    // idempotent when a crash-replayed append already put this batch's
    // shingles in the store (ShingleDedupStream's exactly-once guard
    // closes the append side; this closes the probe side). Broadcast
    // anti-join on batch-sized ids — the bucketed store scan is intact.
    val b = spark.table(table)
      .join(broadcast(newDocs.select(col("doc_id"))), Seq("doc_id"),
        "left_anti")
      .select(col("doc_id").as("base_id"),
        col("n_sh").as("n_base"), col("sh"))
    // barrier: materializing the increment's table keeps the df-cap
    // window's exchange (partitioned for the window, not for the store's
    // buckets) out of the probe plan, so the un-hinted join's one sh
    // Exchange is the increment side's
    val nw = cappedShingleTable(newDocs, shingleLen, maxShingleDf, minDf = 1)
      .barrier()
      .select(col("doc_id").as("new_id"), col("n_sh").as("n_new"), col("sh"))
    val probeSide = if (autoBroadcast) broadcast(nw) else nw
    b.join(probeSide, Seq("sh"))
      // n_new/n_base are functionally dependent on the ids — riding in
      // the group key keeps the denominators out of a second join
      .groupBy(col("new_id"), col("base_id"), col("n_new"), col("n_base"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_new") + col("n_base") - col("inter")))
      // top-1 as the codegen'd struct-max, (jaccard desc, base_id asc)
      // — the blockedNeighbors tie encoding, floored AFTER the argmax
      // like jaccardNeighborsOn
      .groupBy(col("new_id"))
      .agg(max(struct(col("jaccard"), (-col("base_id")).as("nid")))
        .as("best"))
      .select(col("new_id").as("doc_id"), (-col("best.nid")).as("neighbor_id"),
        (floor(col("best.jaccard") * 1e6) / 1e6).as("jaccard"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** Character-level verification of the LSH candidates: exact Levenshtein
    * distance over the NORMALIZED text of each candidate pair — the edit
    * metric catches in-place character churn (OCR noise, typo farms,
    * template variable substitution) that token-shingle jaccard reads as
    * whole-shingle differences. Complements [[verifiedDuplicates]]
    * (token-set view) the way simhash complements minhash.
    *
    * Scale shape: Levenshtein is O(len²) per pair — affordable ONLY
    * because the join input is the capped banded candidate set, never the
    * corpus; the normalized text is rebuilt just for pair members
    * (semi-join pushdown, the [[verifiedDuplicates]] pattern). Output per
    * pair: distance, `edit_sim = 1 − dist/max_len`, and the `is_dup` gate
    * at `maxDistFrac`. */
  def editVerified(docs: DataFrame, numHashes: Int = 128, bands: Int = 16,
                   shingleLen: Int = 3, maxBucket: Int = 1000,
                   maxDistFrac: Double = 0.2): DataFrame = {
    val pairs = bandedPairs(
      minhashBuckets(docs, numHashes, bands, shingleLen), maxBucket)
      .barrier() // read thrice: id union + the two text joins
    val ids = pairs.select(col("id1").as("doc_id"))
      .union(pairs.select(col("id2").as("doc_id"))).distinct()
    val txt = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), preprocess(col("text")).as("nt"))
      .barrier() // normalize once per surviving doc, read twice
    val frac = col("edit_dist").cast("double") / col("max_len")
    pairs
      .join(txt.select(col("doc_id").as("id1"), col("nt").as("t1")), Seq("id1"))
      .join(txt.select(col("doc_id").as("id2"), col("nt").as("t2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"),
        greatest(length(col("t1")), length(col("t2"))).cast("long")
          .as("max_len"))
      .select(col("id1"), col("id2"), col("edit_dist"), col("max_len"),
        when(col("max_len") === 0, lit(1.0))
          .otherwise(floor((lit(1) - frac) * 1e6) / 1e6).as("edit_sim"),
        when(col("max_len") === 0, lit(true))
          .otherwise(frac <= maxDistFrac).as("is_dup"))
      .orderBy(col("id1"), col("id2"))
  }

  /** ExactSubstr-style duplicated-window coverage (the "Deduplicating
    * Training Data Makes Language Models Better" signal): for every doc,
    * the fraction of its TOKEN POSITIONS covered by at least one k-token
    * window that occurs ≥ 2 times verbatim anywhere in the corpus
    * (including twice within the same doc). Where [[graft.operators.Pipeline.boilerplate]]
    * counts the DISTINCT-gram share, this measures how much of the
    * document's actual surface sits inside duplicated spans — the number
    * an ExactSubstr pipeline would cut out, and the per-doc gate for
    * "mostly-duplicated" pages whose unique grams hide the repetition.
    *
    * Shape at scale: positional windows travel as (doc_id, pos, fnv64) —
    * one hash-shuffle groupBy for the corpus-wide occurrence count
    * (map-side partials collapse within-partition repeats), one equi-join
    * back restricted to hot windows, then the interval-union is a per-doc
    * sort over DUPLICATED positions only (∝ dup windows, not corpus):
    * covered = Σ min(k, gap to next dup window) — the classic sorted
    * interval merge as a lead() window, no collect anywhere.
    *
    * Hash-vs-string convention (the [[cappedShingleTable]] trade, stated
    * here too because the oracle takes the OTHER side): windows group by
    * their 64-bit FNV-1a hash, never the window STRING — the string would
    * multiply shuffle bytes by k tokens per position. The DuckDB oracle
    * groups by the literal window string, so the hash-oracle equality
    * holds only while no two distinct windows collide in 64 bits
    * (p ≈ n²/2⁶⁵ — vanishing at test SF, nonzero at full corpus scale).
    * A collision merges two windows' occurrence counts, which errs toward
    * OVER-counting duplication — conservative for a keep/drop gate, and
    * the accepted cost of hashing the shuffle key. */
  def windowDupCoverage(docs: DataFrame, k: Int = 5,
                        maxFrac: Double = 0.5): DataFrame =
    windowDupCoverageFrom(
      docs.select(col("doc_id"), tokens(preprocess(col("text"))).as("toks")),
      k, maxFrac)

  /** [[windowDupCoverage]] over a pre-tokenized `(doc_id, toks)` table —
    * the fused-curation entry point (one shared tokenization pass across
    * the gates; see [[Pipeline.curate]]). The window build checkpoints
    * its own derived table below, so `toksDf` may be a plain projection
    * (standalone) or an already-materialized shared table (fused) —
    * results identical either way.
    *
    * `hotWindows`: the train/serve seam — the frozen set of window
    * hashes `(wh)` occurring ≥ 2× in a corpus snapshot
    * ([[graft.streaming.CurationStream.freezeStats]]); when given, the
    * corpus-wide occurrence groupBy is skipped and docs score against
    * the frozen set. Un-hinted join either way: the hot set grows with
    * corpus content, so a forced broadcast would eventually fail at the
    * hard limit (AQE still broadcasts it while small). */
  private[graft] def windowDupCoverageFrom(toksDf: DataFrame, k: Int = 5,
                                           maxFrac: Double = 0.5,
                                           hotWindows: Option[DataFrame] =
                                             None): DataFrame = {
    val toks = toksDf
      .select(col("doc_id"), size(col("toks")).as("n_tok"),
        shingles(col("toks"), k).as("ws"))
      .barrier() // barrier: see cappedShingleTable
    val wpos = toks
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"),
        graft.functions.fnv1a64(col("w")).as("wh"))
      .barrier() // read twice: occurrence count + position join
    val hot = hotWindows.getOrElse(
      wpos.groupBy(col("wh")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("wh")))
    val dup = wpos.join(hot, Seq("wh"))
      .select(col("doc_id"), col("pos"))
    // sorted interval union: window at pos covers [pos, pos+k-1]; with
    // positions ascending, each contributes min(k, next_pos - pos) —
    // k for the last (no successor)
    val nextPos = lead(col("pos"), 1)
      .over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    val perDoc = dup
      .select(col("doc_id"), col("pos"),
        least(lit(k), coalesce(nextPos - col("pos"), lit(k))).as("cov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("cov")).as("covered"))
    val frac = when(col("n_tok") > 0,
      coalesce(col("covered"), lit(0L)).cast("double") /
        col("n_tok").cast("double")).otherwise(lit(0.0))
    toks.select(col("doc_id"), col("n_tok"),
        greatest(lit(0), col("n_tok") - lit(k - 1)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_windows"))
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
        col("n_windows"), col("n_dup_windows"),
        (floor(frac * 1e4) / 1e4).as("dup_coverage"),
        (frac <= maxFrac).as("keep"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** The APPLY step of ExactSubstr dedup — [[windowDupCoverage]] measures
    * duplicated-span coverage; this REMOVES the spans and emits the
    * cleaned text, the way "Deduplicating Training Data Makes Language
    * Models Better" cuts the corpus: every k-token window occurring ≥ 2×
    * verbatim corpus-wide keeps its CANONICAL occurrence (the first, by
    * (doc_id, position)) and every other occurrence's token span is
    * dropped. Output per doc: `n_tok`, `n_dropped`, `cleaned_text`
    * (tokens outside dropped spans, original order, space-joined; docs
    * with nothing duplicated come back verbatim-normalized).
    *
    * Scale shape: occurrence counting and canonical choice run in the
    * hashed window domain ((doc_id, pos, fnv64) — the
    * [[windowDupCoverage]] shape, with the same hash-vs-string oracle
    * trade); dropped positions are ∝ duplicated windows × k. Only the
    * REASSEMBLY shuffles the token stream (one doc_id groupBy over
    * (pos, token) with a per-doc sorted fold) — inherent to any step
    * that rewrites text, and the output it pays for IS the deduplicated
    * corpus. */
  def windowDupApply(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens(preprocess(col("text"))).as("toks"))
      .barrier() // read twice: window build + reassembly
    val wpos = toks
      .select(col("doc_id"), posexplode(shingles(col("toks"), k))
        .as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"),
        graft.functions.fnv1a64(col("w")).as("wh"))
      .barrier() // read twice: occurrence census + non-canonical join
    // canonical occurrence per duplicated window: min (doc_id, pos) —
    // one map-side-combined groupBy in the hash domain
    val dupGroups = wpos.groupBy(col("wh"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id"), col("pos"))).as("__first"))
      .filter(col("__c") >= 2)
    val dropped = wpos.join(dupGroups, Seq("wh"))
      .filter(!(col("doc_id") === col("__first.doc_id") &&
        col("pos") === col("__first.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val kept = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(dropped, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("cleaned_text"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("__kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** Duplicate-cluster assignment: connected components over the minhash
    * candidate graph via iterative min-label propagation. Each doc ends in
    * the cluster of the smallest doc_id it is (transitively) connected to;
    * singletons keep their own id.
    *
    * Iterative DataFrame joins with a checkpoint barrier per round (cuts
    * the exploding lineage); converges in O(log(diameter)) rounds. This is
    * the canonicalization step after candidate generation in an LLM dedup
    * pipeline: keep `cluster_id == doc_id` rows, drop the rest.
    *
    * `checkpointDir`: by default the iteration state goes through the
    * session [[Barrier]] (local by default; session-wide reliable via
    * `spark.graft.reliableBarriers`). Passing a reliable dir (HDFS/S3)
    * here opts THIS iteration in explicitly: state is `checkpoint()`ed
    * there, so a multi-hour propagation over billions of edges survives
    * executor loss instead of restarting from nothing.
    * Two operational notes: (1) Spark has no per-job checkpoint dir, so
    * the CONTEXT-wide setting is switched for the duration of the
    * iteration and the caller's prior configuration (including "none") is
    * restored before returning; (2) each round leaves its
    * checkpoint files behind unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so budget
    * ~maxIters × |labels| + |edges| of reliable storage per run. */
  def clusters(docs: DataFrame, maxIters: Int = 10,
               maxBucket: Int = 1000,
               checkpointDir: Option[String] = None): DataFrame =
    // same capped pair generation as minhashCandidates — one code path,
    // one skew guard
    clustersFromPairs(docs,
      bandedPairs(minhashBuckets(docs, 128, 16, 3), maxBucket),
      maxIters, checkpointDir)

  /** [[clusters]] over an already-materialized [[candidatePairs]] table —
    * the materialize-once seam (candidates are generated once per
    * release; label propagation reads them). */
  def clustersFromPairs(docs: DataFrame, rawPairs: DataFrame,
                        maxIters: Int = 10,
                        checkpointDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val priorCkptDir = org.apache.spark.sql.graft.bridge.checkpointDir(spark)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    try {
    def barrier(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.barrier()
    // materialized before the symmetric union (see perDocSummary): the
    // outer barrier on `edges` materializes the UNION's output, but both
    // branches still execute the pair subtree once each
    val pairs = barrier(rawPairs)
    val edges = barrier(pairs
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2"))))

    // propagate ONLY over vertices of the candidate graph: a doc in no
    // pair is its own singleton cluster and can never change label, so
    // the iteration runs on the (much smaller) near-dup vertex set, not
    // the corpus — at 100 TB the corpus is billions of rows while the
    // candidate graph is orders of magnitude smaller
    var labels = barrier(edges.select(col("id1").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")))
    // labels are monotone non-increasing, so ANY change strictly lowers
    // the label sum: convergence is one cheap aggregate per round instead
    // of a self-join diff. Summed in DECIMAL(38,0) — a wrapping Long sum
    // would make the check probabilistic (a round whose total decrement
    // is an exact multiple of 2^64 would falsely read as converged);
    // decimal headroom covers 1e19 docs × 2^63 labels.
    // one action initializes both the convergence baseline and the
    // empty-graph early exit (sum is null on an empty table)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) null else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum == null
    while (iter < maxIters && !converged) {
      val neighborMin = edges
        .join(labels, edges("id2") === labels("doc_id"))
        .groupBy(col("id1").as("doc_id"))
        .agg(min(col("cluster_id")).as("neighbor_min"))
      val updated = barrier(labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("neighbor_min"),
            col("cluster_id"))).as("cluster_id")))
      val newSum = labelSum(updated)
      labels = updated
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      iter += 1
    }
    val full = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    full
      .join(full.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .withColumnRenamed("cluster_id", "cid"),
        col("cluster_id") === col("cid"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
    } finally {
      // the iteration's checkpoint files are already written, so the
      // caller's prior dir (or none) can safely come back before return
      if (checkpointDir.isDefined)
        org.apache.spark.sql.graft.bridge.restoreCheckpointDir(
          spark, priorCkptDir)
    }
  }

  /** Duplicate-cluster size DISTRIBUTION — the one-glance release view
    * of the dedup funnel's structure ([[clusters]] says who is in which
    * cluster; this says how duplication mass is SHAPED): per cluster
    * size the number of clusters and the document mass in them. A heavy
    * tail (few giant clusters holding a large doc share) means
    * boilerplate/mirroring and predicts most of the dedup win;
    * singletons are the unique corpus. Two bounded aggregates over the
    * converged cluster table (cluster-count rows, then size-domain
    * rows) — no extra pass over documents or pairs. */
  def clusterHistogram(docs: DataFrame, maxIters: Int = 10,
                       maxBucket: Int = 1000): DataFrame =
    clusterHistogramFrom(clusters(docs, maxIters, maxBucket))

  /** [[clusterHistogram]] over an already-converged [[clusters]] table —
    * the materialize-once seam (a release pipeline lands the converged
    * assignment next to the corpus; every report reads it rather than
    * re-propagating labels). */
  def clusterHistogramFrom(clustered: DataFrame): DataFrame =
    clustered
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** The APPLY step that ends the dedup funnel: per-doc keep/drop from
    * the converged [[clusters]] assignment — each cluster keeps exactly
    * its canonical member (the smallest doc_id, i.e. `cluster_id ==
    * doc_id`), everyone else drops. This is the row a pipeline actually
    * filters on after candidates → verification → components: `WHERE
    * keep` yields the deduplicated corpus, `1 − keeps/total` is the
    * measured dup rate, and `cluster_size` tells an auditor how big the
    * group each survivor represents was. Costs nothing beyond
    * [[clusters]] itself — the verdict is a projection of its output. */
  def canonicalize(docs: DataFrame, maxIters: Int = 10,
                   maxBucket: Int = 1000): DataFrame =
    canonicalizeFrom(clusters(docs, maxIters, maxBucket))

  /** [[canonicalize]] over an already-converged [[clusters]] table —
    * see [[clusterHistogramFrom]]. */
  def canonicalizeFrom(clustered: DataFrame): DataFrame =
    clustered
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("cluster_id") === col("doc_id")).as("keep"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** [[canonicalize]] keeping the BEST-QUALITY member of each duplicate
    * cluster instead of the smallest id — the apply step a production
    * pipeline actually wants: when a page and its mirror near-duplicate,
    * keep the cleaner copy (fewer boilerplate tokens, better
    * length/stopword profile), not the one that happened to be crawled
    * first. Canonical member = argmax by `(quality_score DESC, doc_id
    * ASC)` over [[graft.operators.TextAnalysis.qualityScores]]'
    * composite (its 1e-4 grid makes the ordering — and therefore the
    * keep verdict — engine-portable); the deterministic id tie-break
    * means equal-quality clusters degrade to [[canonicalize]]'s choice.
    *
    * Scale shape: the quality join is a doc_id equi-join of the cluster
    * table against a narrow scoring projection (one corpus scan, no
    * text re-read after it), and the argmax WINDOW runs only over
    * multi-member clusters — singletons (the overwhelming corpus mass;
    * every doc outside the candidate graph) are canonical by definition
    * and bypass the exchange entirely, so the rank shuffle is ∝ dup-
    * cluster membership, not the corpus. */
  def canonicalizeByQuality(docs: DataFrame, maxIters: Int = 10,
                            maxBucket: Int = 1000): DataFrame =
    canonicalizeByQualityFrom(clusters(docs, maxIters, maxBucket), docs)

  /** [[canonicalizeByQuality]] over an already-converged [[clusters]]
    * table — see [[clusterHistogramFrom]]. */
  def canonicalizeByQualityFrom(clustered: DataFrame,
                                docs: DataFrame): DataFrame = {
    val scored = clustered
      .join(TextAnalysis.qualityScores(docs, sorted = false)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      .barrier() // read twice below; without this both branches re-run
                 // the cluster iteration AND the scoring scan
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val cols = Seq(col("doc_id"), col("cluster_id"), col("cluster_size"),
      col("quality_score"), col("keep"))
    scored.filter(col("cluster_size") === 1L)
      .withColumn("keep", lit(true)).select(cols: _*)
      .unionAll(scored.filter(col("cluster_size") > 1L)
        .withColumn("keep", row_number().over(w) === 1).select(cols: _*))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** The blocked-NN core shared by [[embeddingNeighbors]] (given blocks)
    * and [[semanticNeighbors]] (learned blocks): self-join WITHIN a block
    * only — never corpus² — then top-1 by cosine via the bounded-heap
    * aggregate. Input `(block, vec_id, embedding)`.
    *
    * Two composable skew guards (the blocked twins of [[capBuckets]]);
    * a degenerate block — near-duplicate embedding mass collapsing into
    * one coarse cluster, exactly what a dedup corpus contains — would
    * otherwise put |block|² comparisons on ONE task. Unlike the banded
    * generators we must NOT drop oversized blocks: a huge block is
    * precisely where the duplicates live. Instead a block is SUB-SALTED
    * into `salts = max(ceil(|block| / maxBlock), ceil(|block|² /
    * pairBudget))` hash-assigned sub-blocks, each compared only within
    * itself:
    *  - `maxBlock` is the hard per-TASK size cap (sub-block ≤ maxBlock
    *    rows, so one task never materializes more than ~maxBlock² pairs);
    *  - `pairBudget` bounds each block's TOTAL pair count: a block of
    *    size s split s²/budget ways does ≤ `pairBudget` comparisons no
    *    matter how big s grows. This is the guard that removes the
    *    quadratic window the size cap alone left open — with a fixed-
    *    cardinality blocking key, blocks grow ∝ corpus and the per-block
    *    s² work was quadratic until s reached maxBlock (measured 22× wall
    *    for 10× data before this budget; ~bench-flat after).
    * Every vector still gets a neighbor from its own sub-block — a
    * documented recall trade for blocks over the guards, the same
    * contract as `maxBucket`. Blocks small enough for both guards get
    * one sub-block (salt 0 for every member), so results are
    * bit-identical to the unsalted join — the oracle doesn't change.
    *
    * 100 TB posture: with a GIVEN fixed-cardinality key the budget keeps
    * cost bounded but sub-blocks shrink as blocks grow (recall decays
    * smoothly); the scale path is [[semanticNeighbors]]' LEARNED blocks,
    * whose COUNT grows with the corpus (auto-k) so expected block size —
    * and per-vector work — stays constant and the guards never engage.
    *
    * Defaults keep the exactness invariant `pairBudget = maxBlock²` —
    * the budget NEVER engages below the size cap, so every block at or
    * under `maxBlock` rows is bit-identical to the unsalted join (the
    * contract the DuckDB oracles assume; spec-pinned). The pair is sized
    * 2048/2²² rather than 4096/2²⁴ because the per-block ceiling IS the
    * pre-saturation cost hump a fixed-key corpus hits while its blocks
    * cross the cap: at 10× data the 2²⁴ ceiling measured 18.6× wall for
    * 10× data on the label-blocked gate query; 2²² holds the same sweep
    * near the data ratio, and the extra salts are extra parallelism (a
    * degenerate block spreads over 4× more tasks), not extra work.
    *
    * Block sizes come from a map-side-combined aggregate, NOT a window
    * count: a `count over (partition by block)` would ship the whole
    * degenerate block to one task just to measure it. The size table is
    * one row per block (blocks ≈ coarse clusters, thousands at most) and
    * broadcasts. */
  /** A chosen sub-block seed: assignment index + embedding (the
    * [[farthestFirstPick]] reference-implementation return row). */
  final case class Seed(i: Long, emb: Seq[Float])

  /** Greedy farthest-first (k-means++-style, but deterministic — no
    * RNG) seed selection over a BOUNDED candidate pool: seed 0 is the
    * lowest-id candidate, each next seed is the candidate with the
    * largest min-distance to the seeds so far (ties → lowest id). One
    * oversized block = one `farthest_first_seeds` expression call over
    * its pooled candidate array — O(k·pool) cosines on one task,
    * bounded by [[SeedPoolCap]]. [[farthestFirstPick]] is the plain-
    * Scala REFERENCE implementation of the same selection, spec-pinned
    * element-equal to the expression kernel
    * ([[graft.functions.FarthestFirstSeeds.pick]]). */
  private val SeedPoolCap = 4096

  private def cosineDist(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[graft] def farthestFirstPick(cands: Seq[Seq[Float]],
                                       k: Int): Seq[Seed] = {
    val n = cands.length
    val kk = math.min(k, n)
    if (kk <= 0) Seq.empty
    else if (kk == n) // pool == seeds: spread adds nothing, keep id order
      cands.zipWithIndex.map { case (c, i) => Seed(i.toLong, c) }
    else {
      val chosen = new Array[Int](kk)
      val taken = new Array[Boolean](n)
      val minDist = Array.fill(n)(Double.MaxValue)
      chosen(0) = 0; taken(0) = true
      var m = 1; var last = 0
      while (m < kk) {
        var best = -1; var bestD = -1.0; var i = 0
        while (i < n) {
          if (!taken(i)) {
            val d = cosineDist(cands(i), cands(last))
            if (d < minDist(i)) minDist(i) = d
            if (minDist(i) > bestD) { bestD = minDist(i); best = i }
          }
          i += 1
        }
        chosen(m) = best; taken(best) = true; last = best; m += 1
      }
      chosen.toSeq.zipWithIndex.map { case (ci, i) =>
        Seed(i.toLong, cands(ci))
      }
    }
  }

  // the seed's assignment index IS its array position (the expression
  // emits seeds 0..k-1 in pick order), so the dataflow ships bare
  // embedding arrays and nearest_seed returns the position

  /** Similarity-COHERENT sub-blocking for oversized blocks — the
    * recall-preserving complement to [[blockedNeighbors]]' hash guard.
    *
    * Hash sub-salting bounds work but splits near-duplicate pairs across
    * sub-blocks uniformly at random (a pair survives with probability
    * 1/salts). Here an oversized block is instead refined by ONE
    * nearest-seed assignment round: `⌈s/maxBlock⌉` seeds are chosen by
    * deterministic greedy farthest-first selection over the block's
    * `4k`-lowest-id candidate pool (capped at [[SeedPoolCap]]; no RNG,
    * no iteration), and every member joins its nearest seed's
    * sub-block. Both members of a near-dup pair see the same seed set,
    * so WITH HIGH PROBABILITY for well-separated clusters they land in
    * the same sub-block and recall survives the refinement — not a
    * guarantee: a pair straddling the midpoint between two seeds can
    * split, and a pool whose ids all fall in one cluster degrades the
    * spread (farthest-first needs the pool to touch a cluster to seed
    * it; the pool is 4× oversampled for exactly that reason, and the
    * adversarial id-correlated layout is spec-pinned in DedupSpec).
    * Coherent groups target ~`maxBlock` rows, which under the
    * `pairBudget = maxBlock²` invariant is exactly the exact-join
    * region; a degenerate group (identical embeddings tie onto one
    * seed) still falls through to the hash guard, so the per-task
    * ceiling is never surrendered to an unlucky seed spread.
    *
    * Dataflow (no per-block driver loop, no window over the block):
    * candidate ids via one map-side-combined bounded top-k aggregate,
    * candidate embeddings via one id equi-join, seed choice via one
    * per-block UDF call over the pooled array (one row per oversized
    * block — never the corpus), assignment via a NARROW argmin over
    * each row's broadcast seed array. Blocks at/under `maxBlock` bypass
    * untouched (the early return keeps every oracle-scale plan
    * byte-identical), and the block-size aggregate is BARRIERED and
    * handed back to [[blockedNeighbors]] in that case, so the common
    * all-blocks-small path pays ONE sizes pass total. */
  private[graft] def coherentBlocks(e: DataFrame, maxBlock: Int): DataFrame =
    coherentBlocksWithSizes(e, maxBlock)._1

  /** As [[coherentBlocks]], returning also the materialized block-size
    * table when the blocks were left untouched (reusable by
    * [[blockedNeighbors]] — the keys still match). */
  private[graft] def coherentBlocksWithSizes(
      e: DataFrame, maxBlock: Int): (DataFrame, Option[DataFrame]) = {
    val sizes =
      e.groupBy(col("block")).agg(count(lit(1)).as("__bsz")).barrier()
    val over = sizes.filter(col("__bsz") > maxBlock)
      .select(col("block"),
        ceil(col("__bsz").cast("double") / lit(maxBlock.toDouble))
          .cast("int").as("__k"))
    val maxK = over.agg(coalesce(max(col("__k")), lit(0))).head().getInt(0)
    if (maxK == 0) (e, Some(sizes))
    else {
      // candidate pool: the min(4·__k, max(__k, SeedPoolCap)) lowest
      // vec_ids per oversized block, from one bounded top-k aggregate
      // (score = -id ⇒ best-first = lowest ids)
      val maxCand = math.min(4L * maxK, math.max(maxK.toLong, SeedPoolCap.toLong)).toInt
      val poolSz = least(col("__k") * 4,
        greatest(col("__k"), lit(SeedPoolCap))).cast("int")
      val candIds = e.join(broadcast(over), Seq("block"))
        .groupBy(col("block"), col("__k"))
        .agg(graft.functions.top_k_by_score(
          (-col("vec_id")).cast("double"), col("vec_id"), maxCand).as("tk"))
        .select(col("block"), col("__k"),
          posexplode(transform(slice(col("tk"), lit(1), poolSz),
            s => s.getField("id"))).as(Seq("__ci", "__cid")))
      val seedArrays = candIds
        .join(e.select(col("vec_id").as("__cid"), col("embedding").as("__ce")),
          Seq("__cid"))
        .groupBy(col("block"), col("__k"))
        .agg(sort_array(collect_list(
          struct(col("__ci").cast("long").as("ci"), col("__ce").as("emb"))))
          .as("cs"))
        .select(col("block"),
          graft.functions.farthest_first_seeds(
            transform(col("cs"), s => s.getField("emb")), col("__k"))
            .as("__seeds"))
      // assignment: ONE codegen'd fused argmin over the row's seed matrix
      // (nearest_seed) — no per-row (dist, i) struct-array materialization;
      // same (dist asc, i asc) ordering as the array_min(transform(...))
      // formulation it replaced, bit-equal assignments
      val refined = e.join(broadcast(seedArrays), Seq("block"), "left")
        .withColumn("block", struct(col("block").as("b"),
          when(col("__seeds").isNotNull,
            graft.functions.nearest_seed(col("embedding"), col("__seeds")))
            .otherwise(lit(0L)).as("s")))
        .drop("__seeds")
      (refined, None)
    }
  }

  private[graft] def blockedNeighbors(e: DataFrame, simThreshold: Double,
                                      maxBlock: Int = 1024,
                                      pairBudget: Long = 1L << 20,
                                      precomputedSizes: Option[DataFrame] = None)
      : DataFrame = {
    val sizes = precomputedSizes.getOrElse(
      e.groupBy(col("block")).agg(count(lit(1)).as("__bsz")))
    // s² in double: a Long s² overflows past ~3e9-row blocks
    val bsz = col("__bsz").cast("double")
    val salts = greatest(lit(1L),
      ceil(bsz / lit(maxBlock.toDouble)).cast("long"),
      ceil(bsz * bsz / lit(pairBudget.toDouble)).cast("long"))
    val salted = e.join(broadcast(sizes), Seq("block"))
      .withColumn("__salt", pmod(xxhash64(col("vec_id")), salts))
      .drop("__bsz")
    val sims = salted.as("a")
      .join(salted.as("b"), col("a.block") === col("b.block") &&
        col("a.__salt") === col("b.__salt") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        cosine_similarity(col("a.embedding"), col("b.embedding")).as("sim"))
    // top-1 as a DECLARATIVE struct-max, not top_k_by_score: the object
    // aggregate's per-pair buffer updates (one per candidate pair — tens
    // of millions in a salted degenerate block) dominated the kernel;
    // max(struct(sim, -id)) is codegen'd, map-side-combined, and encodes
    // the same (score desc, id asc) tie-break. NaN sims are filtered to
    // match top_k's skip contract (a query whose EVERY candidate is NaN
    // drops its row — only reachable with zero-norm vectors).
    sims.filter(!isnan(col("sim")))
      .groupBy(col("query_id"))
      .agg(max(struct(col("sim"), (-col("vec_id")).as("nid"))).as("best"))
      .select(col("query_id").as("vec_id"),
        (-col("best.nid")).as("nn_id"),
        (floor(col("best.sim") * 1e6) / 1e6).as("nn_score"),
        (col("best.sim") >= simThreshold).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine nearest neighbor within a GIVEN blocking key
    * (`label` = a trusted pre-existing partition — language, source
    * shard, coarse cluster): (vec_id, nn_id, nn_score, is_dup at
    * `simThreshold`). Cost is bounded at every block size by the
    * [[blockedNeighbors]] pair budget; `coherent` (default on) first
    * refines oversized blocks into similarity-coherent sub-blocks via
    * [[coherentBlocks]] so the bound costs recall only in the
    * adversarial cases the hash guard then absorbs. When no trustworthy
    * key exists or blocks grow with the corpus, [[semanticNeighbors]]
    * (learned blocks, auto-scaled count) is the scale path. */
  def embeddingNeighbors(t: Tables, simThreshold: Double = 0.95,
                         maxBlock: Int = 1024,
                         pairBudget: Long = 1L << 20,
                         coherent: Boolean = true): DataFrame = {
    val base = t.embeddings.select(col("label").as("block"), col("vec_id"),
      col("embedding"))
    val (blocked, sizesOpt) =
      if (coherent) coherentBlocksWithSizes(base, maxBlock)
      else (base, None)
    blockedNeighbors(blocked, simThreshold, maxBlock, pairBudget, sizesOpt)
  }

  /** SemDeDup-style semantic dedup with LEARNED blocks: assign every
    * vector to its nearest of `nCentroids` deterministic centroids, then
    * near-dup NN within each centroid block.
    *
    * `nCentroids = 0` (the default) auto-scales the block count to the
    * corpus: k = [[IvfIndex.autoCentroids]](count, `targetBlock`) — so
    * EXPECTED block size (and per-vector join work) is a constant
    * ~`targetBlock` regardless of corpus size. This is what makes
    * semantic dedup the 100 TB path: a fixed k would mean blocks ∝
    * corpus (the quadratic trap a fixed blocking key has); auto-k keeps
    * total work linear. The extra `count()` is one metadata-cheap action.
    *
    * Assignment picks its mechanism by k — the RESULT is identical
    * (argmin by `(dist, centroid_id)` struct ordering, both ways):
    *  - small k (≤ 32, incl. the floor'd small-corpus default): the
    *    k×dim centroid matrix is collected once (bounded by contract,
    *    like every IVF path) and folded into a codegen'd
    *    `least(struct(dist, cid)…)` expression — a pure NARROW pass,
    *    zero shuffle before the blocked self-join;
    *  - large k (auto-k on a big corpus): a k-way `least()` expression
    *    tree blows past JIT/codegen limits and falls back to
    *    interpreted evaluation (measured 32× wall for 10× data at
    *    k = 79), so the assignment becomes the IVF-build shape instead —
    *    broadcast the centroid table, crossJoin, one map-side-combined
    *    struct-min aggregate (shuffles one best-so-far row per vector,
    *    never the k candidates). */
  def semanticNeighbors(embeddings: DataFrame, nCentroids: Int = 0,
                        simThreshold: Double = 0.95,
                        maxBlock: Int = 1024,
                        pairBudget: Long = 1L << 20,
                        targetBlock: Int = 256): DataFrame = {
    val k =
      if (nCentroids > 0) nCentroids
      else IvfIndex.autoCentroids(embeddings.count(), targetBlock)
    val blocked =
      if (k <= 32) {
        val cents: Array[(Long, Seq[Float])] =
          IvfIndex.centroids(embeddings, k) // BOUNDED: k <= 32 centroids
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        // argmin by (dist, centroid_id): struct least() == the struct-min
        // aggregate below, row-at-a-time (least() requires ≥ 2 args, so a
        // single-centroid "choice" is the struct itself)
        val structs = cents.toSeq.map { case (cid, cv) =>
          struct(
            (lit(1.0) - cosine_similarity(col("embedding"), typedLit(cv)))
              .as("dist"),
            lit(cid).as("cid"))
        }
        val block = structs match {
          // no centroid: zero rows on an empty table (typed block); the
          // seeds are the vec_ids below k, so a non-empty table without
          // one is a named error rather than a 0-argument least()
          case Seq() =>
            require(embeddings.isEmpty,
              s"semanticNeighbors seeds its $k centroids from vec_id < $k, " +
                "and no vec_id is below it")
            lit(null).cast("long")
          case Seq(only) => only.getField("cid")
          case _ => least(structs: _*).getField("cid")
        }
        embeddings.select(block.as("block"), col("vec_id"), col("embedding"))
      } else {
        // NARROW argmin + linear re-attach join (r19): the min-struct is
        // (dist, centroid_id) ONLY. Carrying the embedding inside the
        // struct (the pre-r19 form) forced the n·k candidate table into
        // a SortAggregate over dim-wide rows — at sf10 a ~47 GB external
        // sort (200k × 782 × ~280 B, 51 GB measured spill); the narrow
        // struct sorts 24 B rows (~12× less) and the embedding comes
        // back via ONE vec_id-keyed join of n rows — records-linear,
        // co-partitionable at 100 TB. Semantics are bit-identical:
        // centroid_id is unique per candidate row, so the comparison
        // never reached the embedding anyway.
        embeddings.crossJoin(broadcast(IvfIndex.centroids(embeddings, k)))
          .select(col("vec_id"),
            (lit(1.0) - cosine_similarity(col("embedding"), col("cv")))
              .as("dist"),
            col("centroid_id"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist"), col("centroid_id"))).as("best"))
          .select(col("vec_id"), col("best.centroid_id").as("block"))
          .join(embeddings, Seq("vec_id"))
          .select(col("block"), col("vec_id"), col("embedding"))
      }
    blockedNeighbors(blocked, simThreshold, maxBlock, pairBudget)
  }

  /** [[semanticNeighbors]] with HIERARCHICAL (coarse→fine) centroid
    * assignment — the 100 TB scale path for the auto-scaled block
    * count. The flat form's assignment is `n·k` cosines with
    * `k = n/targetBlock`, i.e. `n²/targetBlock` — QUADRATIC in the
    * corpus (measured: the saturated sf1→sf10 wall ran ~100× for 10×
    * data, the catalog's worst decade ratio). Two levels cut it to
    * `n·(k₁ + k/k₁) ≈ 2n·√k` with `k₁ = ⌈√k⌉`: each vector finds its
    * nearest COARSE cell (n·√k), then argmins only over the fine
    * centroids MAPPED to that cell (n·√k average) — at 10× data the
    * work grows ~31× instead of 100×, and every stage stays a
    * broadcast-joined narrow pass (centroid tables are k rows, never
    * corpus-sized).
    *
    * Approximation contract (the IVF trade, stated): a vector lands on
    * the nearest fine centroid WITHIN its coarse cell, which can differ
    * from the global argmin near coarse boundaries — block membership
    * shifts slightly, so this trades a little blocking RECALL for the
    * decade of assignment cost; the near-dup verdict itself stays
    * threshold-verified exact cosine, so precision is untouched (the
    * SemDeDup contract). Coarse seeds are a PREFIX of the fine seeds,
    * so a coarse centroid always maps to itself (distance 0) and no
    * cell can end up fine-less; both argmins break ties by centroid id
    * ascending, keeping engine and oracle deterministic. */
  def semanticNeighborsScaled(embeddings: DataFrame, nCentroids: Int = 0,
                              simThreshold: Double = 0.95,
                              maxBlock: Int = 1024,
                              pairBudget: Long = 1L << 20,
                              targetBlock: Int = 256): DataFrame = {
    val k =
      if (nCentroids > 0) nCentroids
      else IvfIndex.autoCentroids(embeddings.count(), targetBlock)
    val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = IvfIndex.centroids(embeddings, k1)
    val fine = IvfIndex.centroids(embeddings, k)
    blockedNeighbors(hierarchicalAssign(embeddings, coarse, fine),
      simThreshold, maxBlock, pairBudget)
  }

  /** The two-level (coarse→fine) assignment core shared by
    * [[semanticNeighborsScaled]], [[persistSemanticBlocks]] and
    * [[semanticIncrementalFromStore]] — ONE definition so the persisted
    * base, its increments and the recompute path block identically (an
    * increment assigned by a different rule than the base it probes
    * silently loses blocking recall at coarse boundaries). `coarse` and
    * `fine` are `(centroid_id, cv)` tables (`coarse` a PREFIX of `fine`
    * by the [[IvfIndex.centroids]] seed contract, so no coarse cell is
    * ever fine-less); both argmins break ties by centroid id ascending.
    * Returns `(block, vec_id, embedding)` — both corpus argmins are
    * NARROW (dist, id) structs with the embedding re-attached by a
    * vec_id-keyed linear join (r19: a dim-wide struct forced each
    * argmin into a SortAggregate over embedding-carrying candidate
    * rows; comparison semantics are unchanged — the id is unique per
    * candidate, so the array never participated). The tiny fine→coarse
    * map keeps its cv inside the struct: k × k₁ rows, sort-free by
    * size. */
  private[graft] def hierarchicalAssign(embeddings: DataFrame,
                                        coarse: DataFrame,
                                        fine: DataFrame): DataFrame = {
    val cc = coarse.select(col("centroid_id").as("ccid"),
      col("cv").as("ccv"))
    // fine → coarse map: k × k₁ cosines — tiny, broadcastable
    val fineMap = fine.crossJoin(broadcast(cc))
      .select(col("centroid_id"), col("cv"), col("ccid"),
        (lit(1.0) - cosine_similarity(col("cv"), col("ccv"))).as("cd"))
      .groupBy(col("centroid_id"))
      .agg(min(struct(col("cd"), col("ccid"), col("cv"))).as("m"))
      .select(col("m.ccid").as("ccid"), col("centroid_id"),
        col("m.cv").as("cv"))
    // corpus → coarse cell: n × k₁. NARROW argmin (see semanticNeighbors'
    // r19 note: an embedding inside the min-struct forces a dim-wide
    // SortAggregate; the narrow struct sorts 24 B rows and the embedding
    // re-attaches via one vec_id-keyed linear join — comparison
    // semantics identical, ccid is unique per candidate row)
    val coarseAssign = embeddings.crossJoin(broadcast(cc))
      .select(col("vec_id"),
        (lit(1.0) - cosine_similarity(col("embedding"), col("ccv")))
          .as("cd"),
        col("ccid"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cd"), col("ccid"))).as("m"))
      .select(col("vec_id"), col("m.ccid").as("ccid"))
      .join(embeddings, Seq("vec_id"))
    // corpus → nearest fine centroid WITHIN the coarse cell: the join
    // fans each vector out to its cell's fine centroids only (k/k₁ on
    // average), never to all k
    coarseAssign.join(broadcast(fineMap), Seq("ccid"))
      .select(col("vec_id"),
        (lit(1.0) - cosine_similarity(col("embedding"), col("cv")))
          .as("fd"),
        col("centroid_id"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("fd"), col("centroid_id"))).as("m"))
      .select(col("vec_id"), col("m.centroid_id").as("block"))
      .join(embeddings, Seq("vec_id"))
      .select(col("block"), col("vec_id"), col("embedding"))
  }

  /** Persist the semantic-dedup BASE: centroids (k fine + k₁ coarse
    * rows) plus the base corpus blocked by the HIERARCHICAL coarse→fine
    * assignment ([[hierarchicalAssign]] — the measured 2.2×/decade
    * form; the flat n·k assignment this build used through round 17 is
    * the 8.8×/decade shape, and the one-time base build over 100 TB is
    * exactly where that cost lands), bucketed by block — the
    * [[persistSignatures]] pattern for the embedding family, so a daily
    * increment probes a FROZEN artifact instead of re-blocking the
    * corpus ([[semanticIncrementalFromStore]]). The fine centroids ride
    * a second tiny table under `<table>_centroids` and the coarse seeds
    * a third under `<table>_coarse`: the probe must replay the SAME
    * two-level argmin the base was blocked with, or block membership
    * diverges at coarse boundaries. */
  def persistSemanticBlocks(base: DataFrame, table: String, path: String,
                            nCentroids: Int = 0, targetBlock: Int = 256,
                            nBuckets: Int = 8): Unit = {
    val k =
      if (nCentroids > 0) nCentroids
      else IvfIndex.autoCentroids(base.count(), targetBlock)
    val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val cents = IvfIndex.centroids(base, k)
    val coarse = IvfIndex.centroids(base, k1)
    cents.write.mode("overwrite").option("path", s"$path/centroids")
      .saveAsTable(s"${table}_centroids")
    coarse.write.mode("overwrite").option("path", s"$path/coarse")
      .saveAsTable(s"${table}_coarse")
    // format marker: the probe replays the store's blocking rule, so a
    // store built under a different rule must fail fast, not probe wrong
    val spark = base.sparkSession
    import spark.implicits._
    Seq((SemanticStoreFormat, k, k1)).toDF("format", "k", "k1")
      .write.mode("overwrite").option("path", s"$path/meta")
      .saveAsTable(s"${table}_meta")
    hierarchicalAssign(base, coarse, cents)
      .select(col("vec_id"), col("block"), col("embedding"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "block").sortBy("block")
      .option("path", s"$path/blocks")
      .saveAsTable(table)
  }

  /** Incremental semantic dedup: probe a NEW batch of embeddings
    * against the persisted blocked base — per new vector, the best
    * base-corpus neighbor within its block (assignment against the
    * FROZEN centroid tables, replaying the same two-level coarse→fine
    * argmin the base was blocked with; the base is never re-read beyond
    * its probed blocks, never re-blocked — the
    * [[incrementalCandidatesFromStore]] contract for the embedding
    * family). With `autoBroadcast=true` (the daily-increment default)
    * the increment broadcasts (a daily batch is orders of magnitude
    * smaller than the base), so the bucketed base scan joins with no
    * corpus-sized exchange; the hint OVERRIDES Spark's size threshold,
    * so for a backfill-sized increment pass `autoBroadcast=false` — the
    * un-hinted join lets AQE pick, and against the block-bucketed base
    * a shuffle moves the increment side only. Output: one row per new
    * vector that shares a block with ≥ 1 base vector —
    * `(vec_id, nn_id, nn_score, is_dup)`, the [[semanticNeighbors]]
    * contract with neighbors drawn from the BASE only.
    *
    * The probe `require`s the store's format marker
    * ([[SemanticStoreFormat]], written by [[persistSemanticBlocks]]): a
    * store persisted by an older (flat-assignment) build, or a
    * hand-backfilled coarse table, would pair flat-assigned base blocks
    * with the two-level probe — silent blocking-recall loss at coarse
    * boundaries — so a missing/mismatched marker fails fast with a
    * "rebuild the base" message instead of a generic table error. */
  def semanticIncrementalFromStore(newVecs: DataFrame,
                                   spark: org.apache.spark.sql.SparkSession,
                                   table: String,
                                   simThreshold: Double = 0.95,
                                   autoBroadcast: Boolean = true): DataFrame = {
    spark.catalog.refreshTable(table)
    requireSemanticStoreFormat(spark, table)
    val assigned = hierarchicalAssign(newVecs,
        spark.table(s"${table}_coarse"), spark.table(s"${table}_centroids"))
      .select(col("vec_id"), col("block"), col("embedding"))
    val probeSide =
      if (autoBroadcast) broadcast(assigned.as("a")) else assigned.as("a")
    val sims = spark.table(table).as("b")
      .join(probeSide, col("a.block") === col("b.block"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        cosine_similarity(col("a.embedding"), col("b.embedding")).as("sim"))
    sims.filter(!isnan(col("sim")))
      .groupBy(col("query_id"))
      .agg(max(struct(col("sim"), (-col("vec_id")).as("nid"))).as("best"))
      .select(col("query_id").as("vec_id"),
        (-col("best.nid")).as("nn_id"),
        (floor(col("best.sim") * 1e6) / 1e6).as("nn_score"),
        (col("best.sim") >= simThreshold).as("is_dup"))
      .transform(graft.Determinism.sorted(_)(col("vec_id")))
  }

  /** Format marker value for the current semantic-block store layout:
    * hierarchical coarse→fine assignment with the `_coarse` companion
    * table. Bump whenever the blocking rule changes — the probe must
    * replay the EXACT rule the base was built with. */
  val SemanticStoreFormat = "hierarchical-v2"

  /** Fail fast (with a rebuild instruction) when `table` was not
    * persisted by the current [[persistSemanticBlocks]] — durable
    * stores outlive binaries, and a silently-mismatched blocking rule
    * is the recall bug this marker exists to prevent. */
  private def requireSemanticStoreFormat(
      spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val metaTable = s"${table}_meta"
    require(spark.catalog.tableExists(metaTable),
      s"semantic store '$table' has no format marker ($metaTable): it " +
        "was built by an older persistSemanticBlocks (flat assignment) " +
        "or assembled by hand — rebuild the base with " +
        "persistSemanticBlocks before probing")
    val fmt = spark.table(metaTable).select(col("format"))
      .collect() // BOUNDED: the marker table is exactly 1 row
      .headOption.map(_.getString(0)).getOrElse("")
    require(fmt == SemanticStoreFormat,
      s"semantic store '$table' format '$fmt' != expected " +
        s"'$SemanticStoreFormat' — the blocking rule changed; rebuild " +
        "the base with persistSemanticBlocks before probing")
  }
}
