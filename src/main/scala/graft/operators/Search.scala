package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Similarity search over embedding columns — the Spark-native form of the
  * reference's HNSW index + `knn_query`
  * (reference: services/index_service.py:102-108,
  * controllers/search_controller.py:27-41).
  *
  * Brute force is EXACT and embarrassingly parallel: one scan of the
  * corpus, queries broadcast, per-partition bounded top-k heaps partially
  * aggregated map-side (shuffle volume = partitions × k × queries,
  * independent of corpus size). This is the 100 TB baseline; the
  * partition-pruned approximate path is [[IvfIndex]].
  */
object Search {

  /** Exact top-k: `queries(query_id, qv)` × `corpus(vec_id, embedding)` →
    * (query_id, rank, vec_id, score). Scores floored at 1e-6 for
    * engine-portable output; ties broken by vec_id asc. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val sims = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
    rankTopK(sims, k)
  }

  /** Fused top-k via the custom physical operator
    * [[graft.plans.VectorTopKJoinExec]]: one corpus scan, per-query bounded
    * heaps, no (corpus × query) row ever materialized. Same contract and
    * output rows as [[bruteForceTopK]], ordered by query and rank. */
  def fusedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    fused(queries, corpus)(graft.plans.VectorTopKJoin.ranked(_, _, k))

  /** `node` over the `(query_id, qv)` and `(vec_id, embedding)` plans of
    * `queries` and `corpus`, in a session with graft's rules installed. */
  private def fused(queries: DataFrame, corpus: DataFrame)(
      node: (LogicalPlan, LogicalPlan) => LogicalPlan): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val spark = corpus.sparkSession
    graft.GraftSql.install(spark)
    bridge.ofRows(spark, node(
      bridge.planOf(queries.select(col("query_id"), col("qv"))),
      bridge.planOf(corpus.select(col("vec_id"), col("embedding")))))
  }

  /** FILTERED exact top-k: [[fusedTopK]] under a metadata predicate on
    * the corpus — the "filtered ANN" surface every production vector
    * store exposes (tenant / language / license scoping). PRE-filter
    * semantics: the predicate cuts the corpus BEFORE ranking, so the
    * result is exactly the top-k of the eligible subset — never the
    * post-filter trap (rank first, filter second, return < k rows when
    * the filter is selective). The predicate composes into the corpus
    * scan STAGE: a plain stored-column predicate reaches the parquet
    * reader as `PushedFilters`; a derived one (the gate row's
    * `label % 2 = 0`) runs in the whole-stage-codegen pass directly
    * above the scan (verified in PLANS.md) — either way the corpus is
    * cut before any ranking work, so a selective filter makes the
    * search CHEAPER, not recall-lossy. */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, pred: Column,
                   k: Int): DataFrame =
    fusedTopK(queries, corpus.filter(pred), k)

  /** Install the auto-fusion rule: after this, the DECLARATIVE
    * [[bruteForceTopK]] pattern (aggregate over cross join) is planned as
    * the fused operator automatically — users keep the DataFrame form,
    * the engine substitutes [[graft.plans.VectorTopKJoin]]'s grouped
    * shape for the aggregate. The one opt-in rule, never removed: it
    * rewrites the reference the fused operators are checked against
    * ([[graft.GraftSql]]). */
  def installAutoFusion(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.GraftSql.install(spark)
    org.apache.spark.sql.graft.bridge.addRules(spark, Nil, Seq(graft.plans.AutoFuseTopK))
  }

  /** The top `k` rows of each query in `sims(query_id, vec_id, sim)`, by
    * sim desc, then vec_id asc → (query_id, rank, vec_id, score), `score`
    * floored at 1e-6, ordered by query and rank. */
  private[graft] def rankTopK(sims: DataFrame, k: Int): DataFrame =
    sims.groupBy(col("query_id"))
      .agg(top_k_by_score(col("sim"), col("vec_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as("vec_id"),
        (floor(col("hit.score") * 1e6) / 1e6).as("score"))
      .orderBy(col("query_id"), col("rank"))

  /** Exact top-k over an int8-quantized corpus: the corpus is stored as
    * `quantize8(embedding)` (4× smaller at rest, in cache, and on the
    * wire) and dequantized on the fly inside the scan — the memory-lean
    * configuration for a 100 TB corpus. Same output contract as
    * [[bruteForceTopK]]; scores differ only by the quantization error
    * (cosine fidelity > 0.999 per the round-trip audit). */
  def quantizedTopK(queries: DataFrame, quantizedCorpus: DataFrame,
                    k: Int): DataFrame = {
    val sims = quantizedCorpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), dequantize8(col("qcodes"))).as("sim"))
    rankTopK(sims, k)
  }

  /** Sign fingerprint: one bit per dimension (`v[i] > 0`), packed
    * little-endian into ONE long (dims beyond 64 would need a second
    * word; dims under 64 leave high bits zero). Declarative — stays in
    * codegen'd HOF evaluation, no UDF. */
  private def signBits(vCol: String): org.apache.spark.sql.Column = expr(
    // the size guard dodges the descending-sequence trap (sequence(0, -1)
    // is [0, -1] and element_at(v, 0) throws): empty vectors encode as 0L
    s"""IF(size($vCol) <= 0, 0L, aggregate(
       |  transform(sequence(0, cast(least(size($vCol), 64) as int) - 1),
       |    i -> IF(element_at($vCol, i + 1) > cast(0 as float),
       |            shiftleft(1L, i), 0L)),
       |  0L, (acc, x) -> acc | x))""".stripMargin)

  /** 1-bit SIGN-quantized search — the compression extreme of the
    * quantization matrix (int8 = 4×, PQ = 16×, sign = 32×: a dim-64
    * float32 vector becomes ONE long, so a billion-vector index is
    * 8 GB and the scan kernel is one XOR + popcount per candidate):
    * fingerprint = the sign bit per dimension, ranking by Hamming
    * distance asc with vec_id ties. For L2-normalized embeddings the
    * sign pattern is a locality-sensitive sketch of direction (the
    * classic SimHash/LSH bound: collision probability 1 − θ/π per
    * bit) — rank quality degrades gracefully and the exact-rerank
    * pattern of [[ProductQuantizer.searchRefined]] composes on top.
    * Same one-scan shape as [[bruteForceTopK]]: queries broadcast,
    * bounded per-query heaps, shuffle ∝ queries × k. */
  def signTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame = {
    val enc = corpus.select(col("vec_id"), signBits("embedding").as("bits"))
    val qenc = queries.select(col("query_id"), signBits("qv").as("qbits"))
    enc.crossJoin(broadcast(qenc))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("bits").bitwiseXOR(col("qbits"))).as("hd"))
      .groupBy(col("query_id"))
      .agg(top_k_by_score((-col("hd")).cast("double"), col("vec_id"), k)
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as("vec_id"),
        (-col("hit.score")).cast("long").as("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[signTopK]] under a metadata predicate — filtered retrieval on
    * the 32× code, completing the filtered-search matrix across the
    * compression legs (exact = [[filteredTopK]], IVF =
    * `IvfIndex.searchFiltered`, PQ = `ProductQuantizer.searchFiltered`).
    * PRE-filter semantics: the predicate cuts the corpus BEFORE
    * fingerprints are computed, so the result is exactly the
    * Hamming top-k of the eligible subset (never under-k /
    * post-filter-lossy) and the XOR+popcount kernel only ever touches
    * eligible rows — a selective filter makes the scan CHEAPER. The
    * fingerprint function is corpus-independent (one bit per
    * dimension, no trained artifact), so unlike the IVF/PQ legs there
    * is no build-once index to hold fixed under the filter. */
  def signFiltered(queries: DataFrame, corpus: DataFrame, pred: Column,
                   k: Int = 5): DataFrame =
    signTopK(queries, corpus.filter(pred), k)

  /** Two-stage sign search — [[signTopK]]'s Hamming shortlist exactly
    * re-ranked by true cosine ([[refine]], the
    * [[ProductQuantizer.searchRefined]] stage applied to the 32× code):
    * the XOR+popcount scan pays for the candidate generation, the exact
    * work is ∝ queries × shortlist, and final scores carry NO
    * quantization error. Same output contract as
    * [[bruteForceTopK]]; equal to it whenever the true top-k survives
    * the Hamming shortlist (spec-pinned at full shortlist). */
  def signRefined(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                  shortlist: Int = 20): DataFrame =
    refine(queries, corpus, signTopK(queries, corpus, shortlist), k)

  /** The exact-refine stage of every two-stage search ([[signRefined]],
    * `ProductQuantizer.searchRefined`, `RandomProjection.searchRefined`):
    * each `(query_id, vec_id)` of `shortlist` re-scored by true cosine
    * against the full-precision `corpus`, then [[rankTopK]]. The
    * shortlist BROADCASTS into a hash-join probe of the corpus, so the
    * exact work is ∝ queries × shortlist — never a second scan-and-score. */
  private[graft] def refine(queries: DataFrame, corpus: DataFrame,
                            shortlist: DataFrame, k: Int): DataFrame = {
    val sl = shortlist.select(col("query_id"), col("vec_id"))
    val sims = corpus.join(broadcast(sl), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
    rankTopK(sims, k)
  }

  /** The recall@k fold of every audit that scores one approximate
    * ranking against an exact one: per query of `exact`, how many of its
    * `(query_id, vec_id)` rows `approx` recovered → `(query_id, n_hits,
    * recall)`, recall = n_hits / `denom` floored at 1e-6, unsorted.
    * `denom` is an aggregate over the query's exact rows: `lit(k)` for a
    * fixed k, `count(lit(1))` for the per-query eligible count. */
  private[graft] def recallAt(exact: DataFrame, approx: DataFrame,
                              denom: Column): DataFrame =
    exact.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"),
        (floor(count(col("hit")) / denom * 1e6) / 1e6).as("recall"))

  /** Hard-negative mining for contrastive training: per anchor, the
    * most-similar corpus vectors that are NOT near-duplicates — the
    * `sim < dupThreshold` band just below duplicate territory, which is
    * where the informative negatives live (a random negative is trivially
    * separable; a near-dup is a false negative that poisons the loss).
    * Same scan shape as [[bruteForceTopK]] — one corpus pass, anchors
    * broadcast, bounded per-partition heaps — with the dup-gate pushed
    * BELOW the top-k aggregate so excluded near-dups never occupy heap
    * slots. Self-pairs are excluded structurally. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int = 10,
                    dupThreshold: Double = 0.95): DataFrame = {
    val sims = corpus.crossJoin(broadcast(anchors))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
      .filter(col("vec_id") =!= col("query_id") &&
        col("sim") < dupThreshold)
    rankTopK(sims, k)
  }

  /** Maximal-marginal-relevance re-ranking — diversified retrieval, the
    * re-rank layer every production vector-search deployment puts over
    * its top-k: greedily select `k` of the top-`nCandidates` candidates
    * maximizing `λ·sim(q,c) − (1−λ)·max_{s∈selected} cos(c,s)` — high
    * relevance, low redundancy (λ=1 degenerates to plain top-k).
    *
    * Scale shape: the corpus pays ONE scan (the candidate top-N, same
    * cost as [[bruteForceTopK]]); the greedy loop then runs per query
    * over ≤ nCandidates structs as a bounded `aggregate` fold — k steps,
    * each filtering already-selected ids and arg-maxing the MMR score
    * via struct ordering (max mmr, then min id — deterministic ties).
    * Nothing iterative ever touches the corpus, so the operator is as
    * distributable as the scan that feeds it. The DuckDB oracle replays
    * the same greedy selection with the loop unrolled; score arithmetic
    * (including the binary-double `1−λ`) is identical in both engines. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                nCandidates: Int = 20, lambda: Double = 0.7): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val cand = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCandidates)
    val packed = cand.groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(
        col("rn"), col("vec_id").as("id"), col("sim"),
        col("embedding").as("emb")))).as("cs"))
    val zero = expr(
      "CAST(array() AS ARRAY<STRUCT<id: BIGINT, mmr: DOUBLE, emb: ARRAY<FLOAT>>>)")
    val sel = aggregate(sequence(lit(1), lit(k)), zero, (state, _) => {
      val remaining = filter(col("cs"), c =>
        !exists(state, s => s.getField("id") === c.getField("id")))
      val scored = transform(remaining, c => {
        val maxSim = array_max(transform(state, s =>
          cosine_similarity(c.getField("emb"), s.getField("emb"))))
        val mmr = lit(lambda) * c.getField("sim") -
          lit(1 - lambda) * coalesce(maxSim, lit(0.0))
        struct(mmr.as("mmr"), (-c.getField("id")).as("negid"),
          c.getField("id").as("id"), c.getField("emb").as("emb"))
      })
      val pick = array_max(scored)
      when(size(scored) > 0,
        concat(state, array(struct(pick.getField("id").as("id"),
          pick.getField("mmr").as("mmr"),
          pick.getField("emb").as("emb")))))
        .otherwise(state)
    })
    packed.select(col("query_id"), posexplode(sel).as(Seq("pos", "s")))
      .select(col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"),
        (floor(col("s.mmr") * 1e6) / 1e6).as("mmr_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Reciprocal-rank fusion of two retrieval rankings — the standard
    * hybrid-search combiner (lexical BM25 + dense cosine, see
    * [[Bm25]]): each list contributes `1/(rrfK + rank)` per document,
    * fused score is the sum, missing-from-a-list contributes nothing.
    * Implemented as a UNION + groupBy rather than a full outer join —
    * same semantics, one shuffle, no null-handling branches.
    *
    * Determinism: each contribution is one IEEE division floored to the
    * 1e-9 grid, summed as DECIMAL(18,9) — the fused score is exact and
    * independent of addition order, so cross-engine ranking ties break
    * identically (score desc, doc_id asc). Inputs are top-k lists, so
    * everything here is bounded by queries × k — driver-scale data at
    * any corpus size.
    *
    * @param a,b rankings shaped (query_id, doc_id, rank) — rank 1-based
    */
  def rrfFuse(a: DataFrame, b: DataFrame, rrfK: Int = 60,
              topK: Int = 10): DataFrame = {
    val cols = Seq("query_id", "doc_id", "rank")
    val contrib = a.select(cols.map(col): _*)
      .unionByName(b.select(cols.map(col): _*))
      .select(col("query_id"), col("doc_id"),
        (floor(lit(1.0) / (lit(rrfK).cast("double") +
          col("rank").cast("double")) * 1e9) / 1e9)
          .cast("decimal(18,9)").as("c"))
    val fused = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("sdec"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sdec").desc, col("doc_id"))
    fused
      .withColumn("rrf_rank", row_number().over(w).cast("long"))
      .filter(col("rrf_rank") <= topK)
      .select(col("query_id"), col("rrf_rank").as("rank"), col("doc_id"),
        col("sdec").cast("double").as("rrf_score"), col("n_lists"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The RRF `k`-constant sweep — the hybrid-fusion operating curve (the
    * `q_recall_sweep`/`dedup_lsh_sweep` discipline on the fusion axis):
    * per k ∈ `ks`, how the fused top-`topK` behaves — the consensus
    * share (fused docs present in BOTH lists; k is exactly the dial
    * between "follow whichever list ranks a doc high" at low k and
    * "promote consensus docs" at high k) and the overlap with each
    * source's own top-`topK`. The table a deployment reads to pick its
    * k instead of cargo-culting 60.
    *
    * Scale shape: the EXPENSIVE work (both rankings) happens once —
    * the rank tables are barriered and every sweep point re-reads them
    * (queries × 2·topK rows each); per point one bounded fuse +
    * flag-join + fold. Shares are exact-integer DECIMAL DIVs; the RRF
    * contribution rides the same floor-1e-9 DECIMAL(18,9) grid as
    * [[rrfFuse]]. */
  def rrfSweep(a: DataFrame, b: DataFrame, ks: Seq[Int] = Seq(10, 60, 240),
               topK: Int = 10): DataFrame = {
    require(ks.nonEmpty, "empty sweep")
    val cols = Seq("query_id", "doc_id", "rank")
    val aa = Barrier(a.select(cols.map(col): _*))
    val bb = Barrier(b.select(cols.map(col): _*))
    val union = aa.unionByName(bb)
    val aTop = aa.filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_a"))
    val bTop = bb.filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_b"))
    val perK = ks.map { k =>
      val contrib = union.select(col("query_id"), col("doc_id"),
        (floor(lit(1.0) / (lit(k).cast("double") +
          col("rank").cast("double")) * 1e9) / 1e9)
          .cast("decimal(18,9)").as("c"))
      val fused = contrib.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("c")).as("sdec"), count(lit(1)).as("n_lists"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sdec").desc, col("doc_id"))
      fused.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= topK)
        .join(broadcast(aTop), Seq("query_id", "doc_id"), "left")
        .join(broadcast(bTop), Seq("query_id", "doc_id"), "left")
        .agg(count(lit(1)).as("n_fused"),
          countDistinct(col("query_id")).as("n_queries"),
          sum(when(col("n_lists") === 2, 1L).otherwise(0L)).as("consensus"),
          sum(coalesce(col("in_a"), lit(0L))).as("hit_a"),
          sum(coalesce(col("in_b"), lit(0L))).as("hit_b"))
        .select(lit(k.toLong).as("rrf_k"), col("n_queries"), col("n_fused"),
          expr("cast(consensus as decimal(38,0)) * 1000000 div n_fused")
            .cast("double") / 1e6 as "consensus_share",
          expr("cast(hit_a as decimal(38,0)) * 1000000 div n_fused")
            .cast("double") / 1e6 as "overlap_lexical",
          expr("cast(hit_b as decimal(38,0)) * 1000000 div n_fused")
            .cast("double") / 1e6 as "overlap_vector")
    }
    perK.reduce(_.unionByName(_))
      .transform(graft.Determinism.sorted(_)(col("rrf_k")))
  }

  /** Top-1 with acceptance gate: the reference keeps the best match only if
    * cosine distance < `maxDistance` (qa_service.py:150-168; by default its
    * threshold, [[graft.plans.TopKRows.AcceptDistance]]).
    * `(query_id, best_id, best_score, accepted)`, ordered by query_id.
    *
    * Every distinct query id keeps its row once the corpus has one;
    * `accepted` carries the gate, `1 - sim < maxDistance` on the unfloored
    * sim, and `best_score` is the sim floored at 1e-6. The best is the
    * highest sim, then the lowest vec_id ([[bruteForceTopK]]'s order). A
    * query with nothing to rank (a null `qv`, or only null or NaN sims)
    * keeps its row with null `best_id` and `best_score` and `accepted =
    * false`. An empty corpus answers no rows.
    *
    * Runs on the fused operator ([[graft.plans.VectorTopKJoin.gated]]):
    * one corpus scan with a one-entry heap per query, merged in runs of
    * query ids, so the final order costs no sort. Beyond collecting the
    * queries, it is one Spark job. */
  def thresholdRetrieval(queries: DataFrame, corpus: DataFrame,
                         maxDistance: Double = graft.plans.TopKRows.AcceptDistance)
      : DataFrame =
    fused(queries, corpus)(graft.plans.VectorTopKJoin.gated(_, _, maxDistance))
      .orderBy(col("query_id"))

  /** Topic-change detection: cosine of each vector vs the previous one in
    * its stream; change when similarity < `threshold`
    * (reference: qa_service.py:170-196, threshold 0.75). First element of a
    * stream has no context → change = true, sim = null. */
  def topicChanges(vectors: DataFrame, streamKey: Column, order: Column,
                   threshold: Double = 0.75): DataFrame = {
    val w = Window.partitionBy(streamKey).orderBy(order)
    vectors
      .withColumn("prev", lag(col("embedding"), 1).over(w))
      .select(streamKey, order,
        (floor(cosine_similarity(col("prev"), col("embedding")) * 1e6) / 1e6)
          .as("sim_to_prev"),
        coalesce(
          cosine_similarity(col("prev"), col("embedding")) < threshold,
          lit(true)).as("topic_change"))
  }

  /** Margin-based alignment mining (the CCMatrix/LASER ratio-margin
    * criterion, arXiv:1811.01136): for each query vector x of a NEW
    * shard, its best corpus match y scored not by raw cosine — which
    * over-accepts in dense hubs — but by the cosine NORMALIZED by the
    * average similarity of both endpoints' k-nearest neighborhoods:
    * `margin(x,y) = cos(x,y) / ((avg_k cos(x,·) + avg_k cos(y,·)) / 2)`.
    * A pair is mined when its rank-1 margin clears `threshold` (the
    * published operating point is ≈1.05-1.06).
    *
    * Determinism: cosines land on the 1e-6 integer grid; neighborhood
    * penalties are INTEGER sums of grid values (order-free); the margin
    * is one integer `DIV` onto a 1e-4 grid — the DuckDB oracle replays
    * every step exactly.
    *
    * Scale shape: the forward pass is [[bruteForceTopK]]'s — ONE corpus
    * scan, queries broadcast, per-partition bounded heaps (shuffle ∝
    * partitions × queries, corpus-independent). The backward
    * neighborhoods are needed only for the ≤ |queries| rank-1
    * candidates, fetched by a broadcast hash-join probe (the
    * [[signQuantizedRefine]] pattern — never a second unfiltered pass)
    * and scored against the broadcast query set in-row. At 100 TB the
    * cost is exactly one brute-force (or [[IvfIndex]]-pruned) scan plus
    * a candidate-sized probe. */
  def marginMine(queries: DataFrame, corpus: DataFrame, k: Int = 4,
                 threshold: Double = 1.05): DataFrame = {
    require(k >= 1, "k must be ≥ 1")
    val thresholdGrid = math.floor(threshold * 1e4).toLong
    def grid(c: Column): Column = floor(c * 1e6).cast("long")
    val fwdSims = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
    val fwd = fwdSims.groupBy(col("query_id"))
      .agg(top_k_by_score(col("sim"), col("vec_id"), k).as("topk"))
      .select(col("query_id"),
        col("topk").getItem(0).getField("id").as("vec_id"),
        grid(col("topk").getItem(0).getField("score")).as("m_xy"),
        aggregate(col("topk"), lit(0L),
          (acc, e) => acc + grid(e.getField("score"))).as("fwd_pen"))
    // backward neighborhoods: only the rank-1 candidates need them —
    // broadcast-probe the corpus for those ids, score vs the broadcast
    // query set, per-candidate bounded heap. cosine_similarity keeps
    // the (qv, embedding) operand order of the forward pass, so equal
    // pairs produce bit-equal doubles in both directions.
    val candIds = fwd.select(col("vec_id")).distinct()
    val bwd = corpus.join(broadcast(candIds), Seq("vec_id"))
      .crossJoin(broadcast(queries))
      .select(col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"),
        col("query_id"))
      .groupBy(col("vec_id"))
      .agg(top_k_by_score(col("sim"), col("query_id"), k).as("btopk"))
      .select(col("vec_id"),
        aggregate(col("btopk"), lit(0L),
          (acc, e) => acc + grid(e.getField("score"))).as("bwd_pen"))
    fwd.join(broadcast(bwd), Seq("vec_id"))
      .filter(col("m_xy") > 0L && col("fwd_pen") + col("bwd_pen") > 0L)
      .select(col("query_id"), col("vec_id"),
        (col("m_xy").cast("double") / 1e6).as("cos"),
        expr(s"(m_xy * ${2L * k * 10000L}) DIV (fwd_pen + bwd_pen)")
          .as("margin_grid"))
      .select(col("query_id"), col("vec_id"), col("cos"),
        (col("margin_grid").cast("double") / 1e4).as("margin"),
        (col("margin_grid") >= thresholdGrid).as("accepted"))
      .transform(graft.Determinism.sorted(_)(col("query_id")))
  }
}
