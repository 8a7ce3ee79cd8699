package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.functions.TextFunctions.tokens

/** Graded ranked-retrieval evaluation — MRR@k and NDCG@k of the three
  * retrieval stacks this engine serves (lexical BM25 [[Bm25]], dense
  * cosine [[Search.bruteForceTopK]], and their RRF hybrid
  * [[Search.rrfFuse]]) against one deterministic graded relevance
  * labeling. The reference's entire product is a ranked scored list
  * (reference: controllers/search_controller.py:8-47); this is the table
  * a deployment reads to pick which of the three stacks to serve — the
  * quality audit the recall@k rows (`q_recall`, `q_pq_recall`) don't
  * cover, because those grade ANN approximation error against exact
  * cosine, not ranking quality against relevance.
  *
  * Protocol (leave-one-out, "more-like-this" queries): each query is a
  * document's own text (`doc_id < queryMaxId`); its own document is
  * removed AFTER scoring (corpus statistics stay intact) so the metrics
  * discriminate instead of saturating on the trivial self-match.
  * Relevance is graded distinct-token overlap F1 — the [[Rerank]]
  * stand-in's arithmetic — cut into tiers WITHOUT any division:
  * `f1 = 2I/S ≥ t` is evaluated as the integer cross-multiplication
  * `2I·den(t) ≥ num(t)·S`, so `rel ∈ {0,1,2,3}` (t = 9/10, 4/5, 7/10)
  * is exact in both engines. MRR and n_rel use the STRICT binary cut
  * rel ≥ 2 (see [[MrrRelThreshold]]).
  *
  * Determinism of the metrics: rank discounts are LITERAL integer grids
  * (`floor(1e9/log2(r+1))`, `floor(1e9/r)` for r = 1..k) computed once
  * on the driver and inlined into BOTH the Spark plan and the oracle
  * SQL — no runtime transcendental can disagree at a floor boundary.
  * DCG and IDCG are therefore exact BIGINT sums `Σ gain·disc(r)`
  * (gain = 2^rel − 1 ∈ {0,1,3,7}), order-free; NDCG is one integer ÷
  * integer division floored to the 1e-9 grid; MRR aggregates the
  * integer reciprocal-rank grid and divides ONCE per system.
  *
  * Scale shape (100 TB): labeling is ONE corpus scan with the bounded
  * query set broadcast (the [[Search.bruteForceTopK]] shape) feeding
  * bounded per-query heaps for the ideal ranking; BM25 scores through a
  * frozen [[Bm25.Bm25Index]] (build-once/search-many — postings
  * restricted to query terms by a broadcast semi-join); everything
  * after the scans is bounded by systems × queries × k.
  */
object RetrievalEval {

  /** Rank-discount grid: disc(r) = floor(1e9 / log2(r+1)) for r = 1..k.
    * Driver-computed literals shared verbatim by plan and oracle. */
  def discGrid(k: Int): Seq[Long] =
    (1 to k).map(r => math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Reciprocal-rank grid: rr(r) = floor(1e9 / r) for r = 1..k. */
  def rrGrid(k: Int): Seq[Long] = (1 to k).map(r => math.floor(1e9 / r).toLong)

  /** gain(rel) = 2^rel − 1 over the integer tier column — a 4-literal
    * lookup (rel ∈ {0,1,2,3}). */
  private def gain(rel: Column): Column =
    element_at(array(lit(0L), lit(1L), lit(3L), lit(7L)),
      rel.cast("int") + 1)

  /** Graded tier from integer intersection I and size-sum S (F1 =
    * 2I/S): 3 iff F1 ≥ 9/10 (20I ≥ 9S), 2 iff ≥ 4/5 (5I ≥ 2S), 1 iff
    * ≥ 7/10 (20I ≥ 7S), else 0 — pure integer compares. The cuts sit
    * in the UPPER tail of the pairwise-F1 distribution on purpose:
    * corpora with heavy vocabulary sharing (crawl shards, the synthetic
    * tables) put median pair-F1 around 0.7–0.85, and tiers below the
    * tail grade everything relevant, saturating every metric at 1.0. */
  private def tier(i: Column, s: Column): Column =
    when(i * 20 >= s * 9, 3L).when(i * 5 >= s * 2, 2L)
      .when(i * 20 >= s * 7, 1L).otherwise(0L)

  /** The binary cut for MRR / n_rel: rel ≥ 2 ("good or better") — the
    * STRICT convention. At rel ≥ 1 the marginal tier is so populated on
    * high-overlap corpora that every system's rank 1 is relevant and
    * MRR degenerates to a constant 1.0 column. */
  private val MrrRelThreshold = 2L

  /** The three system rankings on one query set → (system, query_id,
    * doc_id, rank ≤ k). BM25 and dense are each computed once at the
    * fusion shortlist depth (`fuseDepth`); the standalone systems are
    * their rank ≤ k prefixes, so no scan runs twice. */
  def rankings(docs: DataFrame, index: Bm25.Bm25Index,
               queryMaxId: Long = 5, k: Int = 10,
               fuseDepth: Int = 20): DataFrame =
    rankingsFrom(Rerank.frozenBase(docs), index, queryMaxId, k, fuseDepth)

  /** [[rankings]] over a pre-built [[Rerank.frozenBase]], so callers
    * that also label against the base pay its pass once. */
  private def rankingsFrom(base: DataFrame, index: Bm25.Bm25Index,
                           queryMaxId: Long, k: Int,
                           fuseDepth: Int): DataFrame = {
    val queries = base.filter(col("doc_id") < queryMaxId)
      .select(col("doc_id").as("query_id"), col("ct"))
    // lexical: the query doc's distinct tokens as the term set
    val qTerms = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("ct")))).as("term"))
    val bm = Bm25.topKFrom(index, qTerms, topK = fuseDepth,
      excludeSelfDoc = true)
      .select(col("query_id"), col("doc_id"), col("rank"))
    // dense: hash-embed cosine, self-pair dropped below the heap
    val corpus = base.select(col("doc_id").as("vec_id"),
      hash_embed(col("ct"), 64).as("embedding"))
    val qv = queries.select(col("query_id"), hash_embed(col("ct"), 64).as("qv"))
    val sims = corpus.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
    val dense = Search.rankTopK(sims, fuseDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
    val fused = Search.rrfFuse(bm, dense, topK = k)
      .select(col("query_id"), col("doc_id"), col("rank"))
    bm.filter(col("rank") <= k).select(lit("bm25").as("system"),
        col("query_id"), col("doc_id"), col("rank"))
      .unionByName(dense.filter(col("rank") <= k)
        .select(lit("dense").as("system"), col("query_id"), col("doc_id"),
          col("rank")))
      .unionByName(fused.select(lit("hybrid_rrf").as("system"),
        col("query_id"), col("doc_id"), col("rank")))
  }

  /** Graded labels for every (query, non-self doc) pair: one corpus
    * scan, queries broadcast → (query_id, doc_id, rel). */
  private def labels(base: DataFrame, queryMaxId: Long): DataFrame = {
    val dtok = base.select(col("doc_id"),
      array_distinct(tokens(col("ct"))).as("dt"))
    val qtok = dtok.filter(col("doc_id") < queryMaxId)
      .select(col("doc_id").as("query_id"), col("dt").as("qt"))
    dtok.crossJoin(broadcast(qtok))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        tier(size(array_intersect(col("dt"), col("qt"))).cast("long"),
          (size(col("dt")) + size(col("qt"))).cast("long")).as("rel"))
  }

  /** The shared eval core: labeled system rankings `ret(system,
    * query_id, doc_id, rank, rel)`, the per-query ideal ranking
    * positions `ideal(query_id, pos, rel)` (bounded per-query heap over
    * the label scan), and the query-id grid — ONE [[Rerank.frozenBase]]
    * pass feeds both the rankings and the labels. All three tables are
    * BOUNDED by systems × queries × k (driver-scale at any corpus
    * size), so the production shape is: land the core next to the
    * corpus once per eval run, read it for every report —
    * [[perQueryFrom]]/[[summaryFrom]]/[[cutoffSummaryFrom]] are those
    * reports, and the `docs`-taking entry points are the build-and-
    * report convenience form. */
  final case class Core(ret: DataFrame, ideal: DataFrame,
                        queryIds: DataFrame)

  /** Build the eval [[Core]] — the expensive half (corpus scans); every
    * report after it runs on bounded tables. */
  def buildCore(docs: DataFrame, index: Bm25.Bm25Index,
                queryMaxId: Long = 5, k: Int = 10): Core =
    evalCore(docs, index, queryMaxId, k)

  private def evalCore(docs: DataFrame, index: Bm25.Bm25Index,
                       queryMaxId: Long, k: Int): Core = {
    val base = Rerank.frozenBase(docs)
    val lab = labels(base, queryMaxId)
    val ideal = lab
      .groupBy(col("query_id"))
      .agg(top_k_by_score(col("rel").cast("double"), col("doc_id"), k)
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("pos"),
        col("hit.score").cast("long").as("rel"))
    val ret = rankingsFrom(base, index, queryMaxId, k, fuseDepth = 20)
      .join(lab, Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val queryIds = base.filter(col("doc_id") < queryMaxId)
      .select(col("doc_id").as("query_id"))
    Core(ret, ideal, queryIds)
  }

  private def systemsDF(c: Core): DataFrame = {
    val spark = c.ret.sparkSession
    import spark.implicits._
    Seq("bm25", "dense", "hybrid_rrf").toDF("system")
  }

  /** Integer-cored per-(system, query) metrics — the shared core of
    * [[perQuery]] and [[summary]]. Columns `rr_i`, `dcg_i`, `idcg_i`,
    * `ndcg_i` are exact BIGINTs on the 1e-9 grid. */
  private def perQueryRaw(c: Core, k: Int): DataFrame = {
    val discArr = array(discGrid(k).map(lit): _*)
    val rrArr = array(rrGrid(k).map(lit): _*)
    val idcg = c.ideal
      .select(col("query_id"),
        (gain(col("rel")) * element_at(discArr, col("pos"))).as("g"))
      .groupBy(col("query_id")).agg(sum(col("g")).as("idcg_i"))
    val per = c.ret.groupBy(col("system"), col("query_id"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(when(col("rel") >= MrrRelThreshold, 1L).otherwise(0L))
          .as("n_rel"),
        coalesce(min(when(col("rel") >= MrrRelThreshold, col("rank"))),
          lit(0L)).as("first_rel_rank"),
        sum(gain(col("rel")) * element_at(discArr, col("rank").cast("int")))
          .as("dcg_i"))
    // every (system, query) keeps a row even if a ranking came up empty
    val grid = systemsDF(c).crossJoin(c.queryIds)
    grid.join(per, Seq("system", "query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .select(col("system"), col("query_id"),
        coalesce(col("n_retrieved"), lit(0L)).as("n_retrieved"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("first_rel_rank"), lit(0L)).as("first_rel_rank"),
        when(coalesce(col("first_rel_rank"), lit(0L)) >= 1,
          element_at(rrArr, col("first_rel_rank").cast("int")))
          .otherwise(0L).as("rr_i"),
        coalesce(col("dcg_i"), lit(0L)).as("dcg_i"),
        coalesce(col("idcg_i"), lit(0L)).as("idcg_i"))
      .withColumn("ndcg_i",
        when(col("idcg_i") > 0,
          floor(col("dcg_i").cast("double") / col("idcg_i").cast("double")
            * 1e9).cast("long"))
          .otherwise(0L))
  }

  /** Per-(system, query) detail: reciprocal rank, DCG@k, NDCG@k on the
    * 1e-9 grid → (system, query_id, n_retrieved, n_rel, first_rel_rank,
    * rr, dcg, ndcg). */
  def perQuery(docs: DataFrame, index: Bm25.Bm25Index,
               queryMaxId: Long = 5, k: Int = 10): DataFrame =
    perQueryFrom(buildCore(docs, index, queryMaxId, k), k)

  /** [[perQuery]] from a pre-built (possibly persisted) [[Core]]. */
  def perQueryFrom(core: Core, k: Int = 10): DataFrame =
    perQueryRaw(core, k)
      .select(col("system"), col("query_id"), col("n_retrieved"),
        col("n_rel"), col("first_rel_rank"),
        (col("rr_i").cast("double") / 1e9).as("rr"),
        (col("dcg_i").cast("double") / 1e9).as("dcg"),
        (col("ndcg_i").cast("double") / 1e9).as("ndcg"))
      .orderBy(col("system"), col("query_id"))

  /** The deployment-decision table: one row per system with MRR@k and
    * mean NDCG@k — exact integer sums of the per-query grids, ONE
    * division each at the boundary. */
  def summary(docs: DataFrame, index: Bm25.Bm25Index,
              queryMaxId: Long = 5, k: Int = 10): DataFrame =
    summaryFrom(buildCore(docs, index, queryMaxId, k), k)

  /** [[summary]] from a pre-built (possibly persisted) [[Core]]. */
  def summaryFrom(core: Core, k: Int = 10): DataFrame =
    perQueryRaw(core, k)
      .groupBy(col("system"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_rel")).as("n_rel_total"),
        sum(col("rr_i")).as("srr"),
        sum(col("ndcg_i")).as("sndcg"))
      .select(col("system"), col("n_queries"), col("n_rel_total"),
        (col("srr").cast("double") / col("n_queries").cast("double") / 1e9)
          .as("mrr"),
        (col("sndcg").cast("double") / col("n_queries").cast("double") / 1e9)
          .as("mean_ndcg"))
      .orderBy(col("system"))

  /** Cutoff-sensitivity table: MRR@c and mean NDCG@c per system for
    * each c in `cuts` — the table that answers "how deep must the
    * serving layer rank before quality plateaus?" (a k=10 eval alone
    * can hide a system that only wins in positions 6-10, which a
    * 3-result UI never shows). Rankings are computed ONCE at depth k;
    * each cutoff is a prefix filter of the same labeled rows, so the
    * extra cost over [[summary]] is |cuts| bounded aggregates — no new
    * scans. Same integer discipline: per-(system, query, cutoff) DCG
    * and IDCG as exact BIGINT folds over the literal grids, means from
    * integer sums with ONE division each. */
  def cutoffSummary(docs: DataFrame, index: Bm25.Bm25Index,
                    queryMaxId: Long = 5, k: Int = 10,
                    cuts: Seq[Int] = Seq(1, 3, 5, 10)): DataFrame =
    cutoffSummaryFrom(buildCore(docs, index, queryMaxId, k), k, cuts)

  /** [[cutoffSummary]] from a pre-built (possibly persisted) [[Core]]. */
  def cutoffSummaryFrom(c: Core, k: Int = 10,
                        cuts: Seq[Int] = Seq(1, 3, 5, 10)): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(cc => cc >= 1 && cc <= k),
      s"cutoffs must be within 1..$k")
    val spark = c.ret.sparkSession
    import spark.implicits._
    val co = cuts.toDF("cutoff")
    val discArr = array(discGrid(k).map(lit): _*)
    val rrArr = array(rrGrid(k).map(lit): _*)
    val perC = c.ret.crossJoin(broadcast(co))
      .filter(col("rank") <= col("cutoff"))
      .groupBy(col("system"), col("query_id"), col("cutoff"))
      .agg(
        sum(when(col("rel") >= MrrRelThreshold, 1L).otherwise(0L))
          .as("n_rel"),
        coalesce(min(when(col("rel") >= MrrRelThreshold, col("rank"))),
          lit(0L)).as("frr"),
        sum(gain(col("rel")) * element_at(discArr, col("rank").cast("int")))
          .as("dcg_i"))
    val idcgC = c.ideal.crossJoin(broadcast(co))
      .filter(col("pos") <= col("cutoff"))
      .groupBy(col("query_id"), col("cutoff"))
      .agg(sum(gain(col("rel")) * element_at(discArr, col("pos")))
        .as("idcg_i"))
    val grid = systemsDF(c).crossJoin(c.queryIds).crossJoin(co)
    val pq = grid.join(perC, Seq("system", "query_id", "cutoff"), "left")
      .join(idcgC, Seq("query_id", "cutoff"), "left")
      .select(col("system"), col("query_id"), col("cutoff"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        when(coalesce(col("frr"), lit(0L)) >= 1,
          element_at(rrArr, col("frr").cast("int"))).otherwise(0L)
          .as("rr_i"),
        coalesce(col("dcg_i"), lit(0L)).as("dcg_i"),
        coalesce(col("idcg_i"), lit(0L)).as("idcg_i"))
      .withColumn("ndcg_i",
        when(col("idcg_i") > 0,
          floor(col("dcg_i").cast("double") / col("idcg_i").cast("double")
            * 1e9).cast("long"))
          .otherwise(0L))
    pq.groupBy(col("system"), col("cutoff"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_rel")).as("n_rel_total"),
        sum(col("rr_i")).as("srr"),
        sum(col("ndcg_i")).as("sndcg"))
      .select(col("system"), col("cutoff").cast("long").as("cutoff"),
        col("n_queries"), col("n_rel_total"),
        (col("srr").cast("double") / col("n_queries").cast("double") / 1e9)
          .as("mrr"),
        (col("sndcg").cast("double") / col("n_queries").cast("double") / 1e9)
          .as("mean_ndcg"))
      .orderBy(col("system"), col("cutoff"))
  }
}
