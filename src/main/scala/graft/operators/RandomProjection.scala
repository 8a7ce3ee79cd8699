package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Johnson–Lindenstrauss ±1 random projection — the dimensionality-
  * reduction leg of the compression family (int8 = `q_knn_quantized`,
  * sign-bit = `q_sign_search`, PQ = `q_pq_search`; THIS one shrinks the
  * dimension instead of the component width). A ±1 (Achlioptas-style)
  * matrix needs no multiplies conceptually and preserves angles within
  * JL distortion, so cosine ranking in the projected space is a cheap
  * first-pass retrieval whose recall is audited against exact search.
  *
  * Scale shape: projection is a NARROW map-side pass — the matrix folds
  * into the plan as literals (nothing ships, nothing broadcasts), each
  * output component one codegen'd dot_product; the projected corpus is
  * outDim/inDim the scan width of the original, which is the whole
  * point at 100 TB (a 4× narrower scan per candidate).
  *
  * Determinism: the sign grid is an integer formula both engines
  * generate independently (the `q_embed_linear` frozen-grid
  * discipline) — sign flips are EXACT in float/double, the sequential
  * dot accumulation is order-pinned in both engines, and the projected
  * components pass through REAL for the established ulp-swallowing
  * cross-engine image.
  */
object RandomProjection {

  /** +1 iff ((i·31 + j·73) mod 13) is even: pseudo-random enough to be
    * full-rank (no checkerboard degeneracy), trivial to replay in SQL. */
  private def sign(j: Int, i: Int): Float =
    if (((i * 31 + j * 73) % 13) % 2 == 0) 1.0f else -1.0f

  /** dim-`inDim` float vector → dim-`outDim` float vector; one literal
    * ±1 row per output component. */
  def projectCol(vec: Column, outDim: Int = 16, inDim: Int = 64): Column =
    array((0 until outDim).map { j =>
      val w = array((0 until inDim).map(i => lit(sign(j, i))): _*)
      graft.functions.dot_product(vec, w).cast("float")
    }: _*)

  /** Brute-force cosine top-k in the projected space — same contract and
    * output shape as [[Search.bruteForceTopK]], 4× less arithmetic per
    * (query, candidate). */
  def searchProjected(queries: DataFrame, corpus: DataFrame, k: Int,
                      outDim: Int = 16): DataFrame =
    Search.bruteForceTopK(
      queries.select(col("query_id"),
        projectCol(col("qv"), outDim).as("qv")),
      corpus.select(col("vec_id"),
        projectCol(col("embedding"), outDim).as("embedding")),
      k)

  /** Two-stage JL search — [[searchProjected]]'s shortlist exactly
    * re-ranked by full-dimension cosine ([[Search.refine]], the
    * [[Search.signRefined]] stage applied to the dimension cut): the
    * 4×-narrower projected scan pays for candidate generation, the exact
    * work is ∝ queries × shortlist, and final scores carry NO projection
    * distortion. This is what makes the
    * 0.2–0.4-recall standalone projection deployable: same output
    * contract as [[Search.bruteForceTopK]], equal to it whenever the
    * true top-k survives the projected shortlist (spec-pinned at full
    * shortlist). */
  def searchRefined(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                    shortlist: Int = 20, outDim: Int = 16): DataFrame =
    Search.refine(queries, corpus,
      searchProjected(queries, corpus, shortlist, outDim), k)

  /** recall@k of the projected ranking against exact full-dimension
    * top-k — the number that decides whether the 4× cheaper scan is
    * usable as a shortlist stage (the `q_recall` audit shape). */
  def recallAudit(queries: DataFrame, corpus: DataFrame, k: Int,
                  outDim: Int = 16): DataFrame =
    Search.recallAt(Search.bruteForceTopK(queries, corpus, k),
        searchProjected(queries, corpus, k, outDim), lit(k.toDouble))
      .transform(graft.Determinism.sorted(_)(col("query_id")))

  /** The outDim/recall trade as ONE table — the JL leg's operating-point
    * curve, the [[IvfIndex.recallSweep]] shape applied to the dimension
    * axis: per sweep dimension, aggregate recall@k against exact
    * full-dimension search AND the scan-cost share the recall is traded
    * against (for a projection, cost is exactly `outDim/inDim`: the
    * fraction of the original scan width each candidate pays).
    * [[recallAudit]] measures one fixed dimension; this measures the
    * curve a deployment picks its operating point from.
    *
    * Shape: the corpus is projected ONCE to `max(outDims)` and
    * [[graft.operators.Barrier]]-materialized — a LOWER-dimension sweep
    * point is a PREFIX slice of that one projection (the ±1 sign grid
    * depends only on (j, i), so component j is identical at every
    * outDim ≥ j; no second projection pass, and each point's cosine
    * runs over the already-narrow projected table, never the full-width
    * corpus). The exact baseline is computed once and re-read per
    * point. `queries.count` feeds the recall denominator — one cheap
    * count job, not a data collect. */
  def recallSweep(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                  outDims: Seq[Int] = Seq(8, 16, 32), inDim: Int = 64)
      : DataFrame = {
    val maxD = outDims.max
    val projC = corpus.select(col("vec_id"),
      projectCol(col("embedding"), maxD, inDim).as("embedding"))
      .barrier() // read once per sweep point — never re-projected
    val projQ = queries.select(col("query_id"),
      projectCol(col("qv"), maxD, inDim).as("qv"))
      .barrier()
    val exact = Search.bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("vec_id")).barrier()
    val nq = queries.count()
    outDims.map { d =>
      val approx = Search.bruteForceTopK(
        projQ.select(col("query_id"), slice(col("qv"), 1, d).as("qv")),
        projC.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding")), k)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .agg(count(col("hit")).as("n_hits"))
        .select(lit(d.toLong).as("out_dim"), col("n_hits"),
          (floor(col("n_hits") / lit((nq * k).toDouble) * 1e6) / 1e6)
            .as("recall"),
          (floor(lit(d.toDouble / inDim) * 1e6) / 1e6).as("scan_frac"))
    }.reduce(_ unionByName _).orderBy(col("out_dim"))
  }
}
