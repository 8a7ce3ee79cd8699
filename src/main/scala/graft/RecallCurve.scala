package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, ProductQuantizer, RandomProjection, Search}

/** Big-SF ANN operating-curve harness — the measurement the sf0.01
  * correctness oracles cannot provide: what recall does each approximate
  * layout actually deliver, per operating point, at production corpus
  * sizes.
  *
  * Methodology fixes over the r18 artifact (whose curves were
  * degenerate and told a deployment nothing):
  *  - HELD-OUT queries: a strided sample of embeddings is REMOVED from
  *    the corpus and used as the query set, so no query trivially
  *    recalls itself (the r18 artifact queried 5 in-corpus vectors —
  *    IVF read recall 1.0 at every nprobe, JL pinned at exactly the
  *    self-hit 1/k = 0.2 at every outDim).
  *  - ≥100 queries (default 200): per-query recall variance at 5
  *    queries swamps any curve.
  *  - centroid count from the production sizing rule
  *    ([[IvfIndex.autoCentroids]], ~256-vector cells), not the sf0.01
  *    demo constant 16 — at 20k vectors, 16 centroids makes every cell
  *    6% of the corpus and nprobe=1 already saturates.
  *  - the REFINED operating points (PQ / sign / JL shortlist → exact
  *    re-rank) are measured next to their bare layouts: bare PQ at
  *    these sizes is a shortlist stage, not a retrieval result, and the
  *    artifact must carry the number that says so.
  *
  * Usage: RecallCurve <sfDir> <out.json> [nQueries]
  * (run against the ScaleUp sf1 decade dir for the round artifact). */
object RecallCurve {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val nQueries = if (args.length > 2) args(2).toInt else 200
    val spark = GraftSession(GraftSession.cores(4))
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val stride = math.max(1L, n / nQueries)
    val queries = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = emb.filter(pmod(col("vec_id"), lit(stride)) =!= 0)
    val nq = queries.count()
    val nc = corpus.count()
    val k = 5
    val nCent = IvfIndex.autoCentroids(nc, 256)
    System.err.println(
      s"[recall-curve] corpus=$nc queries=$nq centroids=$nCent")

    // mean of a per-query recall table (bounded: one row per query)
    def meanOf(df: DataFrame, c: String = "recall"): Double = {
      val r = df.agg(avg(col(c)).as("m"))
        .collect() // BOUNDED: 1-row global aggregate
        .head
      math.floor(r.getDouble(0) * 1e6) / 1e6
    }
    // mean per-query top-k overlap of an approximate ranking vs exact
    val exact = Search.bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("vec_id"))
      .transform(df => graft.operators.Barrier(df))
    def overlap(approx: DataFrame): Double =
      meanOf(
        exact.join(
          approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
          Seq("query_id", "vec_id"), "left")
          .groupBy(col("query_id"))
          .agg((count(col("hit")) / lit(k.toDouble)).as("recall")))

    // ---- IVF: nprobe sweep at production centroid sizing ----
    val ivfSweep = IvfIndex
      .recallSweep(queries, corpus, nCent, Seq(1, 2, 4, 8, 16), k)
      .collect() // BOUNDED: one row per sweep point
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Double]("recall"),
        r.getAs[Double]("scan_share")))
    // ---- PQ: seed / trained / ivfpq, plus the refined serving point ----
    val pq = ProductQuantizer.recallAudit(queries, corpus, m = 4, k = 16,
      iters = 2, nCentroids = nCent, nprobe = 4, topK = k)
      .transform(df => graft.operators.Barrier(df)) // 3 means below
    val pqSeed = meanOf(pq, "recall_pq_seed")
    val pqTrained = meanOf(pq, "recall_pq_trained")
    val pqIvf = meanOf(pq, "recall_ivfpq")
    val pqRefined =
      overlap(ProductQuantizer.searchRefined(queries, corpus, topK = k))
    // ---- sign: raw and refined ----
    val signRaw = overlap(Search.signTopK(queries, corpus, k))
    val signRefined = overlap(Search.signRefined(queries, corpus, k))
    // ---- JL: outDim sweep plus the refined serving point ----
    val jlSweep = RandomProjection.recallSweep(queries, corpus, k)
      .collect() // BOUNDED: one row per sweep dimension
      .map(r => (r.getAs[Long]("out_dim"), r.getAs[Double]("recall"),
        r.getAs[Double]("scan_frac")))
    val jlRefined =
      overlap(RandomProjection.searchRefined(queries, corpus, k))

    def fmtSweep(rows: Array[(Long, Double, Double)], dimName: String,
                 costName: String): String =
      rows.map { case (d, r, c) =>
        s"""{"$dimName":$d,"recall":$r,"$costName":$c}"""
      }.mkString("[", ",", "]")
    val json =
      s"""{"sf":"$sfDir","held_out_queries":$nq,"corpus":$nc,
         |"k":$k,"n_centroids":$nCent,"methodology":"held-out strided query sample removed from corpus; recall@$k vs exact brute force over the remaining corpus",
         |"ivf":{"sweep":${fmtSweep(ivfSweep, "nprobe", "scan_share")}},
         |"pq":{"recall_seed":$pqSeed,"recall_trained":$pqTrained,"recall_ivfpq":$pqIvf,"recall_refined":$pqRefined},
         |"sign":{"recall_raw":$signRaw,"recall_refined":$signRefined},
         |"jl":{"sweep":${fmtSweep(jlSweep, "out_dim", "scan_frac")},"recall_refined":$jlRefined}}"""
        .stripMargin.replace("\n", "")
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
