package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType
import graft.functions.dot_product
import graft.operators.Barrier.BarrierOps
import graft.sources.{FingerprintCache, Tables}

/** Product quantization: split each `dim`-vector into `m` subvectors and
  * replace every subvector by its nearest of `k` per-subspace codewords —
  * `m` single-byte codes instead of `dim` floats (16× smaller than float32
  * at m=4/dim=64; at 100 TB of embeddings the difference between a
  * disk-resident and a memory-resident index). Complements [[IvfIndex]]
  * (which prunes WHICH vectors are scored) by compressing HOW each vector
  * is stored; the int8 path (`Quantize8`) is the 4× midpoint.
  *
  * Codebooks are deterministic (the first `k` corpus vectors' subvectors,
  * the same seed convention as `IvfIndex.centroids`) and collected once —
  * m×k×(dim/m) floats, driver-trivial — then folded into codegen'd
  * `least(struct(dist, c)…)` argmin expressions, so encoding is a pure
  * NARROW pass: no shuffle, no UDF, every distance term a native
  * expression. Search is ADC-style: the query stays unquantized and scores
  * against reconstructed corpus vectors.
  */
object ProductQuantizer {

  /** `m` × `k` codebooks from the deterministic seeds; subspace `j` holds
    * the seeds' `j`-th `dim/m`-slices. */
  def codebooks(corpus: DataFrame, m: Int, k: Int): Array[Array[Array[Float]]] = {
    val seeds = corpus.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect() // BOUNDED: exactly k seed vectors, ordered here
      .sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)
    require(seeds.nonEmpty, "PQ needs at least one seed vector")
    val sub = seeds.head.length / m
    Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** Per-subspace argmin code over an already-sliced subvector: the
    * single-subspace case of [[graft.functions.PqEncode]] (one-element
    * book array → code index 0 of the result). */
  private def bestCode(s: Column, book: Array[Array[Float]]): Column =
    graft.functions.pq_encode(s, Array(book)).getItem(0)

  /** Per-subspace Lloyd-refined codebooks from the deterministic seeds:
    * `iters` rounds of assign → element-wise mean. Every subspace trains
    * in the SAME pass (one posexplode of the m slices per round — never a
    * pass per subspace), the codeword update is the
    * [[graft.functions.VectorAvg]] (sum, count) aggregate (the
    * `IvfIndex.kmeansCentroids` dataflow: shuffles one buffer per cell,
    * never the member subvectors), and empty cells keep their previous
    * codeword. m×k×(dim/m) floats collect per round — driver-trivial. */
  def trainedCodebooks(corpus: DataFrame, m: Int = 4, k: Int = 16,
                       iters: Int = 2): Array[Array[Array[Float]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cbs = codebooks(corpus, m, k)
    val sub = cbs(0)(0).length
    // the (j, s) slice table depends only on the corpus: materialize it
    // ONCE and re-assign per round (each round re-reads m × |corpus|
    // small arrays instead of re-scanning + re-exploding the corpus)
    val slices = corpus.select(
      posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * sub + 1, sub)): _*)).as(Seq("j", "s")))
      .barrier()
    for (_ <- 1 to iters) {
      val code = coalesce((0 until m).map(j =>
        when(col("j") === j, bestCode(col("s"), cbs(j)))): _*)
      val means = slices.select(col("j"), code.as("c"), col("s"))
        .as[(Int, Int, Array[Float])]
        .groupByKey { case (j, c, _) => (j, c) }
        .mapValues(_._3)
        .agg(graft.functions.VectorAvg.toColumn.name("cw"))
        .collect() // BOUNDED: <= m x k codebook cells
      val next = cbs.map(_.clone())
      means.foreach { case ((j, c), cw) => next(j)(c) = cw }
      cbs = next
    }
    cbs
  }

  /** `(vec_id, codes array<int>)`: the stored form — m small ints per
    * vector (cast to bytes at rest). Encoding is ONE native expression
    * ([[graft.functions.PqEncode]]) — the m×k argmin as primitive loops,
    * not m×k expression subtrees. */
  def encoded(corpus: DataFrame, m: Int = 4, k: Int = 16): DataFrame =
    encodedWith(corpus, codebooks(corpus, m, k))

  /** [[encoded]] under the GIVEN codebooks. */
  def encodedWith(corpus: DataFrame, cbs: Array[Array[Array[Float]]]): DataFrame =
    corpus.select(col("vec_id"),
      graft.functions.pq_encode(col("embedding"), cbs).as("codes"))

  /** `(vec_id, embedding)` with every vector replaced by its PQ
    * reconstruction under the GIVEN codebooks (decode fused with encode —
    * one narrow pass, one native expression; see
    * [[graft.functions.PqReconstruct]]). */
  def reconstructedWith(corpus: DataFrame,
                        cbs: Array[Array[Array[Float]]]): DataFrame =
    corpus.select(col("vec_id"),
      graft.functions.pq_reconstruct(col("embedding"), cbs).as("embedding"))

  /** [[reconstructedWith]] under the deterministic seed codebooks. */
  def reconstructed(corpus: DataFrame, m: Int = 4, k: Int = 16): DataFrame =
    reconstructedWith(corpus, codebooks(corpus, m, k))

  /** ADC-style exact top-k over the PQ-compressed corpus: unquantized
    * queries, reconstructed corpus, the shared bounded-heap ranking. */
  def search(queries: DataFrame, corpus: DataFrame, m: Int = 4, k: Int = 16,
             topK: Int = 5): DataFrame =
    Search.bruteForceTopK(queries, reconstructed(corpus, m, k), topK)

  /** [[search]] under a metadata predicate — filtered retrieval on the
    * 16× compressed layout (tenant / language / license scoping), the
    * PQ leg of the filtered-search matrix. Build-once/filter-many:
    * the codebooks come from the FULL corpus (a new filter never
    * retrains the stored index artifact — the `IvfIndex.searchFiltered`
    * contract), and the predicate cuts which encoded rows are scored.
    * PRE-filter semantics: exactly the top-k of the eligible subset,
    * never under-k; a selective filter makes the ADC scan CHEAPER.
    * Unlike the IVF leg there is no probe-miss recall hazard — PQ
    * scores every eligible row, so quantization error is the only
    * loss, measured by [[recallAuditFiltered]]. */
  def searchFiltered(queries: DataFrame, corpus: DataFrame, pred: Column,
                     m: Int = 4, k: Int = 16, topK: Int = 5): DataFrame =
    Search.bruteForceTopK(queries,
      reconstructedWith(corpus.filter(pred), codebooks(corpus, m, k)), topK)

  /** Recall@topK of [[searchFiltered]] against exact search over the
    * SAME pre-filtered corpus — the PQ face of
    * `IvfIndex.recallAuditFiltered`: a low figure here says "raise m/k
    * or add a refine stage", never "raise nprobe". Denominator = the
    * per-query exact-result count, i.e. `min(topK, eligible rows)`: a
    * selective predicate can leave fewer than topK eligible rows, and
    * perfect retrieval of all of them must read 1.0 (not hits/topK —
    * the misleading under-k convention this audit family avoids).
    * Both sides are bounded top-k outputs, so the audit join is
    * ≤ topK × topK rows per query — trivial at any corpus size. */
  def recallAuditFiltered(queries: DataFrame, corpus: DataFrame,
                          pred: Column, m: Int = 4, k: Int = 16,
                          topK: Int = 5): DataFrame =
    Search.recallAt(Search.bruteForceTopK(queries, corpus.filter(pred), topK),
        searchFiltered(queries, corpus, pred, m, k, topK),
        count(lit(1)).cast("double"))
      .orderBy(col("query_id"))

  /** Two-stage retrieval: PQ ADC shortlist → EXACT re-rank (the "refine"
    * pattern every compressed-index deployment ends with): the cheap
    * compressed scan nominates `nCandidates` per query, then
    * [[Search.refine]] computes true cosine only for shortlist members
    * against the full-precision store. At 100 TB the exact side touches queries × nCandidates rows
    * — the shortlist broadcasts into a hash-join against the corpus (a
    * semi-join-shaped probe, never a second scan-and-score), so the
    * refine step costs a corpus READ of the matched rows only, and the
    * final ranking carries exact scores with PQ's recall profile. */
  def searchRefined(queries: DataFrame, corpus: DataFrame, m: Int = 4,
                    k: Int = 16, nCandidates: Int = 20, topK: Int = 5)
      : DataFrame =
    Search.refine(queries, corpus, search(queries, corpus, m, k, nCandidates),
      topK)

  /** Recall@k audit across the quantization matrix — the PQ twin of
    * [[IvfIndex.recallAudit]] (which covers only the IVF pruning axis).
    * Per query, against the exact brute-force top-k: the seed-codebook PQ,
    * the Lloyd-TRAINED PQ (quantization error is a training artifact, so
    * this is the number that justifies the training pass), and IVFPQ
    * (pruning × compression composed). All four paths are bounded-output
    * top-k aggregates; the audit joins are k-per-query sized. */
  def recallAudit(queries: DataFrame, corpus: DataFrame, m: Int = 4,
                  k: Int = 16, iters: Int = 2, nCentroids: Int = 16,
                  nprobe: Int = 4, topK: Int = 5): DataFrame = {
    val exact = Search.bruteForceTopK(queries, corpus, topK)
      .select(col("query_id"), col("vec_id"))
    def hitsOf(approx: DataFrame, name: String): DataFrame =
      approx.select(col("query_id"), col("vec_id"), lit(1).as(name))
    // each reconstruction is MATERIALIZED once: the seed table feeds two
    // searches (flat PQ + IVFPQ) and every search then scans stored
    // arrays instead of re-running the 64-way argmin encode per pass
    val seedRec = reconstructedWith(corpus, codebooks(corpus, m, k))
      .barrier()
    val trainedRec =
      reconstructedWith(corpus, trainedCodebooks(corpus, m, k, iters))
        .barrier()
    val seed = hitsOf(Search.bruteForceTopK(queries, seedRec, topK),
      "hit_seed")
    val trained = hitsOf(Search.bruteForceTopK(queries, trainedRec, topK),
      "hit_trained")
    val ivfpq = hitsOf(
      IvfIndex.searchPqWith(queries, corpus, seedRec, nCentroids, nprobe,
        topK), "hit_ivfpq")
    def rec(c: Column): Column =
      floor(count(c) / lit(topK.toDouble) * 1e6) / 1e6
    exact
      .join(seed, Seq("query_id", "vec_id"), "left")
      .join(trained, Seq("query_id", "vec_id"), "left")
      .join(ivfpq, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit_seed")).as("n_hits_pq_seed"),
        rec(col("hit_seed")).as("recall_pq_seed"),
        count(col("hit_trained")).as("n_hits_pq_trained"),
        rec(col("hit_trained")).as("recall_pq_trained"),
        count(col("hit_ivfpq")).as("n_hits_ivfpq"),
        rec(col("hit_ivfpq")).as("recall_ivfpq"))
      .orderBy(col("query_id"))
  }

  /** Persist the PQ index: the codebooks (m×k subvectors) and the encoded
    * corpus — `m` small ints per vector instead of `dim` floats. This is
    * the at-rest form whose size advantage the whole scheme exists for:
    * the parquet codes table is ~16× smaller than the float corpus, and a
    * 100 TB embedding store becomes a few TB of codes.
    *
    * The codebooks are collected once and both tables are written from
    * them: three jobs. The write primes [[searchPersisted]]'s resident
    * entry for `path` with the codebooks and the codes schema, stamped
    * with the [[Tables.fingerprint]] of the finished index. */
  def persist(corpus: DataFrame, path: String, m: Int = 4, k: Int = 16)
      : Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbs = codebooks(corpus, m, k)
    cbs.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("j", "c", "cw")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val codes = encodedWith(corpus, cbs)
    codes.write.mode("overwrite").parquet(s"$path/codes")
    resident.prime(path, Tables.fingerprint(spark, path),
      Resident(cbs.map(_.map(_.toSeq).toSeq), bridge.asNullable(codes.schema)))
  }

  /** What [[searchPersisted]] keeps of one persisted index between calls:
    * per subspace its codewords in code order, and the codes schema. */
  private final case class Resident(books: Array[Seq[Seq[Float]]],
                                    codes: StructType)

  /** Indexes kept resident: at most 8, by path and fingerprint. */
  private val resident = new FingerprintCache[Resident](8)

  /** Search a persisted PQ index: scan the CODES table (16× fewer bytes
    * than the float corpus), decode each vector by codebook lookup —
    * the codebooks are folded into `element_at` literals, so decode is a
    * narrow codegen'd pass — and rank on the fused top-k operator
    * ([[Search.fusedTopK]]): one scan, no pair rows, output ordered by
    * (query_id, rank) without a sort.
    *
    * Resident lifecycle: the codebooks (m×k×dim/m floats, bounded by
    * contract) and the codes schema stay on the driver, keyed by the
    * [[Tables.fingerprint]] of `path`, re-checked on every call with one
    * recursive listing; an index rewritten at `path` is read again. A
    * [[persist]] in this JVM primes the entry, so a search after it reads
    * no codebooks and infers no schema. Beyond collecting the queries, a
    * search is one Spark job. */
  def searchPersisted(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, topK: Int = 5): DataFrame = {
    val idx = resident(path, Tables.fingerprint(spark, path)) {
      val cbRows = spark.read.parquet(s"$path/codebooks")
        // BOUNDED: m x k codebook rows
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      val m = cbRows.map(_._1).max + 1
      Resident(Array.tabulate(m)(j =>
          cbRows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq),
        spark.read.parquet(s"$path/codes").schema)
    }
    val parts = idx.books.indices.map(j =>
      element_at(typedLit(idx.books(j)), element_at(col("codes"), j + 1) + 1))
    val decoded = spark.read.schema(idx.codes).parquet(s"$path/codes")
      .select(col("vec_id"), flatten(array(parts: _*)).as("embedding"))
    Search.fusedTopK(queries, decoded, topK)
      .orderBy(col("query_id"), col("rank"))
  }
}
