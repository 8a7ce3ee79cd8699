package graft

import org.apache.spark.sql.functions._
import graft.operators.ProductQuantizer
import graft.sources.Tables

class PqSpec extends SparkSuite {
  import spark.implicits._

  lazy val t = Tables(spark, sfDir)

  test("signTopK: hamming ranking over sign bits, zeros carry no bit") {
    import graft.operators.Search
    // 2-dim sign patterns: [+,+]=11, [-,+]=10, [+,-]=01, [-,-]=00;
    // a zero dim is strictly-positive-gated → no bit (v5 ≡ v1's bits)
    val corpus = Seq(
      (0L, Array(1f, 1f)), (1L, Array(-1f, 1f)), (2L, Array(1f, -1f)),
      (3L, Array(-1f, -1f)), (4L, Array(0.5f, 0.5f)), (5L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val got = Search.signTopK(q, corpus, k = 6).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // hamming to [1,1]: v0=0, v4=0 (same signs), v1=1, v2=1, v5=1, v3=2
    assert(got.toSeq == Seq(
      (1L, 0L, 0L), (2L, 4L, 0L),
      (3L, 1L, 1L), (4L, 2L, 1L), (5L, 5L, 1L),
      (6L, 3L, 2L)), s"got ${got.toSeq}")
  }

  test("signRefined: full shortlist recovers the exact brute-force ranking") {
    import graft.operators.Search
    val q = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val n = t.embeddings.count().toInt
    val refined = Search.signRefined(q, t.embeddings, k = 5, shortlist = n)
      .collect().toSeq
    val exact = Search.bruteForceTopK(q, t.embeddings, 5).collect().toSeq
    assert(refined == exact, "exact rerank over the full shortlist must " +
      "equal brute force bit for bit")
  }

  test("signFiltered: eligible-only, still k, equals sign search over the " +
    "pre-filtered corpus") {
    import graft.operators.Search
    val queries = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val pred = $"label" % 2 === 0
    val got = Search.signFiltered(queries, t.embeddings, pred).collect().toSeq
    val eligible = t.embeddings.filter(pred).select($"vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(2)).forall(eligible.contains),
      "a filtered-out row surfaced in the ranking")
    assert(got.groupBy(_.getLong(0)).values.forall(_.size == 5),
      "pre-filter semantics must still return k rows")
    val expect = Search.signTopK(queries, t.embeddings.filter(pred), 5)
      .collect().toSeq
    assert(got == expect)
  }

  test("searchFiltered: codebooks come from the FULL corpus, not the " +
    "eligible subset (build-once/filter-many)") {
    // m=4 over dim-4 (one coord per subspace), k=2: FULL-corpus seeds are
    // vec 0 and 1, so subspace codewords are {v0[j], v1[j]}. Had the
    // filter leaked into the codebook build, the only eligible seed
    // (vec 1) would be the sole codeword and every eligible row would
    // reconstruct identically — ranking (1, 2, 3) by the id tiebreak.
    // With the full-corpus artifact, vec 2 reconstructs to [2,1,1,1]
    // (near the query) and must rank FIRST.
    val corpus = Seq(
      (0L, 1, Array(2f, 1f, 1f, 1f)), // seed, INELIGIBLE (odd label)
      (1L, 0, Array(1f, 2f, 2f, 2f)), // seed, eligible
      (2L, 0, Array(3f, 1f, 1f, 1f)),
      (3L, 0, Array(1f, 3f, 3f, 3f)))
      .toDF("vec_id", "label", "embedding")
    val queries = Seq((2L, Array(3f, 1f, 1f, 1f))).toDF("query_id", "qv")
    val got = ProductQuantizer.searchFiltered(
      queries, corpus, $"label" % 2 === 0, m = 4, k = 2, topK = 3)
      .collect().map(_.getLong(2)).toSeq
    assert(got == Seq(2L, 1L, 3L), s"got $got — codebook build saw the filter?")
    // and the eligible-only / still-k contract holds
    assert(!got.contains(0L))
  }

  test("recallAuditFiltered: under-k eligible set reads recall 1.0 " +
    "(denominator = exact-result count, not fixed k)") {
    val queries = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // exactly ONE eligible row at sf0.001 (vec 1) — and it is a seed
    // vector, so PQ reconstructs it exactly: perfect scoped retrieval
    val pred = $"label" % 2 === 0 && $"vec_id" < 3
    val rows = ProductQuantizer.recallAuditFiltered(
      queries, t.embeddings, pred, topK = 5).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) == 1L, s"n_hits ${r.getLong(1)} != 1")
      assert(r.getDouble(2) == 1.0,
        s"perfect under-k retrieval read recall ${r.getDouble(2)}")
    }
  }

  test("seed vectors reconstruct exactly (their subvectors ARE codewords)") {
    val rec = ProductQuantizer.reconstructed(t.embeddings, m = 4, k = 16)
      .filter($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0))
    val orig = t.embeddings.filter($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0))
    assert(rec.length == 16)
    rec.zip(orig).foreach { case (r, o) => assert(r == o) }
  }

  test("codes are m small ints in [0, k) — the 16x-compression invariant") {
    val enc = ProductQuantizer.encoded(t.embeddings, m = 4, k = 16)
    val codes = enc.select($"codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(_.length == 4))
    assert(codes.forall(_.forall(c => c >= 0 && c < 16)))
  }

  test("ADC search: k rows per query, positive recall vs exact top-k") {
    val queries = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val approx = ProductQuantizer.search(queries, t.embeddings, topK = 5)
    val perQuery = approx.groupBy($"query_id").count()
      .collect().map(_.getLong(1))
    assert(perQuery.length == 5 && perQuery.forall(_ == 5L))
    // PQ at m=4 is lossy, but each query's own vector neighborhood should
    // still surface: average recall@5 vs exact must beat random
    val exact = operators.Search.bruteForceTopK(queries, t.embeddings, 5)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = approx.select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    assert(hits >= 5, s"recall too low: $hits/25 exact matches")
  }

  test("trained codebooks cut quantization error vs the seed codebooks") {
    // Lloyd training minimizes exactly the per-subspace squared
    // reconstruction error, so total corpus error must not increase —
    // the property that justifies the training pass (recall is the
    // user-facing echo of it, audited end-to-end by q_pq_recall's oracle)
    def mse(cbs: Array[Array[Array[Float]]]): Double =
      ProductQuantizer.reconstructedWith(t.embeddings, cbs)
        .withColumnRenamed("embedding", "rec")
        .join(t.embeddings, Seq("vec_id"))
        .select(aggregate(
          zip_with($"embedding", $"rec", (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("e"))
        .agg(sum($"e")).head().getDouble(0)
    val seedErr = mse(ProductQuantizer.codebooks(t.embeddings, 4, 16))
    val trainedErr =
      mse(ProductQuantizer.trainedCodebooks(t.embeddings, 4, 16, iters = 3))
    assert(trainedErr < seedErr,
      s"training must reduce reconstruction error: $trainedErr vs $seedErr")
  }

  test("ivfpq: pruned+compressed search keeps k rows with usable recall") {
    val queries = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val got = operators.IvfIndex.searchPq(queries, t.embeddings,
      nCentroids = 16, nprobe = 4, k = 5)
    val perQuery = got.groupBy($"query_id").count().collect()
    assert(perQuery.length == 5 && perQuery.forall(_.getLong(1) == 5L))
    val exact = operators.Search.bruteForceTopK(queries, t.embeddings, 5)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = got.select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    assert(hits >= 5, s"ivfpq recall too low: $hits/25")
  }

  test("ivfpq: full probe equals PQ brute force over the same codebooks exactly") {
    val queries = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // probing every centroid = no pruning: must equal the ADC brute-force
    // ranking over the same seed-codebook reconstructions row for row
    val full = operators.IvfIndex.searchPq(queries, t.embeddings,
      nCentroids = 16, nprobe = 16, k = 5).collect().toSeq
    val brute = ProductQuantizer.search(queries, t.embeddings, topK = 5)
      .collect().toSeq
    assert(full.length == 25)
    assert(full == brute)
  }

  test("persisted codes serve the identical search result, smaller at rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    ProductQuantizer.persist(t.embeddings, dir)
    val queries = t.embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val fromCodes = ProductQuantizer.searchPersisted(spark, dir, queries)
      .collect().toSeq
    val fused = ProductQuantizer.search(queries, t.embeddings).collect().toSeq
    assert(fromCodes == fused, "layout changed the search result")
    // the at-rest win: the codes table is much smaller than the corpus
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length
      walk(new java.io.File(p))
    }
    val corpusBytes = bytes(s"$sfDir/embeddings.parquet")
    val codesBytes = bytes(s"$dir/codes")
    assert(codesBytes < corpusBytes / 2,
      s"codes $codesBytes not smaller than corpus $corpusBytes")
  }

  test("reconstruction is a narrow plan: no exchange before the output") {
    val plan = planOf(ProductQuantizer.reconstructed(t.embeddings))
    assert(!plan.contains("Exchange"), plan)
  }
}
