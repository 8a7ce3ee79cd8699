package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.Search

/** The fused top-k operators answer exactly as the declarative plans
  * they stand for, on every kind of vector. */
class FusedTopKSpec extends SparkSuite {
  import spark.implicits._

  private def v(xs: Float*): Array[Float] = xs.toArray

  /** Vectors of mixed lengths, zero, empty, NaN and null, in `s`. */
  private def corpusIn(s: SparkSession): DataFrame = s.createDataFrame(Seq[(java.lang.Long, Array[Float])](
    (1L, v(1f, 1f)), (2L, v(1f, 0f, 0f, 0f)), (3L, v(0.2f, 1f, 0f, 0f)),
    (4L, v(0f, 0f, 0f, 0f)), (5L, v(Float.NaN, 1f, 0f, 0f)), (6L, null),
    (7L, v(1f, 0f, 5f, 0f, 3f)), (8L, v()), (9L, v(0f, 1f)), (null, v(1f, 0f, 5f, 0f))))
    .toDF("vec_id", "embedding")

  private def queriesIn(s: SparkSession): DataFrame = s.createDataFrame(Seq[(java.lang.Long, Array[Float])](
    (10L, v(1f, 0f, 5f, 0f)), (11L, v(1f, 1f)), (11L, v(0f, 1f)), (12L, v(0f, 0f, 0f, 0f)),
    (13L, null), (14L, v(Float.NaN, 0f, 0f, 0f)), (15L, v(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)),
    (16L, v(0f, 1f, 0f))))
    .toDF("query_id", "qv")

  private lazy val corpus: DataFrame = corpusIn(spark)
  private lazy val queries: DataFrame = queriesIn(spark)

  test("fusedTopK and auto-fused bruteForceTopK equal the plain plan on mixed, " +
    "zero, NaN and null vectors") {
    // the opt-in rewrite of the reference plan lives in a session of its own
    val auto = spark.newSession()
    Search.installAutoFusion(auto)
    Seq(1, 3, 10).foreach { k =>
      val plain = Search.bruteForceTopK(queries, corpus, k).collect().toSeq
      assert(Search.fusedTopK(queries, corpus, k).collect().toSeq == plain, s"fused, k=$k")
      val fused = Search.bruteForceTopK(queriesIn(auto), corpusIn(auto), k)
      assert(planOf(fused).contains("VectorTopKJoin") && planOf(fused).contains("grouped"),
        planOf(fused))
      assert(fused.collect().toSeq == plain, s"auto-fused, k=$k")
    }
    // norms over the common prefix: [1,1] scores 1/√26 ≈ 0.196 against
    // [1,0,5,0], below [1,0,0,0]'s prefix cosine 1/√2
    val top = Search.fusedTopK(queries.filter($"query_id" === 10L),
      corpus.filter($"vec_id" <= 3L), 3).collect().map(_.getLong(2)).toSeq
    assert(top == Seq(1L, 2L, 3L), top)
  }

  test("thresholdRetrieval equals its declarative top-1 and plans no sort or exchange") {
    def declarative(maxDistance: Double): Seq[Row] = {
      val best = try_element_at(col("topk"), lit(1))
      corpus.crossJoin(broadcast(queries))
        .select($"query_id", $"vec_id", cosine_similarity($"qv", $"embedding").as("sim"))
        .groupBy($"query_id")
        .agg(top_k_by_score($"sim", $"vec_id", 1).as("topk"))
        .select($"query_id", best.getField("id").as("best_id"),
          (floor(best.getField("score") * 1e6) / 1e6).as("best_score"),
          coalesce(lit(1.0) - best.getField("score") < maxDistance, lit(false)).as("accepted"))
        .orderBy($"query_id").collect().toSeq
    }
    Seq(0.4, 0.9).foreach { d =>
      val got = Search.thresholdRetrieval(queries, corpus, d)
      assert(got.collect().toSeq == declarative(d), s"maxDistance $d")
      val plan = planOf(got)
      assert(plan.contains("VectorTopKJoin") && !plan.contains("Sort") &&
        !plan.contains("Exchange"), plan)
    }
  }

  test("fused output is ordered by query id across merge partitions") {
    val e = sources.Tables(spark, sfDir).embeddings
    val many = e.filter($"vec_id" < 200)
      .select(($"vec_id" * -7 % 131).as("query_id"), $"embedding".as("qv"))
    val got = Search.fusedTopK(many, e, 2).collect().toSeq
    assert(got == Search.bruteForceTopK(many, e, 2).collect().toSeq)
    val gated = Search.thresholdRetrieval(many, e).collect().map(_.getLong(0)).toSeq
    assert(gated == gated.sorted && gated.distinct.length == gated.length)
  }
}
