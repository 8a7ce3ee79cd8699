package graft

import graft.operators._
import graft.sources.Tables

/** Plan-shape gates: the 100 TB story lives or dies here — filters reach
  * the scan, dims broadcast, the hot path stays in whole-stage codegen,
  * top-k partially aggregates map-side. */
class PlanSpec extends SparkSuite {

  lazy val t = Tables(spark, sfDir)

  test("SQL window top-k auto-fuses into the bounded-heap operator") {
    // the user writes plain ROW_NUMBER-over-cross-join SQL; the engine
    // must plan VectorTopKJoin's grouped shape (one corpus scan, per-query
    // heaps) and return exactly the rows the declarative window form returns
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_sql_search")(spark, sfDir)
    assert(planOf(df).contains("VectorTopKJoin") && planOf(df).contains("grouped"),
      s"window pattern not fused:\n${planOf(df)}")
    assert(!planOf(df).contains("CartesianProduct"))
    val fused = df.collect().toSeq
    // the plain plan comes from a new session: graft's functions, no rules
    val bare = spark.newSession()
    GraftSql.register(bare)
    Tables(bare, sfDir, spread = true).embeddings.createOrReplaceTempView("embeddings_v")
    val plain = bare.sql("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings_v WHERE vec_id < 3),
      sims AS (SELECT query_id, vec_id, cosine_similarity(qv, embedding) AS sim
               FROM embeddings_v CROSS JOIN q),
      r AS (SELECT query_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
            FROM sims)
      SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id,
             floor(sim*1e6)/1e6 AS score
      FROM r WHERE rn <= 3 ORDER BY query_id, rank""")
    assert(!planOf(plain).contains("VectorTopKJoin"))
    assert(plain.collect().toSeq == fused,
      "fusion must be invisible in the result")
  }

  test("SQL window top-k fusion keeps the rn <= k constraint") {
    // the rewrite replaces the Window, not its filter: plans above it
    // still know rn <= k, so they prune the filters it implies
    import org.apache.spark.sql.catalyst.expressions.{LessThanOrEqual, Literal}
    Tables(spark, sfDir, spread = true).embeddings.createOrReplaceTempView("embeddings_v")
    val plan = spark.sql("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings_v WHERE vec_id < 3),
      sims AS (SELECT query_id, vec_id, cosine_similarity(qv, embedding) AS sim
               FROM embeddings_v CROSS JOIN q)
      SELECT * FROM (SELECT query_id, vec_id, sim,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        FROM sims) WHERE rn <= 3""").queryExecution.optimizedPlan
    assert(plan.exists(_.isInstanceOf[plans.VectorTopKJoin]), plan)
    val rn = plan.output.find(_.name == "rn").get
    assert(plan.constraints.exists(_.semanticEquals(LessThanOrEqual(rn, Literal(3)))),
      plan.constraints)
  }

  test("SQL auto-fusion skips a window that carries extra columns (q_mmr)") {
    // mmrRerank's candidate window keeps `embedding` beside (qid, vid,
    // sim); fusing it dropped that column, so q_mmr failed whenever
    // the window rule was installed
    val mmr = SparkEntry.queries("q_mmr")
    val withRule = mmr(spark, sfDir).collect().toSeq
    assert(withRule.nonEmpty)
    assert(mmr(spark.newSession(), sfDir).collect().toSeq == withRule)
  }

  test("selective filter is pushed to the parquet scan (q6)") {
    val plan = planOf(Relational.forecastRevenue(t))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_quantity"), plan)
  }

  test("column pruning: q6 scan reads only the 4 needed columns") {
    val plan = planOf(Relational.forecastRevenue(t))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("star join broadcasts the dimension tables (q2)") {
    val plan = planOf(Relational.revenueByNation(t))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("pricing summary runs inside whole-stage codegen (q1)") {
    val df = Relational.pricingSummary(t)
    df.collect() // materialize THIS plan so AQE finalizes it
    val plan = planOf(df) // formatted explain of the final plan has codegen ids
    assert(plan.contains("[codegen id :"), plan)
  }

  test("brute-force knn: queries broadcast + map-side partial top-k") {
    val queries = t.embeddings.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qv"))
    val plan = planOf(Search.bruteForceTopK(queries, t.embeddings, 5))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_top_k_by_score"), plan)
  }

  test("tfidf vocabulary join carries no broadcast hint (unbounded table)") {
    // the df (vocabulary) table is unbounded in corpus size; a static
    // broadcast hint would OOM executors at 100 TB. AQE may still choose a
    // runtime broadcast when the measured size is small — that's adaptive
    // and fine; the LOGICAL plan must not force it.
    val optimized = Embeddings.tfidfVectors(t.documents)
      .queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("broadcast"), optimized)
  }

  test("decontaminate probes via a broadcast of the bench gram set") {
    // the training side must never shuffle for the overlap probe: the
    // benchmark set is bounded by contract, so its distinct grams
    // broadcast and the corpus-side join is map-side
    import org.apache.spark.sql.functions.col
    val docs = t.documents
    val plan = planOf(operators.Pipeline.decontaminate(
      docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100)))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("kmv sketch partially aggregates map-side (k longs per partition)") {
    val plan = planOf(SparkEntry.queries("q_distinct_sketch")(spark, sfDir))
    // partial sketch before the exchange: each partition ships one
    // serialized k-minima buffer, never its token hashes. The exact
    // column rides the two-level (shard, h) pre-aggregation instead of
    // COUNT(DISTINCT), so the plan is a plain 2-phase agg (partial +
    // final), not the 4-phase distinct rewrite with its PartialMerge.
    assert(plan.contains("partial_kmv_distinct"), plan)
    assert(plan.contains("kmv_distinct(h"), plan)
    assert(!plan.contains("merge_kmv_distinct"), plan)
  }

  test("grouped top-k rewrites into WindowGroupLimit (map-side rank cap)") {
    val plan = planOf(Relational.topPartsPerBrand(t))
    // both the Partial (map-side, pre-exchange) and Final phases must
    // appear: each task keeps its local top-k per brand before shuffling
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
  }

  test("histogram quantiles bound the true percentile within one bin") {
    import org.apache.spark.sql.functions.col
    val approx = Relational.histogramQuantiles(t)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val exact = t.events.groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.percentile(col("value"),
        org.apache.spark.sql.functions.lit(0.5)).as("p50"),
        org.apache.spark.sql.functions.percentile(col("value"),
          org.apache.spark.sql.functions.lit(0.95)).as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (ty, (p50, p95)) =>
      val (lo50, lo95) = approx(ty)
      assert(p50 >= lo50 - 8 && p50 <= lo50 + 8, s"$ty p50=$p50 lo=$lo50")
      assert(p95 >= lo95 - 8 && p95 <= lo95 + 8, s"$ty p95=$p95 lo=$lo95")
    }
  }

  test("exact dedup aggregates map-side before the shuffle") {
    val plan = planOf(Dedup.exactGroups(t))
    assert(plan.contains("HashAggregate"), plan)
    // partial aggregation: two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("bucketed fact-fact join: orderkey join runs with no Exchange") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-facts").toString
    Relational.persistBucketedFacts(t, "graft_t_orders_b",
      "graft_t_lineitem_b", dir)
    try {
      val df = Relational.bucketedOrderRevenue(spark,
        "graft_t_orders_b", "graft_t_lineitem_b")
      val plan = planOf(df)
      assert(plan.contains("SortMergeJoin"), plan)
      // the rollup/sort after the join may shuffle; the JOIN KEYS never do
      assert(!plan.contains("hashpartitioning(l_orderkey") &&
        !plan.contains("hashpartitioning(o_orderkey"),
        s"bucketed join re-shuffled a fact table:\n$plan")
      // the layout must be invisible in the answer
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      val raw = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          count_distinct(col("o_orderkey")).as("n_orders"),
          sum(dec(col("l_extendedprice")) *
            (lit(1) - dec(col("l_discount")))).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
      assert(df.collect().toSeq == raw.collect().toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_t_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_t_lineitem_b")
    }
  }

  test("merge upsert: broadcast anti join — the base table never shuffles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val updates = t.orders.filter($"o_orderkey" % 100 === 0)
      .withColumn("o_orderstatus", lit("U"))
    val merged = Relational.mergeOrders(t.orders, updates)
    val plan = planOf(merged)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"anti join must broadcast the update batch:\n$plan")
    assert(!plan.contains("hashpartitioning(o_orderkey"),
      s"merge must not shuffle the base:\n$plan")
    // pure UPDATE batch: row count preserved, every targeted key replaced
    assert(merged.count() == t.orders.count())
    assert(merged.filter($"o_orderkey" % 100 === 0 &&
      $"o_orderstatus" =!= "U").count() == 0)
    // INSERT: a new key grows the table by exactly one
    val ins = t.orders.limit(1).withColumn("o_orderkey", lit(999999999L))
    assert(Relational.mergeOrders(t.orders, ins).count() ==
      t.orders.count() + 1)
  }

  test("day-partitioned events: the date predicate prunes at the directory") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evdays").toString
    Relational.persistPartitionedEvents(t, dir)
    val df = Relational.prunedDailyEvents(spark, dir)
    val plan = planOf(df)
    // pruning must be a PARTITION filter (directory-level), not a data
    // filter evaluated per row after the scan
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"no partition filter in scan:\n$plan")
    // and the layout is invisible in the answer
    val raw = t.events.filter(to_date($"ts") === lit("2024-01-15").cast("date"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), count_distinct($"user_id").as("n_users"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy($"event_type")
    assert(df.collect().toSeq == raw.collect().toSeq)
  }
}
