package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.cosine_similarity
import graft.plans.ResidentTopK

/** `ResidentTopK` against the operator chain `SearchEngine` served
  * requests with before it: score, drop null ids and null or NaN sims,
  * `orderBy(sim desc, vec_id).limit(n)`, then the request's columns. */
class ResidentTopKSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("text", StringType)))

  private def v(xs: Float*): Array[Float] = xs.toArray

  /** Null id, null embedding, NaN embedding, zero vector, null text and
    * ties: ids 9 and 4 share an embedding (and 12, 2 and 30 another), in
    * different partitions. */
  private val rows: Seq[Row] = Seq(
    Row(9L, v(1, 2, 0, 0), "nine"),
    Row(null, v(1, 0, 0, 0), "no id"),
    Row(5L, null, "no embedding"),
    Row(6L, v(Float.NaN, 1, 0, 0), "nan"),
    Row(7L, v(0, 0, 0, 0), "zero"),
    Row(12L, v(0, 0, 3, 1), "twelve"),
    Row(1L, v(1, 0, 0, 0), null),
    Row(4L, v(1, 2, 0, 0), "four"),
    Row(30L, v(0, 0, 3, 1), "thirty"),
    Row(3L, v(-1, 0.5f, 0, 2), "three"),
    Row(2L, v(0, 0, 3, 1), "two"),
    Row(8L, v(0.25f, 0.5f, 0, 0), "eight"),
    Row(11L, v(1, 1, 1), "short"))

  private def relation(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)

  /** The chain the node replaces, written out as `SearchEngine` had it. */
  private def chain(frame: DataFrame, qv: Array[Float], n: Int,
                    shape: ResidentTopK.Shape): DataFrame = {
    val sim = cosine_similarity(typedLit(qv.toSeq), col("embedding"))
    val ranked = frame
      .select(col("vec_id"), col("text"), sim.as("sim"))
      .filter(col("vec_id").isNotNull && col("sim").isNotNull && !isnan(col("sim")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(n)
    val floored = floor(col("sim") * 1e6) / 1e6
    shape match {
      case ResidentTopK.Ranked => ranked.select(
        (monotonically_increasing_id() + 1).as("rank"), col("vec_id").as("doc_id"),
        floored.as("score"), col("text").as("description"))
      case ResidentTopK.Gated => ranked.select(lit(0L).as("query_id"),
        col("vec_id").as("best_id"), floored.as("best_score"),
        (lit(1.0) - col("sim") < 0.4).as("accepted"))
    }
  }

  private def node(frame: DataFrame, qv: Array[Float], n: Int,
                   shape: ResidentTopK.Shape): DataFrame = {
    val blocks = bridge.persisted(frame, StorageLevel.MEMORY_ONLY)
    bridge.ofRows(spark, ResidentTopK(blocks, qv, n, shape))
  }

  private val queries = Seq(
    v(1, 2, 0, 0),        // ties 4 and 9 at sim 1
    v(0, 0, 3, 1),        // ties 2, 12 and 30 at sim 1
    v(0.3f, -0.7f, 0.2f, 0.9f),
    v(0, 0, 0, 0),        // every sim 0: ids break every tie
    v(-1, 0, 0, 0))

  test("ResidentTopK equals the filter/orderBy/limit chain row for row") {
    val frame = relation(rows)
    assert(frame.rdd.getNumPartitions >= 2)
    for (qv <- queries; n <- Seq(1, 2, 3, 5, 40);
         shape <- Seq(ResidentTopK.Ranked, ResidentTopK.Gated)) {
      val nn = if (shape == ResidentTopK.Gated) 1 else n
      val want = chain(frame, qv, nn, shape)
      val got = node(frame, qv, nn, shape)
      assert(got.schema == want.schema, s"$shape schema")
      val wantRows = want.collect().toSeq
      assert(got.collect().toSeq == wantRows, s"$shape n=$nn qv=${qv.toSeq}")
      // execute(): the node under other operators
      assert(got.union(got).collect().toSeq == wantRows ++ wantRows)
      assert(got.count() == wantRows.length)
    }
  }

  test("ResidentTopK over more rows than n, fewer rows than n and no rows") {
    val big = relation((0 until 200).map(i =>
      Row(i.toLong, v((i % 7).toFloat, (i % 3).toFloat, 1, (i % 5).toFloat), s"t$i")))
    val empty = relation(Nil)
    for (frame <- Seq(big, empty); qv <- queries; n <- Seq(1, 20, 250)) {
      val want = chain(frame, qv, n, ResidentTopK.Ranked).collect().toSeq
      assert(node(frame, qv, n, ResidentTopK.Ranked).collect().toSeq == want)
    }
    assert(node(empty, queries.head, 5, ResidentTopK.Gated).collect().isEmpty)
  }

  test("ResidentTopK's columns are SearchEngine's search and qaContext columns") {
    val e = new SearchEngine(spark, sfDir)
    val frame = relation(rows)
    assert(e.search("table scan", 5).schema ==
      chain(frame, queries.head, 5, ResidentTopK.Ranked).schema)
    assert(e.qaContext("table scan").schema ==
      chain(frame, queries.head, 1, ResidentTopK.Gated).schema)
  }
}
