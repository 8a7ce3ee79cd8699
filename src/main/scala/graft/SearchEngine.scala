package graft

import scala.util.control.NonFatal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel
import graft.functions._
import graft.functions.TextFunctions.preprocess
import graft.sources.Tables

/** API-level facade: the reference's HTTP surface re-expressed as batch
  * operators over DataFrames.
  *
  * | reference endpoint            | here            |
  * |-------------------------------|-----------------|
  * | POST /refresh-index           | automatic: the resident index is rebuilt on the first request after `documents.parquet` changes; [[buildIndex]] is the batch build |
  * | GET /search?q=&k=             | [[search]]      |
  * | /qa context retrieval (top-1, dist<0.4) | [[qaContext]] |
  * | GET /health                   | [[healthCheck]] |
  *
  * Embeddings use the deterministic hashing-trick encoder standing in for
  * the reference's sentence-transformer model; the search path (literal
  * query × resident-index scan × bounded sort) is the part that must scale.
  *
  * '''Resident index.''' [[search]], [[qaContext]] and [[healthCheck]]
  * serve from one materialized `(vec_id, embedding, text)` relation,
  * embedded with the same expression as [[buildIndex]] — the reference
  * builds its index once and serves every request from it
  * (services/index_service.py:55-114). Its lifecycle:
  *  - built on the first request: one scan and embed of `documents`. A
  *    warm request reads no parquet, re-embeds nothing and launches no
  *    Spark job before its DataFrame is returned;
  *  - keyed by the [[Tables.fingerprint]] of `documents.parquet`,
  *    re-checked on every request with one file listing. A corpus
  *    rewritten at the same path, on any Hadoop FileSystem, is rebuilt on
  *    its next request and the old blocks are released, so no
  *    refresh call exists or is needed;
  *  - persisted MEMORY_AND_DISK with its lineage kept: a lost block is
  *    recomputed from the corpus, and an index whose blocks were
  *    unpersisted (`graft.Bench` sweeps every persisted RDD between
  *    queries) is rebuilt on the next request;
  *  - built under the engine's lock, so concurrent first requests build
  *    it once.
  *
  * '''Request plan: one job.''' A warm [[search]] or [[qaContext]] is one
  * Spark job in total. The query vector is folded on the driver into a
  * literal, and the resident rows go through one bounded sort,
  * `orderBy(sim desc, vec_id).limit(n)` (`TakeOrderedAndProject`): no
  * cross join, no aggregate shuffle, no join back to the texts and no
  * range sort of the result.
  */
final class SearchEngine(spark: SparkSession, dir: String, dim: Int = 64) {
  private val t = Tables(spark, dir)

  private def embedding: Column =
    hash_embed(preprocess(col("text")), dim).as("embedding")

  /** Clean + embed every document (reference: init_index_service /
    * refresh_index, services/index_service.py:55-114). */
  def buildIndex(): DataFrame =
    t.documents.select(
      col("doc_id"),
      preprocess(col("text")).as("clean_text"),
      embedding)

  /** The materialized index, the corpus fingerprint it was built from, its
    * persisted blocks and its row count. */
  private final case class Resident(fingerprint: String, frame: DataFrame,
                                    blocks: RDD[_], size: Long)
  private var resident: Option[Resident] = None

  /** The resident index, rebuilt first when the corpus fingerprint moved
    * or its blocks were unpersisted. */
  private def index(): Resident = synchronized {
    val fp = t.fingerprint("documents")
    resident.filter(r => r.fingerprint == fp &&
        spark.sparkContext.getPersistentRDDs.contains(r.blocks.id))
      .getOrElse {
        resident.foreach(_.blocks.unpersist(blocking = false))
        resident = None
        val (frame, blocks) = bridge.persisted(
          t.documents.select(col("doc_id").as("vec_id"), embedding, col("text")),
          StorageLevel.MEMORY_AND_DISK)
        val size =
          try blocks.count()
          catch { case e: Throwable => blocks.unpersist(blocking = false); throw e }
        val r = Resident(fp, frame, blocks, size)
        resident = Some(r)
        r
      }
  }

  /** The query's embedding as a literal vector: `hash_embed(preprocess(
    * lit(text)), dim)` is analyzed and evaluated on the driver, so no job
    * runs and the corpus scan compares against a constant. */
  private def queryVector(queryText: String): Column = {
    val e = bridge.planOf(spark.range(1).select(
      hash_embed(preprocess(lit(queryText)), dim))).expressions.head
    bridge.column(Literal(e.eval(), e.dataType))
  }

  /** The `n` resident rows most similar to the query, best first, with
    * `sim`: one bounded sort (`TakeOrderedAndProject`) by sim desc, then
    * vec_id asc, after dropping null ids and null or NaN sims — the order
    * and the skips of `top_k_by_score`, without its shuffle. */
  private def ranked(queryText: String, n: Int): DataFrame = {
    val sim = cosine_similarity(queryVector(queryText), col("embedding"))
    index().frame
      .select(col("vec_id"), col("text"), sim.as("sim"))
      .filter(col("vec_id").isNotNull && col("sim").isNotNull && !isnan(col("sim")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(n)
  }

  private def floored(c: Column): Column = floor(c * 1e6) / 1e6

  /** Reference: controllers/search_controller.py — k capped at 20, query
    * length capped at 500 chars, score = 1 - cosine distance. The hits
    * come out of the sort in one partition, in rank order, so
    * `monotonically_increasing_id` numbers them 0, 1, … without a window. */
  def search(queryText: String, k: Int = 3): DataFrame = {
    require(queryText.trim.nonEmpty, "Query parameter 'q' is required")
    require(queryText.length <= 500, "Query text is too long (max 500 characters)")
    ranked(queryText, math.min(k, 20))
      .select((monotonically_increasing_id() + 1).as("rank"),
        col("vec_id").as("doc_id"), floored(col("sim")).as("score"),
        col("text").as("description"))
  }

  /** Reference: qa_service.get_product_context_from_query — best match,
    * kept only when cosine distance < 0.4. The columns of
    * `Search.thresholdRetrieval` for one query; no row for an empty
    * corpus. */
  def qaContext(queryText: String): DataFrame =
    ranked(queryText, 1).select(lit(0L).as("query_id"),
      col("vec_id").as("best_id"), floored(col("sim")).as("best_score"),
      (lit(1.0) - col("sim") < 0.4).as("accepted"))

  /** Reference: controllers/health_controller.py — data reachable and
    * index non-empty; `false`, never an exception, when the corpus is
    * missing or unreadable. */
  def healthCheck(): Boolean =
    try index().size > 0
    catch { case NonFatal(_) => false }
}
