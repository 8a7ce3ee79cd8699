package graft

import scala.util.control.NonFatal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel
import graft.functions._
import graft.functions.TextFunctions.preprocess
import graft.operators.Search
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
  * the reference's sentence-transformer model; the search path (broadcast
  * query × corpus scan × bounded top-k) is the part that must scale.
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

  private def vectors(index: DataFrame): DataFrame =
    index.select(col("vec_id"), col("embedding"))

  private def queryVector(queryText: String): DataFrame =
    spark.range(0, 1, 1, 1).select(
      col("id").as("query_id"),
      hash_embed(preprocess(lit(queryText)), dim).as("qv"))

  /** Reference: controllers/search_controller.py — k capped at 20, query
    * length capped at 500 chars, score = 1 - cosine distance. */
  def search(queryText: String, k: Int = 3): DataFrame = {
    require(queryText.trim.nonEmpty, "Query parameter 'q' is required")
    require(queryText.length <= 500, "Query text is too long (max 500 characters)")
    val kk = math.min(k, 20)
    val idx = index().frame
    val top = Search.bruteForceTopK(queryVector(queryText), vectors(idx), kk)
    // the k hits are broadcast, never the corpus side
    idx.select(col("vec_id"), col("text")).join(broadcast(top), Seq("vec_id"))
      .select(col("rank"), col("vec_id").as("doc_id"), col("score"),
        col("text").as("description"))
      .orderBy(col("rank"))
  }

  /** Reference: qa_service.get_product_context_from_query — best match,
    * kept only when cosine distance < 0.4. */
  def qaContext(queryText: String): DataFrame =
    Search.thresholdRetrieval(queryVector(queryText), vectors(index().frame),
      maxDistance = 0.4)

  /** Reference: controllers/health_controller.py — data reachable and
    * index non-empty; `false`, never an exception, when the corpus is
    * missing or unreadable. */
  def healthCheck(): Boolean =
    try index().size > 0
    catch { case NonFatal(_) => false }
}
