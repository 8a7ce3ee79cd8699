package graft

import scala.util.control.NonFatal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.functions.TextFunctions.preprocess
import graft.plans.ResidentTopK
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
  * the reference's sentence-transformer model; the search path (query
  * vector × resident-index scan × bounded heap) is the part that must
  * scale.
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
  * '''Request plan: one leaf node, one job.''' A warm [[search]] or
  * [[qaContext]] is one logical node, [[graft.plans.ResidentTopK]], whose
  * output is the request's final columns; [[graft.plans.ResidentTopKStrategy]]
  * (in [[GraftSql]]'s list, installed when the engine is made) plans it into
  * one exec that ranks the resident blocks and merges the partition heads
  * on the driver in exactly one Spark job, submitted without closure
  * cleaning. No projection, sort or generated code sits above it. The query vector comes from one bound
  * `hash_embed(preprocess(text), dim)` expression per engine, analyzed
  * once and evaluated per request without a Dataset.
  *
  * '''Thread safety.''' Requests may run concurrently on one engine. The
  * index build runs under the engine's lock; the bound query expression
  * holds Spark's `RegExpReplace`, which keeps mutable state for
  * interpreted evaluation, so it is only evaluated under its own lock.
  */
final class SearchEngine(spark: SparkSession, dir: String, dim: Int = 64) {
  GraftSql.install(spark)
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

  /** The persisted `(vec_id, embedding, text)` blocks, the corpus
    * fingerprint they were built from and their row count. */
  private final case class Resident(fingerprint: String,
                                    blocks: RDD[InternalRow], size: Long)
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
        val blocks = bridge.persisted(
          t.documents.select(col("doc_id").as("vec_id"), embedding, col("text")),
          StorageLevel.MEMORY_AND_DISK)
        val size =
          try blocks.count()
          catch { case e: Throwable => blocks.unpersist(blocking = false); throw e }
        val r = Resident(fp, blocks, size)
        resident = Some(r)
        r
      }
  }

  /** `hash_embed(preprocess(text), dim)`, analyzed once against a
    * one-column string input and bound to its ordinal. `RegExpReplace`
    * keeps mutable state for interpreted evaluation, so the expression is
    * only ever evaluated under its own lock. */
  private lazy val queryEmbedding: Expression = {
    val plan = bridge.planOf(spark.createDataFrame(
        java.util.List.of[Row](), StructType(Seq(StructField("text", StringType))))
      .select(hash_embed(preprocess(col("text")), dim)))
    BindReferences.bindReference(plan.expressions.head, plan.children.head.output)
  }

  /** The query's embedding, evaluated on the driver: no Dataset, no
    * analysis and no job per request. */
  private[graft] def queryVector(queryText: String): Array[Float] = {
    val e = queryEmbedding
    e.synchronized {
      e.eval(InternalRow(UTF8String.fromString(queryText)))
        .asInstanceOf[ArrayData].toFloatArray()
    }
  }

  /** One request as one leaf node over the resident blocks: the `n` rows
    * most similar to the query, in `shape`'s final columns. */
  private def request(queryText: String, n: Int,
                      shape: ResidentTopK.Shape): DataFrame =
    bridge.ofRows(spark,
      ResidentTopK(index().blocks, queryVector(queryText), n, shape))

  /** Reference: controllers/search_controller.py — k capped at 20, query
    * length capped at 500 chars, score = 1 - cosine distance. */
  def search(queryText: String, k: Int = 3): DataFrame = {
    require(queryText.trim.nonEmpty, "Query parameter 'q' is required")
    require(queryText.length <= 500, "Query text is too long (max 500 characters)")
    require(k >= 0, s"k must be >= 0, got $k")
    request(queryText, math.min(k, 20), ResidentTopK.Ranked)
  }

  /** Reference: qa_service.get_product_context_from_query — best match,
    * kept only when cosine distance < 0.4. The columns of
    * `Search.thresholdRetrieval` for one query; no row for an empty
    * corpus. */
  def qaContext(queryText: String): DataFrame =
    request(queryText, 1, ResidentTopK.Gated)

  /** Reference: controllers/health_controller.py — data reachable and
    * index non-empty; `false`, never an exception, when the corpus is
    * missing or unreadable. */
  def healthCheck(): Boolean =
    try index().size > 0
    catch { case NonFatal(_) => false }
}
