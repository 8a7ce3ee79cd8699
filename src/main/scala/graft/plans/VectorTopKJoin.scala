package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Fused vector top-k join: the whole-operator form of
  * `corpus × queries → cosine → top-k` (the reference's `knn_query`,
  * services/index_service.py:102-108), expressed as custom plan machinery
  * (LogicalPlan + Strategy + physical operator) because no composition of
  * built-ins avoids materializing a row per (corpus × query) pair.
  *
  * Physical shape: queries are collected (bounded by contract) and
  * broadcast; each corpus partition is scanned ONCE, maintaining one
  * bounded heap per query; partials (queries × k per partition) merge in
  * contiguous runs of query ids ([[FusedTopKSupport]]). Shuffle volume is
  * partitions × queries × k — independent of corpus size — no pair row
  * ever exists, and the output is ordered by query id.
  *
  * Two output shapes:
  *  - ranked (`gate` = None): `(query_id, rank, vec_id, score)`, the top
  *    `k` per query, `score` floored at 1e-6 ([[graft.operators.Search.bruteForceTopK]]'s
  *    contract);
  *  - gated (`gate` = Some(maxDistance), k = 1): `(query_id, best_id,
  *    best_score, accepted)`, one row per distinct query id as soon as the
  *    corpus has a row ([[graft.operators.Search.thresholdRetrieval]]'s
  *    contract). `accepted` is `1 - sim < maxDistance` on the unfloored
  *    sim; a query with no scored row (a null `qv`, or only null or NaN
  *    sims) keeps its row with null `best_id` and `best_score` and
  *    `accepted = false`.
  */
case class VectorTopKJoin(
    queries: LogicalPlan,
    corpus: LogicalPlan,
    k: Int,
    minScore: Double,
    gate: Option[Double],
    override val output: Seq[Attribute])
  extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = corpus
  // output attrs are generated by this operator, not drawn from children
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): VectorTopKJoin =
    copy(queries = l, corpus = r)
}

object VectorTopKJoin {
  /** The ranked top-`k` of `queries(query_id, qv)` over `corpus(vec_id,
    * embedding)`. */
  def ranked(queries: LogicalPlan, corpus: LogicalPlan, k: Int): VectorTopKJoin =
    VectorTopKJoin(queries, corpus, k, Double.NegativeInfinity, None, Seq(
      queryId(queries),
      AttributeReference("rank", LongType, nullable = false)(),
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference("score", DoubleType, nullable = false)()))

  /** The reference's acceptance gate: a best match is kept when its
    * cosine distance `1 - sim` is below this (qa_service.py:158). */
  val AcceptDistance: Double = 0.4

  /** The gated top-1 of each query: the best match, kept when its cosine
    * distance is below `maxDistance`. */
  def gated(queries: LogicalPlan, corpus: LogicalPlan,
            maxDistance: Double): VectorTopKJoin =
    VectorTopKJoin(queries, corpus, 1, Double.NegativeInfinity, Some(maxDistance), Seq(
      queryId(queries),
      AttributeReference("best_id", LongType)(),
      AttributeReference("best_score", DoubleType)(),
      AttributeReference("accepted", BooleanType)()))

  /** `query_id` as the node emits it: the queries' type and nullability. */
  private def queryId(queries: LogicalPlan): Attribute = {
    val q = queries.output.find(_.name == "query_id").getOrElse(
      throw new IllegalArgumentException("queries must have a query_id column"))
    AttributeReference("query_id", q.dataType, q.nullable)()
  }
}

object VectorTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case VectorTopKJoin(q, c, k, min, gate, out) =>
      VectorTopKJoinExec(planLater(q), planLater(c), k, min, gate, out) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: fold `Filter(score >= θ)` into the fused operator so
  * below-threshold candidates never enter the heaps or the partial
  * shuffle — the batch form of the reference's "keep the hit only when
  * cosine distance < 0.4" gate (qa_service.py:158). */
object PushThresholdIntoVectorTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  // The residual filter always stays: heap pruning at the raw threshold is
  // conservative (emitted scores are floor-truncated, floored <= raw), and
  // because scores are monotone in rank the pruned rows are a rank suffix,
  // so surviving ranks are identical either way.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, vtj: VectorTopKJoin) if vtj.gate.isEmpty =>
      val scoreAttr = vtj.output.find(_.name == "score").get
      cond match {
        case GreaterThanOrEqual(a: Attribute, Literal(v: Double, DoubleType))
            if a.semanticEquals(scoreAttr) =>
          f.copy(child = vtj.copy(minScore = math.max(vtj.minScore, v)))
        case GreaterThan(a: Attribute, Literal(v: Double, DoubleType))
            if a.semanticEquals(scoreAttr) =>
          f.copy(child = vtj.copy(minScore = math.max(vtj.minScore, v)))
        case _ => f
      }
  }
}

case class VectorTopKJoinExec(
    queries: SparkPlan,
    corpus: SparkPlan,
    k: Int,
    minScore: Double,
    gate: Option[Double],
    override val output: Seq[Attribute])
  extends BinaryExecNode {

  override def left: SparkPlan = queries
  override def right: SparkPlan = corpus
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): VectorTopKJoinExec =
    copy(queries = l, corpus = r)

  override def outputPartitioning: Partitioning =
    FusedTopKSupport.ordered(output.head, conf.numShufflePartitions)
  // ranked: by query, then rank; gated: one row per query
  override def outputOrdering: Seq[SortOrder] =
    output.take(if (gate.isEmpty) 2 else 1).map(SortOrder(_, Ascending))

  private def fieldIndex(plan: SparkPlan, name: String): Int = {
    val i = plan.output.indexWhere(_.name == name)
    require(i >= 0, s"${plan.nodeName} must produce column '$name'")
    i
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val qidIdx = fieldIndex(queries, "query_id")
    val qvIdx = fieldIndex(queries, "qv")
    val vidIdx = fieldIndex(corpus, "vec_id")
    val embIdx = fieldIndex(corpus, "embedding")

    // queries side is bounded by contract (a search request batch)
    val qs = FusedTopKSupport.collectQueries(queries, qidIdx, qvIdx)
    val bc = sparkContext.broadcast(qs)
    val kk = k
    val gt = gate
    val types = output.map(_.dataType).toArray

    val partials = FusedTopKSupport.partialHeaps(
      corpus, bc, vidIdx, embIdx, kk, minScore, emitMarkers = gt.isDefined)
    // Empty heaps emit nothing in the ranked shape (the declarative twin
    // explodes the per-group array, so empty groups vanish there too),
    // and a row with a null best in the gated shape.
    FusedTopKSupport.mergeByQuery(partials, qs.ids.length,
      conf.numShufflePartitions, kk) { merged =>
      val proj = UnsafeProjection.create(types)
      val ids = bc.value.ids
      import ResidentTopK.floored
      merged.flatMap { case (g, heap) =>
        val best = heap.sorted
        gt match {
          case None => best.iterator.zipWithIndex.map { case ((s, id), r) =>
            proj(InternalRow(ids(g), (r + 1).toLong, id, floored(s)))
          }
          case Some(maxDistance) => Iterator(proj(best.headOption match {
            case Some((s, id)) => InternalRow(ids(g), id, floored(s), 1.0 - s < maxDistance)
            case None => InternalRow(ids(g), null, null, false)
          }))
        }
      }
    }
  }
}
