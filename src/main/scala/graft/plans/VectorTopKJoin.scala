package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.GenericArrayData
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
  * The node scores `qv` of `queries` against `emb` of `corpus`, keyed by
  * `qid` and `vid`, and emits one of three output shapes
  * ([[VectorTopKJoin.Shape]]). */
case class VectorTopKJoin(
    queries: LogicalPlan,
    corpus: LogicalPlan,
    qid: Attribute, qv: Attribute, vid: Attribute, emb: Attribute,
    k: Int,
    minScore: Double,
    shape: VectorTopKJoin.Shape,
    override val output: Seq[Attribute])
  extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = corpus
  // output attrs are generated by this operator, not drawn from children
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] =
    VectorTopKJoin.stringArgs(k, minScore, shape, output)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): VectorTopKJoin =
    copy(queries = l, corpus = r)
}

object VectorTopKJoin {

  /** What the node emits for each distinct query id, from its best
    * hits (sim desc, then id asc). */
  sealed abstract class Shape extends Serializable {
    /** Leading output columns the rows are sorted by. */
    def sortedBy: Int = 1
    /** Whether a query with no scored row still gets its row once the
      * corpus has one ([[FusedTopKSupport.partialHeaps]]'s markers). */
    def markers: Boolean = true
    /** The shape's own argument in the plan string. */
    def args: Seq[Any]
    def rows(qid: Any, best: Array[(Double, Long)]): Iterator[InternalRow]
  }

  /** `(query_id, rank, vec_id, score)`: the top `k` per query, `score`
    * floored at 1e-6 ([[graft.operators.Search.bruteForceTopK]]'s
    * contract). A query with no scored row has no rows, as in the
    * declarative twin, which explodes the per-group array. */
  case object Ranked extends Shape {
    override def sortedBy: Int = 2
    override def markers: Boolean = false
    def args: Seq[Any] = Nil
    def rows(qid: Any, best: Array[(Double, Long)]): Iterator[InternalRow] =
      best.iterator.zipWithIndex.map { case ((s, id), r) =>
        InternalRow(qid, (r + 1).toLong, id, TopKRows.floored(s))
      }
  }

  /** `(query_id, best_id, best_score, accepted)` with `k = 1`, one row
    * per query ([[graft.operators.Search.thresholdRetrieval]]'s contract,
    * [[TopKRows.gated]]). */
  final case class Gated(maxDistance: Double) extends Shape {
    def args: Seq[Any] = Seq(maxDistance)
    def rows(qid: Any, best: Array[(Double, Long)]): Iterator[InternalRow] =
      Iterator(TopKRows.gated(qid, best.headOption, maxDistance))
  }

  /** `(qid, array<struct<score, id>>)`: the exact rows of the
    * `top_k_by_score` Aggregate the auto-fusion rules replace, raw scores
    * best first. Duplicate query rows feed one shared group, as the cross
    * join duplicates every corpus score into the group's multiset; a
    * query with no scored row gets an EMPTY array; an empty corpus gives
    * no rows, as the join under the Aggregate gives no groups. */
  case object Grouped extends Shape {
    def args: Seq[Any] = Seq("grouped")
    def rows(qid: Any, best: Array[(Double, Long)]): Iterator[InternalRow] =
      Iterator(InternalRow(qid, new GenericArrayData(
        best.map { case (s, id) => InternalRow(s, id) }.asInstanceOf[Array[Any]])))
  }

  private[plans] def stringArgs(k: Int, minScore: Double, shape: Shape,
                                output: Seq[Attribute]): Iterator[Any] =
    (Seq[Any](k, minScore) ++ shape.args :+ output).iterator

  /** The ranked top-`k` of `queries(query_id, qv)` over `corpus(vec_id,
    * embedding)`. */
  def ranked(queries: LogicalPlan, corpus: LogicalPlan, k: Int): VectorTopKJoin =
    named(queries, corpus, k, Ranked, Seq(
      queryId(queries),
      AttributeReference("rank", LongType, nullable = false)(),
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference("score", DoubleType, nullable = false)()))

  /** The gated top-1 of each query: the best match, kept when its cosine
    * distance is below `maxDistance`. */
  def gated(queries: LogicalPlan, corpus: LogicalPlan,
            maxDistance: Double): VectorTopKJoin =
    named(queries, corpus, 1, Gated(maxDistance), Seq(
      queryId(queries),
      AttributeReference("best_id", LongType)(),
      AttributeReference("best_score", DoubleType)(),
      AttributeReference("accepted", BooleanType)()))

  /** The grouped top-`k` of a cross `join` that ranks `vid` by the cosine
    * of operands `x` and `y`, per `qid`; `output` is the `(qid, topk)`
    * pair it stands for. None unless one side holds `qid` and one of the
    * operands, and the other side `vid` and the other operand. */
  def grouped(join: Join, qid: Attribute, vid: Attribute, x: Expression,
              y: Expression, k: Int, output: Seq[Attribute]): Option[VectorTopKJoin] =
    (x, y) match {
      case (x: Attribute, y: Attribute) =>
        val (queries, corpus) =
          if (join.left.outputSet.contains(qid)) (join.left, join.right)
          else (join.right, join.left)
        val (qv, emb) = if (queries.outputSet.contains(x)) (x, y) else (y, x)
        if (queries.outputSet.contains(qid) && queries.outputSet.contains(qv) &&
            corpus.outputSet.contains(vid) && corpus.outputSet.contains(emb))
          Some(VectorTopKJoin(queries, corpus, qid, qv, vid, emb, k,
            Double.NegativeInfinity, Grouped, output))
        else None
      case _ => None
    }

  private def named(queries: LogicalPlan, corpus: LogicalPlan, k: Int,
                    shape: Shape, output: Seq[Attribute]): VectorTopKJoin =
    VectorTopKJoin(queries, corpus, column(queries, "query_id"),
      column(queries, "qv"), column(corpus, "vec_id"),
      column(corpus, "embedding"), k, Double.NegativeInfinity, shape, output)

  private def column(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"the fused top-k needs a $name column"))

  /** `query_id` as the node emits it: the queries' type and nullability. */
  private def queryId(queries: LogicalPlan): Attribute = {
    val q = column(queries, "query_id")
    AttributeReference("query_id", q.dataType, q.nullable)()
  }
}

object VectorTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: VectorTopKJoin =>
      VectorTopKJoinExec(planLater(n.queries), planLater(n.corpus),
        n.qid, n.qv, n.vid, n.emb, n.k, n.minScore, n.shape, n.output) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: fold `Filter(score >= θ)` over the ranked shape into
  * the fused operator so below-threshold candidates never enter the heaps
  * or the partial shuffle — the batch form of the reference's "keep the
  * hit only when cosine distance < 0.4" gate (qa_service.py:158). */
object PushThresholdIntoVectorTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  // The residual filter always stays: heap pruning at the raw threshold is
  // conservative (emitted scores are floor-truncated, floored <= raw), and
  // because scores are monotone in rank the pruned rows are a rank suffix,
  // so surviving ranks are identical either way.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, vtj: VectorTopKJoin) if vtj.shape == VectorTopKJoin.Ranked =>
      val score = vtj.output(3) // (query_id, rank, vec_id, score)
      cond match {
        case GreaterThanOrEqual(a: Attribute, Literal(v: Double, DoubleType))
            if a.semanticEquals(score) =>
          f.copy(child = vtj.copy(minScore = math.max(vtj.minScore, v)))
        case GreaterThan(a: Attribute, Literal(v: Double, DoubleType))
            if a.semanticEquals(score) =>
          f.copy(child = vtj.copy(minScore = math.max(vtj.minScore, v)))
        case _ => f
      }
  }
}

case class VectorTopKJoinExec(
    queries: SparkPlan,
    corpus: SparkPlan,
    qid: Attribute, qv: Attribute, vid: Attribute, emb: Attribute,
    k: Int,
    minScore: Double,
    shape: VectorTopKJoin.Shape,
    override val output: Seq[Attribute])
  extends BinaryExecNode {

  override def left: SparkPlan = queries
  override def right: SparkPlan = corpus
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def stringArgs: Iterator[Any] =
    VectorTopKJoin.stringArgs(k, minScore, shape, output)
  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): VectorTopKJoinExec =
    copy(queries = l, corpus = r)

  override def outputPartitioning: Partitioning =
    FusedTopKSupport.ordered(output.head, conf.numShufflePartitions)
  override def outputOrdering: Seq[SortOrder] =
    output.take(shape.sortedBy).map(SortOrder(_, Ascending))

  private def ordinal(plan: SparkPlan, a: Attribute): Int = {
    val i = plan.output.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"${plan.nodeName} must produce $a")
    i
  }

  override protected def doExecute(): RDD[InternalRow] = {
    // queries side is bounded by contract (a search request batch)
    val qs = FusedTopKSupport.collectQueries(queries, ordinal(queries, qid),
      ordinal(queries, qv))
    val bc = sparkContext.broadcast(qs)
    val (kk, sh) = (k, shape)
    val types = output.map(_.dataType).toArray

    val partials = FusedTopKSupport.partialHeaps(corpus, bc,
      ordinal(corpus, vid), ordinal(corpus, emb), kk, minScore, sh.markers)
    FusedTopKSupport.mergeByQuery(partials, qs.ids.length,
      conf.numShufflePartitions, kk) { merged =>
      val proj = UnsafeProjection.create(types)
      val ids = bc.value.ids
      merged.flatMap { case (g, heap) => sh.rows(ids(g), heap.sorted).map(proj) }
    }
  }
}
