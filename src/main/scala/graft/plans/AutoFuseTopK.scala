package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._
import graft.functions.{CosineSimilarity, TopKByScore}

/** Logical node for a fused `group-by-query top_k_by_score(cosine)` — the
  * target of [[AutoFuseTopK]]. Output REUSES the attributes of the
  * Aggregate it replaces, so the rest of the plan is untouched. */
case class VectorTopKAgg(
    queries: LogicalPlan, corpus: LogicalPlan,
    qid: Attribute, qv: Attribute, vid: Attribute, emb: Attribute,
    k: Int, override val output: Seq[Attribute])
  extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = corpus
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): VectorTopKAgg =
    copy(queries = l, corpus = r)
}

/** Optimizer rule: rewrite the declarative pattern
  * {{{
  * Aggregate([qid], [qid, top_k_by_score(cosine(qv, emb), vid, k)],
  *   Join(corpus, queries, Cross))   // either side order
  * }}}
  * into [[VectorTopKAgg]] — one corpus scan with per-query bounded heaps
  * instead of materializing |corpus| × |queries| rows through the
  * aggregate. Users write the natural DataFrame form; the engine plans
  * the fused operator. */
object AutoFuseTopK extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Seq(gid: Attribute), aggExprs, child, _)
        if aggExprs.length == 2 => rewrite(agg, gid, aggExprs, child)
  }

  private def rewrite(agg: Aggregate, gid: Attribute,
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      child: LogicalPlan): LogicalPlan = {
    // see through an optional projection (where `sim` is usually aliased)
    val (joinOpt, defs: Map[Long, Expression]) = child match {
      case j @ Join(_, _, Cross, None, _) =>
        (Some(j), Map.empty[Long, Expression])
      case Project(plist, j @ Join(_, _, Cross, None, _)) =>
        (Some(j), plist.map {
          case al: Alias => al.exprId.id -> al.child
          case a: Attribute => a.exprId.id -> (a: Expression)
        }.toMap)
      case _ => (None, Map.empty[Long, Expression])
    }
    def resolve(e: Expression): Expression = e match {
      case a: Attribute => defs.getOrElse(a.exprId.id, a)
      case other => other
    }

    val topkOpt: Option[(CosineSimilarity, Attribute, Int)] =
      aggExprs.collectFirst {
        case Alias(AggregateExpression(
            TopKByScore(scoreE, vidE, kk, _, _), _, false, None, _), _) =>
          (resolve(scoreE), resolve(vidE)) match {
            case (cos: CosineSimilarity, vidA: Attribute) =>
              Some((cos, vidA, kk))
            case _ => None
          }
      }.flatten
    val passthroughOk = aggExprs.exists {
      case a: Attribute => a.semanticEquals(gid)
      case Alias(a: Attribute, _) => a.semanticEquals(gid)
      case _ => false
    }
    val gidResolved = resolve(gid) match {
      case a: Attribute => Some(a)
      case _ => None
    }

    (joinOpt, topkOpt, gidResolved) match {
      case (Some(join), Some((cos, vidA, k)), Some(gidA))
          if passthroughOk && agg.output.length == 2 &&
            agg.output.head.dataType == LongType &&
            agg.output(1).dataType.isInstanceOf[ArrayType] =>
        (resolve(cos.left), resolve(cos.right)) match {
          case (x: Attribute, y: Attribute) =>
            val (queriesSide, corpusSide) =
              if (join.left.outputSet.contains(gidA)) (join.left, join.right)
              else (join.right, join.left)
            val (qvA, embA) =
              if (queriesSide.outputSet.contains(x)) (x, y) else (y, x)
            val ok = queriesSide.outputSet.contains(gidA) &&
              queriesSide.outputSet.contains(qvA) &&
              corpusSide.outputSet.contains(embA) &&
              corpusSide.outputSet.contains(vidA)
            if (ok)
              VectorTopKAgg(queriesSide, corpusSide, gidA, qvA, vidA, embA,
                k, agg.output)
            else agg
          case _ => agg
        }
      case _ => agg
    }
  }
}

/** Optimizer rule for the SQL surface: rewrite the declarative WINDOW
  * top-k pattern —
  * {{{
  * Filter(rn <= k,
  *   Window([row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rn],
  *     Project(..., cosine_similarity(qv, emb) AS sim, ...,
  *       Join(corpus, queries, Cross))))
  * }}}
  * — into [[VectorTopKAgg]] + posexplode + a projection that rebuilds the
  * (qid, vid, sim, rn) attributes under their ORIGINAL exprIds, so the
  * rest of the plan (the user's floor/cast/sort) is untouched. This is
  * how `spark.sql("... ROW_NUMBER() OVER ... WHERE rn <= k")` plans the
  * fused operator without the user ever naming it.
  *
  * The bounded heap orders by (score desc, id asc) — exactly row_number's
  * `sim DESC NULLS LAST, vid ASC`. The one semantic delta: null/NaN
  * similarity scores are SKIPPED by the heap, where the window form would
  * rank them after all real scores (visible only when a query has fewer
  * than k non-null scores — no well-formed vector corpus produces that,
  * and the same caveat already applies to [[AutoFuseTopK]]'s aggregate
  * form, whose TopKByScore update skips nulls). */
object AutoFuseWindowTopK extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Project, Window, WindowGroupLimit}

  private val hitType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) => rewrite(f, cond, w)
  }

  private def rewrite(f: Filter, cond: Expression, w: Window): LogicalPlan = {
    val gate: Option[(Attribute, Int)] = cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) =>
        Some((a, k))
      case LessThan(a: Attribute, Literal(k: Int, IntegerType)) =>
        Some((a, k - 1))
      case _ => None
    }
    val shape: Option[(Attribute, Attribute, Attribute, Attribute)] =
      (w.windowExpressions, w.partitionSpec, w.orderSpec) match {
        case (Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)),
              Seq(qid: Attribute),
              Seq(SortOrder(sim: Attribute, Descending, NullsLast, _),
                  SortOrder(vid: Attribute, Ascending, _, _)))
            if gate.exists(_._1.exprId == al.exprId) =>
          Some((qid, sim, vid, al.toAttribute))
        case _ => None
      }
    // InsertWindowGroupLimit runs in a later batch than this rule, but be
    // robust to either ordering: the limit node is subsumed by the fusion
    val core = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case other => other
    }
    (gate, shape, core) match {
      case (Some((_, k)), Some((qid, sim, vid, rnAttr)),
            p @ Project(plist, join: Join))
          // the fused node outputs exactly (qid, vid, sim, rn): a window
          // that carries any other column (mmrRerank keeps `embedding`)
          // stays unfused, or its consumers would lose that column
          if k > 0 && join.joinType == Cross && join.condition.isEmpty &&
            p.outputSet == AttributeSet(Seq(qid, vid, sim)) =>
        val cosOpt = plist.collectFirst {
          case al @ Alias(cos: CosineSimilarity, _)
              if al.exprId == sim.exprId => cos
        }
        cosOpt match {
          case Some(cos) => (cos.left, cos.right) match {
            case (x: Attribute, y: Attribute) =>
              val (queriesSide, corpusSide) =
                if (join.left.outputSet.contains(qid)) (join.left, join.right)
                else (join.right, join.left)
              val (qvA, embA) =
                if (queriesSide.outputSet.contains(x)) (x, y) else (y, x)
              val ok = queriesSide.outputSet.contains(qid) &&
                queriesSide.outputSet.contains(qvA) &&
                corpusSide.outputSet.contains(vid) &&
                corpusSide.outputSet.contains(embA)
              if (!ok) f
              else {
                val topk = AttributeReference("topk",
                  ArrayType(hitType, containsNull = false),
                  nullable = false)()
                val fused = VectorTopKAgg(queriesSide, corpusSide,
                  qid, qvA, vid, embA, k, Seq(qid, topk))
                val pos = AttributeReference("pos", IntegerType,
                  nullable = false)()
                val hit = AttributeReference("hit", hitType,
                  nullable = false)()
                val gen = Generate(PosExplode(topk),
                  unrequiredChildIndex = Seq(1), outer = false,
                  qualifier = None, generatorOutput = Seq(pos, hit),
                  child = fused)
                Project(Seq(
                  qid,
                  Alias(GetStructField(hit, 1, Some("id")),
                    vid.name)(exprId = vid.exprId),
                  Alias(GetStructField(hit, 0, Some("score")),
                    sim.name)(exprId = sim.exprId),
                  Alias(Add(pos, Literal(1)),
                    rnAttr.name)(exprId = rnAttr.exprId)), gen)
              }
            case _ => f
          }
          case None => f
        }
      case _ => f
    }
  }
}

object VectorTopKAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: VectorTopKAgg =>
      VectorTopKAggExec(planLater(n.queries), planLater(n.corpus),
        n.qid, n.qv, n.vid, n.emb, n.k, n.output) :: Nil
    case _ => Nil
  }
}

/** Physical fused group-by-query top-k: emits (qid, array<struct<score,
  * id>>) — the exact rows the replaced Aggregate would have produced
  * (raw scores, best-first order as [[TopKAggregate]] eval does). */
case class VectorTopKAggExec(
    queries: SparkPlan, corpus: SparkPlan,
    qid: Attribute, qv: Attribute, vid: Attribute, emb: Attribute,
    k: Int, override val output: Seq[Attribute])
  extends BinaryExecNode {

  override def left: SparkPlan = queries
  override def right: SparkPlan = corpus
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): VectorTopKAggExec =
    copy(queries = l, corpus = r)

  override def outputPartitioning: Partitioning =
    FusedTopKSupport.ordered(output.head, conf.numShufflePartitions)
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(output.head, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val qidIdx = queries.output.indexWhere(_.exprId == qid.exprId)
    val qvIdx = queries.output.indexWhere(_.exprId == qv.exprId)
    val vidIdx = corpus.output.indexWhere(_.exprId == vid.exprId)
    val embIdx = corpus.output.indexWhere(_.exprId == emb.exprId)
    require(qidIdx >= 0 && qvIdx >= 0 && vidIdx >= 0 && embIdx >= 0)

    val qs = FusedTopKSupport.collectQueries(queries, qidIdx, qvIdx)
    val bc = sparkContext.broadcast(qs)
    val kk = k
    val types = output.map(_.dataType).toArray

    // markers preserve exact Aggregate group semantics: one output row per
    // DISTINCT qid (duplicate query rows feed one shared group, exactly as
    // the cross join they replace duplicates every corpus score into the
    // group's multiset), a row with an EMPTY array when the corpus has
    // rows but none scored (all-null, or a null qv), and NO row when the
    // corpus is empty (the join under the Aggregate would produce no
    // groups at all).
    val partials = FusedTopKSupport.partialHeaps(
      corpus, bc, vidIdx, embIdx, kk, Double.NegativeInfinity,
      emitMarkers = true)
    FusedTopKSupport.mergeByQuery(partials, qs.ids.length,
      conf.numShufflePartitions, kk) { merged =>
      val proj = UnsafeProjection.create(types)
      val ids = bc.value.ids
      merged.map { case (g, heap) =>
        val arr = new GenericArrayData(
          heap.sorted.map { case (s, id) =>
            InternalRow(s, id) }.asInstanceOf[Array[Any]])
        proj(InternalRow(ids(g), arr))
      }
    }
  }
}
