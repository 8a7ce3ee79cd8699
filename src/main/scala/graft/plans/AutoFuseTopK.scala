package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import graft.functions.{CosineSimilarity, TopKByScore}

/** Optimizer rule: rewrite the declarative pattern
  * {{{
  * Aggregate([qid], [qid, top_k_by_score(cosine(qv, emb), vid, k)],
  *   Join(corpus, queries, Cross))   // either side order
  * }}}
  * into [[VectorTopKJoin]]'s grouped shape — one corpus scan with
  * per-query bounded heaps instead of materializing |corpus| × |queries|
  * rows through the aggregate. Users write the natural DataFrame form;
  * the engine plans the fused operator. */
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
        VectorTopKJoin.grouped(join, gidA, vidA, resolve(cos.left),
          resolve(cos.right), k, agg.output).getOrElse(agg)
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
  * — into [[VectorTopKJoin]]'s grouped shape + posexplode + a projection
  * that rebuilds the (qid, vid, sim, rn) attributes under their ORIGINAL
  * exprIds, under the original filter, so the rest of the plan (the
  * user's floor/cast/sort) is untouched and still knows `rn <= k`. This is
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
        val topk = AttributeReference("topk",
          ArrayType(hitType, containsNull = false), nullable = false)()
        cosOpt.flatMap(cos => VectorTopKJoin.grouped(join, qid, vid,
            cos.left, cos.right, k, Seq(qid, topk))).map { fused =>
          val pos = AttributeReference("pos", IntegerType, nullable = false)()
          val hit = AttributeReference("hit", hitType, nullable = false)()
          val gen = Generate(PosExplode(topk),
            unrequiredChildIndex = Seq(1), outer = false,
            qualifier = None, generatorOutput = Seq(pos, hit),
            child = fused)
          // the filter passes every row; it stays for the constraint it
          // carries, which lets plans above it prune the filters it implies
          f.copy(child = Project(Seq(
            qid,
            Alias(GetStructField(hit, 1, Some("id")),
              vid.name)(exprId = vid.exprId),
            Alias(GetStructField(hit, 0, Some("score")),
              sim.name)(exprId = sim.exprId),
            Alias(Add(pos, Literal(1)),
              rnAttr.name)(exprId = rnAttr.exprId)), gen))
        }.getOrElse(f)
      case _ => f
    }
  }
}
