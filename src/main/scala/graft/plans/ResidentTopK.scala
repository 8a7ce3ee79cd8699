package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.CosineSimilarity

/** One online request as one leaf: the `n` rows of a resident
  * `(vec_id, embedding, text)` relation most similar to the query vector
  * `qv`, already in the request's final columns ([[ResidentTopK.Shape]]).
  *
  * The reference answers a request with `knn_query(k)` over a resident
  * index (search_controller.py:8-47, qa_service.py:150-168). Expressed as
  * a chain of built-ins (score, filter, bounded sort, projection) that is
  * five operators to analyze, optimize, plan and generate code for on
  * every request, and the plan cost more driver CPU than ranking the
  * rows. As one leaf node the plan costs one strategy match, and the
  * executor work is one pass over the resident blocks.
  *
  * `blocks` holds rows of `(vec_id bigint, embedding array<float>, text
  * string)` at ordinals 0, 1, 2. Ranking follows `top_k_by_score` and the
  * `filter(...).orderBy(sim desc, vec_id).limit(n)` chain it replaces:
  *  - sim is `cosine_similarity(qv, embedding)` ([[CosineSimilarity.of]]);
  *  - rows with a null `vec_id`, a null embedding or a NaN sim are
  *    skipped;
  *  - the best `n` by sim desc, then vec_id asc ([[graft.functions.TopKBuffer]]'s
  *    order) are kept. */
case class ResidentTopK(
    blocks: RDD[InternalRow],
    qv: Array[Float],
    n: Int,
    shape: ResidentTopK.Shape,
    override val output: Seq[Attribute])
  extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(math.max(n, 1)) * 64)
  // the node, not its 64 floats or its RDD's lineage
  override protected def stringArgs: Iterator[Any] =
    Iterator(output, shape.name, s"n=$n", s"dim=${qv.length}")
}

object ResidentTopK {

  def apply(blocks: RDD[InternalRow], qv: Array[Float], n: Int,
            shape: Shape): ResidentTopK =
    ResidentTopK(blocks, qv, n, shape, shape.attributes())

  /** A kept row: its sim, id and text. */
  final case class Hit(sim: Double, id: Long, text: UTF8String)

  /** Best first: sim desc, then id asc. */
  private val bestFirst: Ordering[Hit] = Ordering.fromLessThan((a, b) =>
    if (a.sim != b.sim) a.sim > b.sim else a.id < b.id)

  /** The best `n` hits offered to it. The heap's head is its worst
    * entry, so a row that does not beat it costs one comparison and is
    * never copied. */
  final class Heap(n: Int) {
    private val q = mutable.PriorityQueue.empty[Hit](bestFirst)
    def admits(sim: Double, id: Long): Boolean =
      n > 0 && (q.size < n ||
        (sim > q.head.sim || (sim == q.head.sim && id < q.head.id)))
    def add(h: Hit): Unit =
      if (admits(h.sim, h.id)) {
        if (q.size == n) q.dequeue()
        q.enqueue(h)
      }
    /** Best first. */
    def result: Array[Hit] = q.toArray.sorted(bestFirst)
  }

  /** The best `n` of `hits`, best first. */
  def best(hits: Iterator[Hit], n: Int): Array[Hit] = {
    val top = new Heap(n)
    hits.foreach(top.add)
    top.result
  }

  /** Each partition's best `n` hits for `qv`: one pass, no shuffle. */
  def heads(blocks: RDD[InternalRow], qv: Array[Float], n: Int): RDD[Hit] =
    bridge.mapPartitionsInternal(blocks) { rows =>
      val q = UnsafeArrayData.fromPrimitiveArray(qv)
      val top = new Heap(n)
      rows.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val sim = CosineSimilarity.of(q, row.getArray(1))
          val id = row.getLong(0)
          if (!sim.isNaN && top.admits(sim, id))
            top.add(Hit(sim, id,
              if (row.isNullAt(2)) null else row.getUTF8String(2).clone()))
        }
      }
      top.result.iterator
    }

  /** A request's final columns and the row each ranked hit becomes. */
  sealed abstract class Shape(val name: String) extends Serializable {
    def attributes(): Seq[Attribute]
    /** The output rows of `hits`, best first. */
    def rows(hits: Array[Hit]): Array[InternalRow]
  }

  /** `SearchEngine.search`: `(rank, doc_id, score, description)`, rank
    * 1..n. */
  case object Ranked extends Shape("search") {
    def attributes(): Seq[Attribute] = Seq(
      AttributeReference("rank", LongType, nullable = false)(),
      AttributeReference("doc_id", LongType)(),
      AttributeReference("score", DoubleType)(),
      AttributeReference("description", StringType)())
    def rows(hits: Array[Hit]): Array[InternalRow] =
      hits.zipWithIndex.map { case (h, i) =>
        new GenericInternalRow(Array[Any]((i + 1).toLong, h.id, TopKRows.floored(h.sim), h.text))
      }
  }

  /** `SearchEngine.qaContext`: `(query_id, best_id, best_score, accepted)`,
    * the columns of `Search.thresholdRetrieval` for query 0, gated at
    * [[TopKRows.AcceptDistance]]. */
  case object Gated extends Shape("qaContext") {
    def attributes(): Seq[Attribute] = Seq(
      AttributeReference("query_id", LongType, nullable = false)(),
      AttributeReference("best_id", LongType)(),
      AttributeReference("best_score", DoubleType)(),
      AttributeReference("accepted", BooleanType)())
    def rows(hits: Array[Hit]): Array[InternalRow] =
      hits.map(h => TopKRows.gated(0L, Some((h.sim, h.id)), TopKRows.AcceptDistance))
  }
}

object ResidentTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ResidentTopK(blocks, qv, n, shape, out) =>
      ResidentTopKExec(blocks, qv, n, shape, out) :: Nil
    case _ => Nil
  }
}

/** [[ResidentTopK]]'s exec. `executeCollect` ranks every partition and
  * merges the partition heads on the driver in exactly one job, with no
  * closure cleaning;
  * `execute()` merges them in one task behind a single-partition shuffle,
  * for plans that consume the node as a child. */
case class ResidentTopKExec(
    blocks: RDD[InternalRow],
    qv: Array[Float],
    n: Int,
    shape: ResidentTopK.Shape,
    override val output: Seq[Attribute])
  extends LeafExecNode {
  import ResidentTopK._

  override protected def stringArgs: Iterator[Any] =
    Iterator(output, shape.name, s"n=$n", s"dim=${qv.length}")

  override def executeCollect(): Array[InternalRow] = {
    val parts = bridge.runJob(heads(blocks, qv, n), (it: Iterator[Hit]) => it.toArray)
    shape.rows(best(parts.iterator.flatten, n))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (nn, sh, types) = (n, shape, output.map(_.dataType).toArray)
    heads(blocks, qv, n).coalesce(1, shuffle = true).mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      sh.rows(best(it, nn)).iterator.map(proj)
    }
  }
}
