package graft.plans

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SparkPlan
import graft.functions.{CosineSimilarity, TopKBuffer}

/** The scan and merge of the fused batch top-k ([[VectorTopKJoinExec]]),
  * shared by its ranked, gated and grouped shapes.
  *
  * Queries: collected on the driver (bounded by contract) and grouped by
  * query id. The distinct ids, sorted ascending with null first, number
  * the groups; every partial and every merge is keyed by group number.
  *
  * Scan: each corpus partition is read ONCE, maintaining one bounded heap
  * per query row; partials are (group, score, id) tuples — partitions ×
  * queries × k of them, independent of corpus size. A score is exactly
  * `cosine_similarity(qv, embedding)`'s: its dot product and norms run
  * over the common prefix of the two vectors.
  *
  * Merge: partials are SHUFFLED to merge partitions that each own a
  * contiguous run of groups, and merged per group. A `coalesce(1)` here
  * would be wrong twice over: it is a narrow dependency, so it would
  * collapse the corpus scan itself into a single task (not just the
  * merge), and even as a merge it routes partitions × queries × k tuples
  * through one task. Small query batches merge in one partition (trivial
  * data); large batches fan out to min(shufflePartitions, groups) merge
  * tasks. Because the runs are contiguous and each task emits its groups
  * in order, the output is globally ordered by query id
  * ([[ordered]]), so a sort on it plans no exchange.
  */
private[graft] object FusedTopKSupport {

  /** Query batches up to this size merge in a single partition; beyond it
    * the merge distributes by group. */
  val SmallQueryBatch = 64

  def numMergePartitions(nQueries: Int, shufflePartitions: Int): Int =
    if (nQueries <= SmallQueryBatch) 1
    else math.max(1, math.min(shufflePartitions, nQueries))

  /** The collected query side. `ids` are the distinct query ids in
    * ascending order, null first; query row `q` belongs to group
    * `group(q)`, has the vector `vecs(q)` (null where `qv` is null) and
    * that vector's full-length norm `norms(q)`. */
  final class Queries(val ids: Array[Any], val group: Array[Int],
                      val vecs: Array[Array[Float]], val norms: Array[Double])
    extends Serializable

  def collectQueries(queries: SparkPlan, qidIdx: Int, qvIdx: Int): Queries = {
    val qidType = queries.output(qidIdx).dataType
    val rows = queries.executeCollect()
    val qids = rows.map(r => if (r.isNullAt(qidIdx)) null else r.get(qidIdx, qidType))
    val ord = TypeUtils.getInterpretedOrdering(qidType)
    val ids = qids.distinct.sortWith((a, b) =>
      if (a == null) b != null else b != null && ord.lt(a, b))
    val groupOf = ids.zipWithIndex.toMap
    val vecs = rows.map(r =>
      if (r.isNullAt(qvIdx)) null else r.getArray(qvIdx).toFloatArray())
    val norms = vecs.map { v =>
      var n = 0.0
      if (v != null) v.foreach(x => n += x.toDouble * x.toDouble)
      math.sqrt(n)
    }
    new Queries(ids, qids.map(groupOf), vecs, norms)
  }

  /** One corpus pass → keyed partial heap entries (group -> (score, id)).
    *
    * A query row with a null vector scores nothing. When `emitMarkers` is
    * set, a partition that saw at least one corpus row (null or not)
    * emits a NaN-scored marker for every query whose heap stayed empty.
    * The markers let the merge reproduce exact group-by semantics: a
    * group exists for every query as soon as the corpus has ANY row (even
    * an all-null one), and emits an empty top-k — while a truly empty
    * corpus produces no groups at all. The ranked shape does not need
    * them (its contract explodes the array, so empty groups vanish
    * anyway). */
  def partialHeaps(
      corpus: SparkPlan,
      bc: Broadcast[Queries],
      vidIdx: Int, embIdx: Int, k: Int, minScore: Double,
      emitMarkers: Boolean): RDD[(Int, (Double, Long))] =
    corpus.execute().mapPartitions { it =>
      val qs = bc.value
      val heaps = Array.fill(qs.vecs.length)(new TopKBuffer(k))
      var sawRows = false
      it.foreach { row =>
        sawRows = true
        // null-skip mirrors the declarative path (null-safe Catalyst
        // eval + TopKByScore null skip)
        if (!row.isNullAt(vidIdx) && !row.isNullAt(embIdx)) {
          val vid = row.getLong(vidIdx)
          val emb = row.getArray(embIdx)
          val n = emb.numElements()
          var cNorm = 0.0
          val ev = new Array[Double](n)
          var i = 0
          while (i < n) {
            val x = emb.getFloat(i).toDouble
            ev(i) = x; cNorm += x * x; i += 1
          }
          cNorm = math.sqrt(cNorm)
          var q = 0
          while (q < heaps.length) {
            val qv = qs.vecs(q)
            if (qv != null) {
              val score =
                if (qv.length == n) {
                  var dot = 0.0
                  i = 0
                  while (i < n) { dot += qv(i).toDouble * ev(i); i += 1 }
                  if (qs.norms(q) == 0.0 || cNorm == 0.0) 0.0
                  else dot / (qs.norms(q) * cNorm)
                } else {
                  // unequal lengths: norms over the common prefix too
                  val d = math.min(n, qv.length)
                  var dot = 0.0; var na = 0.0; var nb = 0.0
                  i = 0
                  while (i < d) {
                    val x = qv(i).toDouble; val y = ev(i)
                    dot += x * y; na += x * x; nb += y * y; i += 1
                  }
                  CosineSimilarity.fromSums(dot, na, nb)
                }
              if (score >= minScore) heaps(q).add(score, vid)
            }
            q += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        val entries = h.sorted
        val g = qs.group(q)
        if (entries.nonEmpty) entries.iterator.map { case (s, id) => (g, (s, id)) }
        else if (emitMarkers && sawRows) Iterator((g, (Double.NaN, 0L)))
        else Iterator.empty
      }
    }

  /** Merge partition of group `g`: contiguous runs of groups over the
    * first `used` of `numPartitions` partitions. */
  private final case class GroupRuns(numPartitions: Int, used: Int, groups: Int)
      extends Partitioner {
    def getPartition(key: Any): Int =
      (key.asInstanceOf[Int].toLong * used / groups).toInt
  }

  /** Shuffle partials to `numPartitions` partitions and stream each
    * through `emit`, which receives (group → merged heap) pairs in
    * ascending group order. NaN markers establish the group but add
    * nothing to the heap. */
  def mergeByQuery(
      partials: RDD[(Int, (Double, Long))],
      groups: Int, numPartitions: Int, k: Int)(
      emit: Iterator[(Int, TopKBuffer)] => Iterator[InternalRow])
      : RDD[InternalRow] =
    partials.partitionBy(GroupRuns(numPartitions,
        numMergePartitions(groups, numPartitions), math.max(groups, 1)))
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap.empty[Int, TopKBuffer]
        it.foreach { case (g, (s, id)) =>
          val h = heaps.getOrElseUpdate(g, new TopKBuffer(k))
          if (!java.lang.Double.isNaN(s)) h.add(s, id)
        }
        emit(heaps.toArray.sortBy(_._1).iterator)
      }

  /** The partitioning and ordering [[mergeByQuery]]'s output has when
    * `qid` is its query id column: ascending, null first, in contiguous
    * runs over `numPartitions` partitions. */
  def ordered(qid: Attribute, numPartitions: Int): RangePartitioning =
    RangePartitioning(Seq(SortOrder(qid, Ascending)), numPartitions)
}
