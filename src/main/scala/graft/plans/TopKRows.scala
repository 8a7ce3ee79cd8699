package graft.plans

import org.apache.spark.sql.catalyst.InternalRow

/** The scores and the gated row a fused top-k emits, the same for the
  * batch node ([[VectorTopKJoin]]) and the online leaf ([[ResidentTopK]]). */
object TopKRows {

  /** `score` and `best_score`: `floor(sim * 1e6) / 1e6` as Spark computes
    * it, a long floor, then a double divide. */
  def floored(sim: Double): Double = math.floor(sim * 1e6).toLong.toDouble / 1e6

  /** The reference's acceptance gate: a best match is kept when its
    * cosine distance `1 - sim` is below this (qa_service.py:158). */
  val AcceptDistance: Double = 0.4

  /** Query `qid`'s `(query_id, best_id, best_score, accepted)` row.
    * `accepted` is `1 - sim < maxDistance` on the unfloored sim; a query
    * with no `best` keeps null `best_id` and `best_score` and `accepted =
    * false`. */
  def gated(qid: Any, best: Option[(Double, Long)], maxDistance: Double): InternalRow =
    best match {
      case Some((sim, id)) => InternalRow(qid, id, floored(sim), 1.0 - sim < maxDistance)
      case None => InternalRow(qid, null, null, false)
    }
}
