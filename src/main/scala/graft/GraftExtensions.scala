package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.bridge
import graft.functions._

/** SQL integration for graft's native expressions.
  *
  * Two paths:
  *  - session build time: `withExtensions(new GraftExtensions)` on the
  *    session builder — the library-deployment path;
  *  - runtime: [[GraftSql.register]] — for sessions built elsewhere (the
  *    driver's, notebooks).
  */
object GraftSql {

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product"       -> (es => DotProduct(es(0), es(1))),
    "l2_norm"           -> (es => L2Norm(es(0))),
    "nearest_seed"      -> (es => NearestSeed(es(0), es(1))),
    "hash_embed"        -> (es => HashEmbed(es(0), foldInt(es(1)))),
    "minhash_signature" -> (es => MinHashSignature(es(0), foldInt(es(1)))),
    "simhash64"         -> (es => SimHash64(es(0))),
    "poly_fingerprint"  -> (es => PolyFingerprint(es(0))),
    "band_hashes"       -> (es => BandHashes(es(0), foldInt(es(1)), foldInt(es(2)))),
    "top_k_by_score"    -> (es =>
      TopKByScore(es(0), es(1), foldInt(es(2))).toAggregateExpression()),
    "fnv1a64"           -> (es => Fnv1a64(es(0))),
    "byte_hist256"      -> (es => ByteHist256(es(0))),
    "kmv_distinct"      -> (es =>
      KmvDistinct(es(0), foldInt(es(1))).toAggregateExpression()),
    "quantize8"         -> (es => Quantize8(es(0))),
    "dequantize8"       -> (es => Dequantize8(es(0))),
    "word_shingles"     -> (es => WordShingles(es(0), foldInt(es(1)))),
    "count_in_set"      -> (es => CountInSet(es(0),
      es.drop(1).map(e => e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"expected string literal, got $other")
      }))),
    "scatter_vector"    -> (es => ScatterVector(es(0), foldInt(es(1)))),
    // filter bytes as a binary literal (e.g. a hex X'…' of a serialized
    // spark BloomFilter) — the SQL face of the bloom-pruned join probe
    "bloom_might_contain" -> (es => BloomMightContain(es(0),
      es(1).eval() match {
        case b: Array[Byte] => b
        case other => throw new IllegalArgumentException(
          s"expected binary literal bloom filter, got $other")
      })))

  private def foldInt(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }

  /** Make all graft functions callable from `spark.sql` in this session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, b) =>
      bridge.registerFunction(spark, name, b)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftSql.functions.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.VectorTopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.ResidentTopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushThresholdIntoVectorTopK)
  }
}
