package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.bridge
import graft.functions._
import graft.plans._

/** Everything graft adds to a session, in one list: its SQL functions,
  * the strategies of its two fused nodes (the batch top-k
  * [[graft.plans.VectorTopKJoin]], in its ranked, gated and grouped
  * shapes, and the online leaf [[graft.plans.ResidentTopK]]) and the
  * optimizer rules that plan into them. [[GraftSession]] installs it when it builds a session,
  * `withExtensions(new GraftExtensions)` injects it into any other
  * builder, and every operator that builds a fused node installs it on
  * sessions graft did not build. So a session plans with all of it from
  * its first graft call on, whichever queries ran before.
  *
  * Left out: `AutoFuseTopK`, opt-in through `Search.installAutoFusion`,
  * since it rewrites `Search.bruteForceTopK`, the reference the fused
  * operators are checked against.
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

  /** The fused operators' planner strategies. */
  val strategies: Seq[SparkStrategy] = Seq(VectorTopKStrategy, ResidentTopKStrategy)

  /** The rules that rewrite declarative plans into the fused operators. */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(PushThresholdIntoVectorTopK, AutoFuseWindowTopK)

  /** Make all graft functions callable from `spark.sql` in this session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, b) =>
      bridge.registerFunction(spark, name, b)
    }

  /** Give `spark` the whole list. Idempotent: a session that plans with
    * every graft strategy already (installed here, or injected by
    * [[GraftExtensions]]) costs one look at its planner's strategies. */
  def install(spark: SparkSession): Unit =
    if (!strategies.forall(bridge.plannerStrategies(spark).contains)) {
      register(spark)
      // strategies last: they are what the check above looks for
      bridge.addRules(spark, strategies, optimizerRules)
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
    GraftSql.strategies.foreach(st => e.injectPlannerStrategy(_ => st))
    GraftSql.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}
