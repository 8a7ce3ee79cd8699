package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector hot path.
  *
  * All similarity math reads float32 vectors but accumulates in double,
  * folding left-to-right — the exact arithmetic the DuckDB oracles perform
  * on `embedding::DOUBLE[]`, so results are bit-identical across engines.
  *
  * `CosineSimilarity`/`DotProduct`/`L2Norm` implement `doGenCode`, so they
  * stay inside whole-stage codegen — no UDF boxing in the inner loop of
  * every KNN/dedup operator (this loop runs corpus × queries times).
  */
object VectorTypeCheck {
  def isFloatVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  def require(name: String, inputs: (String, DataType)*): TypeCheckResult = {
    val bad = inputs.filterNot { case (_, dt) => isFloatVector(dt) }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float> arguments, got " +
        bad.map { case (n, dt) => s"$n: ${dt.simpleString}" }.mkString(", "))
  }
}

abstract class BinaryVectorExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // analysis-time validation: without it, a mistyped column (e.g. a
  // non-array via the SQL-registered builders) ClassCastExceptions inside
  // executors instead of failing analysis
  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeCheck.require(prettyName,
      "left" -> left.dataType, "right" -> right.dataType)

  protected def loopBody: String // java: computes `out` from dot/na/nb loop

  override def nullSafeEval(l: Any, r: Any): Any =
    BinaryVectorExpression.fold(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData])(evalFromSums)

  protected def evalFromSums(dot: Double, na: Double, nb: Double): Double

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.getFloat($i);
         |  double y = (double) $b.getFloat($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = ${loopBody
            .replace("DOT", dot).replace("NA", na).replace("NB", nb)};
       """.stripMargin
    })
}

object BinaryVectorExpression {
  /** The interpreted form of the loop `doGenCode` emits: dot, |a|² and
    * |b|² over the common prefix, float32 read, double accumulated left
    * to right, handed to `out`. Driver-side scoring calls this directly
    * (no `Literal` per pair), so it can never drift from the expression. */
  def fold(a: ArrayData, b: ArrayData)(out: (Double, Double, Double) => Double)
      : Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    out(dot, na, nb)
  }
}

object CosineSimilarity {
  def fromSums(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))

  /** `cosine_similarity(a, b)` of two non-null vectors, on the driver. */
  def of(a: ArrayData, b: ArrayData): Double =
    BinaryVectorExpression.fold(a, b)(fromSums)
}

/** cosine(a, b) ∈ [-1, 1]; 0.0 when either vector has zero norm
  * (reference space: hnswlib "cosine", services/index_service.py:72). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override protected def evalFromSums(dot: Double, na: Double, nb: Double): Double =
    CosineSimilarity.fromSums(dot, na, nb)
  override protected def loopBody: String =
    "(NA == 0.0 || NB == 0.0) ? 0.0 : DOT / (java.lang.Math.sqrt(NA) * java.lang.Math.sqrt(NB))"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override protected def evalFromSums(dot: Double, na: Double, nb: Double): Double = dot
  override protected def loopBody: String = "DOT"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** L2 norm of one array<float> vector. */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeCheck.require(prettyName, "input" -> child.dataType)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0
    while (i < a.numElements()) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double x = (double) $a.getFloat($i); $s += x * x;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "l2_norm"
}

object GraftHash {
  /** FNV-1a 64-bit over UTF-8 bytes — stable, public, allocation-free. */
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * FnvPrime; i += 1 }
    h
  }
  def fnv1a64(s: UTF8String): Long = fnv1a64(s.getBytes)
  /** Mix for deriving the i-th minhash permutation from one base hash. */
  def mix(h: Long, i: Int): Long = {
    var x = h + 0x9e3779b97f4a7c15L * (i + 1)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** Hashing-trick TF embedding: whitespace tokens → FNV bucket → counts →
  * L2-normalized array<float> (the deterministic stand-in for the
  * reference's sentence-transformer encode,
  * services/embedding_service.py:18). Interpreted eval is fine here: one
  * call per document, not per pair. */
case class HashEmbed(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val text = v.asInstanceOf[UTF8String].toString
    val acc = new Array[Double](dim)
    var start = 0; var i = 0; val len = text.length
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        if (i > start) {
          val tok = text.substring(start, i)
          val h = GraftHash.fnv1a64(tok.getBytes("UTF-8"))
          val b = ((h % dim) + dim).toInt % dim
          acc(b) += 1.0
        }
        start = i + 1
      }
      i += 1
    }
    var norm = 0.0; i = 0
    while (i < dim) { norm += acc(i) * acc(i); i += 1 }
    val inv = if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "hash_embed"
}

/** Word n-gram shingles over a token array, in one native pass.
  *
  * A lambda-based `transform(sequence(...), i -> slice(toks, ...))`
  * formulation re-evaluates the captured `toks` expression subtree per
  * element — O(tokens²) regex work per document when `toks` is the
  * tokenization chain (measured 30 s+ at sf0.1). A native expression
  * evaluates its child exactly once. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val count = toks.numElements() - n + 1
    if (count <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks.getUTF8String(i + j).toString)
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** Dense L2-normalized vector from sparse (bucket, weight) entries —
  * the assembly step of distributed TF-IDF (order-insensitive, so a
  * `collect_list` upstream is safe). */
case class ScatterVector(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val entries = v.asInstanceOf[ArrayData]
    val acc = new Array[Double](dim)
    var i = 0
    while (i < entries.numElements()) {
      val e = entries.getStruct(i, 2)
      val b = e.getLong(0).toInt
      if (b >= 0 && b < dim) acc(b) += e.getDouble(1)
      i += 1
    }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += acc(i) * acc(i); i += 1 }
    val inv = if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "scatter_vector"
}

/** Scalar int8 quantization of a float vector: per-vector min/scale +
  * one byte per dimension (4× smaller at rest and on the shuffle wire —
  * at 100 TB of embeddings that is the difference between fitting in
  * cluster memory or not). Reconstruction error ≤ scale/2 per element. */
case class Quantize8(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorTypeCheck.require(prettyName, "input" -> child.dataType)
  override def dataType: DataType = StructType(Seq(
    StructField("minv", FloatType, nullable = false),
    StructField("scale", FloatType, nullable = false),
    StructField("codes", BinaryType, nullable = false)))
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mn = Float.MaxValue
    var mx = Float.MinValue
    var i = 0
    while (i < n) { val x = a.getFloat(i); if (x < mn) mn = x; if (x > mx) mx = x; i += 1 }
    if (n == 0) { mn = 0f; mx = 0f }
    val scale = if (mx > mn) (mx - mn) / 255f else 1f
    val codes = new Array[Byte](n)
    i = 0
    while (i < n) {
      val q = math.round((a.getFloat(i) - mn) / scale)
      codes(i) = math.min(255, math.max(0, q)).toByte
      i += 1
    }
    InternalRow(mn, scale, codes)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "quantize8"
}

/** Inverse of [[Quantize8]]. */
case class Dequantize8(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(
        StructField("minv", FloatType, _, _),
        StructField("scale", FloatType, _, _),
        StructField("codes", BinaryType, _, _))) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct<minv:float,scale:float,codes:binary> " +
        s"(a quantize8 output), got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val row = v.asInstanceOf[InternalRow]
    val mn = row.getFloat(0)
    val scale = row.getFloat(1)
    val codes = row.getBinary(2)
    val out = new Array[Float](codes.length)
    var i = 0
    while (i < codes.length) {
      out(i) = mn + (codes(i) & 0xff) * scale
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "dequantize8"
}

/** Count of array elements contained in a fixed string set (with
  * multiplicity) — one native call per row instead of an interpreted
  * `filter(toks, t -> t IN (...))` lambda, whose per-element interpreter
  * overhead dominated language-ID scoring (9 s → sub-second at sf0.1). */
case class CountInSet(child: Expression, words: Seq[String])
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var c = 0; var i = 0
    while (i < a.numElements()) {
      if (set.contains(a.getUTF8String(i))) c += 1
      i += 1
    }
    java.lang.Integer.valueOf(c)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "count_in_set"
}

/** MinHash signature: k derived permutations over one FNV base hash per
  * token; empty input → all Long.MaxValue. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val sig = Array.fill[Long](k)(Long.MaxValue)
    var t = 0
    while (t < toks.numElements()) {
      val h = GraftHash.fnv1a64(toks.getUTF8String(t))
      var i = 0
      while (i < k) {
        val g = GraftHash.mix(h, i)
        if (g < sig(i)) sig(i) = g
        i += 1
      }
      t += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** 256-cell byte histogram of a BINARY payload — ONE codegen'd pass per
  * row. The bounded array is how byte-level media forensics (corrupt /
  * truncated / mislabeled payload detection) stays tractable at 100 TB:
  * a per-byte explode would fan the payload column out row-per-byte, and
  * `substring(payload, i, 1)` indexing is O(n²) per row; this keeps the
  * scan narrow and the downstream fold bounded at 256 cells. Counts are
  * plain per-value tallies, so a SQL oracle can replay them exactly from
  * the same bytes (ASCII payloads: `ord` per char). */
case class ByteHist256(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a binary payload, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    val cnt = new Array[Long](256)
    var i = 0
    while (i < b.length) { cnt(b(i) & 0xff) += 1L; i += 1 }
    new GenericArrayData(cnt)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val cnt = ctx.freshName("cnt"); val i = ctx.freshName("i")
      s"""
         |long[] $cnt = new long[256];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $cnt[$b[$i] & 0xff] += 1L;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($cnt);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "byte_hist256"
}

/** 64-bit SimHash over a token array. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val cnt = new Array[Int](64)
    var t = 0
    while (t < toks.numElements()) {
      val h = GraftHash.fnv1a64(toks.getUTF8String(t))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) cnt(j) += 1 else cnt(j) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L; var j = 0
    while (j < 64) { if (cnt(j) > 0) out |= (1L << j); j += 1 }
    java.lang.Long.valueOf(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** Rolling polynomial (base-31, 64-bit wrapping) document fingerprint. */
/** FNV-1a 64-bit of a string's UTF-8 bytes, as a column. Used where a
  * downstream oracle must replay the hash (FNV is public and expressible
  * as HUGEINT-mod-2^64 arithmetic in SQL, unlike engine-internal hashes). */
case class Fnv1a64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(GraftHash.fnv1a64(v.asInstanceOf[UTF8String]))
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "fnv1a64"
}

case class PolyFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    var h = 0L; var i = 0
    while (i < s.length) { h = h * 31L + s.charAt(i).toLong; i += 1 }
    java.lang.Long.valueOf(h)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "poly_fingerprint"
}

/** LSH band hashes from a minhash signature: FNV over each band's rows. */
case class BandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val sig = v.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = GraftHash.FnvOffset
      var r = 0
      while (r < rowsPerBand) {
        val x = sig.getLong(b * rowsPerBand + r)
        var j = 0
        while (j < 8) {
          h = (h ^ ((x >>> (8 * j)) & 0xffL)) * GraftHash.FnvPrime
          j += 1
        }
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "band_hashes"
}

/** Argmin-by-cosine-distance over a per-row seed matrix:
  * `nearest_seed(embedding: array<float>, seeds: array<array<float>>)` →
  * the 0-based index (long) of the seed with the smallest `1 − cosine`,
  * ties → lowest index (the `(dist, i)` struct-min ordering). One fused
  * codegen'd loop per row replaces the
  * `array_min(transform(seeds, struct(1 − cos, i)))` formulation in
  * `Dedup.coherentBlocks`, which materialized a k-struct array per row
  * (array copies dominated the refinement kernel, not flops). Null seed
  * entries are skipped (matching `array_min`'s null-skip contract); an
  * all-null or empty seed array yields 0. Cosine arithmetic is identical
  * to [[CosineSimilarity]] (double accumulation, left-to-right, 0.0 on a
  * zero norm), so assignments are bit-equal to the replaced plan. */
case class NearestSeed(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = {
    val okL = VectorTypeCheck.isFloatVector(left.dataType)
    val okR = right.dataType match {
      case ArrayType(e, _) => VectorTypeCheck.isFloatVector(e)
      case _ => false
    }
    if (okL && okR) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_seed requires (array<float>, array<array<float>>), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val seeds = r.asInstanceOf[ArrayData]
    var best = 0L; var bestD = Double.MaxValue; var s = 0
    while (s < seeds.numElements()) {
      if (!seeds.isNullAt(s)) {
        val sv = seeds.getArray(s)
        val n = math.min(v.numElements(), sv.numElements())
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = v.getFloat(i).toDouble
          val y = sv.getFloat(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val sim =
          if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        val d = 1.0 - sim
        if (d < bestD) { bestD = d; best = s.toLong }
      }
      s += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, seeds) => {
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val s = ctx.freshName("s"); val sv = ctx.freshName("sv")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val sim = ctx.freshName("sim")
      val d = ctx.freshName("d")
      s"""
         |long $best = 0L; double $bestD = Double.MAX_VALUE;
         |for (int $s = 0; $s < $seeds.numElements(); $s++) {
         |  if (!$seeds.isNullAt($s)) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $sv =
         |      $seeds.getArray($s);
         |    int $n = java.lang.Math.min($v.numElements(), $sv.numElements());
         |    double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double x = (double) $v.getFloat($i);
         |      double y = (double) $sv.getFloat($i);
         |      $dot += x * y; $na += x * x; $nb += y * y;
         |    }
         |    double $sim = ($na == 0.0 || $nb == 0.0) ? 0.0
         |      : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    double $d = 1.0 - $sim;
         |    if ($d < $bestD) { $bestD = $d; $best = (long) $s; }
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_seed"
}

/** Deterministic greedy farthest-first seed selection over a BOUNDED
  * per-row candidate pool:
  * `farthest_first_seeds(cands: array<array<float>>, k: int)` → the k
  * chosen candidate vectors in pick order (k-means++-style spread, no
  * RNG): seed 0 is candidate 0 (pools arrive lowest-id-first), each
  * next seed maximizes min-cosine-distance to the seeds so far, ties →
  * lowest index; `k ≥ pool` keeps the pool in order. Replaces the last
  * Scala UDF in the library (`Dedup.coherentBlocks`' per-oversized-
  * block seed choice): one call per OVERSIZED BLOCK, never per corpus
  * row, so this is catalog hygiene (no closure serialization, no
  * Row↔Catalyst conversion) more than a flops win. Generated code calls
  * the static kernel — the [[TextEntropy]] pattern for bounded-loop
  * kernels. Distance arithmetic is [[NearestSeed]]'s (double
  * accumulation, left-to-right, zero-norm → sim 0 i.e. dist 1), and the
  * kernel is spec-pinned element-equal to the `Dedup.farthestFirstPick`
  * reference implementation. */
case class FarthestFirstSeeds(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = left.dataType
  override def checkInputDataTypes(): TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(e, _) => VectorTypeCheck.isFloatVector(e)
      case _ => false
    }
    if (okL && right.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "farthest_first_seeds requires (array<array<float>>, int), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    FarthestFirstSeeds.pick(l.asInstanceOf[ArrayData],
      r.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cands, k) => {
      s"""
         |${ev.value} = graft.functions.FarthestFirstSeeds.pick($cands, $k);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "farthest_first_seeds"
}

object FarthestFirstSeeds {

  /** The greedy kernel over Catalyst array data — identical selection
    * to `Dedup.farthestFirstPick` (including the strict `>` tie rule:
    * first index wins equal spreads). Chosen vectors are copied out as
    * fresh primitive arrays, so the result never aliases the input
    * buffer. */
  def pick(cands: ArrayData, k: Int): ArrayData = {
    val n = cands.numElements()
    val kk = math.min(k, n)
    if (kk <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val vecs = Array.tabulate(n)(i => cands.getArray(i).toFloatArray())
      val order: Array[Int] =
        if (kk == n) Array.range(0, n) // pool == seeds: keep id order
        else {
          val chosen = new Array[Int](kk)
          val taken = new Array[Boolean](n)
          val minDist = Array.fill(n)(Double.MaxValue)
          chosen(0) = 0; taken(0) = true
          var m = 1; var last = 0
          while (m < kk) {
            var best = -1; var bestD = -1.0; var i = 0
            while (i < n) {
              if (!taken(i)) {
                val d = cosineDist(vecs(i), vecs(last))
                if (d < minDist(i)) minDist(i) = d
                if (minDist(i) > bestD) { bestD = minDist(i); best = i }
              }
              i += 1
            }
            chosen(m) = best; taken(best) = true; last = best; m += 1
          }
          chosen
        }
      new GenericArrayData(order.map(ci =>
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(vecs(ci)): Any))
    }
  }

  private def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Shannon entropy (nats) of a document's character or whitespace-token
  * distribution — the quality-filter signal pretraining curation uses to
  * drop low-information pages (gibberish → low char entropy; boilerplate
  * key-value spam → low token entropy relative to length).
  *
  * Cross-engine determinism: a float Σ p·ln p over an UNORDERED frequency
  * map is summation-order-dependent, so the kernel instead computes the
  * order-free integer sum S = Σ floor(c·ln(c)·1e6) over the counts (long
  * addition is exact and commutative) and derives
  * H = ln(n) − S/1e6/n, floored to the 1e-4 grid — every double op is a
  * deterministic function of exact integer counts, so DuckDB replays it
  * bit-identically (`Oracles` scaffold). Runs as one NARROW per-row call
  * (generated code calls the static kernel — no shuffle, no explode;
  * entropy via explode+groupBy(doc) would shuffle the whole corpus). */
object TextEntropy {
  def compute(s: UTF8String, overTokens: Boolean): Double = {
    val str = s.toString
    val counts = new java.util.HashMap[String, Long]()
    var n = 0L
    if (overTokens) {
      var i = 0; val len = str.length
      while (i < len) {
        var j = i
        while (j < len && str.charAt(j) != ' ') j += 1
        if (j > i) {
          val tok = str.substring(i, j)
          counts.merge(tok, 1L, (a, b) => a + b); n += 1
        }
        i = j + 1
      }
    } else {
      var i = 0
      while (i < str.length) {
        counts.merge(String.valueOf(str.charAt(i)), 1L, (a, b) => a + b)
        n += 1; i += 1
      }
    }
    if (n == 0L) 0.0
    else {
      var sum = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().toDouble
        sum += math.floor(c * math.log(c) * 1e6).toLong
      }
      math.floor((math.log(n.toDouble) - sum / 1e6 / n.toDouble) * 1e4) / 1e4
    }
  }
}

case class TextEntropy(child: Expression, overTokens: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${dt.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    TextEntropy.compute(v.asInstanceOf[UTF8String], overTokens)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextEntropy.compute($c, $overTokens)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String =
    if (overTokens) "token_entropy" else "char_entropy"
}
