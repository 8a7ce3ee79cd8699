package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.bridge

/** Column-level facade over graft's native Catalyst expressions. */
package object functions {

  private def c(col: Column) = bridge.expression(col)

  def cosine_similarity(a: Column, b: Column): Column =
    bridge.column(CosineSimilarity(c(a), c(b)))

  def dot_product(a: Column, b: Column): Column =
    bridge.column(DotProduct(c(a), c(b)))

  def l2_norm(a: Column): Column = bridge.column(L2Norm(c(a)))

  def hash_embed(text: Column, dim: Int): Column =
    bridge.column(HashEmbed(c(text), dim))

  def minhash_signature(tokens: Column, k: Int): Column =
    bridge.column(MinHashSignature(c(tokens), k))

  def simhash64(tokens: Column): Column = bridge.column(SimHash64(c(tokens)))

  def poly_fingerprint(text: Column): Column =
    bridge.column(PolyFingerprint(c(text)))

  def fnv1a64(text: Column): Column = bridge.column(Fnv1a64(c(text)))

  def byte_hist256(payload: Column): Column =
    bridge.column(ByteHist256(c(payload)))

  def band_hashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    bridge.column(BandHashes(c(sig), bands, rowsPerBand))

  def top_k_by_score(score: Column, id: Column, k: Int): Column =
    bridge.column(TopKByScore(c(score), c(id), k).toAggregateExpression())

  def kmv_distinct(hash: Column, k: Int): Column =
    bridge.column(KmvDistinct(c(hash), k).toAggregateExpression())

  def bloom_might_contain(key: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bytes = new java.io.ByteArrayOutputStream()
    filter.writeTo(bytes)
    bridge.column(BloomMightContain(c(key), bytes.toByteArray))
  }

  def quantize8(v: Column): Column = bridge.column(Quantize8(c(v)))

  def scatter_vector(entries: Column, dim: Int): Column =
    bridge.column(ScatterVector(c(entries), dim))

  def dequantize8(q: Column): Column = bridge.column(Dequantize8(c(q)))

  def char_entropy(text: Column): Column =
    bridge.column(TextEntropy(c(text), overTokens = false))

  def token_entropy(text: Column): Column =
    bridge.column(TextEntropy(c(text), overTokens = true))

  def nearest_seed(v: Column, seeds: Column): Column =
    bridge.column(NearestSeed(c(v), c(seeds)))

  def farthest_first_seeds(cands: Column, k: Column): Column =
    bridge.column(FarthestFirstSeeds(c(cands), c(k)))

  def pq_encode(v: Column, books: Array[Array[Array[Float]]]): Column =
    bridge.column(PqEncode(c(v), books))

  def pq_reconstruct(v: Column, books: Array[Array[Array[Float]]]): Column =
    bridge.column(PqReconstruct(c(v), books))
}
