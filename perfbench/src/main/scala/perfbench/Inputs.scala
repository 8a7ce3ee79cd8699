package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.functions.TextFunctions.preprocess

/** Seeded query traffic over a fixed corpus. Everything the workload seed
  * decides comes from here: query texts, k values, request order and
  * sessions. */
final class Inputs(seed: Long, corpusTexts: IndexedSeq[String]) {
  val rnd = new scala.util.Random(seed)
  val Ks: IndexedSeq[Int] = IndexedSeq(3, 5, 10, 20, Inputs.MaxK)
  private val OffTopic = Array("zebra", "quantum", "pottery", "violin",
    "glacier", "saffron", "tundra", "origami", "nebula", "walrus", "cactus",
    "lantern", "meadow", "harbor", "falcon", "velvet")

  /** At most 500 characters, cut at a word boundary (the API's limit). */
  private def cap(words: Seq[String]): String = {
    val b = new StringBuilder
    words.foreach(w => if (b.length + w.length + 1 <= 500) {
      if (b.nonEmpty) b += ' '
      b ++= w
    })
    b.toString
  }

  /** A corpus document with about a fifth of its words dropped and a tenth
    * replaced, as a user paraphrasing a document would ask. */
  def perturb(doc: Int): String = {
    val words = corpusTexts(doc).split(" ").toSeq
      .filter(_ => rnd.nextDouble() >= 0.2)
      .map(w => if (rnd.nextDouble() < 0.1)
        Corpus.Vocab(rnd.nextInt(Corpus.Vocab.length)) else w)
    cap(if (words.isEmpty) Seq(corpusTexts(doc).split(" ").head) else words)
  }

  def onTopic(): String = perturb(rnd.nextInt(corpusTexts.length))

  def offTopic(): String =
    cap(Seq.fill(10 + rnd.nextInt(21))(OffTopic(rnd.nextInt(OffTopic.length))))

  def k(): Int = Ks(rnd.nextInt(Ks.length))

  /** `n` queries as sessions of 3-12 questions; within a session each
    * question stays on the previous one's document with probability 0.7.
    * Returns (session, position, text). */
  def sessions(n: Int): IndexedSeq[(Int, Int, String)] = {
    val out = IndexedSeq.newBuilder[(Int, Int, String)]
    var made = 0
    var s = 0
    while (made < n) {
      val len = math.min(3 + rnd.nextInt(10), n - made)
      var doc = rnd.nextInt(corpusTexts.length)
      for (p <- 0 until len) {
        if (p > 0 && rnd.nextDouble() >= 0.7) doc = rnd.nextInt(corpusTexts.length)
        out += ((s, p, perturb(doc)))
      }
      made += len
      s += 1
    }
    out.result()
  }
}

object Inputs {
  val Dim = 64
  /** The largest k a request asks for. */
  val MaxK = 25

  /** (query_id, qv) for query texts, embedded the way `SearchEngine` does. */
  def queryFrame(spark: SparkSession, texts: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    texts.toDF("query_id", "text")
      .select(col("query_id"), hash_embed(preprocess(col("text")), Dim).as("qv"))
  }

  /** The same for one query, as `SearchEngine.search` builds it. */
  def oneQuery(spark: SparkSession, text: String): DataFrame =
    spark.range(1).select(col("id").as("query_id"),
      hash_embed(preprocess(lit(text)), Dim).as("qv"))
}

/** Order-free digest of a result: 64-bit row hashes summed, plus the row
  * count. Equal results give equal digests whatever their row order. */
object Digest {
  def of(rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = r.mkString("\u0001")
      sum += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
    }
    f"${rows.size}%d:$sum%016x"
  }
}
