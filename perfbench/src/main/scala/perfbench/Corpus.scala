package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's input corpus, generated from a fixed corpus seed in the
  * layout graft's `sources.Tables` reads (`documents`, `embeddings`,
  * `events` parquet). The shape follows the repository's synthetic test
  * corpus: a 30-word vocabulary, 10-100 words per document, a few exact and
  * near duplicates, 64-dimensional vectors around 16 centres and a month of
  * events over five event types.
  *
  * The corpus is the same for every workload seed: the seed picks queries,
  * k values, request order and sessions (see [[Inputs]]), as a deployment's
  * traffic varies over a fixed corpus. Generated once per checkout and
  * reused; never counted in `setup_s`. */
final case class Corpus(name: String, docs: Int, vectors: Int, events: Int) {
  /** Names this exact corpus: its digests are stored under it. */
  def id: String = s"$name-$docs-$vectors-$events-v1"
  def dir(work: Path): Path = work.resolve("data").resolve(id)
}

object Corpus {
  val Seed = 42L
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  private val EventTypes = Array("view", "click", "error", "signup", "purchase")
  val Dim = 64

  /** The corpus of every workload: 1,000 documents, 1,000 vectors and
    * 20,000 events, a fifth of the sf0.1 test corpus. Each run is a fresh JVM
    * that warms up before it measures, and the benchmark's time budget allows
    * about a minute per run. On a 4-core host a batch round took 16-22 s over
    * a ten times larger corpus and 7-11 s over an sf0.1-sized one, and a
    * JVM's first round takes about twice a warm one. */
  val Default = Corpus("small", docs = 1000, vectors = 1000, events = 20000)

  /** Generate `c` under `work` unless a complete copy is there already. */
  def ensure(spark: SparkSession, work: Path, c: Corpus): String = {
    val dir = c.dir(work)
    if (Files.exists(dir.resolve("_READY"))) return dir.toString
    val tmp = work.resolve("data").resolve(s"${c.name}.tmp")
    deleteTree(tmp)
    Files.createDirectories(tmp)
    write(spark, tmp.toString, c)
    Files.createFile(tmp.resolve("_READY"))
    deleteTree(dir)
    Files.move(tmp, dir)
    dir.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def documentTexts(n: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(Seed)
    val out = new scala.collection.mutable.ArrayBuffer[String](n)
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      out += {
        if (i > 50 && r < 0.002) out(rnd.nextInt(i))
        else if (i > 50 && r < 0.03) {
          val words = out(rnd.nextInt(i)).split(" ")
          words(rnd.nextInt(words.length)) = Vocab(rnd.nextInt(Vocab.length))
          words.mkString(" ") + " dup"
        } else
          Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
            .mkString(" ")
      }
    }
    out.toIndexedSeq
  }

  private def write(spark: SparkSession, dir: String, c: Corpus): Unit = {
    val rnd = new scala.util.Random(Seed + 1)
    val texts = documentTexts(c.docs)
    val docRows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
        t.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docSchema)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centres = Array.fill(16)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val vecs = new scala.collection.mutable.ArrayBuffer[Array[Double]](c.vectors)
    val vecRows = (0 until c.vectors).map { i =>
      val centre = rnd.nextInt(centres.length)
      val v =
        if (i > 50 && rnd.nextDouble() < 0.03)
          unit(vecs(rnd.nextInt(i)).map(_ + rnd.nextGaussian() * 0.01))
        else
          unit(centres(centre).map(_ + rnd.nextGaussian() * 0.18))
      vecs += v
      Row(i.toLong, v.map(_.toFloat).toSeq, centre % 10)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), vecSchema)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    // a month of events, event_id increasing with time, ~66 per user
    val users = math.max(1, c.events / 66)
    val start = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val step = 30L * 86400L * 1000000L / c.events
    val types = array(EventTypes.map(lit): _*)
    spark.range(0, c.events, 1, 1).select(
      col("id").as("event_id"),
      timestamp_micros(lit(start) + col("id") * step +
        (rand(Seed) * step).cast("long")).as("ts"),
      (rand(Seed + 2) * users).cast("long").as("user_id"),
      element_at(types, (rand(Seed + 3) * EventTypes.length).cast("int") + 1)
        .as("event_type"),
      (floor(rand(Seed + 4) * 20000) / 100).as("value"),
      concat(lit("{\"k\": "), (rand(Seed + 5) * 100).cast("int").cast("string"),
        lit("}")).as("props"))
      .write.parquet(s"$dir/events.parquet")
  }
}
