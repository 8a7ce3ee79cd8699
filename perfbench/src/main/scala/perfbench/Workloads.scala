package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SearchEngine
import graft.operators.{Dedup, IvfIndex, ProductQuantizer, Search, Sessionize}
import graft.sources.Tables

/** One timed operation: a request on `qa_online`, a round elsewhere. `ms`
  * is its wall time, `stolenMs` the machine's steal time while it ran
  * (summed over the CPUs), `cpuMs` this process's CPU time in it outside
  * the JIT compiler threads, and `jitMs` theirs. */
final case class Op(kind: String, ms: Double, stolenMs: Double, cpuMs: Double,
                    jitMs: Double) {
  /** The share of the machine's CPU capacity (`cores` × wall time) that
    * the hypervisor did not take away while this ran. */
  def unstolen(cores: Int): Double = if (ms > 0) 1 - stolenMs / (cores * ms) else 1.0
}

object Op {
  def time[A](kind: String)(body: => A): (A, Op) = {
    val c0 = Clock.now()
    val a = body
    (a, Clock.now().since(c0, kind))
  }
}

/** Outcome of the output checks. */
final case class Checked(attempted: Int, failed: Int, problems: Seq[String],
                         layer: Map[String, Double])

/** A workload drives graft through its public calls. `prepare` runs once per
  * session and is part of set-up; `round` is the unit that is repeated,
  * timed and checked. */
trait Workload {
  def name: String
  /** Operation kinds whose medians must settle during warm-up. */
  def kinds: Seq[String]
  /** Rounds run before the measured ones, counted in set-up. */
  def warmRounds: Int
  def prepare(calls: Calls): Unit
  def round(calls: Calls): Seq[Op]
  /** Checks every output recorded so far against its reference. */
  def check(calls: Calls, digests: Digests): Checked
  /** Wall-time splits of the last round (s), for the per-layer record. */
  def phases: Map[String, Double] = Map.empty
  /** Text and vector inputs for the kernel rates. */
  def kernelInputs(spark: SparkSession): (DataFrame, DataFrame)
}

object Workload {
  def apply(name: String, work: Path, seed: Long): Workload = name match {
    case "qa_online" => new QaOnline(work, seed)
    case "batch" => new Batch(work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (qa_online, batch)")
  }

  private[perfbench] def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private[perfbench] def attempt[A](problems: mutable.Buffer[String], what: String)(
      body: => A): Option[A] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }

  /** (vec_id, embedding) of an index written by `SearchEngine.buildIndex`. */
  def vectorsOf(index: DataFrame): DataFrame =
    index.select(col("doc_id").as("vec_id"), col("embedding"))

  /** Exact top-k per query id, best first: (vec_id, score). */
  def exactTopK(queries: DataFrame, corpus: DataFrame, k: Int)
      : Map[Long, IndexedSeq[(Long, Double)]] =
    Search.bruteForceTopK(queries, corpus, k).collect().toIndexedSeq
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))) }

  /** Exact floored cosine of given (query_id, vec_id) pairs. */
  def pairScores(spark: SparkSession, pairs: Seq[(Long, Long)],
                 queries: DataFrame, corpus: DataFrame): Map[(Long, Long), Double] = {
    import spark.implicits._
    pairs.distinct.toDF("query_id", "vec_id")
      .join(queries, "query_id").join(corpus, "vec_id")
      .select(col("query_id"), col("vec_id"),
        (floor(graft.functions.cosine_similarity(col("qv"), col("embedding")) * 1e6)
          / 1e6).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

import Workload._

/** Request traffic of the reference API on one closed-loop client: `search`,
  * `qaContext` and single-query IVF requests in equal shares, in seeded
  * order. */
final class QaOnline(work: Path, seed: Long) extends Workload {
  val name = "qa_online"
  val kinds = Seq("search", "qa", "ivf")
  val warmRounds = 4
  private val corpus = Corpus.Default
  private val dir = corpus.dir(work).toString
  private val texts = Corpus.documentTexts(corpus.docs)
  private val in = new Inputs(seed, texts)
  private val ivfPath = work.resolve("run").resolve("qa_online_ivf").toString
  private var engine: SearchEngine = _

  private final case class Req(kind: String, text: String, k: Int,
                               rows: Option[Seq[Row]])
  private val reqs = mutable.ArrayBuffer.empty[Req]
  private val problems = mutable.ArrayBuffer.empty[String]

  def prepare(calls: Calls): Unit = {
    engine = new SearchEngine(calls.spark, dir)
    IvfIndex.persist(vectorsOf(engine.buildIndex()), nCentroids = 0, ivfPath)
  }

  def round(calls: Calls): Seq[Op] = {
    val spark = calls.spark
    in.rnd.shuffle(kinds).map { kind =>
      val text = if (kind == "qa" && in.rnd.nextInt(5) == 0) in.offTopic()
                 else in.onTopic()
      val k = if (kind == "qa") 1 else in.k()
      val (rows, op) = Op.time(kind)(attempt(problems, s"$kind request") {
        kind match {
          case "search" => calls.frame("SearchEngine.search")(
            engine.search(text, k))(_.collect().toSeq)
          case "qa" => calls.frame("SearchEngine.qaContext")(
            engine.qaContext(text))(_.collect().toSeq)
          case _ => calls.frame("IvfIndex.searchPersisted")(
            IvfIndex.searchPersisted(spark, ivfPath, Inputs.oneQuery(spark, text),
              nprobe = 4, k = k))(_.collect().toSeq)
        }
      })
      reqs += Req(kind, text, k, rows)
      op
    }
  }

  /** Every answer against `Search.bruteForceTopK` over the same corpus and
    * query embeddings, computed once for all requests. */
  def check(calls: Calls, digests: Digests): Checked = {
    val spark = calls.spark
    val vectors = vectorsOf(engine.buildIndex())
    val queries = Inputs.queryFrame(spark,
      reqs.indices.map(i => (i.toLong, reqs(i).text)))
    val exact = exactTopK(queries, vectors, Inputs.MaxK)
    val ivfPairs = reqs.indices.flatMap(i => reqs(i).rows.toSeq.flatMap(rs =>
      if (reqs(i).kind == "ivf") rs.map(r => (i.toLong, r.getAs[Long]("vec_id")))
      else Nil))
    val scores = pairScores(spark, ivfPairs, queries, vectors)
    var failed = 0
    var accepted = 0
    val recalls = mutable.ArrayBuffer.empty[Double]
    def fail(i: Int, msg: String): Unit = {
      failed += 1
      if (problems.size < 20) problems += s"request $i (${reqs(i).kind}): $msg"
    }
    reqs.indices.foreach { i =>
      val r = reqs(i)
      val ex = exact.getOrElse(i.toLong, IndexedSeq.empty)
      r.rows match {
        case None => failed += 1
        case Some(rows) => r.kind match {
          case "search" =>
            val want = ex.take(math.min(r.k, 20))
            val got = rows.map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("score")))
            if (got != want) fail(i, s"top-${r.k} differs from bruteForceTopK")
            else if (rows.exists(x => x.getAs[String]("description") !=
                texts(x.getAs[Long]("doc_id").toInt))) fail(i, "wrong description")
          case "qa" =>
            if (rows.size != 1) fail(i, s"${rows.size} rows, want 1")
            else {
              val x = rows.head
              val best = (x.getAs[Long]("best_id"), x.getAs[Double]("best_score"))
              val gate = 1.0 - best._2 < 0.4
              if (best != ex.head) fail(i, s"best $best, exact ${ex.head}")
              else if (x.getAs[Boolean]("accepted") != gate &&
                       math.abs(1.0 - best._2 - 0.4) > 1e-5) fail(i, "gate disagrees")
              if (x.getAs[Boolean]("accepted")) accepted += 1
            }
          case _ =>
            val got = rows.map(x => (x.getAs[Long]("vec_id"), x.getAs[Double]("score")))
            if (got.size != r.k) fail(i, s"${got.size} rows, want ${r.k}")
            else if (got.exists { case (v, s) => !scores.get((i.toLong, v)).contains(s) })
              fail(i, "an IVF score is not the exact cosine")
            else if (got.map(_._2) != got.map(_._2).sorted.reverse)
              fail(i, "IVF answer not ranked by score")
            if (r.k >= 10) recalls += got.take(10).map(_._1)
              .intersect(ex.take(10).map(_._1)).size / 10.0
        }
      }
    }
    val qas = reqs.count(_.kind == "qa")
    Checked(reqs.size, failed, problems.toSeq, Map(
      "SearchEngine.qaContext.hit_rate" -> (if (qas == 0) 0.0 else accepted.toDouble / qas),
      "IvfIndex.recall_at_10" ->
        (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
      "IvfIndex.corpus_rows" -> corpus.docs.toDouble))
  }

  def kernelInputs(spark: SparkSession): (DataFrame, DataFrame) = {
    val t = Tables(spark, dir)
    (t.documents.select(col("text")), vectorsOf(engine.buildIndex()))
  }
}

/** The same pipeline as one batch job per round: build the index from raw
  * parquet, persist IVF and PQ indexes over it, answer 100 seeded session
  * queries four ways, find topic changes, and build the conversation
  * context over the event log. */
final class QaBatch(work: Path, seed: Long) {
  private val name = "qa_batch"
  private val corpus = Corpus.Default
  private val dir = corpus.dir(work).toString
  private val in = new Inputs(seed, Corpus.documentTexts(corpus.docs))
  private val sessions = in.sessions(QaBatch.Queries)
  private val run = work.resolve("run")
  private val indexPath = run.resolve("qa_batch_index.parquet").toString
  private val ivfPath = run.resolve("qa_batch_ivf").toString
  private val pqPath = run.resolve("qa_batch_pq").toString
  private var engine: SearchEngine = _
  private var events: DataFrame = _
  private var queries: DataFrame = _
  private var sessionVectors: DataFrame = _
  private var lastPhases = Map.empty[String, Double]

  /** First answer of each call, and the digest of every answer. */
  private val firsts = mutable.Map.empty[String, Seq[Row]]
  private val digestsOf = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var calls0 = 0
  private var thrown = 0

  def prepare(calls: Calls): Unit = {
    val spark = calls.spark
    engine = new SearchEngine(spark, dir)
    events = Tables(spark, dir).events
    queries = Inputs.queryFrame(spark,
      sessions.indices.map(i => (i.toLong, sessions(i)._3)))
    import spark.implicits._
    sessionVectors = sessions.toDF("session_id", "pos", "text")
      .select(col("session_id"), col("pos"),
        graft.functions.hash_embed(
          graft.functions.TextFunctions.preprocess(col("text")), Inputs.Dim)
          .as("embedding"))
  }

  private def keep(call: String)(rows: => Seq[Row]): Unit = {
    calls0 += 1
    attempt(problems, call)(rows) match {
      case Some(rs) =>
        firsts.getOrElseUpdate(call, rs)
        digestsOf.getOrElseUpdate(call, mutable.ArrayBuffer.empty) += Digest.of(rs)
      case None => thrown += 1
    }
  }

  /** One round; its wall times are in [[phases]]. */
  def round(calls: Calls): Unit = {
    val spark = calls.spark
    def collect(df: DataFrame): Seq[Row] = df.collect().toSeq
    val (_, buildMs) = timed {
      keep("SearchEngine.buildIndex") {
        calls.frame("SearchEngine.buildIndex")(engine.buildIndex())(
          _.write.mode("overwrite").parquet(indexPath))
        Nil
      }
      val vectors = vectorsOf(spark.read.parquet(indexPath))
      keep("IvfIndex.persist") {
        calls.action("IvfIndex.persist")(IvfIndex.persist(vectors, 0, ivfPath)); Nil
      }
      keep("ProductQuantizer.persist") {
        calls.action("ProductQuantizer.persist")(
          ProductQuantizer.persist(vectors, pqPath)); Nil
      }
    }
    val (_, searchMs) = timed {
      val vectors = vectorsOf(spark.read.parquet(indexPath))
      keep("Search.fusedTopK")(calls.frame("Search.fusedTopK")(
        Search.fusedTopK(queries, vectors, 10))(collect))
      keep("IvfIndex.searchPersisted")(calls.frame("IvfIndex.searchPersisted")(
        IvfIndex.searchPersisted(spark, ivfPath, queries, nprobe = 4, k = 10))(collect))
      keep("ProductQuantizer.searchPersisted")(
        calls.frame("ProductQuantizer.searchPersisted")(
          ProductQuantizer.searchPersisted(spark, pqPath, queries, topK = 10))(collect))
      keep("Search.thresholdRetrieval")(calls.frame("Search.thresholdRetrieval")(
        Search.thresholdRetrieval(queries, vectors, 0.4))(collect))
      keep("Search.topicChanges")(calls.frame("Search.topicChanges")(
        Search.topicChanges(sessionVectors, col("session_id"), col("pos")))(collect))
      keep("Sessionize.qaContext")(calls.frame("Sessionize.qaContext")(
        Sessionize.qaContext(events))(collect))
    }
    lastPhases = Map("build_s" -> buildMs / 1e3, "search_s" -> searchMs / 1e3)
  }

  def phases: Map[String, Double] = lastPhases

  def check(calls: Calls, digests: Digests): Checked = {
    val spark = calls.spark
    var failed = thrown
    def fail(call: String, msg: String): Unit = {
      failed += 1
      if (problems.size < 20) problems += s"$call: $msg"
    }
    val vectors = vectorsOf(spark.read.parquet(indexPath))
    val exact = exactTopK(queries, vectors, 10)
    val nq = sessions.size
    def rowsOf(call: String): Option[Seq[Row]] = firsts.get(call)
    def perQuery(rs: Seq[Row]): Map[Long, Seq[Row]] =
      rs.groupBy(_.getAs[Long]("query_id")).map { case (q, x) =>
        q -> x.sortBy(_.getAs[Long]("rank")) }
    /** Every round gave the same answer, equal to the stored digest. */
    def stable(call: String, key: String): Unit = {
      val ds = digestsOf.get(call).map(_.toSeq).getOrElse(Nil)
      ds.drop(1).foreach(d => if (d != ds.head) fail(call, "answer changed between rounds"))
      ds.headOption.foreach(d => digests.expect(key, d).foreach(fail(call, _)))
    }

    val exactRows = exact.toSeq.flatMap { case (q, xs) => xs.map((q, _)) }.toSet
    rowsOf("Search.fusedTopK").foreach { rs =>
      val got = rs.map(r => (r.getAs[Long]("query_id"),
        (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))).toSet
      if (rs.size != exactRows.size || got != exactRows)
        fail("Search.fusedTopK", "differs from bruteForceTopK")
    }
    rowsOf("Search.thresholdRetrieval").foreach { rs =>
      if (rs.size != nq) fail("Search.thresholdRetrieval", s"${rs.size} rows, want $nq")
      rs.foreach { r =>
        val q = r.getAs[Long]("query_id")
        val best = (r.getAs[Long]("best_id"), r.getAs[Double]("best_score"))
        if (!exact.get(q).flatMap(_.headOption).contains(best))
          fail("Search.thresholdRetrieval", s"query $q best $best is not the exact top-1")
      }
    }
    val ivf = rowsOf("IvfIndex.searchPersisted")
    ivf.headOption.foreach { rs =>
      val pairs = rs.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      val scores = pairScores(spark, pairs, queries, vectors)
      if (rs.exists(r => !scores.get((r.getAs[Long]("query_id"),
          r.getAs[Long]("vec_id"))).contains(r.getAs[Double]("score"))))
        fail("IvfIndex.searchPersisted", "a score is not the exact cosine")
    }
    Seq("IvfIndex.searchPersisted", "ProductQuantizer.searchPersisted").foreach { c =>
      rowsOf(c).foreach { rs =>
        val pq = perQuery(rs)
        if (pq.size != nq || pq.values.exists(_.size != 10))
          fail(c, s"not 10 answers for each of $nq queries")
      }
      stable(c, s"$name/${corpus.id}/$seed/$c")
    }
    rowsOf("Search.topicChanges").foreach { rs =>
      if (rs.size != nq) fail("Search.topicChanges", s"${rs.size} rows, want $nq")
      if (rs.exists(r => r.getAs[Int]("pos") == 0 && !r.getAs[Boolean]("topic_change")))
        fail("Search.topicChanges", "a session's first question is not a change")
    }
    stable("Search.topicChanges", s"$name/${corpus.id}/$seed/Search.topicChanges")
    stable("Sessionize.qaContext", s"${corpus.id}/Sessionize.qaContext")
    val index = spark.read.parquet(indexPath)
    val indexDigest = Digest.of(index.collect().toSeq)
    if (index.count() != corpus.docs) fail("SearchEngine.buildIndex", "row count")
    digests.expect(s"${corpus.id}/SearchEngine.buildIndex", indexDigest)
      .foreach(fail("SearchEngine.buildIndex", _))

    val recall = ivf.headOption.map { rs =>
      val got = perQuery(rs)
      val r = exact.toSeq.map { case (q, xs) =>
        got.getOrElse(q, Nil).map(_.getAs[Long]("vec_id"))
          .intersect(xs.map(_._1)).size / 10.0 }
      r.sum / r.size
    }.getOrElse(0.0)
    Checked(calls0, failed, problems.toSeq, Map(
      "IvfIndex.recall_at_10" -> recall,
      "IvfIndex.corpus_rows" -> corpus.docs.toDouble))
  }

  def kernelInputs(spark: SparkSession): (DataFrame, DataFrame) =
    (Tables(spark, dir).documents.select(col("text")),
      vectorsOf(spark.read.parquet(indexPath)))
}

object QaBatch {
  val Queries = 100
}

/** The shingle pair joins of the LLM-data dedup family, in a seeded order:
  * the family's largest cost (about 510 s of the 1563.7 s sf10 suite) and
  * the target of a shared pair kernel. MinHash LSH, semantic blocking and
  * the canonical map stay out: each call adds a cold compile to every run. */
final class DedupBatch(work: Path, seed: Long) {
  private val corpus = Corpus.Default
  private val dir = corpus.dir(work).toString
  private val callNames = new scala.util.Random(seed).shuffle(Seq(
    "Dedup.jaccardNeighbors", "Dedup.containmentNeighbors"))
  private var tables: Tables = _
  private val digestsOf = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var thrown = 0

  def prepare(calls: Calls): Unit =
    tables = Tables(calls.spark, dir, spread = true)

  private def build(call: String): DataFrame =
    if (call == "Dedup.jaccardNeighbors") Dedup.jaccardNeighbors(tables.documents)
    else Dedup.containmentNeighbors(tables.documents)

  private var lastMs = 0.0

  /** One round; its wall times are in [[phases]]. */
  def round(calls: Calls): Unit = {
    val (_, ms) = timed(callNames.foreach { c =>
      attempted += 1
      attempt(problems, c)(calls.frame(c)(build(c))(_.collect().toSeq)) match {
        case Some(rs) =>
          digestsOf.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += Digest.of(rs)
        case None => thrown += 1
      }
    })
    lastMs = ms
  }

  def phases: Map[String, Double] = Map("dedup_s" -> lastMs / 1e3)

  def check(calls: Calls, digests: Digests): Checked = {
    var failed = thrown
    callNames.foreach { c =>
      val ds = digestsOf.get(c).map(_.toSeq).getOrElse(Nil)
      ds.foreach { d =>
        val bad = digests.expect(s"${corpus.id}/$c", d)
        if (bad.nonEmpty) failed += 1
        bad.foreach(m => if (problems.size < 20) problems += s"$c: $m")
      }
    }
    Checked(attempted, failed, problems.toSeq, Map.empty)
  }

}

/** The batch side of the paper's workload in one round: the Q&A pipeline
  * ([[QaBatch]]) and then the shingle pair joins beside it ([[DedupBatch]]).
  * One workload rather than two: every run pays a cold JVM's warm-up, and
  * the benchmark's time budget holds the runs of two workloads. */
final class Batch(work: Path, seed: Long) extends Workload {
  val name = "batch"
  val kinds = Seq("round")
  val warmRounds = 1
  private val qa = new QaBatch(work, seed)
  private val dedup = new DedupBatch(work, seed)

  def prepare(calls: Calls): Unit = {
    qa.prepare(calls)
    dedup.prepare(calls)
  }

  def round(calls: Calls): Seq[Op] = {
    val (_, op) = Op.time("round") { qa.round(calls); dedup.round(calls) }
    Seq(op)
  }

  override def phases: Map[String, Double] = qa.phases ++ dedup.phases

  def check(calls: Calls, digests: Digests): Checked = {
    val a = qa.check(calls, digests)
    val b = dedup.check(calls, digests)
    Checked(a.attempted + b.attempted, a.failed + b.failed, a.problems ++ b.problems,
      a.layer ++ b.layer)
  }

  def kernelInputs(spark: SparkSession): (DataFrame, DataFrame) = qa.kernelInputs(spark)
}
