package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.functions.hash_embed
import graft.functions.TextFunctions.preprocess
import graft.operators.Search
import graft.sources.Tables

class EngineSpec extends SparkSuite {

  lazy val engine = new SearchEngine(spark, sfDir)

  test("entry flagship returns search results") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    val cols = SparkEntry.entry(spark).columns.toSeq
    assert(cols == Seq("rank", "doc_id", "score", "description"))
  }

  test("search returns k results ordered by rank, scores in [-1,1]") {
    val rows = engine.search("fast hash join on the big table", k = 5).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 5L))
    val scores = rows.map(_.getDouble(2))
    assert(scores.forall(s => s >= -1.0 && s <= 1.0))
    assert(scores.sameElements(scores.sorted.reverse)) // best first
  }

  test("search caps k at 20 (reference: search_controller.py k=min(k,20))") {
    assert(engine.search("table scan", k = 100).count() == 20)
  }

  test("search validates query text like the reference controller") {
    intercept[IllegalArgumentException](engine.search("   "))
    intercept[IllegalArgumentException](engine.search("x" * 501))
  }

  test("qaContext gates on distance < 0.4") {
    val row = engine.qaContext("fast hash join on the big table")
      .collect().head
    assert(!row.isNullAt(1))                 // best match always reported
    val accepted = row.getBoolean(3)
    val score = row.getDouble(2)
    assert(accepted == (1.0 - score < 0.4 + 1e-6) ||
           accepted == (1.0 - score < 0.4)) // gate consistent with score
  }

  test("healthCheck") {
    assert(engine.healthCheck())
    // false, not an exception, when the corpus is missing or unreadable
    val dir = java.nio.file.Files.createTempDirectory("graft-health")
    assert(!new SearchEngine(spark, dir.toString).healthCheck())
    java.nio.file.Files.writeString(dir.resolve("documents.parquet"), "not parquet")
    assert(!new SearchEngine(spark, dir.toString).healthCheck())
  }

  private def queryVector(text: String): DataFrame =
    spark.range(1).select(col("id").as("query_id"),
      hash_embed(preprocess(lit(text)), 64).as("qv"))

  /** `e`'s answers against `Search.bruteForceTopK` and
    * `Search.thresholdRetrieval` over its own `buildIndex()`, with every
    * description the text of its document. */
  private def assertServesBuildIndex(e: SearchEngine, dir: String,
                                     cases: Seq[(String, Int)]): Unit = {
    val vectors = e.buildIndex().select(col("doc_id").as("vec_id"), col("embedding"))
    val texts = Tables(spark, dir).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (text, k) =>
      val q = queryVector(text)
      val want = Search.bruteForceTopK(q, vectors, math.min(k, 20))
        .select(col("rank"), col("vec_id"), col("score")).collect().toSeq
      val got = e.search(text, k).collect().toSeq
      assert(got.map(r => Row(r.getLong(0), r.getLong(1), r.getDouble(2))) == want,
        s"search('$text', $k)")
      assert(got.forall(r => r.getString(3) == texts(r.getLong(1))),
        s"search('$text', $k): description is not the document's text")
      assert(e.qaContext(text).collect().toSeq ==
        Search.thresholdRetrieval(q, vectors, maxDistance = 0.4).collect().toSeq,
        s"qaContext('$text')")
    }
  }

  private val Probe = "fast hash join on the big table"

  test("resident index: search and qaContext equal the exact operators over buildIndex") {
    assertServesBuildIndex(engine, sfDir, Seq(
      Probe -> 1, "table scan" -> 3, "window agg over a stream" -> 20,
      "vector filter scan with a small key" -> 25, "merge sort part" -> 1,
      "customer order line value" -> 3, "spark batch stream" -> 20,
      "group by query row data" -> 25, "slow column hash" -> 3,
      "zebra quantum marmalade harpsichord" -> 3, "!!!" -> 5, "!!!" -> 1))
    val docs = Tables(spark, sfDir).documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    // every document twice: each sim is tied, and the lower doc_id ranks first
    val twice = corpusOf(docs.unionByName(
      docs.select((col("doc_id") + n).as("doc_id"), col("text"))))
    assertServesBuildIndex(new SearchEngine(spark, twice), twice,
      Seq(Probe -> 6, "table scan" -> 1, "!!!" -> 4, "spark batch stream" -> 25))
    // fewer documents than k
    val few = corpusOf(docs.filter(col("doc_id") < 3))
    assertServesBuildIndex(new SearchEngine(spark, few), few,
      Seq(Probe -> 5, "!!!" -> 20, "table scan" -> 25))
    // no documents: zero rows from both
    val none = corpusOf(docs.filter(lit(false)))
    assertServesBuildIndex(new SearchEngine(spark, none), none,
      Seq(Probe -> 5, "!!!" -> 1))
    assert(new SearchEngine(spark, none).search(Probe, 5).collect().isEmpty)
  }

  /** A corpus directory whose `documents.parquet` holds `docs`. */
  private def corpusOf(docs: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("resident index: a corpus rewritten at a file: URI is served fresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine")
    val docs = s"$dir/documents.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      java.nio.file.Paths.get(docs))
    val uri = dir.toUri.toString.stripSuffix("/")
    val e = new SearchEngine(spark, uri)
    assertServesBuildIndex(e, uri, Seq(Probe -> 5))
    val before = e.search(Probe, 5).collect().toSeq
    // every document takes its successor's text: same ids, new answers
    val orig = Tables(spark, sfDir).documents
    val n = orig.count()
    orig.select(((col("doc_id") + n - 1) % n).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(docs)
    assertServesBuildIndex(e, uri, Seq(Probe -> 5, "table scan" -> 1))
    assert(e.search(Probe, 5).collect().toSeq != before)
  }

  test("resident index: still correct after every persisted RDD is unpersisted") {
    val e = new SearchEngine(spark, sfDir)
    assertServesBuildIndex(e, sfDir, Seq(Probe -> 5))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assertServesBuildIndex(e, sfDir, Seq(Probe -> 5, "table scan" -> 1))
  }

  test("resident index: a warm search and qaContext run no job before they return") {
    val e = new SearchEngine(spark, sfDir)
    e.search(Probe).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          job: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val frames = Seq(e.search(Probe, 5), e.qaContext(Probe))
      bridge.drainListenerBus(spark)
      assert(jobs.get == 0, "jobs launched while constructing a warm request")
      frames.foreach { f =>
        jobs.set(0)
        f.collect()
        bridge.drainListenerBus(spark)
        assert(jobs.get == 1, s"a warm request ran ${jobs.get} jobs, want 1")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The simple `explain()` of `df`. */
  private def explained(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain() }
    out.toString("UTF-8")
  }

  test("a warm search and qaContext each execute as one graft exec") {
    val e = new SearchEngine(spark, sfDir)
    e.search(Probe).collect()
    Seq(e.search(Probe, 5) -> 5, e.qaContext(Probe) -> 1).foreach { case (f, n) =>
      val plan = f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan
      val nodes = plan.collect { case p => p }
      assert(nodes.map(_.getClass) == Seq(classOf[graft.plans.ResidentTopKExec]),
        s"executed plan is not one graft exec:\n$plan")
      Seq("Sort", "TakeOrderedAndProject", "WholeStageCodegen", "Exchange")
        .foreach(op => assert(!plan.toString.contains(op), s"$op in\n$plan"))
      val text = explained(f)
      assert(text.contains("ResidentTopK") && text.contains(s"n=$n") &&
        text.contains("dim=64"), text)
      assert(!"""\d\.\d+(E-?\d+)?,\s*-?\d\.\d""".r.findFirstIn(text).isDefined,
        s"explain prints the query vector:\n$text")
    }
  }

  test("concurrent search and qaContext requests answer as one thread does") {
    val e = new SearchEngine(spark, sfDir)
    val texts = Seq(Probe, "table scan", "window agg over a stream",
      "vector filter scan with a small key", "customer order line value",
      "zebra quantum marmalade harpsichord", "!!!", "spark batch stream")
    def answer(i: Int, text: String): Seq[Row] =
      if (i % 2 == 0) e.search(text, 1 + i % 7).collect().toSeq
      else e.qaContext(text).collect().toSeq
    val cases = (0 until 4).map(t => (0 until 25).map(j => (t + j, texts((t * 3 + j) % texts.size))))
    val want = cases.flatten.distinct.map(c => c -> answer(c._1, c._2)).toMap
    val vectors = texts.map(t => t -> e.queryVector(t).toSeq).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = cases.map { mine =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            val wrong = mine.filter(c => answer(c._1, c._2) != want(c)).map(_.toString)
            // the bound query expression alone, many times over, so that
            // overlapping evaluations are certain to happen
            wrong ++ (0 until 4000).map(i => texts(i % texts.size))
              .filter(t => e.queryVector(t).toSeq != vectors(t)).distinct
          }
        })
      }
      val wrong = runs.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(wrong.isEmpty, s"answers differ from the single-threaded ones: $wrong")
    } finally pool.shutdownNow()
  }

  test("a session built with GraftExtensions plans a request's leaf node") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val (strategies, rules) = bridge.injected(ext, spark)
    assert(strategies.contains(graft.plans.ResidentTopKStrategy))
    // the same list GraftSession installs
    assert(strategies == GraftSql.strategies && rules == GraftSql.optimizerRules)
    val node = graft.plans.ResidentTopK(spark.sparkContext.emptyRDD,
      Array(1f, 0f), 3, graft.plans.ResidentTopK.Ranked)
    assert(strategies.flatMap(_(node)).map(_.getClass) ==
      Seq(classOf[graft.plans.ResidentTopKExec]))
  }

  test("queries and oracles are in 1:1 correspondence") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracle without query: $orphanOracles")
    // a query without an oracle silently downgrades to the driver's
    // rows-only check — every operator this library claims must carry
    // the full hash oracle
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"query without oracle: $unchecked")
  }

  test("bench phase rows live outside every catalog namespace") {
    // phase rows decompose a headline row's wall — they must never leak
    // into the correctness catalog (no oracle) and the '#' convention
    // keeps them unambiguous in any key listing
    SparkEntry.benchPhases.keys.foreach { k =>
      assert(k.contains("#"), s"phase row without '#': $k")
      assert(k.split("#")(0).nonEmpty &&
        SparkEntry.queries.contains(k.split("#")(0)) ||
        k.startsWith("dedup_shingles"),
        s"phase row's parent is not a catalog row: $k")
      assert(!SparkEntry.queries.contains(k), s"phase key collides: $k")
      assert(!SparkEntry.oracleSql.contains(k),
        s"phase row grew an oracle (it must stay bench-only): $k")
    }
  }

  test("graft expressions callable from spark.sql after registration") {
    GraftSql.register(spark)
    val got = spark.sql(
      """SELECT cosine_similarity(array(cast(1.0 as float), cast(2.0 as float), cast(3.0 as float)),
        |                         array(cast(3.0 as float), cast(2.0 as float), cast(1.0 as float))) AS c,
        |       l2_norm(array(cast(3.0 as float), cast(4.0 as float))) AS n,
        |       poly_fingerprint('ab') AS fp""".stripMargin).head()
    assert(math.abs(got.getDouble(0) - 10.0 / 14.0) < 1e-12)
    assert(got.getDouble(1) == 5.0)
    assert(got.getLong(2) == 'a'.toLong * 31 + 'b'.toLong)
  }

  test("GraftExtensions installs all functions without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("rag chunk key: a >48k-token book never collides into the next doc") {
    import spark.implicits._
    // 1000 chunks at stride 48 → chunk_id reaches 1000; under the old
    // doc_id*1000 key, doc 0's chunk 1000 stole doc 1's chunk 0 id.
    // Under doc_id*2³² every doc owns a disjoint id block.
    val book = (0 until 48 * 1001).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, book), (1L, "short doc here")).toDF("doc_id", "text")
    val ids = operators.TextAnalysis.chunks(docs)
      .select((col("doc_id") * lit(4294967296L) + col("chunk_id"))
        .as("vec_id"), col("doc_id"))
      .as[(Long, Long)].collect()
    assert(ids.length == ids.map(_._1).distinct.length, "vec_id collision")
    // every vec_id decodes back to exactly its own document
    assert(ids.forall { case (v, d) => v / 4294967296L == d },
      "chunk escaped its doc's id block")
    assert(ids.count(_._2 == 0L) > 1000, "long doc must exceed 1000 chunks")
  }

  test("multimodal feature extraction: schema and determinism") {
    val t = sources.Tables(spark, sfDir)
    val f = multimodal.Multimodal.documentFeatures(t.documents)
    assert(f.columns.toSeq ==
      Seq("doc_id", "n_bytes", "checksum", "width", "height", "features"))
    val twice = multimodal.Multimodal.documentFeatures(t.documents)
    assert(f.orderBy(col("doc_id")).collect()
      .sameElements(twice.orderBy(col("doc_id")).collect()))
    val row = f.orderBy(col("doc_id")).head()
    assert(row.getSeq[Float](5).length == 8)
    assert(row.getLong(1) > 0)
  }

  test("multimodal frame sampling: bounded fan-out, per-frame hashes, thumbs") {
    val t = sources.Tables(spark, sfDir)
    val nDocs = t.documents.count()
    val fr = multimodal.Multimodal.documentFrames(t.documents, nFrames = 4)
    assert(fr.count() == nDocs * 4)
    // each doc yields 4 distinct frame indexes with distinct hashes
    val perDoc = fr.groupBy(col("doc_id"))
      .agg(countDistinct(col("frame_idx")).as("ni"),
           countDistinct(col("frame_hash")).as("nh"))
    assert(perDoc.filter(col("ni") =!= 4L).count() == 0)
    assert(perDoc.filter(col("nh") =!= 4L).count() == 0)
    // thumbnails are the half-resolution resize with a floor of 8
    val bad = fr.filter(
      col("thumb_w") =!= greatest(lit(8), (col("width") / 2).cast("int")) ||
      col("thumb_h") =!= greatest(lit(8), (col("height") / 2).cast("int")))
    assert(bad.count() == 0)
  }
}
