package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType
import graft.operators.{IvfIndex, ProductQuantizer, Search, Sessionize}
import graft.sources.Tables

/** The Q&A batch calls on a job budget: the Spark jobs each call runs
  * while its frame is built ("construct") and while it is collected
  * ("exec"), counted with a `SparkListener`. The queries are a local
  * frame, as a batch's query set is, so collecting them runs no job. */
class JobBudgetSpec extends SparkSuite {

  lazy val t = Tables(spark, sfDir)
  // read once: each read of a parquet path infers its schema in a job
  lazy val embeddings = t.embeddings
  lazy val events = t.events

  lazy val queries: DataFrame = {
    val rows = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      embeddings.schema("vec_id").copy(name = "query_id"),
      embeddings.schema("embedding").copy(name = "qv"))))
  }

  private val started = new AtomicInteger

  /** `body`'s result and the number of jobs it ran. */
  private def jobs[A](body: => A): (A, Int) = {
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    queries // built outside every count
    bridge.drainListenerBus(spark)
    started.set(0)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      bridge.drainListenerBus(spark)
      (a, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Construct and exec jobs of the frame `call` returns. */
  private def budget(call: => DataFrame): (Int, Int) = {
    val (frame, construct) = jobs(call)
    val (_, exec) = jobs(frame.collect())
    (construct, exec)
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** The schema of the one file relation `frame` reads. */
  private def relationSchema(frame: DataFrame): StructType =
    frame.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.schema
    }.get

  test("IvfIndex.persist: at most four jobs with auto k, then a search reads nothing " +
    "before it returns") {
    val dir = tmp("graft-budget-ivf")
    val (_, persist) = jobs(IvfIndex.persist(embeddings, nCentroids = 0, dir))
    assert(persist <= 4, s"persist ran $persist jobs")
    val (construct, exec) = budget(IvfIndex.searchPersisted(spark, dir, queries, 4, 5))
    assert(construct == 0, s"search after persist ran $construct jobs before it returned")
    assert(exec <= 3, s"search ran $exec jobs")
    val (_, given) = jobs(IvfIndex.persist(embeddings, nCentroids = 16, dir))
    assert(given <= 3, s"persist with a given k ran $given jobs")
  }

  test("ProductQuantizer.persist: three jobs, then a search is one job") {
    val dir = tmp("graft-budget-pq")
    val (_, persist) = jobs(ProductQuantizer.persist(embeddings, dir))
    assert(persist <= 3, s"persist ran $persist jobs")
    val (construct, exec) = budget(ProductQuantizer.searchPersisted(spark, dir, queries, 10))
    assert(construct == 0, s"search after persist ran $construct jobs before it returned")
    assert(exec == 1, s"search ran $exec jobs")
  }

  test("a primed index reads with the schema a cold read infers") {
    val dir = tmp("graft-budget-primed")
    IvfIndex.persist(embeddings, nCentroids = 16, s"$dir/ivf")
    ProductQuantizer.persist(embeddings, s"$dir/pq")
    // the same files under another path string: a cold entry, read from disk
    val cold = new java.io.File(dir).toURI.toString.stripSuffix("/")
    Seq[String => DataFrame](
      d => IvfIndex.searchPersisted(spark, s"$d/ivf", queries, 4, 5),
      d => ProductQuantizer.searchPersisted(spark, s"$d/pq", queries, 5)).foreach { search =>
      val (primed, read) = (search(dir), search(cold))
      assert(relationSchema(primed) == relationSchema(read))
      assert(primed.collect().toSeq == read.collect().toSeq)
    }
  }

  test("thresholdRetrieval: one job, or two when the queries are read from parquet") {
    val corpus = embeddings.select(col("vec_id"), col("embedding"))
    val (construct, exec) = budget(Search.thresholdRetrieval(queries, corpus, 0.4))
    assert(construct == 0 && exec == 1, s"$construct + $exec jobs")
    val read = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val (c2, e2) = budget(Search.thresholdRetrieval(read, corpus, 0.4))
    assert(c2 + e2 <= 2, s"$c2 + $e2 jobs")
  }

  test("Sessionize.qaContext: four jobs, the last-N window's shuffle limited map-side") {
    val frame = Sessionize.qaContext(events)
    assert(planOf(frame).contains("row_number(), 5, Partial"), planOf(frame))
    val (construct, exec) = budget(Sessionize.qaContext(events))
    assert(construct == 0 && exec <= 4, s"$construct + $exec jobs")
  }
}
