package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class ArtifactsSpec extends SparkSuite {

  /** A fresh corpus dir holding a `documents.parquet` of `n` rows. */
  private def corpus(n: Int): String = {
    val dir = Files.createTempDirectory("graft-artifacts-spec").toString
    writeDocs(dir, n)
    dir
  }

  private def writeDocs(dir: String, n: Int): Unit =
    spark.range(n).selectExpr("id AS doc_id", "cast(id AS string) AS text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** The `kind` artifact of `dir`: its build writes the corpus row count
    * under the artifact dir and bumps `builds`. */
  private def artifact(dir: String, kind: String, builds: AtomicInteger,
                       tables: String => Seq[String] = _ => Nil) =
    Artifacts(spark, kind, dir, "documents.parquet", tables) { a =>
      builds.incrementAndGet()
      spark.read.parquet(s"$dir/documents.parquet").groupBy().count()
        .write.mode("overwrite").parquet(s"${a.path}/counts")
    }

  private def count(a: Artifacts.Artifact): Long =
    spark.read.parquet(s"${a.path}/counts").head().getLong(0)

  test("a second call on the same corpus does not run the build") {
    val dir = corpus(5)
    val builds = new AtomicInteger
    val a = artifact(dir, "reuse", builds)
    val b = artifact(dir, "reuse", builds)
    assert(builds.get == 1)
    assert(a == b)
    assert(count(b) == 5)
  }

  test("a corpus rewritten at the same path is rebuilt under a new tag") {
    val dir = corpus(5)
    val builds = new AtomicInteger
    val a = artifact(dir, "rewrite", builds)
    writeDocs(dir, 7)
    val b = artifact(dir, "rewrite", builds)
    assert(builds.get == 2)
    assert(a.path != b.path)
    assert(count(a) == 5 && count(b) == 7)
  }

  test("an artifact dir emptied of its files is rebuilt") {
    val dir = corpus(5)
    val builds = new AtomicInteger
    val a = artifact(dir, "emptied", builds)
    // what a tmp cleaner leaves: every regular file gone, the dirs kept
    val files = Files.walk(Paths.get(a.path))
    try files.filter(Files.isRegularFile(_)).forEach((f: Path) => Files.delete(f))
    finally files.close()
    assert(Files.isDirectory(Paths.get(a.path, "counts")))
    val b = artifact(dir, "emptied", builds)
    assert(builds.get == 2)
    assert(b == a)
    assert(count(b) == 5)
  }

  test("dropping a named table causes a rebuild") {
    val dir = corpus(5)
    val builds = new AtomicInteger
    val tables = (tag: String) => Seq(s"graft_spec_artifact_$tag")
    def build() =
      Artifacts(spark, "dropped", dir, "documents.parquet", tables) { a =>
        builds.incrementAndGet()
        spark.read.parquet(s"$dir/documents.parquet").write.mode("overwrite")
          .option("path", a.path).saveAsTable(a.tables.head)
      }
    val a = build()
    try {
      assert(builds.get == 1 && spark.table(a.tables.head).count() == 5)
      assert(build() == a && builds.get == 1)
      spark.sql(s"DROP TABLE ${a.tables.head}")
      assert(build() == a && builds.get == 2)
      assert(spark.table(a.tables.head).count() == 5)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${a.tables.head}")
  }

  test("an artifact built inside another's build completes") {
    val dir = corpus(5)
    val inner, outer = new AtomicInteger
    def build() =
      Artifacts(spark, "outer", dir, "documents.parquet") { a =>
        outer.incrementAndGet()
        val in = artifact(dir, "inner", inner)
        spark.read.parquet(s"${in.path}/counts")
          .write.mode("overwrite").parquet(s"${a.path}/counts")
      }
    val a = build()
    assert(count(a) == 5)
    assert(build() == a)
    assert(count(artifact(dir, "inner", inner)) == 5)
    assert(outer.get == 1 && inner.get == 1)
  }

  test("two threads asking for one artifact run the build once") {
    val dir = corpus(5)
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val call = new Callable[Artifacts.Artifact] {
        def call(): Artifacts.Artifact = {
          start.await()
          artifact(dir, "raced", builds)
        }
      }
      val calls = Seq(pool.submit(call), pool.submit(call))
      start.countDown()
      val Seq(a, b) = calls.map(_.get(120, TimeUnit.SECONDS))
      assert(a == b)
      assert(builds.get == 1)
      assert(count(a) == 5)
    } finally pool.shutdownNow()
  }

  test("the artifact base is deleted when the JVM exits") {
    val a = artifact(corpus(3), "exit", new AtomicInteger)
    assert(a.path.startsWith(Artifacts.base))
    assert(org.apache.spark.sql.graft.bridge.deletedOnExit(Artifacts.base))
  }
}
