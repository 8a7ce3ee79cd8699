package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.{DocumentSource, Tables}

class SourceSpec extends SparkSuite {

  lazy val t = Tables(spark, sfDir)

  test("jsonl and csv corpus exports load identically to parquet") {
    val dir = Files.createTempDirectory("graft-src").toString
    t.documents.select(col("doc_id").as("_id"), col("text").as("description"))
      .write.json(s"$dir/jsonl")
    t.documents.select("doc_id", "text")
      .write.option("header", "true").option("escape", "\"").csv(s"$dir/csv")
    // CSV conflates empty string and null on round-trip; normalize both
    // sides (the JSONL path needs no normalization)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.na.fill("", Seq("text")).orderBy("doc_id").collect().toSeq
    val want = rows(t.documents.select("doc_id", "text"))
    assert(rows(DocumentSource.jsonl(spark, s"$dir/jsonl")) == want)
    assert(rows(DocumentSource.csv(spark, s"$dir/csv")) == want)
    // operators run unchanged on the exported corpus
    val a = operators.Pipeline
      .gopherStats(DocumentSource.jsonl(spark, s"$dir/jsonl")).collect().toSeq
    val b = operators.Pipeline.gopherStats(t.documents).collect().toSeq
    assert(a == b)
  }

  test("csvLines splittable variant restores escaped newlines") {
    val dir = Files.createTempDirectory("graft-src-lines").toString
    // a newline-free export: real newlines dumped as the 2-char \n escape
    t.documents.select(col("doc_id"),
        regexp_replace(col("text"), "\n", "\\\\n").as("text"))
      .write.option("header", "true").option("escape", "\"").csv(s"$dir/lines")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.na.fill("", Seq("text")).orderBy("doc_id").collect().toSeq
    assert(rows(DocumentSource.csvLines(spark, s"$dir/lines")) ==
      rows(t.documents.select("doc_id", "text")))
  }

  test("malformed jsonl lines are dropped, not fatal (PERMISSIVE)") {
    val dir = Files.createTempDirectory("graft-src-bad").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.json"),
      "{\"_id\": 1, \"description\": \"ok doc\"}\n" +
        "not json at all\n" +
        "{\"_id\": 2, \"description\": \"also ok\"}\n")
    val got = DocumentSource.jsonl(spark, s"$dir/bad.json")
    assert(got.count() == 2)
    assert(got.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("fingerprint: same files under a plain path or a file: URI, fresh after a rewrite") {
    val dir = Files.createTempDirectory("graft-fp")
    val p = dir.resolve("documents.parquet")
    t.documents.limit(10).write.parquet(p.toString)
    val fp = Tables.fingerprint(spark, p.toString)
    assert(fp.matches("[0-9a-f]{16}"))
    assert(Tables.fingerprint(spark, p.toUri.toString) == fp)
    t.documents.limit(20).write.mode("overwrite").parquet(p.toString)
    assert(Tables.fingerprint(spark, p.toUri.toString) != fp)
    assert(Tables.fingerprint(spark, dir.resolve("absent").toString) == "missing")
  }

  test("parallelismFloor: a corpus rewritten at the same path gets a fresh decision") {
    val docs = Files.createTempDirectory("graft-floor").resolve("documents.parquet")
    val cores = spark.sparkContext.defaultParallelism
    def partitions(): Int = Tables(spark, docs.getParent.toString, spread = true)
      .documents.rdd.getNumPartitions
    // one document: at most one target's worth of bytes, so no floor
    t.documents.limit(1).coalesce(1).write.parquet(docs.toString)
    val target = spark.read.parquet(docs.toString)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    spark.conf.set("spark.graft.spreadTargetBytes", target.toString)
    try {
      assert(partitions() == 1)
      // every document, still one file: many targets' worth, spread to
      // every core
      t.documents.coalesce(1).write.mode("overwrite").parquet(docs.toString)
      assert(partitions() == cores)
    } finally spark.conf.unset("spark.graft.spreadTargetBytes")
  }
}
