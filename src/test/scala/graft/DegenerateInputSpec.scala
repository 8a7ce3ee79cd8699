package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Search}
import graft.sources.Tables

/** Empty and null inputs get a defined answer, not an error deep in the
  * plan. */
class DegenerateInputSpec extends SparkSuite {
  import spark.implicits._

  lazy val t = Tables(spark, sfDir)
  lazy val queries = t.embeddings.filter($"vec_id" < 5)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  test("thresholdRetrieval: a null qv keeps its row, with no best and not accepted") {
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val qs = Seq[(Long, Array[Float])]((7L, null), (3L, Array(1f, 0.1f)))
      .toDF("query_id", "qv")
    val got = Search.thresholdRetrieval(qs, corpus).collect().toSeq
    assert(got.length == 2)
    assert(got(0).getLong(0) == 3L && got(0).getLong(1) == 1L && got(0).getBoolean(3))
    assert(got(1) == Row(7L, null, null, false))
    assert(Search.thresholdRetrieval(qs, corpus.limit(0)).collect().isEmpty)
  }

  test("recallSweep on an empty query set or corpus: null recall and scan share") {
    Seq(queries.limit(0) -> t.embeddings, queries -> t.embeddings.limit(0)).foreach {
      case (q, c) =>
        val rows = IvfIndex.recallSweep(q, c, nCentroids = 16).collect()
        assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L))
        assert(rows.forall(r => r.isNullAt(2) && r.isNullAt(4)), rows.toSeq)
    }
  }

  test("IvfIndex.persist assigns null, zero, NaN and mixed-length vectors as the " +
    "struct-min join does") {
    def v(xs: Float*): Array[Float] = xs.toArray
    val rows = Seq[(java.lang.Long, Array[Float])](
      (0L, v(0f, 0f)), (1L, v(Float.NaN, 1f)), (2L, v(1f, 0f)), (3L, v(0f, 1f, 7f)),
      (4L, null), (5L, v(0f, 0f)), (6L, v(Float.NaN, 0f)), (7L, v(1f)), (8L, v()),
      (9L, v(0.5f, 0.5f)), (null, v(1f, 0f)))
    val withNullSeed = rows.map { case (id, e) => (id, if (id == 2L) null else e) }
    Seq(rows, withNullSeed).foreach { rs =>
      val corpus = rs.toDF("vec_id", "embedding")
      val joined = corpus.join(IvfIndex.nearestCentroid(corpus, IvfIndex.centroids(corpus, 4))
          .select($"vec_id", $"centroid_id"), Seq("vec_id"))
        .select($"vec_id", $"centroid_id").collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-assign").toString
      IvfIndex.persist(corpus, nCentroids = 4, dir)
      val written = spark.read.parquet(s"$dir/postings")
        .select($"vec_id", $"centroid_id".cast("long")).collect().toSet
      assert(written == joined)
    }
  }
}
