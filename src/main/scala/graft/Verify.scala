package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names select a subset for
    // fast local iteration; the driver always passes exactly two args
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.drop(2).toSet
    val spark = GraftSession(GraftSession.cores(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val dumped = SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
    // oracle-constant guard: the semantic-dedup oracles hardwire the
    // autoCentroids resolutions (16 fine / 4 coarse seeds — the floor,
    // which binds only while ceil(n/256) ≤ 16). A regenerated, larger
    // verify corpus would silently hash-diverge against those constants
    // — fail loudly instead of letting the gate chase phantom diffs.
    if (dumped.keysIterator.exists(_.startsWith("dedup_semantic"))) {
      val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      require(n <= 4096,
        s"semantic-dedup oracles assume the autoCentroids floor (16 fine" +
          s" / 4 coarse seeds), valid only for <= 4096 embeddings; " +
          s"$sfDir has $n - regenerate the oracle constants first")
    }
    dumped.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
