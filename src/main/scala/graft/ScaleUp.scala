package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-data scale-up: replicate an SF directory `reps`× into a larger
  * one (`runMain graft.ScaleUp <srcDir> <outDir> [reps]`) so the scale
  * story can be validated EMPIRICALLY — per-query sf0.1 → sf1 wall-time
  * ratios instead of plan-shape arguments (PROGRESS.md records them).
  *
  * Replication preserves the workload's SHAPE, not just its row count:
  *  - every key domain gets a disjoint per-replica offset (a clean power
  *    of ten past the source max), and FOREIGN keys move with their
  *    parents — replica r's lineitem rows join replica r's orders,
  *    events.user_id follows c_custkey — so join selectivities and group
  *    cardinalities scale the way a bigger corpus actually scales;
  *  - dimension tables (region, nation) stay fixed, as they do in TPC-H;
  *  - document text is token-suffixed per replica (`_r`, r ≥ 1; suffix
  *    survives the preprocess normalizer), making replicas DISJOINT in
  *    token/shingle space: dedup candidate pairs and vocabulary grow
  *    linearly. Naive duplication would put every doc in a 10-way
  *    exact-dup cluster and inflate every pair table ~45× — measured
  *    "super-linear scaling" that is an artifact of the generator, not
  *    the operator;
  *  - embeddings are rotated by r positions (norm- and
  *    distribution-preserving), so replicas are not mutual
  *    nearest-neighbor ties and top-k semantics keep their sf0.1
  *    character;
  *  - events keep their timestamps (10× density over the same window —
  *    how a bigger corpus lands in practice); the raw TIMESTAMP(NANOS)
  *    longs are round-tripped unchanged, so `Tables.events` applies the
  *    same ns→µs truncation on the scaled directory.
  *
  * Query-side literals keep their meaning: replica ids live ABOVE the
  * offsets, so `vec_id < 3` query sets, the `doc_id < 100` bench split
  * and the `doc_id < 250` incremental base all still select original
  * (replica-0) rows — query counts stay fixed while the corpus grows,
  * which is exactly the scaling a deployment sees. */
object ScaleUp {

  /** Smallest power of ten strictly above `max` — a readable disjoint
    * offset stride per key domain. */
  private def stride(max: Long): Long = {
    var s = 10L
    while (s <= max) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession(GraftSession.cores(8))
    spark.sparkContext.setLogLevel("WARN")
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // Replicated tables keep the UNION's natural partitioning, so the
    // file count grows ∝ reps × source splits — the way input splits
    // grow on a real cluster (HDFS blocks ∝ data). The earlier
    // `coalesce(4)` capped every SF at 4 files, growing PER-TASK scan
    // cardinality 10× per decade. (StageProbe measured the layout's
    // records effect as zero on the vocabulary family — their
    // super-linear stage is a REDUCE-side partial aggregate whose task
    // count AQE picks from shuffle size, not from input splits — but a
    // split layout that grows with data is still the production shape,
    // and per-task scan memory no longer grows with SF.)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // fixed dims — same five regions / 25 nations at every SF
    Seq("region", "nation").foreach(t =>
      write(read(t).coalesce(1), t))

    // checked read: an empty table yields a NULL max (abrupt NPE via
    // getLong) and a non-integral key column a ClassCastException — both
    // deserve a message naming the table, not a bare stack trace
    def maxOf(t: String, c: String): Long = {
      val row = read(t).agg(max(col(c))).head()
      require(!row.isNullAt(0), s"$srcDir/$t.parquet is empty — cannot " +
        s"derive a replication offset for $c")
      row.get(0) match {
        case n: Number => n.longValue
        case other => throw new IllegalArgumentException(
          s"$t.$c is ${other.getClass.getSimpleName}, expected an " +
            "integral key column")
      }
    }
    val custOff = stride(maxOf("customer", "c_custkey"))
    val suppOff = stride(maxOf("supplier", "s_suppkey"))
    val partOff = stride(maxOf("part", "p_partkey"))
    val ordOff = stride(maxOf("orders", "o_orderkey"))
    val evOff = stride(maxOf("events", "event_id"))
    val docOff = stride(maxOf("documents", "doc_id"))
    val vecOff = stride(maxOf("embeddings", "vec_id"))

    /** Union of `reps` per-replica transforms. */
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit =
      write((0 until reps).map(r => f(read(t), r)).reduce(_ unionByName _), t)

    def shift(df: DataFrame, r: Int, offs: (String, Long)*): DataFrame =
      offs.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(r * off))
      }

    replicate("customer")((d, r) => shift(d, r, "c_custkey" -> custOff))
    replicate("supplier")((d, r) => shift(d, r, "s_suppkey" -> suppOff))
    replicate("part")((d, r) => shift(d, r, "p_partkey" -> partOff))
    replicate("orders")((d, r) =>
      shift(d, r, "o_orderkey" -> ordOff, "o_custkey" -> custOff))
    replicate("lineitem")((d, r) =>
      shift(d, r, "l_orderkey" -> ordOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff))
    replicate("events")((d, r) =>
      shift(d, r, "event_id" -> evOff, "user_id" -> custOff))
    replicate("documents") { (d, r) =>
      val shifted = shift(d, r, "doc_id" -> docOff)
      if (r == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1_" + r))
    }
    replicate("embeddings") { (d, r) =>
      val shifted = shift(d, r, "vec_id" -> vecOff)
      // rotate MODULO the dimension: the raw `slice(emb, r+1, size-r)`
      // went negative for r >= dim (reps > 64 crashed with
      // INVALID_PARAMETER_VALUE.LENGTH). Caveat for reps > dim, stated:
      // replicas r and r+dim share a rotation, so their vectors are
      // exact copies of each other's — top-k gains cross-replica ties.
      // Prefer staged runs (x10 of an x10) for decades past dim.
      if (r == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"concat(slice(embedding, pmod($r, size(embedding)) + 1, " +
          s"size(embedding) - pmod($r, size(embedding))), " +
          s"slice(embedding, 1, pmod($r, size(embedding))))"))
    }
    println(s"[scaleup] wrote ${reps}x of $srcDir to $outDir " +
      s"(offsets: cust=$custOff supp=$suppOff part=$partOff ord=$ordOff " +
      s"ev=$evOff doc=$docOff vec=$vecOff)")
    spark.stop()
  }
}
