package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a Spark session. Every entrypoint (Bench,
  * Verify, StageProbe, Plans, Doctor, RecallCurve, ScaleUp) and the test
  * suite build through it, so the timer, the oracle dump, the stage
  * drill-down and the plan gate all see the same plan for a query.
  * EntrypointSpec keeps `SparkSession.builder` out of every other file.
  *
  * Settings, for `local[cores]`:
  *  - shuffle partitions = `cores`;
  *  - UTC session time zone (the DuckDB oracles compare in UTC);
  *  - `legacy.parquet.nanosAsLong`: `events.parquet` carries
  *    TIMESTAMP(NANOS), which Spark rejects otherwise;
  *  - `legacy.bucketedTableScan.outputOrdering`: trust bucket sortBy
  *    metadata at scan. Self-guarded, since Spark claims the ordering
  *    only for single-file buckets, which `persistShingles` guarantees.
  *    The bucketed shingle join then runs sort-free;
  *  - a codegen class cache of [[CodegenCacheEntries]];
  *  - the UI off.
  *
  * Then it installs graft's functions and planner rules
  * ([[GraftSql.install]]) before any query runs, so every plan the
  * session builds sees the same fused operators.
  *
  * Two environment switches:
  *  - `SPARK_GRAFT_SATURATED=1` disables runtime broadcast promotion, so
  *    every vocabulary join takes its 100 TB shape (shuffle join) at
  *    every SF. The shuffle-records linearity gate runs in this mode:
  *    comparing records across SFs only measures growth when the plan
  *    shape is held fixed, otherwise AQE's (correct) small-scale
  *    broadcast wins read as super-linear growth at the SF where the join
  *    turns into a sort-merge join. Wall-clock benches run without it,
  *    because adaptive wins are real performance.
  *  - `SPARK_GRAFT_NET_TIMEOUT=<t>` (e.g. `800s`) raises the network
  *    timeout and the heartbeat interval. Opt-in: the saturated sf10
  *    stall that once needed it was caused by shuffled-hash joins over
  *    corpus-sized build sides, fixed at the source (merge hints and
  *    PlanDoctor's shuffled-hash-join-unbounded-build rule). A run that
  *    needs it is evidence of a plan regression, not a config problem. */
object GraftSession {

  /** `SPARK_GRAFT_SATURATED=1`: broadcast promotion is off. */
  def saturated: Boolean = sys.env.get("SPARK_GRAFT_SATURATED").contains("1")

  /** `SPARK_GRAFT_CPUS`, else the entrypoint's `default`. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `spark.sql.codegen.cache.maxEntries`, a static conf (Spark's
    * default: 100, split over 4 LRU segments). Two catalog passes at
    * sf0.01 hold 3,508 distinct generated classes (3,362 compiled in
    * the first pass, 146 new in the second). At 100 entries the passes
    * compile 5,258 and 4,636 classes: the cache thrashes. 5,000 holds
    * both passes with room for the segments' uneven fill. */
  private val CodegenCacheEntries = 5000

  def apply(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_NET_TIMEOUT").foreach { t =>
      builder.config("spark.network.timeout", t)
      builder.config("spark.executor.heartbeatInterval", "30s")
    }
    if (saturated) {
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
      builder.config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val spark = builder.getOrCreate()
    GraftSql.install(spark)
    spark
  }
}
