package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders over the driver-generated parquet layout.
  *
  * Plain `spark.read.parquet` so Catalyst owns column pruning and filter
  * pushdown — callers select/filter and the scan narrows (verified in
  * PlanSpec via `PushedFilters`/`ReadSchema`).
  */
final case class Tables(spark: SparkSession, dir: String,
                        spread: Boolean = false) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The per-ROW-expensive corpus tables (documents: the regex/tokenize
    * chains; embeddings: the vector-distance chains) take the
    * [[Tables.parallelismFloor]] when this instance was built with
    * `spread = true` (the SparkEntry query path). The relational fact
    * tables do NOT: their consumers are map-side-combined aggregates and
    * keyed joins whose own exchanges already parallelize the reduce side,
    * and a pre-shuffle of full-width rows defeats partial aggregation
    * (measured: q1_agg at sf1 went 2.5 s → 17 s with a blanket floor on
    * lineitem — the repartition shuffled 6 M wide rows that the map-side
    * partial agg would have collapsed to a few hundred). Dimension
    * tables (region/nation/supplier) broadcast everywhere; an exchange
    * before a broadcast build is pure overhead. */
  private def f(name: String): DataFrame =
    if (spread)
      Tables.parallelismFloor(t(name), cacheKey = Some(
        s"${spark.sparkContext.applicationId}:$dir/$name@${fingerprint(name)}"))
    else t(name)

  /** [[Tables.fingerprint]] of one of this corpus's tables. */
  def fingerprint(name: String): String =
    Tables.fingerprint(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts` arrives in whichever flavor the corpus writer used —
    * parquet TIMESTAMP(NANOS) (read as long via the legacy flag, truncated
    * to micros: the DuckDB oracles' `epoch_ns(ts)//1000` normalization),
    * TIMESTAMP_NTZ (micros with `isAdjustedToUTC=false`, what pyarrow
    * writes by default and Spark 4 surfaces as NTZ), or a plain
    * session-zoned TIMESTAMP. All three normalize to TIMESTAMP here, so
    * every downstream operator (`unix_micros`, interval arithmetic,
    * watermarks) sees ONE type. NTZ→TIMESTAMP reinterprets the wall-clock
    * in the session zone — pinned to UTC by every graft session, which is
    * exactly the naive reading the oracles use. */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents: DataFrame  = f("documents")
  /** embeddings deliberately does NOT take the floor: its per-row work
    * (fixed-dim float kernels) is ~3 orders cheaper per scan byte than
    * the documents regex chains, and the measured full-suite A/B read
    * the floored vector family NET NEGATIVE at sf0.1 (59.8 s floored vs
    * 51.5 s not — the extra exchange + small-task overhead exceeds the
    * parallelized compute) while the genuinely heavy embedding passes
    * are either memo-served (IVF/PQ builds, classify/ovr tables) or run
    * at SFs where ScaleUp's union layout already plans ≥ cores splits. */
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Collision-resistant 64-bit tag of `text`: a SHA-256 prefix in hex.
    * It names [[graft.Artifacts]] builds on disk: `hashCode` (32 bits,
    * trivially collidable) let two corpora map to the same parquet path,
    * the second build silently overwriting the first while the first
    * memo entry still pointed at it. Hex keeps the tag a valid identifier
    * fragment for catalog table names too. */
  def digest(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Identity of the files under `path` on whatever Hadoop `FileSystem`
    * the path names (local disk, `file:`, `hdfs://`, `s3a://`): the
    * [[digest]] of every file's qualified path, length and modification
    * time, from one recursive listing on the driver. A
    * corpus rewritten in place reads a new fingerprint, so it keys the
    * caches that must never serve a stale build; a path that does not
    * exist reads `"missing"`.
    *
    * The walk uses `listStatus`, not `listFiles`: a `LocatedFileStatus`
    * copies each file's owner and permissions, which the local
    * FileSystem reads by forking `ls -ld` per file when the native
    * Hadoop library is absent. */
  def fingerprint(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.FileStatus
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(s: FileStatus): Iterator[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).iterator.flatMap(files)
      else Iterator(s)
    try digest(files(fs.getFileStatus(p))
        .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
        .toSeq.sorted.mkString("\n"))
    catch { case _: java.io.FileNotFoundException => "missing" }
  }

  /** Scale-adaptive scan-parallelism floor (guide §2.5 "input skew …
    * repartition immediately after the read"): a corpus delivered as
    * fewer splittable units than the cluster has cores serializes every
    * downstream map-side chain — at local SFs the single-row-group
    * parquet files plan ONE scan task, so the preprocess/tokenize regex
    * chain (the hottest CPU in the text family) ran on one core while
    * the other 31 idled (measured: the `q_curate` tokenize barrier was a
    * 1-task stage with 3.5 s of CPU at sf0.1).
    *
    * The floor is ADAPTIVE, not a constant: it round-robins to
    * `defaultParallelism` (whatever core count the session was given)
    * and ONLY when the scan plans fewer partitions than that — at
    * production scale the input has thousands of splits and this is a
    * no-op, so no extra exchange ever reaches a 100 TB plan. Round-robin
    * keeps the exchange off PlanDoctor's `body-width-exchange` rule
    * (which gates HASH exchanges carrying body columns: keyed shuffles
    * can and should ship fingerprints instead, but a parallelism floor
    * moves each row once to wherever compute is idle) and Spark's
    * sort-before-repartition default keeps the row→partition assignment
    * deterministic under retries. Catalyst pushes filters and column
    * pruning through a Repartition node, so scans keep their
    * PushedFilters/ReadSchema. */
  /** The floor DECISION (repartition target, or 0 for no-op) cached per
    * (application, path, [[fingerprint]], cores, targetBytes): deciding
    * costs two extra plannings of the scan (a stats pass plus the `df.rdd`
    * partition-count probe), which every documents access paid — ~130
    * consumers × 2 plans per suite of pure driver time. The decision is
    * size-derived and perf-only, so caching it cannot change results; the
    * fingerprint gives a corpus REGENERATED at the same path a fresh
    * decision. */
  private val floorDecisions =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  def parallelismFloor(df: DataFrame): DataFrame =
    parallelismFloor(df, cacheKey = None)

  def parallelismFloor(df: DataFrame, cacheKey: Option[String]): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    // partitions ∝ scan bytes, capped at the session's cores: thread-dump
    // profiling showed ~0.1-0.25 s of per-task fixed cost (shuffle file
    // opens, block-store size estimation, codegen class wiring) that
    // swamps sub-millisecond-per-row work when tasks shrink to a few
    // hundred rows — so the floor targets enough bytes per task for the
    // per-row work to dominate, rather than always fanning to every core.
    // ~64 KB of columnar text ≈ 500 docs ≈ 0.3-0.5 s of regex chain.
    val target = spark.conf.getOption("spark.graft.spreadTargetBytes")
      .map { v =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.spreadTargetBytes must be a byte count, got '$v'")
        }
      }.getOrElse(64L << 10)
    def decide(): Int = {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val want = ((bytes + target - 1) / target).max(1).min(cores).toInt
      if (df.rdd.getNumPartitions < want) want else 0
    }
    val want = cacheKey match {
      case Some(k) =>
        floorDecisions.getOrElseUpdate(s"$k@c$cores@t$target", decide())
      case None => decide()
    }
    if (want > 0) df.repartition(want) else df
  }
}

/** Corpus ingestion from the formats a user of the reference actually has.
  *
  * The reference reads its corpus from MongoDB with an
  * `{_id: 1, description: 1}` projection
  * (reference: services/index_service.py:52-54); the batch equivalents of
  * that operational store are its export formats — `mongoexport` JSONL
  * and CSV dumps. Both readers return the graft document schema
  * `(doc_id, text)`, so every documents-table operator runs on them
  * unchanged.
  *
  * Scale posture: the JSONL and [[csvLines]] readers split by file AND
  * byte-range exactly like parquet (no single-reader bottleneck). The
  * quoted [[csv]] reader is `multiLine`, which makes each FILE a single
  * read unit — parallel only across files, so exports must be sharded
  * into many files (mongoexport/`COPY TO` sharded output already is).
  * Schemas are DECLARED, not inferred — inference would scan the full
  * 100 TB dump once before the real job starts.
  */
object DocumentSource {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  private val exportSchema = StructType(Seq(
    StructField("_id", LongType),
    StructField("description", StringType)))

  /** `mongoexport`-style JSON lines: one `{"_id": …, "description": …}`
    * object per line. PERMISSIVE mode mirrors the lenient document store:
    * malformed lines become null rows to be filtered, not job failures. */
  def jsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(exportSchema)
      .option("mode", "PERMISSIVE")
      .json(path)
      .select(col("_id").as("doc_id"), col("description").as("text"))
      .filter(col("doc_id").isNotNull)

  /** CSV export with a `doc_id,text` header. `multiLine` because document
    * text legitimately contains newlines inside quotes — the cost is that
    * each file becomes one read unit (see the object scaladoc); shard the
    * export into many files, or use [[csvLines]] for newline-free dumps. */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path)
      .filter(col("doc_id").isNotNull)

  /** Byte-range-splittable CSV variant for exports whose text is
    * guaranteed newline-free (e.g. dumped with newlines escaped as `\n`):
    * without `multiLine`, Spark assigns byte ranges WITHIN a file to
    * different tasks, so even one giant dump file parallelizes. The
    * two-character escape sequences are restored after the parse. */
  def csvLines(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("header", "true")
      .option("escape", "\"")
      .csv(path)
      .select(col("doc_id"),
        regexp_replace(col("text"), "\\\\n", "\n").as("text"))
      .filter(col("doc_id").isNotNull)
}
