package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.streaming._

class StreamingSpec extends SparkSuite {

  lazy val t = Tables(spark, sfDir)

  /** Micro-ts events split into two files (by time) so a file-per-trigger
    * stream produces two micro-batches and advances the watermark. */
  lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    val ev = t.events.select("event_id", "ts", "user_id", "event_type", "value")
    val cut = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    ev.filter(col("ts").cast("long") <= cut).coalesce(1)
      .write.parquet(s"$dir/chunk=a")
    Thread.sleep(1100) // file mtime ordering drives trigger order
    ev.filter(col("ts").cast("long") > cut).coalesce(1)
      .write.parquet(s"$dir/chunk=b")
    dir
  }

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def streamEvents =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$streamDir/chunk=*")

  test("streaming exact dedup keeps first arrival per text hash") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-dedup-stream").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    def write(path: String, rows: Seq[(Long, String, String)]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, ts, tx) =>
          Row(id, java.sql.Timestamp.valueOf(ts), tx) }: _*),
        docSchema).coalesce(1).write.parquet(path)
    write(s"$dir/chunk=a", Seq(
      (1L, "2026-01-01 10:00:00", "alpha beta gamma"),
      (2L, "2026-01-01 10:00:01", "delta epsilon zeta")))
    Thread.sleep(1100)
    write(s"$dir/chunk=b", Seq(
      (3L, "2026-01-01 10:00:02", "Alpha, beta GAMMA"), // dup after normalize
      (4L, "2026-01-01 10:00:03", "eta theta iota")))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
    val q = DedupStream.exactDedup(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), s"got $ids") // 3 is a dup of 1
    } finally q.stop()
  }

  test("streaming vocabulary sketch converges to the batch kmv aggregate") {
    import org.apache.spark.sql.Row
    import graft.functions.{fnv1a64, kmv_distinct}
    import graft.functions.TextFunctions.{preprocess, tokens}
    val dir = Files.createTempDirectory("graft-vocab-stream").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long): (Long, String) =
      (id, (1 to 6).map(j => s"w${id}x$j").mkString(" ") + " shared tok")
    def write(path: String, rows: Seq[(Long, String)]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, tx) => Row(id, tx) }: _*),
        docSchema).coalesce(1).write.parquet(path)
    write(s"$dir/chunk=a", (0L to 3L).map(doc))
    Thread.sleep(1100)
    write(s"$dir/chunk=b", (4L to 7L).map(doc))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
    val q = VocabularyStream.vocabulary(stream, k = 8, shards = 2)
      .writeStream.format("memory").queryName("vocab_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // final state per shard = the row with the most hashes ingested
      // (n_seen is monotone; sketch_size saturates at k and can tie)
      val got = spark.table("vocab_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(4))))
        .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._3)).toMap
      // batch reference: the kmv aggregate over ALL eight documents
      val allDocs = spark.createDataFrame(
        java.util.Arrays.asList((0L to 7L).map(doc).map { case (id, tx) =>
          Row(id, tx) }: _*), docSchema)
      val want = allDocs
        .select(pmod(col("doc_id"), lit(2L)).as("shard"),
          explode(tokens(preprocess(col("text")))).as("tok"))
        .select(col("shard"), fnv1a64(col("tok")).as("h"))
        .groupBy(col("shard")).agg(kmv_distinct(col("h"), 8).as("sk"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
      assert(got.keySet == Set(0L, 1L))
      got.foreach { case (shard, (est, kth, _)) =>
        assert((est, kth) == want(shard), s"shard $shard: got ($est,$kth)")
      }
      // > 8 distinct tokens per shard → estimator path, kth populated
      assert(got.values.forall(_._2 != 0L))
    } finally q.stop()
  }

  test("late events beyond the watermark are dropped AND accounted") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-late-stream").toString
    def write(path: String, rows: Seq[(Long, String, Long, String, Double)]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, ts, u, et, v) =>
          Row(id, java.sql.Timestamp.valueOf(ts), u, et, v) }: _*),
        schema).coalesce(1).write.parquet(path)
    // batch a: 10:15 and 12:00 → watermark advances to 11:00 (12:00 − 1h).
    // The input-side late filter lags the eviction watermark by a batch,
    // so the late row goes in batch C, two data batches later — by then
    // 11:00 is live on the filter under any propagation schedule.
    write(s"$dir/chunk=a", Seq(
      (1L, "2026-01-01 10:15:00", 1L, "x", 1.0),
      (2L, "2026-01-01 12:00:00", 1L, "x", 1.0)))
    Thread.sleep(1100)
    write(s"$dir/chunk=b", Seq(
      (3L, "2026-01-01 13:30:00", 1L, "x", 1.0)))
    Thread.sleep(1100)
    // 09:30's window [09:00, 10:00) ended before ANY live watermark value
    // (≥ 11:00) → dropped; 14:30 pushes the final watermark to 13:30
    write(s"$dir/chunk=c", Seq(
      (4L, "2026-01-01 09:30:00", 1L, "x", 1.0),
      (5L, "2026-01-01 14:30:00", 1L, "x", 1.0)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
    val q = EventWindows.hourly(stream, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("late_out")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
      // final watermark 13:30 closes [10:00) and [12:00); [13:00) and
      // [14:00) stay open; the late 09:30 event is in NO emitted window...
      assert(emitted == Set(("2026-01-01 10:00:00.0", 1L),
        ("2026-01-01 12:00:00.0", 1L)), s"emitted: $emitted")
      // ...and the drop is visible where an operator can alarm on it
      assert(LateData.droppedByWatermark(q) == 1L,
        s"dropped: ${LateData.droppedByWatermark(q)}")
    } finally q.stop()
  }

  test("EventWindows.hourly batch twin equals q_events_window totals") {
    val streaming = EventWindows.hourly(t.events)  // unified API: batch DF in
    val batch = operators.Relational.eventHourly(t)
    assert(streaming.agg(sum("n")).head().getLong(0) ==
      batch.agg(sum("n")).head().getLong(0))
    assert(streaming.count() == batch.count())
  }

  test("hourly aggregation runs incrementally over a file stream") {
    val q = EventWindows.hourly(streamEvents)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; with two batches
      // the first chunk's windows are closed by the second chunk's ts
      val n = spark.table("hourly_out").count()
      assert(n > 0, "no closed windows emitted")
    } finally q.stop()
  }

  test("session_window batch twin groups like the gap sessionizer") {
    val viaSessionWindow = SessionStream.sessionWindows(t.events)
    val viaWindowFns = operators.Sessionize.sessions(t.events)
    assert(viaSessionWindow.count() == viaWindowFns.count())
    assert(viaSessionWindow.agg(sum("n_events")).head().getLong(0) ==
      viaWindowFns.agg(sum("n_events")).head().getLong(0))
  }

  test("streaming index maintenance: appended docs become searchable") {
    import spark.implicits._
    import graft.functions._
    import graft.functions.TextFunctions.preprocess
    val dir = Files.createTempDirectory("graft-idx-stream").toString
    val docs = t.documents.select($"doc_id", $"text")
    // seed index from the first half of the corpus
    val half = docs.filter($"doc_id" < 250)
      .select($"doc_id".as("vec_id"),
        hash_embed(preprocess($"text"), 64).as("embedding"))
    operators.IvfIndex.persist(half, nCentroids = 8, path = dir)
    // stream the second half in as two files
    val streamSrc = Files.createTempDirectory("graft-doc-stream").toString
    docs.filter($"doc_id" >= 250 && $"doc_id" < 375).coalesce(1)
      .write.parquet(s"$streamSrc/c=a")
    docs.filter($"doc_id" >= 375).coalesce(1).write.parquet(s"$streamSrc/c=b")
    val docStream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$streamSrc/c=*")
    val q = IndexMaintenance.start(spark, docStream, dir)
    q.awaitTermination(120000)
    // index now covers the full corpus; compare against batch search
    val full = docs.select($"doc_id".as("vec_id"),
      hash_embed(preprocess($"text"), 64).as("embedding"))
    val queries = full.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val fromIndex = operators.IvfIndex.searchPersisted(spark, dir, queries,
      nprobe = 8, k = 3).collect().toSeq
    val postings = spark.read.parquet(s"$dir/postings")
    assert(postings.count() == docs.count())
    // nprobe == nCentroids: searching the persisted index must equal
    // exact brute force over the same corpus
    val exact = operators.Search.bruteForceTopK(queries, full, 3)
      .collect().toSeq
    assert(fromIndex == exact)
  }

  test("streaming incremental dedup flags near-dups of earlier batches") {
    import spark.implicits._
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val tbl = "graft_stream_sig_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val sigDir = Files.createTempDirectory("graft-sig-stream").toString
    // the pre-existing base corpus: one distinctive doc + one filler
    operators.Dedup.persistSignatures(
      Seq((1L, baseText),
        (2L, (1 to 80).map(i => s"other${i}x").mkString(" ")))
        .toDF("doc_id", "text"), tbl, s"$sigDir/store")
    // two batches SEPARATED BY A RESTART (a shared checkpoint makes the
    // second run resume past file a): A brings a fresh doc; B brings a
    // near-dup of base doc 1 AND a near-dup of batch-A's doc — the
    // cross-batch case, which also proves the store carries state across
    // stream restarts
    val srcDir = Files.createTempDirectory("graft-inc-src").toString
    val freshA = (1 to 80).map(i => s"aa${i}q").mkString(" ")
    def docStream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(s"$srcDir/c=*")
    val flagsDir = s"$sigDir/flags"
    Seq((10L, freshA)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$srcDir/c=a")
    IncrementalDedupStream.start(spark, docStream, tbl, flagsDir,
      checkpoint = s"$sigDir/_ckpt").awaitTermination(120000)
    Seq((20L, baseText.split(" ").updated(10, "EDITED").mkString(" ")),
        (21L, freshA.split(" ").updated(5, "EDITED").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/c=b")
    IncrementalDedupStream.start(spark, docStream, tbl, flagsDir,
      checkpoint = s"$sigDir/_ckpt").awaitTermination(120000)
    val flags = spark.read.parquet(flagsDir).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(3), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(flags.keySet == Set(10L, 20L, 21L))
    assert(!flags(10L)._1, "fresh doc must pass")
    assert(flags(20L) == (true, 1L), "near-dup of the PRE-EXISTING base")
    assert(flags(21L) == (true, 10L),
      "near-dup in batch B of a doc from batch A — the cross-batch flag")
  }

  test("streaming shingle dedup: exact jaccard flags across batches " +
    "and restarts, batch shingles appended") {
    import spark.implicits._
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val tbl = "graft_stream_shingle_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = Files.createTempDirectory("graft-shingle-stream").toString
    // pre-existing base: one distinctive doc + one filler; minDf = 1 is
    // the appendable-store contract (the singleton shingles of doc 1
    // are exactly what batch B's near-dup must match)
    operators.Dedup.persistShingles(
      Seq((1L, baseText),
        (2L, (1 to 80).map(i => s"other${i}x").mkString(" ")))
        .toDF("doc_id", "text"), tbl, s"$dir/store", minDf = 1)
    try {
      val srcDir = Files.createTempDirectory("graft-shj-src").toString
      val freshA = (1 to 80).map(i => s"aa${i}q").mkString(" ")
      def docStream = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(s"$srcDir/c=*")
      val flagsDir = s"$dir/flags"
      // batch A: a fresh doc (no flag row — shares nothing with the
      // store); batch B after a RESTART: a near-dup of base doc 1 AND a
      // near-dup of batch-A's doc — the cross-batch catch that proves
      // the append half feeds later probes
      Seq((10L, freshA)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$srcDir/c=a")
      ShingleDedupStream.start(spark, docStream, tbl, flagsDir,
        checkpoint = s"$dir/_ckpt").awaitTermination(120000)
      Seq((20L, baseText.split(" ").updated(10, "EDITED").mkString(" ")),
          (21L, freshA.split(" ").updated(5, "EDITED").mkString(" ")))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/c=b")
      ShingleDedupStream.start(spark, docStream, tbl, flagsDir,
        checkpoint = s"$dir/_ckpt").awaitTermination(120000)
      val flags = spark.read.parquet(flagsDir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // doc 10 emits NO row (nothing shared — the exact-probe contract
      // differs from the banded twin's explicit not-a-dup flag rows)
      assert(flags.keySet == Set(20L, 21L), s"got $flags")
      // near-dup of the PRE-EXISTING base, with the EXACT jaccard:
      // one of 80 tokens changed -> 3 of 78 shingles differ each side
      assert(flags(20L)._1 == 1L, s"got ${flags(20L)}")
      assert(flags(20L)._2 == math.floor(75.0 / 81.0 * 1e6) / 1e6)
      // near-dup in batch B of a doc from batch A — the appended half
      assert(flags(21L)._1 == 10L, s"got ${flags(21L)}")
      assert(flags(21L)._2 == math.floor(75.0 / 81.0 * 1e6) / 1e6)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("streaming semantic dedup: time-split batches equal the batch " +
    "prober, heap and RocksDB") {
    import spark.implicits._
    val tbl = "graft_stream_sem_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_centroids")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_coarse")
    val dir = Files.createTempDirectory("graft-sem-stream").toString
    val baseVecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.03f, 0f, 0f)),
      (3L, Array(0.03f, 0.999f, 0f, 0f))).toDF("vec_id", "embedding")
    operators.Dedup.persistSemanticBlocks(baseVecs, tbl, s"$dir/store",
      nCentroids = 2)
    try {
      val batchA = Seq((10L, Array(0.998f, 0.04f, 0f, 0f)))
      val batchB = Seq((11L, Array(0.04f, 0.998f, 0f, 0f)),
        (12L, Array(0f, 0f, 1f, 0f))) // no near-dup anywhere in the base
      val vecSchema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      // two batches separated by a stream RESTART (shared checkpoint):
      // the probe is read-only against the frozen base, so the only
      // state that must survive the restart is the checkpoint itself
      def run(tag: String): Set[Seq[Any]] = {
        val srcDir = Files.createTempDirectory(s"graft-sem-src-$tag").toString
        val flagsDir = s"$srcDir/flags"
        def vecStream = spark.readStream.schema(vecSchema)
          .parquet(s"$srcDir/c=*")
        batchA.toDF("vec_id", "embedding")
          .coalesce(1).write.parquet(s"$srcDir/c=a")
        SemanticDedupStream.start(spark, vecStream, tbl, flagsDir,
          checkpoint = s"$srcDir/_ckpt").awaitTermination(120000)
        batchB.toDF("vec_id", "embedding")
          .coalesce(1).write.parquet(s"$srcDir/c=b")
        SemanticDedupStream.start(spark, vecStream, tbl, flagsDir,
          checkpoint = s"$srcDir/_ckpt").awaitTermination(120000)
        spark.read.parquet(flagsDir).collect().map(_.toSeq).toSet
      }
      val heap = run("heap")
      // the batch prober over the union of both batches is the truth:
      // probing is per-row against the frozen base, so time-splitting
      // must be invisible in the flags
      val batch = operators.Dedup.semanticIncrementalFromStore(
          (batchA ++ batchB).toDF("vec_id", "embedding"), spark, tbl)
        .collect().map(_.toSeq).toSet
      assert(heap.nonEmpty && heap == batch,
        s"streamed flags diverge from the batch prober:\n$heap\n$batch")
      val expect = heap.map(r => r.head -> (r(1), r(3))).toMap
      assert(expect(10L) == ((2L, true)) && expect(11L) == ((3L, true)),
        s"near-dups of the base must flag: $expect")
      assert(expect(12L)._2 == false, s"fresh vector must pass: $expect")
      // provider invisibility: the twin holds no keyed state (the STORE
      // is the state), but the whole pipeline must still produce the
      // same rows when the session runs under the RocksDB provider
      val rocks = StateBackend.withRocksDB(spark) { run("rocks") }
      assert(rocks == heap, "RocksDB run diverged from the heap run")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_centroids")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_coarse")
    }
  }

  test("signature-store compaction: fewer files, same probes, buckets kept") {
    import spark.implicits._
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val tbl = "graft_sig_compact_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = Files.createTempDirectory("graft-sig-compact").toString
    operators.Dedup.persistSignatures(
      Seq((1L, baseText),
        (2L, (1 to 80).map(i => s"other${i}x").mkString(" ")))
        .toDF("doc_id", "text"), tbl, s"$dir/store")
    // six micro-batch appends — each leaves files per (task, bucket),
    // the small-file decay the compactor exists for
    (0 until 6).foreach { b =>
      operators.Dedup.appendSignatures(
        Seq((100L + b, (1 to 80).map(i => s"batch${b}doc${i}").mkString(" ")))
          .toDF("doc_id", "text"), tbl)
    }
    def nFiles: Int = new java.io.File(s"$dir/store").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val incoming = Seq(
      (200L, baseText.split(" ").updated(10, "EDITED").mkString(" ")),
      (201L, (1 to 80).map(i => s"fresh${i}z").mkString(" ")))
      .toDF("doc_id", "text")
    val before = operators.Dedup
      .incrementalCandidatesFromStore(incoming, spark, tbl).collect().toSeq
    val filesBefore = nFiles
    val compacted = operators.Dedup.compactSignatureStore(spark, tbl,
      maxFiles = 2)
    assert(compacted > 0, "append-heavy buckets must be compacted")
    assert(nFiles < filesBefore, s"file count must drop: $filesBefore -> $nFiles")
    // probe answers must be byte-identical over the compacted store
    val after = operators.Dedup
      .incrementalCandidatesFromStore(incoming, spark, tbl).collect().toSeq
    assert(after == before, "compaction must not change probe results")
    // and the store must STILL satisfy the bucketed-join contract: the
    // un-hinted shuffled probe plans its one (band,h) Exchange on the
    // increment side only (compaction preserved the bucket file naming)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = planOf(operators.Dedup.incrementalCandidatesFromStore(
        incoming, spark, tbl, autoBroadcast = false))
      assert("""hashpartitioning\(band""".r.findAllIn(plan).size == 1,
        s"bucket layout lost after compaction:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("index compaction merges small posting files, search unchanged") {
    import spark.implicits._
    import graft.functions._
    import graft.functions.TextFunctions.preprocess
    val dir = Files.createTempDirectory("graft-compact").toString
    val full = t.documents.select($"doc_id".as("vec_id"),
      hash_embed(preprocess($"text"), 64).as("embedding"))
    operators.IvfIndex.persist(full.filter($"vec_id" < 125),
      nCentroids = 4, path = dir)
    // three backfill appends through the exact streaming write path —
    // each leaves up to shuffle.partitions files per posting partition
    val cents = spark.read.parquet(s"$dir/centroids")
    Seq((125L, 250L), (250L, 375L), (375L, 500L)).foreach { case (lo, hi) =>
      IndexMaintenance.appendBatch(
        full.filter($"vec_id" >= lo && $"vec_id" < hi), cents, dir)
    }
    def nFiles: Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/postings"))
        .count(_.getName.endsWith(".parquet"))
    }
    val queries = full.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val before = operators.IvfIndex.searchPersisted(spark, dir, queries,
      nprobe = 4, k = 3).collect().toSeq
    val filesBefore = nFiles
    val compacted = IndexMaintenance.compact(spark, dir, maxFiles = 2)
    assert(compacted > 0, "append-heavy partitions must be compacted")
    assert(nFiles < filesBefore,
      s"file count must drop: $filesBefore -> $nFiles")
    val after = operators.IvfIndex.searchPersisted(spark, dir, queries,
      nprobe = 4, k = 3).collect().toSeq
    assert(after == before, "compaction must not change search results")
  }

  test("stateful sessionization emits closed sessions matching batch") {
    import spark.implicits._
    val q = SessionStream.statefulSessions(
        streamEvents.as[SessionStream.Event])
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("sessions_out")
        .select($"user_id", $"session_start", $"n_events").collect().toSet
      assert(emitted.nonEmpty, "no sessions emitted")
      val batch = operators.Sessionize.sessions(t.events)
        .select($"user_id", $"session_start", $"n_events").collect().toSet
      val unmatched = emitted -- batch
      assert(unmatched.isEmpty,
        s"${unmatched.size} emitted sessions not found in batch result")
    } finally q.stop()
  }

  test("streaming scd2 emits exactly the batch operator's closed versions") {
    import spark.implicits._
    val q = Scd2Stream.closedVersions(streamEvents)
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("scd2_out")
        .select($"user_id", $"version", $"state",
          $"valid_from_us", $"valid_to_us")
        .as[(Long, Long, String, Long, Long)].collect().toSet
      assert(emitted.nonEmpty, "no closed versions emitted")
      // in-order input (the chunks split on ts): the emitted set IS the
      // batch history's closed rows — same versions, same intervals
      val batch = operators.Warehouse.scd2(t.events)
        .filter($"valid_to".isNotNull)
        .select($"user_id", $"version", $"state",
          unix_micros($"valid_from"), unix_micros($"valid_to"))
        .as[(Long, Long, String, Long, Long)].collect().toSet
      assert(emitted == batch,
        s"stream/batch divergence: ${(emitted -- batch).size} extra, " +
          s"${(batch -- emitted).size} missing")
    } finally q.stop()
  }

  test("streaming curation with frozen stats equals the batch funnel") {
    import spark.implicits._
    // freeze the corpus statistics from the FULL corpus (the batch
    // "training" pass), stream the training split in two micro-batches,
    // and require verdicts IDENTICAL to the batch funnel over the same
    // corpus — the train/serve fidelity contract
    val docs = t.documents
    val stats = CurationStream.freezeStats(
      docs, docs.filter($"doc_id" < 100))
    val dir = Files.createTempDirectory("graft-curate-stream").toString
    val training = docs.filter($"doc_id" >= 100)
    training.filter($"doc_id" < 300).coalesce(1)
      .write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    training.filter($"doc_id" >= 300).coalesce(1)
      .write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    CurationStream.start(spark, stream, stats, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy($"doc_id").collect().toSeq
    val batch = operators.Pipeline.curate(docs)
      .collect().toSeq
    assert(streamed.length == batch.length,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
    val diff = streamed.zip(batch).filter { case (s, b) => s != b }
    assert(diff.isEmpty,
      s"${diff.size} verdict rows differ; first: ${diff.headOption}")
  }

  test("streamed dataset card equals the batch card over the same corpus") {
    import spark.implicits._
    // stream the corpus in two micro-batches; the card assembled from
    // the append-only stores must equal the batch card bit for bit —
    // every document-local constituent is additive, and the two
    // distinct-key counts (vocabulary, dup groups) dedup at read
    val docs = t.documents
    val dir = Files.createTempDirectory("graft-card-stream").toString
    val cut = docs.agg(expr("percentile_approx(doc_id, 0.5)"))
      .head().getLong(0)
    docs.filter($"doc_id" <= cut).coalesce(1).write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    docs.filter($"doc_id" > cut).coalesce(1).write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    DatasetCardStream.start(stream, s"$dir/stats", s"$dir/toks",
      s"$dir/_ckpt").awaitTermination(180000)
    val streamed = DatasetCardStream
      .card(spark, s"$dir/stats", s"$dir/toks").collect().toSeq
    val batch = operators.Pipeline.datasetCardFrom(docs).collect().toSeq
    assert(streamed == batch,
      s"streamed $streamed must equal batch $batch")
    // replay safety: appending a batch's contributions twice must not
    // move the card (dropDuplicates + distinct absorb the replay)
    val replayDocs = docs.filter($"doc_id" <= cut)
    val replayClean = replayDocs.select($"doc_id",
        graft.functions.TextFunctions.preprocess($"text").as("clean"))
      .localCheckpoint()
    operators.Pipeline.cardDocStats(replayDocs, replayClean,
        replayClean.select($"doc_id",
          graft.functions.TextFunctions.tokens($"clean").as("toks"))
          .localCheckpoint())
      .write.mode("append").parquet(s"$dir/stats")
    val replayed = DatasetCardStream
      .card(spark, s"$dir/stats", s"$dir/toks").collect().toSeq
    assert(replayed == batch, "a replayed micro-batch must be absorbed")
  }

  test("stream-stream interval join equals the batch trailing-window join") {
    import spark.implicits._
    val q = JoinStream.purchaseAttribution(streamEvents)
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attrib_out")
        .select($"purchase_id", $"click_id").collect().toSet
      val batch = JoinStream.purchaseAttributionBatch(
          t.events.select("event_id", "ts", "user_id", "event_type", "value"))
        .select($"purchase_id", $"click_id").collect().toSet
      assert(batch.nonEmpty, "batch comparator must find attributions")
      // inner stream-stream join: matches emit once both rows arrived —
      // exact batch equality for in-watermark data
      assert(streamed == batch,
        s"only-stream=${(streamed -- batch).size} " +
          s"only-batch=${(batch -- streamed).size} of ${batch.size}")
      // two-sided join state is real and measured
      val m = StateBackend.stateMetrics(q)
      assert(m.exists { case (op, _, _) => op.contains("symmetricHashJoin") },
        m.toString)
    } finally q.stop()
  }

  test("RocksDB state backend: event-family twin identical to heap run") {
    // the newest stateful family must also be provider-invisible: the
    // retention twin's 16-byte-per-user state under RocksDB folds to the
    // exact batch cohort table the heap store produces
    val rocks = StateBackend.withRocksDB(spark) {
      val q = RetentionStream.marks(streamEvents)
        .writeStream.format("memory").queryName("retention_rocks")
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        assert(StateBackend.usesRocksDB(q),
          "provider switch did not engage")
        RetentionStream.table(spark.table("retention_rocks"))
          .collect().map(_.toSeq).toSeq
      } finally q.stop()
    }
    val batch = graft.operators.EventAnalytics.retention(t.events)
      .collect().map(_.toSeq).toSeq
    assert(rocks.nonEmpty && rocks === batch,
      s"${rocks.length} rocks vs ${batch.length} batch rows")
  }

  test("RocksDB state backend: identical sessions, state metrics surfaced") {
    import spark.implicits._
    // the production state store must be invisible in the answer: the
    // same stream under RocksDB emits exactly the sessions the default
    // heap store emits (and the batch twin contains them)
    val emitted = StateBackend.withRocksDB(spark) {
      val q = SessionStream.statefulSessions(
          streamEvents.as[SessionStream.Event])
        .writeStream.format("memory").queryName("sessions_rocks")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(StateBackend.usesRocksDB(q),
          "provider switch did not engage — no rocksdb metrics in progress")
        // state-size metrics readable next to the drop accounting
        val m = StateBackend.stateMetrics(q)
        assert(m.nonEmpty && m.forall { case (_, rows, bytes) =>
          rows >= 0L && bytes > 0L }, m.toString)
        spark.table("sessions_rocks")
          .select($"user_id", $"session_start", $"n_events").collect().toSet
      } finally q.stop()
    }
    // default-provider run of the SAME stream (fresh query, no shared
    // checkpoint) — result sets must match exactly
    val q2 = SessionStream.statefulSessions(
        streamEvents.as[SessionStream.Event])
      .writeStream.format("memory").queryName("sessions_hdfs")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(!StateBackend.usesRocksDB(q2))
      val hdfs = spark.table("sessions_hdfs")
        .select($"user_id", $"session_start", $"n_events").collect().toSet
      assert(emitted == hdfs,
        s"providers disagree: only-rocks=${(emitted -- hdfs).size} " +
          s"only-hdfs=${(hdfs -- emitted).size}")
      assert(emitted.nonEmpty)
    } finally q2.stop()
  }

  test("streaming count-min grid converges to the batch grid") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-cms-stream").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long): (Long, String) =
      (id, (1 to 5).map(j => s"w${id % 3}x$j").mkString(" ") + " shared tok")
    def write(path: String, rows: Seq[(Long, String)]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (id, tx) => Row(id, tx) }: _*),
        docSchema).coalesce(1).write.parquet(path)
    write(s"$dir/chunk=a", (0L to 3L).map(doc))
    Thread.sleep(1100)
    write(s"$dir/chunk=b", (4L to 7L).map(doc))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
    val q = SketchStream.grid(stream, depth = 4, width = 64)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // update mode re-emits a cell each time it grows: the final value
      // per (d, bucket) is the max
      val got = spark.table("cms_out").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val allDocs = spark.createDataFrame(
        java.util.Arrays.asList((0L to 7L).map(doc).map { case (id, tx) =>
          Row(id, tx) }: _*), docSchema)
      val want = SketchStream.grid(allDocs, depth = 4, width = 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"stream grid diverged: ${got.size} vs ${want.size} cells")
      // bounded state: never more cells than depth x width
      assert(got.size <= 4 * 64)
    } finally q.stop()
  }

  test("streaming ML-eval histogram equals the batch fold, heap and RocksDB") {
    import spark.implicits._
    import graft.operators.MlEval
    // frozen centroids (the batch training pass), held-out vectors
    // streamed in two micro-batches: the running (class, s_grid)
    // histogram must equal the batch scoreHistogram over the same rows,
    // and AUC / calibration / PR served FROM the store must equal the
    // batch operators bit for bit — under both state backends
    val emb = t.embeddings
    val cents = MlEvalStream.freezeCentroids(emb).localCheckpoint()
    val heldout = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select($"vec_id", $"label", $"embedding")
    val cut = heldout.agg(expr("percentile_approx(vec_id, 0.5)"))
      .head().getLong(0)
    val dir = Files.createTempDirectory("graft-mleval-stream").toString
    heldout.filter($"vec_id" <= cut).coalesce(1)
      .write.parquet(s"$dir/chunk=a")
    Thread.sleep(1100)
    heldout.filter($"vec_id" > cut).coalesce(1)
      .write.parquet(s"$dir/chunk=b")
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    def run(name: String): Map[(Long, Long), (Long, Long)] = {
      val stream = spark.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
      val q = MlEvalStream.histogram(MlEvalStream.score(stream, cents))
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        // update mode re-emits a cell each time it grows: counters are
        // monotone, so the final value per key is the componentwise max
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), r.getLong(3)))
          .groupBy(_._1).view
          .mapValues(v => (v.map(_._2._1).max, v.map(_._2._2).max))
          .toMap
      } finally q.stop()
    }
    val cells = run("mleval_out_heap")
    val batchCells = MlEval.scoreHistogram(MlEval.scoredOneVsRest(emb))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(cells == batchCells,
      s"stream histogram diverged: ${cells.size} vs ${batchCells.size} cells")
    // serve the three statistics FROM the store through the shared folds
    val cellsDf = cells.toSeq
      .map { case ((c, s), (p, n)) => (c, s, p, n) }
      .toDF("class", "s_grid", "p_g", "n_g")
    assert(MlEval.aucFromCells(cellsDf).collect().map(_.toSeq).toSeq ==
      MlEval.auc(emb).collect().map(_.toSeq).toSeq, "served AUC != batch")
    assert(MlEval.calibrationFromCells(cellsDf).collect().map(_.toSeq).toSeq
      == MlEval.calibration(emb).collect().map(_.toSeq).toSeq,
      "served calibration != batch")
    assert(MlEval.prCurveFromCells(cellsDf).collect().map(_.toSeq).toSeq ==
      MlEval.prCurve(emb).collect().map(_.toSeq).toSeq,
      "served PR curve != batch")
    assert(MlEval.eceFromCells(cellsDf).collect().map(_.toSeq).toSeq ==
      MlEval.eceFromScored(MlEval.scoredOneVsRest(emb))
        .collect().map(_.toSeq).toSeq, "served ECE != batch")
    // bounded state: never more cells than the grid x class domain
    assert(cells.size <= 2000001L * 10)
    // provider-invisible: RocksDB folds to the exact same cells
    val rocks = StateBackend.withRocksDB(spark) { run("mleval_out_rocks") }
    assert(rocks == cells, "providers disagree on the histogram")
  }

  test("streaming seasonality cells equal the batch fold, heap and RocksDB") {
    import spark.implicits._
    def run(name: String): Map[(Long, Long), (Long, java.math.BigDecimal)] = {
      val q = operators.EventAnalytics.seasonalityCells(streamEvents)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        // update mode re-emits a growing cell; n is monotone, so the
        // final state is the emission with the max n per key
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), r.getDecimal(3)))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      } finally q.stop()
    }
    val cells = run("season_out_heap")
    // fixed state: never more cells than the 7x24 grid
    assert(cells.size <= 168, s"${cells.size} cells")
    val batchCells = operators.EventAnalytics.seasonalityCells(t.events)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDecimal(3)))
      .toMap
    assert(cells == batchCells, "stream cells diverged from batch")
    // served THROUGH the shared fold == the batch operator bit for bit
    val cellsDf = cells.toSeq
      .map { case ((d, h), (n, v)) => (d, h, n, v) }
      .toDF("dow", "hour", "n", "value_sum")
    assert(operators.EventAnalytics.seasonalityFromCells(cellsDf)
      .collect().map(_.toSeq).toSeq ==
      operators.EventAnalytics.seasonality(t.events)
        .collect().map(_.toSeq).toSeq, "served seasonality != batch")
    val rocks = StateBackend.withRocksDB(spark) { run("season_out_rocks") }
    assert(rocks == cells, "providers disagree on the cells")
  }

  test("streaming gap stats equal the batch window pass, heap and RocksDB") {
    import spark.implicits._
    // the O(1)-state delta walk feeds a bounded bucket aggregation; the
    // time-split chunks deliver each user's events in event-time order
    // (the operator's documented source contract), so the delta
    // sequence equals the batch window pass
    def run(name: String): Map[Long, Long] = {
      val evs = streamEvents.select($"user_id", $"ts", $"event_id")
        .as[GapStatsStream.Ev]
      val q = GapStatsStream.buckets(GapStatsStream.deltas(evs))
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        spark.table(name).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      } finally q.stop()
    }
    val cells = run("gap_out_heap")
    // bounded buckets: the 120-minute cap + the overflow cell
    assert(cells.size <= 121, s"${cells.size} buckets")
    val batchCells = operators.EventAnalytics.gapBuckets(t.events)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == batchCells, "stream buckets diverged from batch")
    val cellsDf = cells.toSeq.toDF("gap_minutes", "n")
    assert(operators.EventAnalytics.gapStatsFromCells(cellsDf)
      .collect().map(_.toSeq).toSeq ==
      operators.EventAnalytics.gapStats(t.events)
        .collect().map(_.toSeq).toSeq, "served gap stats != batch")
    val rocks = StateBackend.withRocksDB(spark) { run("gap_out_rocks") }
    assert(rocks == cells, "providers disagree on the buckets")
  }

  test("streaming MAD histogram equals the batch fold, heap and RocksDB") {
    import spark.implicits._
    def run(name: String): Map[(String, Long), Long] = {
      val q = operators.EventAnalytics.madHistogram(streamEvents)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      } finally q.stop()
    }
    val cells = run("mad_out_heap")
    val batchCells = operators.EventAnalytics.madHistogram(t.events)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells == batchCells, "stream histogram diverged from batch")
    // median/MAD/outliers served FROM the store == the batch operator
    val cellsDf = cells.toSeq
      .map { case ((ty, vg), c) => (ty, vg, c) }
      .toDF("event_type", "vg", "c")
    assert(operators.EventAnalytics.madFromCells(cellsDf)
      .collect().map(_.toSeq).toSeq ==
      operators.EventAnalytics.madOutliers(t.events)
        .collect().map(_.toSeq).toSeq, "served MAD != batch")
    // the SAME store serves the robust trimmed/winsorized means too —
    // one histogram state, two batch-identical folds
    assert(operators.EventAnalytics.robustFromCells(cellsDf, 5)
      .collect().map(_.toSeq).toSeq ==
      operators.EventAnalytics.robustStats(t.events)
        .collect().map(_.toSeq).toSeq, "served robust stats != batch")
    val rocks = StateBackend.withRocksDB(spark) { run("mad_out_rocks") }
    assert(rocks == cells, "providers disagree on the histogram")
  }

  test("streaming co-occurrence marks serve the batch matrix, heap + RocksDB") {
    import spark.implicits._
    def run(name: String): Map[(String, String, String), Long] = {
      val evs = streamEvents.select($"user_id", $"event_type")
        .as[CooccurStream.TEv]
      val q = CooccurStream.cells(CooccurStream.marks(evs))
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
            r.getLong(3))
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      } finally q.stop()
    }
    val cells = run("cooccur_out_heap")
    // bounded state: ≤ 1 + |types| + |types|² cells (5 event types)
    assert(cells.size <= 31, s"${cells.size} cells")
    // no ordering contract needed — sets are order-free: whichever of
    // two types arrives first, the same sorted pair is emitted once
    val pairs = cells.collect { case (("pair", a, b), n) => (a, b, n) }
      .toSeq.toDF("a", "b", "n_both")
    val singles = cells.collect { case (("single", a, _), n) => (a, n) }
      .toSeq.toDF("event_type", "n")
    val total = cells.collect { case (("user", _, _), n) => Tuple1(n) }
      .toSeq.toDF("n_users")
    assert(operators.EventAnalytics
      .cooccurrenceFromCells(pairs, singles, total)
      .collect().map(_.toSeq).toSeq ==
      operators.EventAnalytics.cooccurrence(t.events)
        .collect().map(_.toSeq).toSeq, "served co-occurrence != batch")
    val rocks = StateBackend.withRocksDB(spark) { run("cooccur_out_rocks") }
    assert(rocks == cells, "providers disagree on the cells")
  }

  test("streaming dim-profile cells equal the batch fold, heap and RocksDB") {
    import spark.implicits._
    val emb = t.embeddings
    val cut = emb.agg(max($"vec_id")).head().getLong(0) / 2
    val dir = Files.createTempDirectory("graft-dimprofile-stream").toString
    emb.filter($"vec_id" <= cut).coalesce(1).write.parquet(s"$dir/chunk=a")
    Thread.sleep(1100)
    emb.filter($"vec_id" > cut).coalesce(1).write.parquet(s"$dir/chunk=b")
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    def run(name: String)
      : Map[Long, (Long, java.math.BigDecimal, java.math.BigDecimal,
                   Long, Long)] = {
      val stream = spark.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
      val q = operators.Embeddings.dimCells(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        // update mode re-emits a cell each time it changes; any change
        // to a dim's moments grows its count, so the row with the max n
        // per dim is the final state (sx is signed — a max over emitted
        // values would be wrong; the count is the monotone cursor)
        spark.table(name).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDecimal(2),
            r.getDecimal(3), r.getLong(4), r.getLong(5))))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      } finally q.stop()
    }
    val cells = run("dimprofile_out_heap")
    val batchCells = operators.Embeddings.dimCells(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDecimal(2),
        r.getDecimal(3), r.getLong(4), r.getLong(5)))).toMap
    assert(cells == batchCells, "stream cells diverged from batch")
    // bounded state: never more cells than the dimensionality
    assert(cells.size <= 64, s"${cells.size} cells")
    // serve the profile FROM the store through the shared fold
    val cellsDf = cells.toSeq.map { case (d, (n, sx, sxx, mn, mx)) =>
      (d, n, BigDecimal(sx), BigDecimal(sxx), mn, mx) }
      .toDF("dim", "n", "sx", "sxx", "mn", "mx")
      .withColumn("sx", $"sx".cast("decimal(38,0)"))
      .withColumn("sxx", $"sxx".cast("decimal(38,0)"))
    assert(operators.Embeddings.dimProfileFromCells(cellsDf)
      .collect().map(_.toSeq).toSeq ==
      operators.Embeddings.dimProfile(emb).collect().map(_.toSeq).toSeq,
      "served profile != batch")
    val rocks = StateBackend.withRocksDB(spark) { run("dimprofile_out_rocks") }
    assert(rocks == cells, "providers disagree on the cells")
  }

  test("streaming anisotropy cells equal the batch fold, heap and RocksDB") {
    import spark.implicits._
    val emb = t.embeddings
    val cut = emb.agg(max($"vec_id")).head().getLong(0) / 2
    val dir = Files.createTempDirectory("graft-anisotropy-stream").toString
    emb.filter($"vec_id" <= cut).coalesce(1).write.parquet(s"$dir/chunk=a")
    Thread.sleep(1100)
    emb.filter($"vec_id" > cut).coalesce(1).write.parquet(s"$dir/chunk=b")
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    def run(name: String)
      : Map[Int, (Long, java.math.BigDecimal, java.math.BigDecimal)] = {
      val stream = spark.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
      val q = operators.Embeddings.anisotropyCells(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        // cnt is the monotone cursor (sd is signed — max-of-emitted
        // would be wrong); the max-cnt row per dim is the final state
        spark.table(name).collect()
          .map(r => r.getInt(0) ->
            ((r.getLong(1), r.getDecimal(2), r.getDecimal(3))))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      } finally q.stop()
    }
    val cells = run("anisotropy_out_heap")
    val batchCells = operators.Embeddings.anisotropyCells(emb).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDecimal(2), r.getDecimal(3)))).toMap
    assert(cells == batchCells, "stream cells diverged from batch")
    assert(cells.size <= 64, s"${cells.size} cells")
    // serve E[cos] FROM the store through the shared fold
    val cellsDf = cells.toSeq.map { case (p, (cnt, sd, self)) =>
      (p, cnt, BigDecimal(sd), BigDecimal(self)) }
      .toDF("pos", "cnt", "sd", "self_d")
      .withColumn("sd", $"sd".cast("decimal(38,0)"))
      .withColumn("self_d", $"self_d".cast("decimal(38,0)"))
    assert(operators.Embeddings.anisotropyFromCells(cellsDf)
      .collect().map(_.toSeq).toSeq ==
      operators.Embeddings.anisotropy(emb).collect().map(_.toSeq).toSeq,
      "served anisotropy != batch")
    val rocks = StateBackend.withRocksDB(spark) { run("anisotropy_out_rocks") }
    assert(rocks == cells, "providers disagree on the cells")
  }

  test("streamed BM25 against the frozen index equals batch retrieval") {
    import spark.implicits._
    // freeze the index once, then stream the query set in two
    // micro-batches (terms of a query never split across batches);
    // streamed rankings must equal the batch topK bit for bit
    val terms = Seq(
      (0L, "hash"), (0L, "join"), (0L, "table"),
      (1L, "window"), (1L, "agg"), (1L, "stream"),
      (2L, "vector"), (2L, "scan"), (2L, "filter"))
      .toDF("query_id", "term")
    val index = graft.operators.Bm25.buildIndex(t.documents)
    val dir = Files.createTempDirectory("graft-retrieval-stream").toString
    terms.filter($"query_id" < 2).coalesce(1).write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    terms.filter($"query_id" === 2).coalesce(1).write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("query_id", LongType),
        StructField("term", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    RetrievalStream.start(spark, stream, index, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy($"query_id", $"rank").collect().toSeq
    val batch = graft.operators.Bm25.topK(t.documents, terms)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
  }

  test("streamed activity store rebuilds the batch DAU/WAU report exactly") {
    // two time-split micro-batches build the append-only (user, day)
    // store through the watermark-bounded dedup; the report over the
    // store must equal the batch operator over the same events — even
    // if the store holds at-least-once duplicates (the report re-dedups)
    val dir = Files.createTempDirectory("graft-active-stream").toString
    ActiveUsersStream.start(spark, streamEvents, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = ActiveUsersStream.report(spark, s"$dir/out")
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.EventAnalytics.activeUsers(t.events)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
  }

  test("streamed rerank against the frozen corpus equals the batch rerank") {
    import spark.implicits._
    // freeze the corpus base once, stream the query set (= the batch
    // path's own queries: docs 0-4's raw text) in two micro-batches;
    // streamed two-stage rankings must equal batch rerankedSearch bit
    // for bit — the serve-path fidelity contract for the dense stack
    val base = graft.operators.Rerank.frozenBase(t.documents)
    val rawQ = t.documents.filter($"doc_id" < 5)
      .select($"doc_id".as("query_id"), $"text")
    val dir = Files.createTempDirectory("graft-rerank-stream").toString
    rawQ.filter($"query_id" < 2).coalesce(1).write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    rawQ.filter($"query_id" >= 2).coalesce(1).write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("query_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    RerankStream.start(spark, stream, base, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy($"query_id", $"rank").collect().toSeq
    val batch = graft.operators.Rerank.rerankedSearch(t.documents)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
  }

  test("streamed context packing against the frozen store equals batch") {
    import spark.implicits._
    // freeze the chunk store once, stream the batch path's own query
    // set (docs 0-2's raw text) in two micro-batches; streamed packings
    // must equal batch contextPack bit for bit — the serve-path
    // fidelity contract for the RAG prompt-assembly step
    val store = graft.operators.Rag.buildChunkStore(t.documents)
    val rawQ = t.documents.filter($"doc_id" < 3)
      .select($"doc_id".as("query_id"), $"text")
    val dir = Files.createTempDirectory("graft-ctx-stream").toString
    rawQ.filter($"query_id" < 1).coalesce(1).write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    rawQ.filter($"query_id" >= 1).coalesce(1).write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("query_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    ContextPackStream.start(spark, stream, store, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy($"query_id", $"rank").collect().toSeq
    val batch = graft.operators.Rag.contextPack(t.documents)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
  }

  test("streamed cross-modal search against the frozen index equals batch") {
    import spark.implicits._
    // freeze the media index once (one encoder pass), stream the batch
    // path's own query set in two micro-batches; streamed rankings must
    // equal batch crossModalSearch bit for bit
    import graft.multimodal.Multimodal
    val media = t.documents
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val enc = Multimodal.ProjectionMediaEncoder.frozen(spark)
    val index = Multimodal.freezeMediaIndex(media, enc)
    val rawQ = t.documents.filter($"doc_id" < 3)
      .select($"doc_id".as("query_id"), $"text")
    val dir = Files.createTempDirectory("graft-mm-stream").toString
    rawQ.filter($"query_id" < 1).coalesce(1).write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    rawQ.filter($"query_id" >= 1).coalesce(1).write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("query_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    MmSearchStream.start(spark, stream, index, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy($"query_id", $"rank").collect().toSeq
    val qs = t.documents
      .filter($"doc_id" < 3 &&
        length(trim(graft.functions.TextFunctions.preprocess($"text"))) > 0)
      .select($"doc_id".as("query_id"),
        graft.functions.TextFunctions.preprocess($"text").as("qtext"))
    val batch = Multimodal.crossModalSearch(qs, media, enc).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
  }

  test("streaming dsir with a frozen model equals the batch scorer") {
    import spark.implicits._
    // train the importance model on the FULL corpus, stream the corpus
    // in two micro-batches, and require rows IDENTICAL to the batch
    // dsirScores over the same corpus — the train/serve fidelity
    // contract (same fold code, same grid, same frozen cut)
    val docs = t.documents
    val model = graft.operators.Selection.trainDsir(docs)
    val dir = Files.createTempDirectory("graft-dsir-stream").toString
    docs.filter($"doc_id" < 250).select($"doc_id", $"text").coalesce(1)
      .write.parquet(s"$dir/src/c=a")
    Thread.sleep(1100)
    docs.filter($"doc_id" >= 250).select($"doc_id", $"text").coalesce(1)
      .write.parquet(s"$dir/src/c=b")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/src/c=*")
    SelectionStream.start(spark, stream, model, s"$dir/out", s"$dir/_ckpt")
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$dir/out")
      .orderBy($"doc_id").collect().toSeq
    val batch = graft.operators.Selection.dsirScores(docs)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"${streamed.length} streamed vs ${batch.length} batch rows")
  }

  test("streamed anomaly scoring against frozen stats equals the batch gate") {
    // freeze the reference moments from the batch history, stream the
    // SAME events in two micro-batches: stateless scoring must be
    // bit-identical to EventAnalytics.anomalies over those rows
    val ref = AnomalyStream.referenceStats(t.events)
    val q = AnomalyStream.score(streamEvents, ref)
      .writeStream.format("memory").queryName("anomaly_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("anomaly_out").collect()
        .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
      val want = graft.operators.EventAnalytics.anomalies(t.events).collect()
        .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
      assert(got == want,
        s"streamed scores diverged (${got.size} vs ${want.size} rows)")
    } finally q.stop()
  }

  test("streamed funnel state equals the batch funnel's stage counts") {
    // two time-split micro-batches (per-user event-time order holds
    // across triggers); after the stream drains, max(stage_reached) per
    // user must reproduce the batch min-timestamp chaining exactly
    val q = FunnelStream.progress(streamEvents)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val highest = spark.table("funnel_out").groupBy(col("user_id"))
        .agg(max(col("stage_reached")).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.EventAnalytics.funnel(t.events).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap // stage_idx -> n_users
      (1L to 4L).foreach { k =>
        val streamed = highest.values.count(_ >= k).toLong
        assert(streamed === batch(k),
          s"stage $k: streamed $streamed vs batch ${batch(k)}")
      }
      // per-user state is O(stages): progress rows only ever advance
      assert(highest.values.forall(h => h >= 1L && h <= 4L))
    } finally q.stop()
  }

  test("streamed retention marks rebuild the batch cohort table exactly") {
    // same time-split chunks (per-user event-time order across triggers);
    // accumulated (user, cohort, offset) marks folded by table() must be
    // row-identical to the batch operator — including the ratio doubles
    val q = RetentionStream.marks(streamEvents)
      .writeStream.format("memory").queryName("retention_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = RetentionStream.table(spark.table("retention_out"))
        .collect().map(_.toSeq).toSeq
      val batch = graft.operators.EventAnalytics.retention(t.events)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch,
        s"${streamed.length} streamed vs ${batch.length} batch rows")
      // state really is two longs: marks per user are bounded by offsets
      val perUser = spark.table("retention_out").groupBy(col("user_id"))
        .count().agg(max(col("count"))).head().getLong(0)
      assert(perUser <= 15L)
    } finally q.stop()
  }

  private val cmSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Time-split event chunks WITH props, plus a terminal flush row one
    * day past the log: its event_type matches nothing and its props
    * carry no item, so it contributes no mark in either engine — it
    * exists purely to advance the watermark past every open session's
    * timeout (which is also why ClickModelStream filters inside the
    * fold: a DataFrame filter would be pushed below the watermark node
    * and ignored event types would stop advancing time). */
  private lazy val cmStreamDir: String = {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-cm-stream").toString
    val ev = t.events.select(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val cut = ev.agg(expr("percentile_approx(cast(ts as long), 0.5)"))
      .head().getLong(0)
    ev.filter(col("ts").cast("long") <= cut).coalesce(1)
      .write.parquet(s"$dir/chunk=a")
    Thread.sleep(1100)
    ev.filter(col("ts").cast("long") > cut).coalesce(1)
      .write.parquet(s"$dir/chunk=b")
    Thread.sleep(1100)
    val flushTs = new java.sql.Timestamp(
      ev.agg(max(col("ts"))).head().getTimestamp(0).getTime + 86400000L)
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(999999L, flushTs, 999999L, "flush", 0.0, "{}")),
      cmSchema).coalesce(1).write.parquet(s"$dir/chunk=c")
    dir
  }

  private def cmStream =
    spark.readStream.schema(cmSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$cmStreamDir/chunk=*")

  test("streamed click-model marks rebuild both batch feedback tables exactly") {
    val q = ClickModelStream.marks(cmStream)
      .writeStream.format("memory").queryName("cm_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val marksDf = spark.table("cm_out")
      val streamedPb = ClickModelStream.positionBias(marksDf)
        .collect().map(_.toSeq).toSeq
      val batchPb = operators.Feedback.positionBias(t.events)
        .collect().map(_.toSeq).toSeq
      assert(streamedPb.nonEmpty)
      assert(streamedPb === batchPb,
        s"position bias: ${streamedPb.length} vs ${batchPb.length} rows")
      val streamedCm = ClickModelStream.clickModel(marksDf)
        .collect().map(_.toSeq).toSeq
      val batchCm = operators.Feedback.clickModel(t.events)
        .collect().map(_.toSeq).toSeq
      assert(streamedCm === batchCm,
        s"click model: ${streamedCm.length} vs ${batchCm.length} rows")
    } finally q.stop()
  }

  test("RocksDB state backend: click-model twin identical to heap run") {
    // the feedback family's session-item state must be provider-
    // invisible too: the same chunked stream under RocksDB folds to
    // the exact batch IPS table
    val rocks = StateBackend.withRocksDB(spark) {
      val q = ClickModelStream.marks(cmStream)
        .writeStream.format("memory").queryName("cm_rocks")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(StateBackend.usesRocksDB(q),
          "provider switch did not engage")
        ClickModelStream.clickModel(spark.table("cm_rocks"))
          .collect().map(_.toSeq).toSeq
      } finally q.stop()
    }
    val batch = operators.Feedback.clickModel(t.events)
      .collect().map(_.toSeq).toSeq
    assert(rocks.nonEmpty && rocks === batch,
      s"${rocks.length} rocks vs ${batch.length} batch rows")
  }

  test("streaming session paths: closed-session cells equal the batch " +
    "fold; both journey tables served through the shared folds, " +
    "heap and RocksDB") {
    import spark.implicits._
    def run(name: String): Seq[(String, Long)] = {
      val ev = cmStream
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .as[PathsStream.Event]
      val q = PathsStream.cells(ev)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        if (name.endsWith("rocks"))
          assert(StateBackend.usesRocksDB(q), "provider switch not engaged")
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      } finally q.stop()
    }
    // the flush row's own session never closes (the watermark cannot
    // pass its timeout), so it is invisible here — while every REAL
    // session times out and emits, making the comparison exhaustive
    val cells = run("paths_out_heap")
    val batchCells = operators.Sessionize.sessionPathCells(
      t.events, "30 MINUTES", 8, "purchase")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(cells == batchCells,
      s"${cells.length} stream vs ${batchCells.length} batch cells")
    // serve BOTH journey tables from the collected cells through the
    // shared batch folds — bit-equal to the batch operators
    val cellsDf = cells.toDF("path", "conv")
    assert(PathsStream.topPaths(cellsDf).collect().map(_.toSeq).toSeq ==
      operators.Sessionize.paths(t.events).collect().map(_.toSeq).toSeq,
      "served top-paths != batch q_paths")
    assert(PathsStream.pathConversion(cellsDf)
      .collect().map(_.toSeq).toSeq ==
      operators.Sessionize.pathConversion(t.events)
        .collect().map(_.toSeq).toSeq,
      "served conversion != batch q_path_conversion")
    val rocks = StateBackend.withRocksDB(spark) { run("paths_out_rocks") }
    assert(rocks == cells, "providers disagree on the cells")
  }

  test("streamed attribution credits rebuild the batch report exactly") {
    // time-split chunks preserve per-user event-time order across
    // triggers; folded credits must match the batch window operator —
    // including the DECIMAL value sums and the "none" bucket
    val q = AttributionStream.credits(streamEvents)
      .writeStream.format("memory").queryName("attribution_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = AttributionStream.table(spark.table("attribution_out"))
        .collect().map(_.toSeq).toSeq
      val batch = graft.operators.EventAnalytics.attribution(t.events)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch,
        s"${streamed.length} streamed vs ${batch.length} batch rows")
      // one credit per conversion, never a touch buffer
      val nCredits = spark.table("attribution_out").count()
      val nConv = t.events.filter(col("event_type") === "purchase").count()
      assert(nCredits == nConv)
    } finally q.stop()
  }

  test("streamed transition pairs rebuild the batch matrix exactly") {
    val q = TransitionStream.pairs(streamEvents)
      .writeStream.format("memory").queryName("transition_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = TransitionStream.table(spark.table("transition_out"))
        .collect().map(_.toSeq).toSeq
      val batch = graft.operators.EventAnalytics.transitions(t.events)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch,
        s"${streamed.length} streamed vs ${batch.length} batch rows")
      // one pair per consecutive same-user event pair: events − users
      val nPairs = spark.table("transition_out").count()
      val nEvents = t.events.count()
      val nUsers = t.events.select(col("user_id")).distinct().count()
      assert(nPairs == nEvents - nUsers)
    } finally q.stop()
  }

  test("anomaly scoring: types unseen in the reference score z=0, no flag") {
    import org.apache.spark.sql.Row
    val rows = java.util.Arrays.asList(
      Row(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
        "brand_new_type", 1e9))
    val novel = spark.createDataFrame(rows, schema)
    val ref = AnomalyStream.referenceStats(t.events)
    val got = AnomalyStream.score(novel, ref).collect()
    assert(got.length == 1)
    assert(got.head.getDouble(3) == 0.0 && !got.head.getBoolean(4))
  }

  private lazy val profileStreamDir: String = {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-profile-stream").toString
    val sch = StructType(Seq(
      StructField("num", LongType), StructField("str", StringType)))
    def write(path: String, rows: Seq[(java.lang.Long, String)]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (n, s) => Row(n, s) }: _*),
        sch).coalesce(1).write.parquet(path)
    write(s"$dir/chunk=a", Seq(
      (10L: java.lang.Long, "b"), (20L: java.lang.Long, "a"),
      (null: java.lang.Long, "a")))
    Thread.sleep(1100)
    write(s"$dir/chunk=b", Seq(
      (10L: java.lang.Long, null), (30L: java.lang.Long, "c")))
    dir
  }

  private val profileSchema = StructType(Seq(
    StructField("num", LongType), StructField("str", StringType)))

  private def runProfileStream(queryName: String, k: Int): Seq[Seq[Any]] = {
    val stream = spark.readStream.schema(profileSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$profileStreamDir/chunk=*")
    val q = ProfileStream.profile(stream,
      Seq("num" -> col("num")), Seq("str" -> col("str")), k = k)
      .writeStream.format("memory").queryName(queryName)
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // final state per column = the row with the most records folded
      spark.table(queryName).collect()
        .map(r => (r.getString(0), r.getLong(1), r.toSeq))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)._3).toMap
        .toSeq.sortBy(_._1.toString).map(_._2)
    } finally q.stop()
  }

  test("streaming profile twin equals the batch profile, heap and RocksDB") {
    // k=64 > distinct count → the KMV sketch is in its exact regime, so
    // est_distinct must equal the batch operator's EXACT n_distinct;
    // counts/nulls/typed min-max fold exactly by construction
    val got = runProfileStream("profile_out_heap", k = 64)
    val all = spark.read.schema(profileSchema)
      .parquet(s"$profileStreamDir/chunk=*")
    val batch = operators.Profile.profile(all,
      Seq("num" -> col("num")), Seq("str" -> col("str"))).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 2)
    got.foreach { s =>
      val b = batch(s.head.asInstanceOf[String])
      assert(s(1) == b.getLong(1), "n")            // rows
      assert(s(2) == b.getLong(2), "n_null")
      assert(s(3) == b.getLong(3), "est == exact distinct under k")
      val (mnN, mxN) =
        (if (b.isNullAt(4)) null else b.getLong(4),
         if (b.isNullAt(5)) null else b.getLong(5))
      assert(s(5) == mnN && s(6) == mxN, "typed num min/max")
      val (mnS, mxS) =
        (if (b.isNullAt(6)) null else b.getString(6),
         if (b.isNullAt(7)) null else b.getString(7))
      assert(s(7) == mnS && s(8) == mxS, "typed str min/max")
    }
    val rocks = StateBackend.withRocksDB(spark) {
      runProfileStream("profile_out_rocks", k = 64)
    }
    assert(rocks === got, "provider-invisible state fold")
  }

  test("streaming profile sketch path equals the batch kmv aggregate") {
    import graft.functions.{fnv1a64, kmv_distinct}
    // k=2 < distinct count → estimator path; the stream's running KMV
    // must equal the batch bottom-k aggregate over the SAME canonical
    // value hashes (minima of a distinct set are order-independent)
    val got = runProfileStream("profile_out_k2", k = 2)
    val all = spark.read.schema(profileSchema)
      .parquet(s"$profileStreamDir/chunk=*")
    val want = operators.Profile.unpivot(all,
      Seq("num" -> col("num")), Seq("str" -> col("str")))
      .filter(col("val_num").isNotNull || col("val_str").isNotNull)
      .select(col("col_name"),
        fnv1a64(coalesce(col("val_num").cast("string"), col("val_str")))
          .as("h"))
      .groupBy(col("col_name")).agg(kmv_distinct(col("h"), 2).as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getStruct(1).getLong(0)).toMap
    got.foreach { s =>
      assert(s(3) == want(s.head.asInstanceOf[String]),
        s"sketch estimate for ${s.head}")
    }
  }

  test("ProfileStream.utf8Lt matches Spark's StringType min/max order") {
    // U+10000 is one UTF-16 surrogate pair (leading 0xD800) but four
    // UTF-8 bytes (F0 90 80 80); U+FFFD is one code unit (0xFFFD) and
    // three bytes (EF BF BD). Scala's String < ranks the supplementary
    // char FIRST (0xD800 < 0xFFFD); Spark's binary UTF8String order
    // ranks it LAST (F0 > EF) — the fold must agree with Spark.
    val supp = new String(Character.toChars(0x10000))
    val bmp = "�"
    assert(supp < bmp, "sanity: UTF-16 order disagrees on this pair")
    assert(ProfileStream.utf8Lt(bmp, supp) &&
      !ProfileStream.utf8Lt(supp, bmp))
    // and Spark's own min/max picks the same order
    import org.apache.spark.sql.Row
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(supp), Row(bmp)),
      StructType(Seq(StructField("s", StringType))))
    val r = df.agg(min(col("s")), max(col("s"))).head()
    assert(r.getString(0) == bmp && r.getString(1) == supp)
  }

  test("streamed session marks rebuild the batch preference pairs exactly") {
    // the FeedbackSpec confound log (flipped pair and all) driven as two
    // time-split chunks + a flush row: the stream's session_start key
    // must yield the SAME (winner, loser) rollup as batch's ordinal
    // session_idx — the per-session-unique-key argument, proved
    import org.apache.spark.sql.Row
    var eid = 0L
    def ev(uid: Long, t: String, typ: String, item: Long) = {
      eid += 1
      Row(eid, java.sql.Timestamp.valueOf(t), uid, typ, 0.0,
        s"""{"k": $item}""")
    }
    def page(uid: Long, a: Long, b: Long, click: Option[Long]) = Seq(
      ev(uid, "2024-01-01 10:00:00", "view", a),
      ev(uid, "2024-01-01 10:01:00", "view", b)) ++
      click.map(c => ev(uid, "2024-01-01 10:02:00", "click", c))
    val rows = (
      page(1L, 100, 200, Some(100)) ++ page(2L, 100, 200, Some(100)) ++
        page(3L, 100, 200, Some(200)) ++ page(4L, 100, 200, None) ++
        (5L to 8L).flatMap(u => page(u, 300, 400, Some(300))))
    val dir = Files.createTempDirectory("graft-cm-pref").toString
    val (a, b) = rows.splitAt(rows.length / 2)
    spark.createDataFrame(java.util.Arrays.asList(a: _*), cmSchema)
      .coalesce(1).write.parquet(s"$dir/chunk=a")
    Thread.sleep(1100)
    spark.createDataFrame(java.util.Arrays.asList(b: _*), cmSchema)
      .coalesce(1).write.parquet(s"$dir/chunk=b")
    Thread.sleep(1100)
    spark.createDataFrame(java.util.Arrays.asList(
      Row(999L, java.sql.Timestamp.valueOf("2024-01-03 10:00:00"),
        999L, "flush", 0.0, "{}")), cmSchema)
      .coalesce(1).write.parquet(s"$dir/chunk=c")
    val stream = spark.readStream.schema(cmSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
    val q = ClickModelStream.marks(stream)
      .writeStream.format("memory").queryName("cm_pref_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = ClickModelStream.prefPairs(spark.table("cm_pref_out"))
        .collect().map(_.toSeq).toSeq
      val batchEvents = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), cmSchema)
      val batch = operators.Feedback.prefPairs(batchEvents)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty && streamed === batch,
        s"streamed $streamed vs batch $batch")
      // and the confounded pair is in there, flagged
      assert(streamed.exists(r => r.head == 200L && r(1) == 100L &&
        r.last == true))
    } finally q.stop()
  }

  test("click-model stream keeps a legitimate negative item id") {
    // batch Feedback.impressions keeps every non-null item; the stream's
    // missing-item sentinel must therefore live OUTSIDE the id domain
    // (Long.MinValue), not at -1 — a -1 sentinel silently dropped real
    // negative ids (ADVICE r12)
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-cm-neg").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val flushTs = java.sql.Timestamp.valueOf("2024-01-03 10:00:00")
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, t0, 7L, "view", 0.0, """{"k":-5}"""),
        Row(2L, new java.sql.Timestamp(t0.getTime + 1000L), 7L, "click",
          0.0, """{"k":-5}"""),
        Row(99L, flushTs, 99L, "flush", 0.0, "{}")),
      cmSchema).coalesce(1).write.parquet(s"$dir/chunk=a")
    val stream = spark.readStream.schema(cmSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/chunk=*")
    val q = ClickModelStream.marks(stream)
      .writeStream.format("memory").queryName("cm_neg_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cm_neg_out")
        .select(col("item"), col("pos"), col("clicked"))
        .collect().map(_.toSeq).toSeq
      assert(got == Seq(Seq(-5L, 1L, true)),
        s"negative item id must fold like batch, got $got")
    } finally q.stop()
  }

  test("shingle ingest exactly-once: a done marker skips the replayed " +
    "batch entirely") {
    import spark.implicits._
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val tbl = "graft_stream_shingle_skip"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = Files.createTempDirectory("graft-shingle-skip").toString
    operators.Dedup.persistShingles(
      Seq((1L, baseText)).toDF("doc_id", "text"), tbl, s"$dir/store",
      minDf = 1)
    try {
      val srcDir = Files.createTempDirectory("graft-shskip-src").toString
      Seq((20L, baseText.split(" ").updated(10, "EDITED").mkString(" ")))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/c=a")
      def docStream = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(s"$srcDir/c=*")
      // simulate: batch 0 fully completed in a previous attempt (done
      // marker present) but the checkpoint commit was lost → Spark
      // replays batch 0; the guard must skip flags AND append
      val ckpt = s"$dir/_ckpt"
      Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/markers"))
      Files.writeString(java.nio.file.Paths.get(s"$ckpt/markers/done"), "0")
      val rowsBefore = spark.table(tbl).count()
      ShingleDedupStream.start(spark, docStream, tbl, s"$dir/flags",
        checkpoint = ckpt).awaitTermination(120000)
      spark.catalog.refreshTable(tbl)
      assert(spark.table(tbl).count() == rowsBefore,
        "replayed batch re-appended despite the done marker")
      assert(!new java.io.File(s"$dir/flags").exists(),
        "replayed batch re-wrote flags despite the done marker")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("shingle ingest exactly-once: crash-replay after a LANDED append " +
    "probes correctly and does not double-append") {
    import spark.implicits._
    val baseText = (1 to 80).map(i => s"w${i % 37}tok$i").mkString(" ")
    val nearDup = baseText.split(" ").updated(10, "EDITED").mkString(" ")
    val tbl = "graft_stream_shingle_crash"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = Files.createTempDirectory("graft-shingle-crash").toString
    operators.Dedup.persistShingles(
      Seq((1L, baseText)).toDF("doc_id", "text"), tbl, s"$dir/store",
      minDf = 1)
    try {
      val batch = Seq((20L, nearDup),
        (21L, nearDup.split(" ").updated(20, "ALSO").mkString(" ")))
        .toDF("doc_id", "text")
      val srcDir = Files.createTempDirectory("graft-shcrash-src").toString
      batch.coalesce(1).write.parquet(s"$srcDir/c=a")
      def docStream = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(s"$srcDir/c=*")
      // simulate the worst crash window: the previous attempt wrote its
      // intent marker AND its append LANDED, then crashed before the
      // done marker — Spark replays batch 0 with the batch's own
      // shingles already in the store
      operators.Dedup.appendShingles(batch, tbl)
      spark.catalog.refreshTable(tbl)
      val rowsAfterCrash = spark.table(tbl).count()
      val ckpt = s"$dir/_ckpt"
      Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/markers"))
      Files.writeString(java.nio.file.Paths.get(s"$ckpt/markers/intent"), "0")
      ShingleDedupStream.start(spark, docStream, tbl, s"$dir/flags",
        checkpoint = ckpt).awaitTermination(120000)
      spark.catalog.refreshTable(tbl)
      // no double append (the store-containment witness fired) …
      assert(spark.table(tbl).count() == rowsAfterCrash,
        "crash replay double-appended the batch's shingles")
      // … and the replayed probe is UNCONTAMINATED: docs 20/21 are
      // near-dups of each other and their shingles sit in the store,
      // but the probe's self-exclusion keeps neighbors base-only, at
      // the exact pre-crash jaccard
      val flags = spark.read.parquet(s"$dir/flags").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(flags.keySet == Set(20L, 21L), s"got $flags")
      assert(flags(20L) == ((1L,
        math.floor(75.0 / 81.0 * 1e6) / 1e6)), s"got ${flags(20L)}")
      assert(flags(21L)._1 == 1L,
        s"replayed probe surfaced a same-batch neighbor: ${flags(21L)}")
      // the done marker landed, so a SECOND replay would skip the body
      assert(Files.readString(
        java.nio.file.Paths.get(s"$ckpt/markers/done")).trim == "0")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
