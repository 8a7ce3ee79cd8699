package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.sources.{FingerprintCache, Tables}
import graft.operators.Barrier.BarrierOps

/** IVF (inverted-file) approximate search: the scale path that replaces the
  * reference's single-node HNSW graph (services/index_service.py:55-100).
  *
  * Build: assign every corpus vector to its nearest of `nCentroids` seed
  * centroids (deterministic seeds = first n vectors; a k-means refinement
  * drops in here without changing the dataflow). At 100 TB the assignment
  * is one broadcast-join scan, and the posting lists are just the corpus
  * repartitioned/bucketed by `centroid_id` — a search then touches only
  * `nprobe / nCentroids` of the data instead of all of it.
  *
  * Search: the in-plan entry points ([[search]], [[searchFiltered]],
  * [[searchQuantized]], [[searchPqWith]]) are one probe-and-score core,
  * [[probedTopK]], that differs only in the scored rows and how their
  * vector column is read; [[searchPersisted]] and [[searchBucketed]]
  * read an index written by [[persist]] or [[persistBucketed]] instead.
  * The recall audits fold through `Search.recallAt`.
  */
object IvfIndex {

  /** Auto-scaled centroid count: k = max(`floor`, ceil(n / `targetList`)),
    * so the EXPECTED posting-list/block size is a constant ~`targetList`
    * at every corpus size. This is the scale-invariance every learned-
    * block path needs — a fixed k means lists/blocks grow ∝ corpus (100×
    * data = 100× per-list scan and per-block join work), while auto-k
    * keeps per-vector work constant and total work linear. The floor
    * keeps k sane on small corpora (and keeps small-SF oracles stable:
    * any corpus under `floor × targetList` rows resolves to exactly
    * `floor` centroids). */
  def autoCentroids(corpusCount: Long, targetList: Int = 256,
                    floor: Int = 16): Int = {
    require(targetList > 0 && floor > 0, "targetList and floor must be > 0")
    math.max(floor.toLong,
      (corpusCount + targetList - 1) / targetList).min(Int.MaxValue).toInt
  }

  /** Deterministic seed centroids: (centroid_id, cv). `nCentroids ≤ 0`
    * resolves through [[autoCentroids]] (one cheap count) — every IVF
    * build/search path funnels through here, so passing 0 anywhere gives
    * the corpus-scaled posting-list contract without each caller
    * re-deriving k. */
  def centroids(corpus: DataFrame, nCentroids: Int): DataFrame = {
    val k = centroidCount(corpus, nCentroids)
    corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
  }

  /** `nCentroids`, or [[autoCentroids]] of the corpus size when it is
    * ≤ 0. The size is one job: each partition counts its rows, reading no
    * column, where `Dataset.count` adds a shuffle stage, a second job. */
  private def centroidCount(corpus: DataFrame, nCentroids: Int): Int =
    if (nCentroids > 0) nCentroids
    else autoCentroids(corpus.select().queryExecution.toRdd.count())

  /** (vec_id, centroid_id, dist): each corpus vector's nearest centroid,
    * argmin by (distance, centroid_id) — the ONE assignment core behind
    * every build/search variant ([[assignments]] adds the presentation
    * floor/order; search paths prune `dist` away). The struct-min
    * aggregate keeps the all-pairs step map-side; only (vec_id → best)
    * survives the shuffle. */
  private[graft] def nearestCentroid(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        (lit(1.0) - cosine_similarity(col("embedding"), col("cv"))).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("centroid_id"))).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"),
        col("best.dist").as("dist"))

  /** (query_id, centroid_id): the `nprobe` nearest centroids per query —
    * the probe step shared by every search variant. */
  private def probeCentroids(cents: DataFrame, queries: DataFrame,
                             nprobe: Int): DataFrame =
    cents.crossJoin(broadcast(queries))
      .select(col("query_id"),
        cosine_similarity(col("qv"), col("cv")).as("sim"), col("centroid_id"))
      .groupBy(col("query_id"))
      .agg(top_k_by_score(col("sim"), col("centroid_id"), nprobe).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("centroid_id"))

  /** Nearest-centroid assignment, argmin by (distance, centroid_id):
    * (vec_id, centroid_id, dist) — [[nearestCentroid]] plus the
    * driver-facing presentation (floored distance, ordered output). */
  def assignments(corpus: DataFrame, cents: DataFrame): DataFrame =
    nearestCentroid(corpus, cents)
      .select(col("vec_id"), col("centroid_id"),
        // clamp: cos(v,v) can exceed 1 by an ulp, and floor() would turn
        // the resulting -2e-16 distance into -1e-6
        (floor(greatest(col("dist"), lit(0.0)) * 1e6) / 1e6).as("dist"))
      .orderBy(col("vec_id"))

  /** Embedding-space prototypicality audit — the per-cluster distance
    * outlier flag an embedding-driven curation pass reads next to its
    * near-dup verdicts (the far tail of a cluster is noise / off-modal
    * content; the SemDeDup-family prunes BOTH the too-close and the
    * too-far ends, and [[Dedup.semanticNeighbors]] already covers
    * too-close): each vector's cosine distance to its assigned centroid,
    * z-scored against its OWN cluster's distance distribution.
    *
    * Determinism (the `q_anomaly` discipline, one notch stricter): the
    * distance is floored to a 1e-6-grid INTEGER `m` first, the per-cluster
    * moments (n, Σm, Σm²) are exact integer/DECIMAL sums over m — so the
    * unordered aggregate can never produce an order-dependent float — and
    * z is derived in double from the exact components. Both engines
    * z-score the FLOORED grid `m` (which is what makes the unordered
    * aggregate exact); flooring is nonlinear, so z over m can differ
    * from z over the raw distance by up to the grid quantum's share of
    * the cluster spread, and a borderline `is_outlier` near z = 2 is a
    * statement about m, not about raw dist. Zero-variance clusters emit
    * z = 0.
    *
    * Scale shape: ONE broadcast-join assignment scan (map-side struct-min,
    * never a corpus shuffle), the assignment barriered and read twice
    * (k-row moments, scoring), the k-row stats broadcast back. */
  def prototypicality(corpus: DataFrame, nCentroids: Int = 16,
                      zThreshold: Double = 2.0): DataFrame = {
    val cents = centroids(corpus, nCentroids)
    val asg = nearestCentroid(corpus, cents)
      .select(col("vec_id"), col("centroid_id"),
        // clamp before flooring: cos(v,v) can exceed 1 by an ulp
        floor(greatest(col("dist"), lit(0.0)) * 1e6).cast("long").as("m"))
      .barrier() // read 2×: per-cluster moments + per-vector scoring
    val stats = asg.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
        sum((col("m").cast("decimal(38,0)") * col("m")).cast("decimal(38,0)"))
          .as("smm"))
    val mean = col("sm").cast("double") / col("n").cast("double")
    val varr = greatest(lit(0.0),
      (col("smm").cast("double") -
        col("sm").cast("double") * col("sm").cast("double") /
          col("n").cast("double")) / col("n").cast("double"))
    val sd = sqrt(varr)
    val z = when(sd > 0.0, (col("m").cast("double") - mean) / sd)
      .otherwise(lit(0.0))
    asg.join(broadcast(stats), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        (col("m").cast("double") / 1e6).as("dist"),
        (floor(z * 1e4) / 1e4).as("z"),
        (z > zThreshold).as("is_outlier"))
      .transform(graft.Determinism.sorted(_)(col("vec_id")))
  }

  /** Lloyd-refined centroids: start from the deterministic seeds, then
    * `iters` rounds of assign → element-wise mean (via the
    * [[graft.functions.VectorAvg]] typed aggregator — shuffles one
    * (sum, count) buffer per centroid, never the member vectors). Centroid
    * vectors are collected per round (k × dim doubles — driver-trivial)
    * and rebroadcast. */
  def kmeansCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 3)
      : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = centroids(corpus, nCentroids)
    for (_ <- 1 to iters) {
      // narrow argmin + re-attach join (the r19 semanticNeighbors note):
      // an embedding inside the min-struct makes each Lloyd round a
      // dim-wide SortAggregate over n·k rows; the narrow struct sorts
      // 24 B rows and the cell-mean input re-attaches via one
      // vec_id-keyed linear join — identical assignment (centroid_id is
      // unique per candidate, the comparison never reached the array)
      val assigned = nearestCentroid(corpus, cents)
        .select(col("vec_id"), col("centroid_id"))
        .join(corpus, Seq("vec_id"))
        .select(col("centroid_id"), col("embedding"))
      val newCents = assigned
        .as[(Long, Array[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.VectorAvg.toColumn.name("cv"))
        .toDF("centroid_id", "cv")
      // BOUNDED: k × dim is tiny; materializing keeps lineage flat
      cents = spark.createDataFrame(
        java.util.Arrays.asList(newCents.collect(): _*), newCents.schema)
    }
    cents
  }

  /** Persist the index: centroids + posting lists partitioned on disk by
    * `centroid_id` (the durable form of the reference's `INDEX_FILE`,
    * services/index_service.py:75-99). A later search prunes partitions —
    * it reads only the probed centroids' directories.
    *
    * The seed centroids are resolved once, on the driver: k (one count
    * when `nCentroids` ≤ 0) and one collect of the k seed rows. The
    * centroids are written from that array, and each vector is assigned
    * in the same map-only pass that writes its posting: argmin by
    * (1 − `cosine_similarity(embedding, cv)`, `centroid_id`), the order of
    * [[nearestCentroid]]'s struct min, so a null distance (a null centroid
    * or vector) sorts first and NaN last. Rows with a null `vec_id` are
    * not indexed, and a `vec_id` that appears in several rows is assigned
    * per row. No join, no shuffle: at most four jobs.
    *
    * The write primes [[searchPersisted]]'s resident entry for `path`
    * with the centroids and the postings schema it wrote, stamped with
    * the [[Tables.fingerprint]] of the finished index, so the next search
    * reads no centroids and infers no schema. */
  def persist(corpus: DataFrame, nCentroids: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    val k = centroidCount(corpus, nCentroids)
    val seeds = corpus.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect() // BOUNDED: k seed rows
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val centroidSchema = StructType(Seq(
      corpus.schema("vec_id").copy(name = "centroid_id"),
      corpus.schema("embedding").copy(name = "cv")))
    spark.createDataFrame(
        java.util.Arrays.asList(seeds.map { case (id, cv) => Row(id, cv) }: _*),
        centroidSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val ids = seeds.map(_._1)
    // a null distance sorts first: a null vector is nearest the smallest
    // id, and a null centroid is nearest every other vector
    val nearest = when(col("embedding").isNull, lit(ids.headOption.getOrElse(0L)))
      .otherwise(seeds.collectFirst { case (id, null) => lit(id) }.getOrElse(
        element_at(typedLit(ids.toSeq), (nearest_seed(col("embedding"),
          typedLit(seeds.map(_._2.toSeq).toSeq)) + 1).cast(IntegerType))))
    corpus.filter(col("vec_id").isNotNull && lit(seeds.nonEmpty))
      .select(col("vec_id"), col("embedding"), nearest.as("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/postings")
    val cents = seeds.collect { case (id, cv) if cv != null => id -> ArrayData.toArrayData(cv) }
    resident.prime(path, Tables.fingerprint(spark, path), Resident(cents,
      if (cents.isEmpty) EmptyPostings else postingsSchema(corpus.schema, ids)))
  }

  /** Reference semantics (services/index_service.py:77-90): a loaded index
    * is valid only if its element count matches the current corpus;
    * otherwise rebuild. Returns true when the persisted index was reusable. */
  def loadOrRebuild(spark: org.apache.spark.sql.SparkSession, path: String,
                    corpus: DataFrame, nCentroids: Int): Boolean = {
    // reference rebuilds on ANY load failure (index_service.py catches
    // Exception): a corrupt/partial postings dir throws during count(),
    // not just AnalysisException on a missing path
    val valid =
      try spark.read.parquet(s"$path/postings").count() == corpus.count()
      catch { case scala.util.control.NonFatal(_) => false }
    if (!valid) persist(corpus, nCentroids, path)
    valid
  }

  /** Persist the index as a BUCKETED table: posting lists bucketed (and
    * sorted) by `centroid_id` in the session catalog. For repeated search
    * workloads this is the stronger layout: any later per-centroid
    * aggregation or co-bucketed join reads pre-shuffled data and plans
    * with NO Exchange (gated in `IvfSpec`), where the plain
    * partitioned-directory form ([[persist]]) only prunes scans. */
  def persistBucketed(corpus: DataFrame, nCentroids: Int, table: String,
                      path: String, nBuckets: Int = 8): Unit = {
    val cents = centroids(corpus, nCentroids)
    // centroids persisted alongside (like persist() does): recovering
    // them from the postings by `vec_id < nCentroids` would be valid
    // ONLY for the seed-centroid build and silently wrong for k-means
    // or externally supplied centroid sets
    cents.write.mode("overwrite").option("path", s"${path}_centroids")
      .saveAsTable(s"${table}_centroids")
    corpus.join(
        nearestCentroid(corpus, cents).select(col("vec_id"), col("centroid_id")),
        Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "centroid_id").sortBy("centroid_id")
      .option("path", path)
      .saveAsTable(table)
  }

  /** Search a bucketed index table: same probe-then-score dataflow as
    * [[search]], but the probed centroid ids become a literal IN filter on
    * the bucketed column, so the scan reads ONLY the probed centroids'
    * buckets (`SelectedBucketsCount` in the plan — the bucketed twin of
    * [[searchPersisted]]'s directory pruning) and any later per-centroid
    * aggregation stays exchange-free. Centroids come from the companion
    * `<table>_centroids` table written by [[persistBucketed]] — valid for
    * ANY centroid source, not just the seed-centroid build. */
  def searchBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                     queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val postings = spark.table(table)
    val cents = spark.table(s"${table}_centroids")
    // materialized once: the ids are collected for the bucket-pruning IN
    // filter AND the table feeds the broadcast join — without the barrier
    // the probe subtree would execute twice
    val probes = probeCentroids(cents, queries, nprobe).barrier()
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)) // BOUNDED: <= queries x nprobe
    val scored = postings
      .filter(col("centroid_id").isin(probedIds.toSeq.map(x => x: Any): _*))
      .join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
    Search.rankTopK(scored, k)
  }

  /** What [[searchPersisted]] keeps of one persisted index between calls:
    * its centroids and its postings schema. */
  private final case class Resident(centroids: Array[(Long, ArrayData)],
                                    postings: StructType)

  /** Indexes kept resident: at most 8, by path and fingerprint. */
  private val resident = new FingerprintCache[Resident](8)

  private def vector(r: Row, i: Int): ArrayData =
    ArrayData.toArrayData(r.getSeq[Float](i).toArray)

  /** The resident centroids and postings schema of the index at `path`,
    * read again first when its fingerprint moved. */
  private def residentIndex(spark: SparkSession, path: String): Resident = {
    val fp = Tables.fingerprint(spark, path)
    require(fp != "missing", s"no persisted IVF index at $path")
    resident(path, fp) {
      val cents = spark.read.parquet(s"$path/centroids")
        .filter(col("centroid_id").isNotNull && col("cv").isNotNull)
        .select(col("centroid_id"), col("cv"))
        .collect() // BOUNDED: k × dim
        .map(r => r.getLong(0) -> vector(r, 1))
      // an empty corpus writes no posting partitions, so no schema
      Resident(cents,
        if (cents.isEmpty) EmptyPostings
        else spark.read.parquet(s"$path/postings").schema)
    }
  }

  /** Search a persisted index: probe centroids, then scan ONLY the probed
    * posting-list partitions (directory-level pruning via the partition
    * column filter — verify `PartitionFilters` in the scan).
    *
    * Resident lifecycle: the index's centroids (k × dim floats) and its
    * postings schema stay on the driver, keyed by the
    * [[Tables.fingerprint]] of `path`, which is re-checked on every call
    * with one recursive listing — an index rewritten or appended to by
    * `IndexMaintenance.appendBatch` is read again, never served stale. A
    * [[persist]] in this JVM primes the entry with what it wrote, so the
    * first search after a rebuild is warm too. At most 8 paths are kept.
    * A warm call
    * collects the queries (the one job before it returns, bounded by the
    * batch), probes their `nprobe` nearest centroids on the driver with
    * the `cosine_similarity` loop and `top_k_by_score`'s order, and plans
    * the postings scan with the known schema (no inference); the probes
    * reach the plan as a literal map from `centroid_id` to the ids of the
    * queries that probe it, and the result's sort is bounded by its size,
    * queries × k (`TakeOrderedAndProject`). An index with no centroids
    * answers zero rows without reading postings; a missing `path` is an
    * `IllegalArgumentException`. */
  def searchPersisted(spark: SparkSession, path: String,
                      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    require(nprobe > 0 && k > 0, s"nprobe and k must be > 0, got $nprobe, $k")
    val idx = residentIndex(spark, path)
    val qid = queries.schema("query_id")
    require(VectorTypeCheck.isFloatVector(queries.schema("qv").dataType),
      s"qv must be array<float>, got ${queries.schema("qv").dataType.simpleString}")
    // centroid_id → the ids of the queries that probe it
    val probes: Map[Long, Seq[Any]] = queries.select(col("query_id"), col("qv"))
      .collect() // BOUNDED: the query batch
      .filterNot(_.isNullAt(1))
      .groupBy(_.get(0)).toSeq
      .flatMap { case (q, rows) =>
        val best = new TopKBuffer(nprobe)
        rows.foreach { r =>
          val qv = vector(r, 1)
          idx.centroids.foreach { case (id, cv) => best.add(CosineSimilarity.of(qv, cv), id) }
        }
        best.sorted.map { case (_, id) => id -> q }
      }
      .groupMap(_._1)(_._2)
    val probing = bridge.column(Literal.create(probes,
      MapType(LongType, ArrayType(qid.dataType, qid.nullable), valueContainsNull = false)))
    val postings =
      if (probes.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), idx.postings)
      else spark.read.schema(idx.postings).parquet(s"$path/postings")
        .filter(col("centroid_id").isin(probes.keys.toSeq: _*))
    val scored = postings
      .select(col("vec_id"), col("embedding"),
        explode(probing(col("centroid_id").cast(LongType))).as("query_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
    val maxRows = probes.values.flatten.toSeq.distinct.length.toLong * k
    Search.rankTopK(scored, k)
      .limit(math.min(maxRows, Int.MaxValue.toLong).toInt)
  }

  /** The postings schema a read of [[persist]]'s output infers from a
    * `corpus` with these centroid `ids`: the written columns, nullable,
    * and the partition column as an int when every id fits one. */
  private def postingsSchema(corpus: StructType, ids: Array[Long]): StructType =
    bridge.asNullable(StructType(Seq(corpus("vec_id"), corpus("embedding"))))
      .add("centroid_id", if (ids.forall(_.isValidInt)) IntegerType else LongType)

  /** The postings schema [[persist]] writes for `(vec_id bigint, embedding
    * array<float>)` vectors. */
  private val EmptyPostings = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("centroid_id", IntegerType)))

  /** The one probe-and-score core behind [[search]], [[searchFiltered]],
    * [[searchQuantized]] and [[searchPqWith]]: the index (centroids and
    * [[nearestCentroid]] assignments) is built on `corpus`, each query
    * probes its `nprobe` nearest centroids, and the candidates of the
    * probed posting lists are joined to `scored` on `vec_id` and ranked by
    * `cosine_similarity(qv, vector)`. The entry points differ only in
    * which rows are scored and how their vector is read. */
  private def probedTopK(queries: DataFrame, corpus: DataFrame,
                         scored: DataFrame, vector: Column, nCentroids: Int,
                         nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(corpus, nCentroids)
    val assign = nearestCentroid(corpus, cents)
    val probes = probeCentroids(cents, queries, nprobe)
    // probes = queries × nprobe rows — always broadcastable; the corpus
    // (assignments) side never shuffles for this join
    val candidates = assign.join(broadcast(probes), Seq("centroid_id"))
      .select(col("query_id"), col("vec_id"))
    Search.rankTopK(candidates
      .join(scored, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine_similarity(col("qv"), vector).as("sim")), k)
  }

  /** Probe the `nprobe` nearest centroids per query, then exact top-k over
    * only those centroids' posting lists ([[probedTopK]] over the corpus
    * itself). */
  def search(queries: DataFrame, corpus: DataFrame, nCentroids: Int,
             nprobe: Int, k: Int): DataFrame =
    probedTopK(queries, corpus, corpus, col("embedding"), nCentroids, nprobe, k)

  /** FILTERED IVF search: [[search]] under a metadata predicate on the
    * corpus rows — the filtered-ANN serve path (tenant / language /
    * license scoping) over the SAME index as the unfiltered searches.
    * [[probedTopK]] builds the index (centroids + assignments) on the
    * FULL corpus — build-once, filter-many: a new filter never triggers
    * a rebuild — and scores `corpus.filter(pred)`, so the predicate cuts
    * the CANDIDATE scoring join at the corpus scan stage (plain
    * stored-column predicates reach the parquet reader as
    * `PushedFilters`; derived ones run in the codegen pass directly above
    * it — either way before the join moves any row). Pre-filter
    * semantics within the probed cells: the top-k ranks only eligible
    * candidates, so a selective filter makes the probe cheaper rather
    * than returning filtered-out neighbors.
    *
    * The honest caveat every filtered-IVF deployment carries: recall is
    * measured against the probed cells, so a filter CORRELATED with the
    * clustering (e.g. one tenant concentrated in few cells) wants a
    * higher `nprobe` — the `q_recall_sweep` trade-off read with the
    * filter applied. */
  def searchFiltered(queries: DataFrame, corpus: DataFrame, pred: Column,
                     nCentroids: Int, nprobe: Int, k: Int): DataFrame =
    probedTopK(queries, corpus, corpus.filter(pred), col("embedding"),
      nCentroids, nprobe, k)

  /** IVF search over int8-QUANTIZED posting lists: [[probedTopK]] with
    * assignment and probes on the exact centroids (computed at build
    * time, before quantization) and candidate scoring that dequantizes
    * `quantized`'s `qcodes` on the fly — so the index stores 4× fewer
    * bytes and the scores pay only the quantization error (cosine
    * fidelity > 0.999 per the q_quantize audit). This is
    * the memory-lean production configuration for a 100 TB corpus:
    * IVF prunes the scan to `nprobe / nCentroids` of the data AND every
    * scanned byte is int8, not float32. */
  def searchQuantized(queries: DataFrame, corpus: DataFrame,
                      quantized: DataFrame, nCentroids: Int, nprobe: Int,
                      k: Int): DataFrame =
    probedTopK(queries, corpus, quantized, dequantize8(col("qcodes")),
      nCentroids, nprobe, k)

  /** IVF + product quantization (the classic IVFPQ layout): assignment
    * and probes on the exact centroids, candidate scoring against PQ
    * reconstructions — `m` bytes per posting instead of `dim` floats
    * (16× at m=4/dim=64; the int8 path [[searchQuantized]] is the 4×
    * midpoint). The two scale axes composed: IVF prunes WHICH vectors are
    * scored to `nprobe / nCentroids` of the corpus, PQ compresses every
    * byte that is still scanned. */
  def searchPq(queries: DataFrame, corpus: DataFrame, nCentroids: Int,
               nprobe: Int, k: Int, m: Int = 4, kCodes: Int = 16)
      : DataFrame =
    searchPqWith(queries, corpus,
      ProductQuantizer.reconstructed(corpus, m, kCodes), nCentroids, nprobe, k)

  /** [[searchPq]] over a PREBUILT reconstruction table — lets an audit
    * that scores several paths against the same codebooks reuse one
    * materialized reconstruction instead of re-encoding per search:
    * [[probedTopK]] scoring the candidates' rows of `rec`. */
  def searchPqWith(queries: DataFrame, corpus: DataFrame, rec: DataFrame,
                   nCentroids: Int, nprobe: Int, k: Int): DataFrame =
    probedTopK(queries, corpus, rec, col("embedding"), nCentroids, nprobe, k)

  /** Recall@k audit: the one metric an approximate-index user always asks
    * for (the reference tunes `ef`/`M` for the same recall/latency trade,
    * services/index_service.py:72). Per query: how many of the exact
    * top-k ids the IVF probe recovered ([[Search.recallAt]] over `k`).
    *
    * Both paths are bounded-output top-k aggregates, so the audit join is
    * k-rows-per-query × k-rows-per-query — driver-trivial at any corpus
    * size; the expensive part is the two searches themselves. */
  def recallAudit(queries: DataFrame, corpus: DataFrame, nCentroids: Int,
                  nprobe: Int, k: Int): DataFrame =
    Search.recallAt(Search.bruteForceTopK(queries, corpus, k),
        search(queries, corpus, nCentroids, nprobe, k), lit(k.toDouble))
      .orderBy(col("query_id"))

  /** [[recallAudit]] under a metadata predicate — the filtered-IVF
    * caveat QUANTIFIED: recall of [[searchFiltered]] against exact
    * search over the pre-filtered corpus. A filter uncorrelated with
    * the clustering reads ≈ the unfiltered `q_recall` figure; a
    * correlated one (a tenant concentrated in few cells) reads lower —
    * the number that tells a deployment to raise `nprobe` for that
    * filter rather than discover the loss in production. Same
    * query-sample contract and fold as [[recallAudit]], EXCEPT the
    * denominator: per-query exact-result count (`min(k, eligible
    * rows)`), not fixed `k` — a selective predicate can leave fewer
    * than k eligible rows, and perfect scoped retrieval of all of
    * them must read 1.0, not a spurious "raise nprobe" signal.
    * (A query with ZERO eligible rows has no exact rows to audit and
    * drops out of the table entirely — in both engines.) */
  def recallAuditFiltered(queries: DataFrame, corpus: DataFrame,
                          pred: Column, nCentroids: Int, nprobe: Int,
                          k: Int): DataFrame =
    Search.recallAt(Search.bruteForceTopK(queries, corpus.filter(pred), k),
        searchFiltered(queries, corpus, pred, nCentroids, nprobe, k),
        count(lit(1)).cast("double"))
      .orderBy(col("query_id"))

  /** The nprobe/recall trade as ONE table — what a deployment actually
    * reads to pick its operating point: per sweep value, aggregate
    * recall@k against brute force AND the share of postings scanned (the
    * cost axis recall is traded against). [[recallAudit]] measures one
    * fixed configuration; this measures the curve.
    *
    * Shape: the expensive work happens ONCE, not per sweep point — one
    * corpus assignment, one probe ranking to `max(nprobes)` centroids per
    * query, one scoring pass over the WIDEST candidate set, each row
    * tagged with its centroid's probe rank (`crank`). A sweep point is
    * then a filter (`crank <= p`) + bounded top-k window over that
    * materialized table, and the scanned-postings count is a join of the
    * ranked probes against per-centroid posting sizes — no second corpus
    * scan anywhere. The scored table is [[Barrier]]-materialized because all
    * sweep points re-read it; its size is queries × probed-corpus-share,
    * bounded by the audit's query-sample contract (same bound as the
    * probe-id collects). `queries.count`/`corpus.count` feed the ratio
    * denominators — two cheap count jobs, not data collects. An empty
    * query set or corpus reads null `recall` and `scan_share`. */
  def recallSweep(queries: DataFrame, corpus: DataFrame, nCentroids: Int,
                  nprobes: Seq[Int] = Seq(1, 2, 4, 8), k: Int = 5)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxP = nprobes.max
    val cents = centroids(corpus, nCentroids)
    val assign = nearestCentroid(corpus, cents)
      .select(col("vec_id"), col("centroid_id"))
      .barrier() // read twice: candidates + posting sizes
    val ranked = cents.crossJoin(broadcast(queries))
      .select(col("query_id"),
        cosine_similarity(col("qv"), col("cv")).as("sim"), col("centroid_id"))
      .withColumn("crank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("centroid_id"))))
      .filter(col("crank") <= maxP)
      .select(col("query_id"), col("centroid_id"), col("crank"))
      .barrier() // bounded: queries × maxP rows, read per sweep point
    val scored = assign.join(broadcast(ranked), Seq("centroid_id"))
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("crank"),
        cosine_similarity(col("qv"), col("embedding")).as("sim"))
      .barrier() // all sweep points filter this one scoring pass
    val exact = Search.bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("vec_id")).barrier()
    val sizes = assign.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("psz"))
    val nq = queries.count()
    val n = corpus.count()
    // an empty query set or corpus has no share to report
    def share(c: Column, of: Long): Column =
      if (of == 0) lit(null).cast(DoubleType)
      else floor(c / lit(of.toDouble) * 1e6) / 1e6
    val recallOf = if (n == 0) 0L else nq * k
    nprobes.map { p =>
      val approx = scored.filter(col("crank") <= p)
        .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rn") <= k)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val hits = exact.join(approx, Seq("query_id", "vec_id"), "left")
        .agg(count(col("hit")).as("n_hits"))
      val scanned = ranked.filter(col("crank") <= p)
        .join(sizes, Seq("centroid_id"))
        .agg(sum(col("psz")).as("n_scanned"))
      hits.crossJoin(scanned).select(
        lit(p.toLong).as("nprobe"),
        col("n_hits"),
        share(col("n_hits"), recallOf).as("recall"),
        col("n_scanned"),
        share(col("n_scanned"), nq * n).as("scan_share"))
    }.reduce(_ unionByName _).orderBy(col("nprobe"))
  }
}
