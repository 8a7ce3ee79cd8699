package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._
import graft.functions.TextFunctions._
import graft.operators.Barrier.BarrierOps

/** Corpus-statistics-aware embeddings: hashing-trick TF-IDF.
  *
  * Unlike [[graft.functions.HashEmbed]] (pure term frequency, one pass, no
  * corpus state), TF-IDF needs document frequencies — a groupBy over the
  * exploded token table. Dataflow: tokens → tf per (doc, token) → df per
  * token DERIVED FROM tf (tf already holds exactly one row per
  * (doc, token), so df is a count over its `tok` groups — the separate
  * `distinct()` pass over the raw token stream that used to feed df was
  * a whole extra shuffle of the corpus) → weight = tf·ln(1 + N/df) →
  * hash-bucket sums → dense L2-normalized vector via the
  * [[graft.functions.ScatterVector]] expression. All shuffles are on
  * token/doc keys, and every one partial-aggregates map-side.
  *
  * The tf⋈df join is a plain shuffle join on `tok` — NEVER a broadcast:
  * the document-frequency table is vocabulary-sized, unbounded in corpus
  * size (a 100 TB corpus has billions of distinct tokens), and
  * broadcasting it would OOM every executor. Both sides are token-keyed
  * aggregates, so the join co-partitions on the shuffle key; AQE may still
  * downgrade to a runtime broadcast when the measured vocabulary is small,
  * which is the correct adaptive behavior (gated in PlanSpec: no static
  * broadcast hint in the logical plan).
  */
object Embeddings {

  /** (doc_id, embedding array<float> dim) with TF-IDF weights. */
  def tfidfVectors(docs: DataFrame, dim: Int = 64): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(preprocess(col("text"))).as("toks"))
      .barrier() // barrier: Generate re-evals codegen'd children
    // corpus size N (ALL docs, token-less included) counted off the
    // materialized checkpoint blocks — not a second scan of the corpus
    val n = base.count()
    val toks = base.select(col("doc_id"), explode(col("toks")).as("tok"))
    // materialized: df reads tf again — without the barrier the whole
    // explode→groupBy subtree would execute once per consumer
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .barrier()
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // FNV bucket hash (not an engine-internal hash): public and
    // SQL-replayable, so the correctness oracle can rebuild the vectors
    val weighted = tf.join(df, Seq("tok"))
      .select(col("doc_id"),
        pmod(graft.functions.fnv1a64(col("tok")), lit(dim.toLong)).as("bucket"),
        (col("tf") * log(lit(1.0) + lit(n.toDouble) / col("df"))).as("w"))
      // ONE explicit doc-keyed exchange of the joined pairs: both
      // aggregates below then run complete within partitions
      // (HashPartitioning(doc) clusters (doc, bucket) by the subset
      // rule) — without it each one partial-aggregates over the
      // TOK-keyed join stream, where every doc surfaces in every
      // reduce task and partial records grow ∝ tasks × docs instead of
      // ∝ pairs (the sf1→sf10 decade measured that shape at 15.3× for
      // 10× data; with the explicit exchange every shuffle in this
      // operator is exactly ∝ pairs at every decade)
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("w")).as("w"))
    weighted.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("bucket"), col("w"))).as("entries"))
      .select(col("doc_id"),
        scatter_vector(col("entries"), dim).as("embedding"))
      .orderBy(col("doc_id"))
  }

  /** Embedding snapshot drift — the monitoring table an index owner
    * reads before deciding to re-train centroids / rebuild codebooks
    * (the operational companion to `q_index_stats` and the refresh
    * path): per label, how far did TODAY's shard move from YESTERDAY's?
    *
    * Per label: both snapshot counts, the count growth ratio, and the
    * CENTROID SHIFT — the L2 distance between the two snapshots' mean
    * vectors. A shift near 0 says the region is stationary (skip the
    * rebuild); a large shift or a count explosion says the cluster
    * migrated and IVF/PQ partitions trained on the old geometry now
    * mis-route queries.
    *
    * Determinism: components land on the 1e-6 integer grid BEFORE
    * summation (the q_prototypes moment discipline), so the per-dim
    * sums are order-free BIGINTs; means are integer DIVs; only the
    * final sqrt runs in doubles, identically in both engines.
    *
    * Scale shape: ONE corpus scan; posexplode fans each vector to dim
    * rows but the (label, side, dim) partial aggregate collapses
    * map-side, so the shuffle carries ≤ partitions × labels × 2 × dim
    * rows — corpus-independent. The per-label fold after is
    * (labels × dim)-sized. */
  def snapshotDrift(base: DataFrame, current: DataFrame): DataFrame = {
    // components ride the grid OFFSET by +2e6 (they live in [-1e6, 1e6]
    // after flooring) so every sum and integer division operates on
    // NON-NEGATIVE values: Spark's DIV truncates toward zero while
    // ANSI // floors, and the two disagree exactly on negatives — with
    // the offset both are floor, and the constant cancels in the
    // base−current difference ((Σg+nC) div n = (Σg div n) + C when the
    // total is non-negative). Floor-means lose < 1e-6 per dim — the
    // grid's stated resolution.
    val Offset = 2000000L
    def sums(df: DataFrame, side: String) = df
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        (floor(col("v").cast("double") * 1e6).cast("long") + Offset).as("g"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as(s"n_$side"), sum(col("g")).as(s"s_$side"))
    val j = sums(base, "base")
      .join(sums(current, "cur"), Seq("label", "dim"), "full_outer")
      .select(col("label"), col("dim"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("s_base"), lit(0L)).as("s_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("s_cur"), lit(0L)).as("s_cur"))
      // per-dim offset-mean delta; a side with no vectors contributes
      // the offset itself (= the origin), so the drift of a new or
      // vanished label reads as the other side's centroid norm
      .select(col("label"), col("n_base"), col("n_cur"),
        (when(col("n_base") > 0L, expr("s_base DIV n_base"))
          .otherwise(Offset) -
          when(col("n_cur") > 0L, expr("s_cur DIV n_cur"))
            .otherwise(Offset)).as("d"))
    j.groupBy(col("label"))
      .agg(max(col("n_base")).as("n_base"), max(col("n_cur")).as("n_cur"),
        sum((col("d").cast("decimal(38,0)") * col("d"))
          .cast("decimal(38,0)")).as("dd"))
      .select(col("label"), col("n_base"), col("n_cur"),
        when(col("n_base") > 0L,
          expr("(n_cur * 10000) DIV n_base").cast("double") / 1e4)
          .otherwise(lit(-1.0)).as("growth"),
        // dd is Σ of 1e-6-grid deltas squared, so the true L2 shift is
        // sqrt(dd)/1e6 — floor the sqrt ITSELF (already in 1e-6 units)
        // rather than round-tripping through /1e6*1e6 double wobble
        (floor(sqrt(col("dd").cast("double"))) / 1e6).as("centroid_shift"))
      .transform(graft.Determinism.sorted(_)(col("label")))
  }

  /** Per-label embedding L2-NORM audit: count, min/max/mean of the norm
    * on the 1e-6 grid — the vector-quality gate run before any cosine
    * index build (a zero or wildly-scaled norm means a broken encoder
    * batch; cosine silently "works" on garbage magnitudes, so the norm
    * table is where that's caught — `q_index_stats` audits ONE frozen
    * index, this audits the labeled corpus by segment).
    *
    * Scale shape: one NARROW codegen'd pass ([[graft.functions.l2_norm]]
    * — sequential Σx² then sqrt, same fold both engines) floored to the
    * 1e-6 LONG grid AT THE SCAN, then a map-side-combined fold to
    * |labels| rows. min/max of floored longs are order-free by
    * definition; the mean is an exact long sum finished by one DIV —
    * no float accumulation anywhere. */
  def normAudit(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label").cast("long").as("label"),
        floor(l2_norm(col("embedding")) * 1e6).cast("long").as("ng"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), min(col("ng")).as("mn"),
        max(col("ng")).as("mx"), sum(col("ng")).as("s"))
      .select(col("label"), col("n"),
        (col("mn").cast("double") / 1e6).as("min_norm"),
        (col("mx").cast("double") / 1e6).as("max_norm"),
        expr("cast(s as decimal(38,0)) div n").cast("double") / 1e6
          as "mean_norm")
      .transform(graft.Determinism.sorted(_)(col("label")))

  /** Per-DIMENSION embedding profile: count, mean, variance, min/max and
    * energy share for every coordinate — the dead-dimension / dominant-
    * dimension audit ([[normAudit]] catches broken MAGNITUDES; this
    * catches broken AXES: a constant coordinate, a runaway scale on one
    * dim, the anisotropic collapse that makes cosine ranking degenerate).
    *
    * Exactness: each element is floored to the 1e-6 LONG grid at the
    * scan (`xg`), its SQUARE to its own 1e-6 grid (`sg` — grid the
    * square, never square the grid, so the second moment keeps full
    * element precision); every downstream stat is integer algebra over
    * exact sums: mean via the +1e12-offset DIV (means can be negative;
    * the offset keeps the numerator non-negative so truncating `div`
    * and flooring `//` agree), variance as `E[x²]g - (mg·mg div 1e6)`
    * — all LONG/DECIMAL, no float accumulation anywhere.
    *
    * Scale shape: ONE corpus scan; the posexplode fans out d× but lands
    * in a map-side-combined groupBy onto the d-cell dimension domain,
    * so the only shuffle carries ≤ d rows per map partition. */
  def dimProfile(embeddings: DataFrame): DataFrame =
    dimProfileFromCells(dimCells(embeddings))

  /** The per-dimension moment cells `(dim, n, sx, sxx, mn, mx)` behind
    * [[dimProfile]] — batch/stream-shared. Over `readStream` (update
    * mode) this is the streaming per-dimension monitor, served through
    * [[dimProfileFromCells]]: the key domain is the embedding
    * DIMENSIONALITY, so the state store holds d cells whatever the corpus
    * size (the SketchStream discipline). After any prefix of a stream the
    * cells equal this over the same rows in batch — asserted bit-for-bit
    * in the streaming spec under both state backends. */
  def dimCells(embeddings: DataFrame): DataFrame = {
    val x = col("col").cast("double")
    embeddings
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("long").as("dim"),
        floor(x * 1e6).cast("long").as("xg"),
        floor(x * x * 1e6).cast("long").as("sg"))
      .groupBy(col("dim"))
      // sx rides DECIMAL(38,0) like sxx: a LONG sum of 1e6-grid
      // coordinates wraps silently (non-ANSI) past ~9.2e12 rows of
      // near-unit values, while the DECIMAL sum fails loudly — and the
      // DuckDB oracle's HUGEINT sum already has the loud-overflow
      // semantics, so the engines agree at every corpus size
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(xg as decimal(38,0))")).as("sx"),
        sum(expr("cast(sg as decimal(38,0))")).as("sxx"),
        min(col("xg")).as("mn"), max(col("xg")).as("mx"))
  }

  /** [[dimProfile]] finished from moment cells — all integer algebra.
    *
    * The d-cell table is barriered before fan-out: the energy-total side
    * prunes everything but `sxx`, which makes its partial aggregate (and
    * so its exchange) differ from the main side's — exchange reuse can't
    * fire and the CORPUS would be scanned+exploded twice (measured in
    * the executed plan). One materialized d-row table = one scan. */
  private[graft] def dimProfileFromCells(dimCells: DataFrame): DataFrame = {
    val off = 1000000000000L // 1e12 grid units = 1e6 in value: |mean| bound
    val cells = dimCells.barrier().withColumn("mg", expr(
      s"(cast(sx as decimal(38,0)) + cast(n as decimal(38,0)) * $off)" +
        s" div n - $off"))
    val tot = cells.agg(sum(col("sxx")).as("te"))
    cells.crossJoin(broadcast(tot))
      .select(col("dim"), col("n"),
        (col("mg").cast("double") / 1e6).as("mean"),
        expr("sxx div n - (mg * mg) div 1000000").cast("double") / 1e6
          as "variance",
        (col("mn").cast("double") / 1e6).as("min_x"),
        (col("mx").cast("double") / 1e6).as("max_x"),
        expr("(sxx * 1000000) div te").cast("double") / 1e6
          as "energy_share")
      .transform(graft.Determinism.sorted(_)(col("dim")))
  }

  /** Corpus anisotropy audit — the embedding-degeneration gate: the
    * expected cosine between two RANDOM corpus vectors, computed exactly
    * from one pass (for unit vectors, Σ_pairs cos(u,v) =
    * ‖Σû‖² − Σ‖û‖², so E[cos] needs only the per-dimension sums — no
    * pair sampling, no quadratic work). A healthy isotropic embedding
    * space sits near 0; a collapsed encoder (all outputs in a narrow
    * cone — the classic representation-degeneration failure) pushes it
    * toward 1, silently inflating every downstream cosine score.
    *
    * Exactness: vectors are unit-normalized then floored per-coordinate
    * to the 1e-6 LONG grid; `sum_sq = Σ_d S_d²` and `self = Σ ûg·ûg`
    * are exact DECIMAL sums, E[cos] is one offset integer DIV on the
    * 1e-12 (grid²) lattice. Zero-norm vectors are excluded (they have
    * no direction). Requires ≥ 2 surviving vectors. */
  def anisotropy(embeddings: DataFrame): DataFrame =
    anisotropyFromCells(anisotropyCells(embeddings))

  /** The per-dimension resultant/self-mass cells `(pos, cnt, sd, self_d)`
    * behind [[anisotropy]] — batch/stream-shared, d bounded cells of
    * long/DECIMAL sums. Over `readStream` (update mode) this is the
    * streaming anisotropy monitor, served through [[anisotropyFromCells]]:
    * the sum identity collapses the quadratic pair integral to d cells, so
    * the state store holds d rows forever, and an encoder that starts to
    * emit collapsed directions is caught WHILE a backfill runs, not after.
    * After any prefix of a stream the cells equal this over the same rows
    * in batch — asserted bit-for-bit in the streaming spec under both
    * state backends. */
  def anisotropyCells(embeddings: DataFrame): DataFrame = {
    val unit = embeddings
      .select(col("embedding"), l2_norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
      .select(transform(col("embedding"),
        e => floor(e.cast("double") / col("nrm") * 1e6).cast("long")).as("ug"))
    unit
      .select(posexplode(col("ug")))
      .groupBy(col("pos"))
      // sd widened to DECIMAL(38,0) for the same reason as dimCells' sx:
      // loud overflow instead of a silent LONG wrap at extreme row counts
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(col as decimal(38,0))")).as("sd"),
        sum(expr("cast(col as decimal(38,0)) * col")).as("self_d"))
  }

  /** [[anisotropy]] finished from cells — exact DECIMAL + offset DIV. */
  private[graft] def anisotropyFromCells(cells: DataFrame): DataFrame = {
    val off = 2000000000000L // 2e12 grid² units = cos 2.0: safe |E[cos]| bound
    cells
      .agg(max(col("cnt")).as("n"),
        sum(expr("cast(sd as decimal(38,0)) * sd")).as("sum_sq"),
        sum(col("self_d")).as("self"))
      .select(col("n"),
        (floor(sqrt(col("sum_sq").cast("double"))) / 1e6)
          .as("resultant_norm"),
        (expr(s"(sum_sq - self + cast(n as decimal(38,0)) * (n - 1) * $off)" +
          s" div (cast(n as decimal(38,0)) * (n - 1))").cast("double") - off)
          / 1e12 as "exp_cos")
      .transform(graft.Determinism.sorted(_)(col("n")))
  }
}
