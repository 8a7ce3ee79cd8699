package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.{fnv1a64, poly_fingerprint}
import graft.operators.Barrier.BarrierOps

/** Dataset versioning & governance: the data-management layer a training
  * pipeline runs BETWEEN curation and training — snapshot churn
  * accounting, leakage-safe train/val/test splitting, split-leakage
  * audits, and train→test n-gram novelty (the memorization-risk
  * companion to benchmark decontamination; reference: the corpus behind
  * services/index_service.py:14-53 is re-snapshotted on every refresh,
  * which is exactly the diff/[[snapshotDiff]] input).
  *
  * Content identity throughout is the normalized-text polynomial
  * fingerprint ([[graft.functions.poly_fingerprint]], the
  * `text_fingerprint` hash) — at 100 TB the fingerprint is computed in
  * the scan projection (narrow, codegen'd) and every downstream join or
  * group moves 8-byte hashes, never document bodies.
  */
object Governance {

  private def r6(c: Column): Column = floor(c * 1e6) / 1e6
  private def r4(c: Column): Column = floor(c * 1e4) / 1e4

  private def contentFp(text: Column): Column =
    poly_fingerprint(preprocess(text))

  /** Snapshot diff between two document-corpus versions keyed by
    * `doc_id` (the stable URL/primary key of a crawl): per source the
    * added / removed / changed / unchanged counts and the churn
    * fraction — the table that decides whether an index rebuild
    * ([[Embeddings.snapshotDrift]] is its embedding-space twin) or an
    * incremental refresh ([[graft.streaming.IndexMaintenance]]) is due.
    *
    * `churn_frac` = (added + removed + changed) / max(n_base, 1).
    *
    * Scale shape: each side is ONE narrow scan projecting
    * `(doc_id, source, fp)` — bodies never leave the scan; the
    * full-outer join shuffles both sides on `doc_id` once (snapshots
    * stored bucketed by `doc_id` make it Exchange-free); the per-source
    * aggregate partial-aggregates map-side to |sources| rows. No
    * corpus-sized state anywhere. */
  def snapshotDiff(base: DataFrame, current: DataFrame): DataFrame = {
    def fp(df: DataFrame, tag: String) = df.select(
      col("doc_id"), col("source").as(s"src_$tag"),
      contentFp(col("text")).as(s"fp_$tag"))
    val j = fp(base, "b").join(fp(current, "c"), Seq("doc_id"), "full_outer")
    val st = when(col("fp_b").isNull, "added")
      .when(col("fp_c").isNull, "removed")
      .when(col("fp_b") === col("fp_c"), "unchanged")
      .otherwise("changed")
    j.select(coalesce(col("src_c"), col("src_b")).as("source"), st.as("st"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("st") =!= "added", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("st") =!= "removed", 1L).otherwise(0L)).as("n_current"),
        sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("st") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("st") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .select(col("source"), col("n_base"), col("n_current"), col("n_added"),
        col("n_removed"), col("n_changed"), col("n_unchanged"),
        r6((col("n_added") + col("n_removed") + col("n_changed")).cast("double")
          / greatest(col("n_base"), lit(1L)).cast("double")).as("churn_frac"))
      .orderBy(col("source"))
  }

  /** Adds the leakage-safe split assignment to a `(doc_id, text, …)`
    * table: `bucket` = pmod(content fingerprint, `nBuckets`), `split` =
    * train (bucket ≤ `trainHi`) / val (≤ `valHi`) / test. Keying on
    * CONTENT (not `doc_id`) makes the split (a) stable under corpus
    * growth — a document's split never changes when new documents
    * arrive — and (b) leakage-safe BY CONSTRUCTION: exact duplicates
    * share a fingerprint, hence a bucket, hence a split
    * ([[leakageAudit]] measures rather than assumes this). Narrow —
    * pure projection, no shuffle. */
  private[graft] def withSplit(docs: DataFrame, nBuckets: Int = 10,
                               trainHi: Int = 7, valHi: Int = 8): DataFrame =
    docs
      .withColumn("bucket", pmod(contentFp(col("text")), lit(nBuckets.toLong)))
      .withColumn("split",
        when(col("bucket") <= trainHi, "train")
          .when(col("bucket") <= valHi, "val")
          .otherwise("test"))

  /** Split-assignment summary: per (split, source) the document count
    * and raw character volume — the table a pipeline reads to confirm
    * the hash split is source-balanced before freezing it. One narrow
    * fingerprint projection + one map-side-combined aggregate to
    * |splits|×|sources| rows. */
  def splitAssign(docs: DataFrame, nBuckets: Int = 10,
                  trainHi: Int = 7, valHi: Int = 8): DataFrame =
    withSplit(docs, nBuckets, trainHi, valHi)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .orderBy(col("split"), col("source"))

  /** Cross-split leakage audit comparing two split policies over the
    * SAME corpus: `by_id` (bucket = pmod(doc_id, n) — the naive split)
    * vs `by_content` (the [[withSplit]] fingerprint bucket). A "group"
    * is an exact-duplicate class (same normalized-text fingerprint); a
    * group LEAKS under a policy when its members land in ≥ 2 buckets —
    * i.e. verbatim copies of one document can sit on both sides of the
    * train/test wall. `by_content` must report zero leaking groups
    * (fingerprint determines bucket); the audit MEASURES it through the
    * same code path rather than assuming it.
    *
    * Scale shape: one narrow projection to `(fp, id_bucket,
    * content_bucket)`, ONE fp-keyed groupBy (map-side combined; a group
    * spans ≥ 2 buckets iff its min and max bucket differ, so no
    * count-distinct `Expand`), one final single-row aggregate exploded
    * into the two policy rows. Never an all-pairs step. */
  def leakageAudit(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    def spans(bucket: Column): Column = min(bucket) < max(bucket)
    val grouped = docs
      .select(contentFp(col("text")).as("fp"),
        pmod(col("doc_id"), lit(nBuckets.toLong)).as("bi"))
      .withColumn("bc", pmod(col("fp"), lit(nBuckets.toLong)))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"),
        spans(col("bi")).as("leak_id"),
        spans(col("bc")).as("leak_content"))
    grouped.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("leak_id"), 1L).otherwise(0L)).as("gi"),
      sum(when(col("leak_id"), col("n")).otherwise(0L)).as("di"),
      sum(when(col("leak_content"), 1L).otherwise(0L)).as("gc"),
      sum(when(col("leak_content"), col("n")).otherwise(0L)).as("dc"))
      .select(explode(array(
        struct(lit("by_content").as("policy"), col("n_groups"),
          col("n_dup_groups"), col("gc").as("n_leaking_groups"),
          col("dc").as("n_leaked_docs")),
        struct(lit("by_id").as("policy"), col("n_groups"),
          col("n_dup_groups"), col("gi").as("n_leaking_groups"),
          col("di").as("n_leaked_docs")))).as("r"))
      .select(col("r.policy"), col("r.n_groups"), col("r.n_dup_groups"),
        col("r.n_leaking_groups"), col("r.n_leaked_docs"))
      .orderBy(col("policy"))
  }

  /** Train→test n-gram novelty under the [[withSplit]] content split:
    * for every TEST document the fraction of its distinct word
    * `n`-grams never seen in the TRAIN split — the memorization-risk
    * profile (a test doc with LOW novelty is largely reconstructible
    * from training text even with zero verbatim overlap; the inverse
    * direction of `decontaminate`'s hit counting, which looks for
    * benchmark text inside the corpus).
    *
    * Scale shape (the `text_boilerplate` discipline): per-doc DISTINCT
    * grams travel as 64-bit FNV hashes; ONE gram table is barriered and
    * read twice — the train-side distinct-gram build (vocabulary-sized
    * groupBy, map-side combined) and the test-side probe join (gram-
    * keyed shuffle, fan-out bounded by test share). The train set stays
    * un-hinted: it grows with corpus content, so a forced broadcast
    * would fail at the hard limit at 100 TB (AQE still broadcasts it
    * while small). */
  def ngramNovelty(docs: DataFrame, n: Int = 5, nBuckets: Int = 10,
                   trainHi: Int = 7, valHi: Int = 8): DataFrame = {
    val base = withSplit(docs, nBuckets, trainHi, valHi)
      .filter(col("split") =!= "val")
      .select(col("doc_id"), col("split"),
        array_distinct(shingles(tokens(preprocess(col("text"))), n)).as("gs"))
      // barrier: explode (Generate) re-evaluates its child per OUTPUT
      // row — the tokenization chain must be materialized first; read
      // twice more below (gram table + test doc ids)
      .barrier()
    val grams = base
      .select(col("doc_id"), col("split"), explode(col("gs")).as("gram"))
      .select(col("doc_id"), col("split"), fnv1a64(col("gram")).as("gh"))
      .barrier() // read 2×: train distinct-gram build + test probe
    val train = grams.filter(col("split") === "train")
      .select(col("gh")).distinct().withColumn("__seen", lit(1))
    val per = grams.filter(col("split") === "test")
      .join(train, Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    val frac = when(col("n_grams") > 0,
      col("n_novel").cast("double") / col("n_grams").cast("double"))
      .otherwise(lit(0.0))
    base.filter(col("split") === "test").select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        r4(frac).as("novelty_frac"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** Per-source drift of a per-document INTEGER signal between two
    * snapshots — the monitoring companion to [[snapshotDiff]] (that row
    * sees content churn; this sees a derived-signal mean move, e.g. a
    * source whose docs suddenly truncate or bloat). `signal` must be a
    * long-valued expression over the snapshot columns so the per-source
    * sums are exact longs and the one mean division per side is
    * deterministic; means floor to the 1e-4 grid, and the delta floors
    * the RAW mean difference (double floor is floor-toward(-∞) in both
    * engines — the integer-DIV caveat does not apply).
    *
    * Scale shape: one narrow scan per side, per-source (count, sum)
    * partials collapse map-side to |sources| rows; the full-outer join
    * runs on two |sources|-row tables. Corpus-independent state. */
  def signalDrift(base: DataFrame, current: DataFrame,
                  signal: Column): DataFrame = {
    def side(df: DataFrame, tag: String) = df
      .select(col("source"), signal.cast("long").as("v"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as(s"n_$tag"), sum(col("v")).as(s"s_$tag"))
    def mean(tag: String): Column =
      when(coalesce(col(s"n_$tag"), lit(0L)) > 0L,
        col(s"s_$tag").cast("double") / col(s"n_$tag").cast("double"))
        .otherwise(lit(0.0))
    side(base, "b").join(side(current, "c"), Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_b"), lit(0L)).as("n_base"),
        coalesce(col("n_c"), lit(0L)).as("n_current"),
        r4(mean("b")).as("mean_base"),
        r4(mean("c")).as("mean_current"),
        (floor((mean("c") - mean("b")) * 1e4) / 1e4).as("delta"))
      .orderBy(col("source"))
  }

  /** Training-shard balance audit — the WRITE-side twin of
    * [[splitAssign]]: when the curated corpus is written as `nShards`
    * output files (the WebDataset/TFRecord sharding step), each doc's
    * shard is `pmod(fnv1a64(doc_id), nShards)` — stable under corpus
    * growth, no coordination — and this table reports how the TOKEN
    * mass (the number that sets writer and data-loader time, not doc
    * count) landed: per shard docs, tokens, token share, and the load
    * factor vs the ideal 1/nShards (max load_factor predicts the
    * straggler writer; hash sharding concentrates near 1.0 by the law
    * of large numbers, and a skewed table here means doc_id structure
    * leaked into the hash — the audit exists to catch exactly that).
    *
    * Determinism: shard from the FNV-1a hash of the decimal doc_id
    * string (the `q_weighted_sample` keying); token counts on the
    * normalized-text whitespace grid; shares floored to 1e-6, load
    * factor = share·nShards floored to 1e-4 (multiply by the exact
    * small integer BEFORE flooring — flooring first would compound
    * grid error).
    *
    * Scale shape: shard assignment is a narrow projection inside the
    * one token-count scan; ONE map-side-combined groupBy to `nShards`
    * rows; totals attach via a broadcast 1-row cross join. */
  def shardBalance(docs: DataFrame, nShards: Int = 16): DataFrame = {
    val perShard = docs
      .select(
        pmod(fnv1a64(col("doc_id").cast("string")), lit(nShards.toLong))
          .as("shard_id"),
        size(tokens(preprocess(col("text")))).cast("long").as("ntok"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .barrier() // nShards rows; read twice (totals + output) — without
    // this the totals branch re-runs the whole tokenize scan
    val totals = perShard.agg(sum(col("n_tokens")).as("tot_tokens"))
    perShard.crossJoin(broadcast(totals))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        // zero guard (the signalDrift/ngramNovelty convention): an
        // all-empty corpus yields share/load 0.0, not null/NaN
        when(col("tot_tokens") > 0L,
          r6(col("n_tokens").cast("double") /
            col("tot_tokens").cast("double"))).otherwise(0.0)
          .as("token_share"),
        when(col("tot_tokens") > 0L,
          r4(col("n_tokens").cast("double") * lit(nShards.toDouble) /
            col("tot_tokens").cast("double"))).otherwise(0.0)
          .as("load_factor"))
      .orderBy(col("shard_id"))
  }

  /** K-anonymity generalization ladder over a quasi-identifier tuple —
    * the re-identification-risk audit next to `text_pii` (PII redaction
    * scrubs direct identifiers; this measures whether the STRUCTURED
    * columns still single people out): at each generalization level
    * (full QI → drop the finest column → …) the number of QI groups,
    * the smallest group, and the row mass in groups below `k` — the
    * ladder a release review walks down until risk_frac is acceptable.
    *
    * Levels over `(segment, nation, bal_bucket)` (bucket =
    * floor(acctbal/100), double floor — floor-toward(−∞) in both
    * engines, so negative balances bucket identically): level 0 keeps
    * all three, 1 drops the bucket, 2 keeps segment only.
    *
    * Scale shape: ONE pass with ROLLUP (the Expand is a bounded ×4
    * fan-out, map-side combined) to the group-count table — whose size
    * is bounded by the QI VALUE DOMAIN (|segments|·|nations|·|buckets|),
    * not the row count — then a 3-row aggregate over it. Exact integer
    * counts; risk_frac floors an integer÷integer double to 1e-6. */
  def kAnonymity(customer: DataFrame, k: Int = 5): DataFrame = {
    val grouped = customer
      .select(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation_key"),
        floor(col("c_acctbal") / 100.0).cast("long").as("bal_bucket"))
      .rollup(col("segment"), col("nation_key"), col("bal_bucket"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      // rollup emits (0) full, (1) −bucket, (3) segment-only, (7) grand
      .filter(col("gid") =!= 7)
      .withColumn("level",
        when(col("gid") === 0, 0L).when(col("gid") === 1, 1L)
          .otherwise(2L))
    grouped
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_rows"),
        min(col("n")).as("min_group"),
        sum(when(col("n") < k, col("n")).otherwise(lit(0L)))
          .as("n_at_risk"))
      .select(col("level"),
        when(col("level") === 0, "segment,nation,bal_bucket")
          .when(col("level") === 1, "segment,nation")
          .otherwise("segment").as("qi"),
        col("n_groups"), col("n_rows"), col("min_group"), col("n_at_risk"),
        r6(col("n_at_risk").cast("double") / col("n_rows").cast("double"))
          .as("risk_frac"))
      .orderBy(col("level"))
  }
}
