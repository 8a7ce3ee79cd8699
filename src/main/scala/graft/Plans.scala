package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit dump, in two forms:
  *  - `runMain graft.Plans <sfDir> <outFile>` writes the formatted
  *    physical plan of EVERY catalog query so the plan shapes (pushdown,
  *    broadcasts, partial aggregation, codegen spans, absence of
  *    unexpected Exchanges) can be reviewed without running Spark.
  *    PLANS.md is this dump of the sf0.01 corpus;
  *  - `runMain graft.Plans <sfDir> <outDir> <suffix> <query...>` writes
  *    one file per named query or `#`-phase key ([[dump]]).
  * Both plan on `GraftSession(4)`: the settings Bench and Verify run
  * with at their default core count, and the session PlanAuditSpec
  * gates. */
object Plans {

  /** EVERY catalog key, sorted — PLANS.md covers the whole correctness
    * catalog, so the plan artifact can never drift from it silently
    * (the former curated 167-key subset left the exclusion rule
    * implicit). Derived, not hand-listed: a new `SparkEntry.queries`
    * entry lands in the next regeneration automatically, and a key
    * whose DataFrame fails to build fails the dump loudly. */
  def headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Hand-audited runtime observations rendered under a query's header —
    * facts the static sf0.01 explain below cannot show (AQE decisions are
    * runtime-only and scale-dependent). Survives regeneration. */
  val notes: Map[String, String] = Map(
    "q_emb_dim_profile" ->
      """Executed at sf0.1 (GRAFT_SHOW_EXECUTED, round 16): BEFORE the
        |barrier the corpus was scanned+exploded TWICE — the energy-total
        |side prunes everything but sxx, so its partial aggregate (and
        |exchange) differed from the main side's and ReuseExchange could
        |not fire (gapStats/sessionStats/revenueConcentration DO reuse:
        |their cells are total-width). With the d-row cells barriered the
        |executed plan reads the checkpointed RDD on both sides — one
        |corpus scan, results bit-identical. Same fix applied to
        |q_seasonality.""".stripMargin,
    "q_event_cooccur" ->
      """Executed at sf0.1 (round 16): the per-user set table is
        |barriered, so the final plan's pair/single/total branches all
        |read the checkpointed RDD — ONE corpus scan (one user-keyed
        |exchange inside the barrier job). The pair explode fans out of
        |the materialized sets into a map-side-combined fold onto the
        |bounded (a, b) domain; both marginal joins broadcast
        ||types|-row tables.""".stripMargin,
    "mm_byte_profile" ->
      """One Generate over the 257-cell hist array per payload (the
        |codegen'd byte_hist256 tally; the doc-marker cell rides the same
        |array, so no second scan for doc counts), filtered to nonzero
        |cells before the map-side-combined (source, code) fold; the
        |totals join reads the BARRIERED bounded cell table. Entropy
        |terms are per-cell p·ln p on the 1e-6 probability grid —
        |bounded magnitude, so the LONG sum cannot overflow at any
        |corpus size (a count-based n·ln n grid would).""".stripMargin,
    "q_auc" ->
      """Executed at sf1 (GRAFT_SHOW_EXECUTED, round 14, isFinalPlan=true):
        |centroid training collapses to ONE label-keyed
        |ObjectHashAggregate(VectorAvg) exchange and ships to the held-out
        |side as a single IdentityBroadcastMode BroadcastExchange feeding
        |the Cross BNLJ (n_labels × dim — kilobytes at any corpus size);
        |the corpus pass partial-aggregates (class, s_grid) map-side below
        |its exchange, and the Mann-Whitney window runs over the
        |AQE-COALESCED histogram read — never the corpus. The final
        |rangepartitioning sort is the oracle-determinism orderBy (absent
        |in bench mode).""".stripMargin,
    "q_trending_terms" ->
      """Executed at sf1 (GRAFT_SHOW_EXECUTED, round 14): the corpus
        |totals n1/n2 REUSE the token-count exchanges (`ReusedExchange`
        |on both snapshot sides — the 1-row sums cost no second tokenize
        |pass) and attach via IdentityBroadcastMode BNLJs; the snapshot
        |join runs as a co-partitioned full-outer SortMergeJoin over the
        |two AQE-coalesced token exchanges. Warm 14.6 s at sf1,
        |tokenize-dominated (the documented linear cost).""".stripMargin,
    "q_collocations" ->
      """AQE at sf1 (executed plan read via `GRAFT_SHOW_EXECUTED=1
        |graft.Scratch`, round 11): the two vocabulary attach joins run as
        |`BroadcastHashJoin` with the UNIGRAM count table as build side —
        |ONE `BroadcastExchange`, reused (`ReusedExchange`) for both the
        |c_a and c_b attaches — while the minCount-filtered bigram side
        |streams. Warm 5.05 s / cold 9.15 s at sf1. At true corpus scale
        |the unigram vocabulary outgrows the broadcast threshold and AQE
        |keeps both attaches as shuffle joins — the documented contract
        |(vocabulary joins SHUFFLE by rule; the broadcast is AQE's
        |small-scale adaptive win, exactly the right call at each
        |size).""".stripMargin,
    "q_click_model" ->
      """One corpus-scale shuffle (round 12): the session window's
        |user-keyed exchange. The (user, session, item) impression
        |collapse folds BOTH branches (first-view MIN, any-click MAX)
        |in one aggregate directly under that window —
        |HashPartitioning(user) already clusters the finer key, so no
        |second exchange exists (an earlier draft split views/clicks
        |into two grouped branches and re-joined: the barrier between
        |window and aggregates erased the partitioning metadata and
        |BOTH branches re-shuffled — StageProbe showed 3988+2006+1982
        |records; the fold shows 3988 then vocabulary-sized: 2
        |positions, 114 item×pos, 100 items).""".stripMargin,
    "q_mask_spans" ->
      """Zero-shuffle (round 12): the span-corruption accounting is one
        |map-side HOF projection per row — the text_diversity rule
        |(per-document statistics never justify an exchange), pinned in
        |PipelineSpec.""".stripMargin,
    "text_diversity" ->
      """Zero-shuffle by design (round 12): per-doc token statistics are
        |a map-side run-length fold over each row's SORTED 64-bit FNV
        |token-hash array — no Exchange anywhere in the bench-mode plan
        |(PipelineSpec pins it). The earlier two-shuffle formulation
        |(groupBy (doc,th) then re-agg by doc) was the shuffle-records
        |audit's worst offender: its doc-keyed partial agg read a shuffle
        |hash-partitioned by BOTH keys, so every doc surfaced in every
        |reduce task and partials grew ∝ reduce_tasks × docs (StageProbe
        |measured 443 422 partials for 50 000 docs at sf1).""".stripMargin,
    "q_ppmi" ->
      """Same vocabulary-join contract as q_collocations: the sf0.01
        |static plan shows the center/context marginal attaches as
        |estimate-driven BroadcastHashJoins — at corpus scale those
        |vocabulary aggregates outgrow the threshold and the attaches
        |revert to shuffle joins (the TF-IDF df-join rule). The barriered
        |pair table (localCheckpoint in the plan) is computed once and
        |feeds the filtered scoring scan plus both marginal aggregates;
        |only the 1-row smoothed total rides a broadcast
        |crossJoin.""".stripMargin)

  /** Per-query form: writes `<outDir>/<query>_<suffix>.txt` for each
    * name, the before/after plan pairs of the optimization evidence
    * files (`plans/r<N>/`). `#`-phase keys (`SparkEntry.benchPhases`)
    * are accepted; the '#' becomes '_' in the file name. Returns the
    * files written, in `names` order. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           suffix: String, names: Seq[String]): Seq[Path] = {
    Files.createDirectories(Paths.get(outDir))
    val catalog = SparkEntry.queries ++ SparkEntry.benchPhases
    names.map { name =>
      val txt = s"NOTE: '$suffix' plan, $sfDir.\n\n```\n" +
        catalog(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode) + "```\n"
      val f = Paths.get(outDir, s"${name.replace('#', '_')}_$suffix.txt")
      Files.writeString(f, txt)
      println(s"[plans] wrote $f")
      f
    }
  }

  /** Catalog form: every [[headline]] key, with its [[notes]]. */
  private def catalogDump(spark: SparkSession, sfDir: String): String = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the FULL query catalog\n\n")
    sb.append(s"Covers all ${headline.size} `SparkEntry.queries` keys " +
      "(derived from the catalog, so this artifact cannot drift from " +
      "it).\n")
    sb.append(s"Generated by `graft.Plans` at `$sfDir` — regenerate with\n")
    sb.append("`sbt \"runMain graft.Plans /root/testdata/sf0.01 PLANS.md\"`.\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` at scans,\n")
    sb.append("`BroadcastHashJoin` only on bounded sides, `partial_` aggregate\n")
    sb.append("modes before Exchanges, `WholeStageCodegen` spans over the hot\n")
    sb.append("path, and no Exchange where bucketing/blocking should avoid one.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n")
      notes.get(name).foreach(n => sb.append(n.trim + "\n\n"))
      sb.append("```\n")
      sb.append(df.queryExecution.explainString(FormattedMode))
      sb.append("```\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Plans <sfDir> <outFile> | " +
      "graft.Plans <sfDir> <outDir> <suffix> <query...>"
    require(args.length == 2 || args.length >= 4, usage)
    // fixed at 4 cores, PlanAuditSpec's setting: plan artifacts compare
    // across runs and machines only at one partition count
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length == 2)
      Files.writeString(Paths.get(args(1)), catalogDump(spark, args(0)))
    else dump(spark, args(0), args(1), args(2), args.drop(3).toSeq)
    spark.stop()
  }
}
