package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.poly_fingerprint
import graft.sources.Tables
import graft.operators.Barrier.BarrierOps

/** Document-level text analysis for LLM-data pipelines: token counting,
  * quality scoring. Pure narrow transforms — no shuffle; scales linearly
  * with input splits.
  */
object TextAnalysis {

  /** Reference-pipeline text cleaning over `documents`. */
  def preprocessed(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), preprocess(col("text")).as("clean_text"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** Whitespace + BPE-ish token counts. */
  def tokenCounts(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** PMI collocation mining over consecutive-token bigrams — the phrase
    * detector a tokenizer/vocab prep runs before merging multiword units
    * (word2vec-phrases style). PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with
    * probabilities from exact corpus counts; `minCount` suppresses the
    * unstable low-frequency tail before ranking.
    *
    * Scale shape: bigrams come from the native single-pass
    * [[graft.functions.TextFunctions.shingles]] (linear in tokens, never
    * tokens²), both count tables are map-side-combined aggregates, the
    * two unigram attach joins are vocabulary joins and therefore SHUFFLE
    * joins (vocabulary is unbounded — same rule as TF-IDF's df join;
    * AQE may broadcast the minCount-filtered bigram side, which is the
    * correct adaptive call), and the corpus totals ride a broadcast
    * 1-row crossJoin — no driver-side action. Ranking sorts the FLOORED
    * pmi (with bigram tie-break) so the top-k boundary is
    * grid-deterministic cross-engine. */
  def collocations(t: Tables, minCount: Long = 5, k: Int = 20): DataFrame =
    collocations(t.documents, minCount, k)

  /** [[collocations]] over any `(doc_id, text)` table. */
  def collocations(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    val base = docs
      .select(tokens(preprocess(col("text"))).as("toks"))
      .barrier() // Generate re-eval guard + two consumers (uni, bigrams)
    val uni = base.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val bi = base.select(explode(shingles(col("toks"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val totU = uni.agg(sum(col("c")).as("n_uni"))
    val totB = base
      .select(greatest(lit(0), size(col("toks")) - 1).cast("long").as("nb"))
      .agg(sum(col("nb")).as("n_bi"))
    val parts = bi
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
    val joined = parts
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
    val pmi = log(
      (col("c_ab").cast("double") / col("n_bi").cast("double")) /
        ((col("c_a").cast("double") / col("n_uni").cast("double")) *
          (col("c_b").cast("double") / col("n_uni").cast("double"))))
    joined
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        (floor(pmi * 1e4) / 1e4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  /** Quality scoring: length, alpha ratio, stopword ratio, avg word
    * length, composite score — deterministic double math, rounded at the
    * boundary so the DuckDB oracle hash-matches. */
  /** Per-source readability profile: average sentence length (words per
    * sentence), syllable density (syllables per word, approximated by
    * vowel-group counting — the classic no-dictionary heuristic), and a
    * Flesch-reading-ease-style score composed from the two. A pre-train
    * corpus gate next to [[qualityScores]]: a source whose score
    * collapses is OCR noise, template spam, or machine text (quality
    * ratios catch FORM; readability catches grammar-shaped gibberish).
    *
    * Scale shape: one narrow regex/tokenize projection per doc (the
    * scan pays 2 regex passes + the shared normalize chain), folded
    * map-side onto |sources| rows. Ratios are integer DIVs on the 1e-6
    * grid from exact long sums; the Flesch composition combines those
    * two grid doubles with literal coefficients — identical IEEE ops in
    * both engines — and floors to the 1e-4 grid. Sentences clamp to
    * ≥ 1 per doc (headline-only docs would zero the denominator). */
  def readability(docs: DataFrame): DataFrame = {
    val per = docs.select(col("source"),
      size(tokens(preprocess(col("text")))).cast("long").as("w"),
      greatest(regexp_count(col("text"), lit("[.!?]")), lit(1))
        .cast("long").as("s"),
      regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long").as("y"))
    per.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("w_sum"),
        sum(col("s")).as("s_sum"), sum(col("y")).as("y_sum"))
      .select(col("source"), col("n_docs"),
        (expr("cast(w_sum as decimal(38,0)) * 1000000 div s_sum")
          .cast("double") / 1e6).as("wps"),
        when(col("w_sum") > 0,
          expr("cast(y_sum as decimal(38,0)) * 1000000 div w_sum")
            .cast("double") / 1e6).otherwise(lit(0.0)).as("spw"))
      .select(col("source"), col("n_docs"),
        col("wps").as("words_per_sentence"),
        col("spw").as("syllables_per_word"),
        (floor((lit(206.835) - lit(1.015) * col("wps") -
          lit(84.6) * col("spw")) * 1e4) / 1e4).as("flesch"))
      .transform(graft.Determinism.sorted(_)(col("source")))
  }

  def qualityScores(t: Tables): DataFrame = qualityScores(t.documents)

  /** [[qualityScores]] over any `(doc_id, text)` table. `carry` names
    * extra input columns to thread through unchanged (e.g. `source` for
    * the mixture planner) — carrying them through the one scoring scan
    * beats a corpus-sized join-back on doc_id. */
  /** `sorted=false` skips the final doc_id ordering — composition entry
    * point for consumers that immediately aggregate or re-window
    * ([[Pipeline.mixBudget]], [[Selection.weightedSample]]): the global
    * range-exchange + sort is pure waste under a downstream shuffle, and
    * EliminateSorts does not remove it below a Window. */
  def qualityScores(docs: DataFrame, carry: Seq[String] = Nil,
                    sorted: Boolean = true): DataFrame = {
    // two-step select: tokenization/regex counts computed ONCE in the
    // first projection; the ratio arithmetic below references only cheap
    // attributes (a single projection would re-evaluate the regex chain
    // per reference — CollapseProject rightly refuses to merge these)
    val base = docs.select(
      (col("doc_id") +: carry.map(col)) ++ Seq(
        length(col("text")).cast("double").as("__len"),
        alphaCount(col("text")).cast("double").as("__alpha"),
        tokens(col("text")).as("__toks")): _*)
    val nTok = size(col("__toks")).cast("double")
    val len = col("__len")
    val alpha = col("__alpha")
    val stop = stopwordCount(col("__toks")).cast("double")
    val alphaRatio = when(len > 0, alpha / len).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0, stop / nTok).otherwise(lit(0.0))
    val avgWordLen = when(nTok > 0, alpha / nTok).otherwise(lit(0.0))
    val lenScore = least(lit(1.0), len / lit(500.0))
    // floor-scaling instead of round(): both engines compute the same
    // binary double, so floor is engine-portable while round-half modes
    // are not (Spark rounds the shortest decimal repr, DuckDB the binary).
    def r4(c: org.apache.spark.sql.Column) = floor(c * 10000.0) / 10000.0
    val out = base.select(
      (col("doc_id") +: carry.map(col)) ++ Seq(
        col("__len").cast("long").as("n_chars"),
        size(col("__toks")).cast("long").as("n_tokens"),
        r4(alphaRatio).as("alpha_ratio"),
        r4(stopRatio).as("stopword_ratio"),
        r4(avgWordLen).as("avg_word_len"),
        r4(lit(0.4) * lenScore + lit(0.3) * alphaRatio
              + lit(0.3) * (lit(1.0) - stopRatio)).as("quality_score")): _*)
    if (sorted) out.orderBy(col("doc_id")) else out
  }

  /** Stopword-profile scores per language; shared with the DuckDB oracle. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das", "mit"),
    "es" -> Seq("el", "la", "que", "y", "en", "los"),
    "fr" -> Seq("le", "et", "les", "des", "une", "dans"))

  /** n-gram-heuristic language ID: per-language stopword-hit ratios and an
    * argmax prediction (priority order on ties). */
  def languageId(t: Tables): DataFrame = languageId(t.documents)

  /** [[languageId]] over any `(doc_id, text)` table. */
  def languageId(docs: DataFrame): DataFrame =
    languageIdFrom(docs.select(col("doc_id"),
      tokens(preprocess(col("text"))).as("toks")))

  /** [[languageId]] over a pre-tokenized `(doc_id, toks)` table — the
    * fused entry point ([[Pipeline.datasetCardFrom]] shares ONE
    * preprocess/tokenize pass across the card's constituents; the regex
    * chain is the card's hottest CPU). */
  private[graft] def languageIdFrom(toksDf: DataFrame,
                                    carry: Seq[String] = Nil): DataFrame = {
    // two-step select: the tokenization chain is evaluated once (see
    // qualityScores); scores reference the materialized attribute
    val base = toksDf.select(
      (col("doc_id") +: carry.map(col)) :+ col("toks").as("__toks"): _*)
    val toks = col("__toks")
    val nTok = size(toks).cast("double")
    def r4(c: Column) = floor(c * 10000.0) / 10000.0
    def score(words: Seq[String]): Column =
      when(nTok > 0, countInSet(toks, words).cast("double") / nTok)
        .otherwise(lit(0.0))
    val s = LangProfiles.map { case (lang, words) => lang -> score(words) }.toMap
    val predicted =
      when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr"), "en")
        .when(s("de") >= s("es") && s("de") >= s("fr"), "de")
        .when(s("es") >= s("fr"), "es")
        .otherwise("fr")
    base.select(
      (col("doc_id") +: carry.map(col)) ++ Seq(
        r4(s("en")).as("score_en"), r4(s("de")).as("score_de"),
        r4(s("es")).as("score_es"), r4(s("fr")).as("score_fr"),
        predicted.as("predicted_lang")): _*)
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** The audit over [[languageId]] — the langid twin of
    * `Classifier.evalReport`, against the corpus's labeled `lang` column:
    * per TRUE language its support, hits, recall, plus the PREDICTED-side
    * volume and the implied precision (hits grouped by truth equal hits
    * grouped by prediction for the same language, since a hit has
    * truth = prediction — so one hit count serves both ratios). The
    * table a pipeline reads before trusting langid-gated filtering or
    * per-language mixing weights.
    *
    * SCOPE: one row per language on EITHER side (truth FULL OUTER JOIN
    * prediction volumes) — a language the model systematically
    * over-predicts but that never occurs as a truth label still gets a
    * row (n = 0, recall = 0) carrying its false-positive volume, so
    * over-prediction outside the truth label set is visible, not
    * silently folded into other rows' recall.
    *
    * Scale shape: the truth label rides the ONE scoring scan (the
    * `carry` seam — never a corpus-sized join-back on doc_id); the
    * scored table is barriered and feeds two bounded aggregates
    * (|languages| rows) joined broadcast-small. */
  def langidEval(t: Tables): DataFrame = langidEval(t.documents)

  /** [[langidEval]] over any `(doc_id, text, lang)` table. */
  def langidEval(docs: DataFrame): DataFrame = {
    val scored = languageIdFrom(
      docs.select(col("doc_id"), col("lang"),
        tokens(preprocess(col("text"))).as("toks")),
      carry = Seq("lang"))
      .select(col("lang"), col("predicted_lang"),
        (col("lang") === col("predicted_lang")).cast("long").as("hit"))
      .barrier() // read 2×: truth-side and prediction-side aggregates
    val truth = scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("n_correct"))
    val pred = scored.groupBy(col("predicted_lang").as("lang"))
      .agg(count(lit(1)).as("n_pred"))
    // FULL outer: predicted-only languages surface as (n=0, recall=0)
    // rows instead of hiding their false-positive volume (ADVICE r11)
    truth.join(pred, Seq("lang"), "full")
      .select(col("lang"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        when(coalesce(col("n"), lit(0L)) > 0L,
          floor(col("n_correct").cast("double") / col("n").cast("double")
            * 1e6) / 1e6).otherwise(lit(0.0)).as("recall"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        when(coalesce(col("n_pred"), lit(0L)) > 0L,
          floor(coalesce(col("n_correct"), lit(0L)).cast("double") /
            col("n_pred").cast("double")
            * 1e6) / 1e6).otherwise(lit(0.0)).as("precision"))
      .orderBy(col("lang"))
  }

  /** Full langid CONFUSION MATRIX — what `langidEval`'s per-language
    * recall/precision rows summarize, cell by cell: (truth, predicted,
    * count, row share). The off-diagonal heat names WHICH language each
    * language is mistaken for — the number that decides whether a langid
    * gate needs a better model or just a threshold.
    *
    * Scale shape: the truth label rides the ONE scoring scan (same
    * `carry` seam as [[langidEval]]); everything after is a bounded
    * |L|² aggregate plus a broadcast-small row-total attach. Row share
    * on the integer DIV grid. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val cells = languageIdFrom(
      docs.select(col("doc_id"), col("lang"),
        tokens(preprocess(col("text"))).as("toks")),
      carry = Seq("lang"))
      .groupBy(col("lang").as("lang_true"),
        col("predicted_lang").as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .barrier() // |L|² rows, read twice (row totals + output) — without
    // this the totals branch re-runs the whole tokenize scan
    val rowTot = cells.groupBy(col("lang_true")).agg(sum(col("n")).as("n_row"))
    cells.join(broadcast(rowTot), Seq("lang_true"))
      .select(col("lang_true"), col("lang_pred"), col("n"),
        expr("cast(n as decimal(38,0)) * 1000000 div n_row")
          .cast("double") / 1e6 as "frac")
      .transform(graft.Determinism.sorted(_)(col("lang_true"),
        col("lang_pred")))
  }

  /** Snapshot-to-snapshot TRENDING TERMS: per-token smoothed log-odds
    * ratio between two corpus snapshots' token frequencies —
    * `ln(((c₂+1)/(N₂−c₂+1)) / ((c₁+1)/(N₁−c₁+1)))` (Haldane +1 so
    * appeared/vanished tokens stay finite) — the release-review list of
    * what moved, both directions, ranked by |log-odds|. The monitoring
    * companion to `q_vocab_growth` (which counts NEW vocabulary but not
    * shifting mass) and `q_signal_drift` (which sees lengths, not words).
    *
    * Scale shape: two tokenize passes collapse map-side to token counts;
    * the snapshot join is token-keyed FULL OUTER (co-partitioned — both
    * sides hash on tok); totals broadcast as 1-row frames; the final
    * ranking is a bounded TakeOrdered. Nothing corpus-sized survives the
    * first aggregate.
    *
    * Determinism: every ln argument is a product of exact integer-valued
    * doubles, one value per token (no cross-row float sum anywhere);
    * ranking on the floored 1e-6 integer grid with the token tie-break. */
  def trendingTerms(base: DataFrame, cur: DataFrame,
                    minCount: Long = 10, topK: Int = 30): DataFrame = {
    def counts(docs: DataFrame, cname: String) = docs
      .select(tokens(preprocess(col("text"))).as("toks"))
      .barrier() // explode re-evaluates its child per output row
      .select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as(cname))
    // the two snapshots' tokenize barriers are independent eager jobs —
    // built concurrently each back-fills the other's idle task slots
    // (guide §2.6; results bit-identical)
    val Seq(b, c) = graft.operators.Barrier.concurrently[DataFrame](Seq(
      () => counts(base, "c1"), () => counts(cur, "c2")))
    val n1 = b.agg(sum(col("c1")).as("n1"))
    val n2 = c.agg(sum(col("c2")).as("n2"))
    val num = (col("c2") + lit(1L)).cast("double") *
      (col("n1") - col("c1") + lit(1L)).cast("double")
    val den = (col("c1") + lit(1L)).cast("double") *
      (col("n2") - col("c2") + lit(1L)).cast("double")
    b.join(c, Seq("tok"), "full")
      .na.fill(0L, Seq("c1", "c2"))
      .filter(col("c1") + col("c2") >= minCount)
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("lm", floor(log(num / den) * 1e6).cast("long"))
      .orderBy(abs(col("lm")).desc, col("tok"))
      .limit(topK)
      .select(col("tok"), col("c1").as("n_base"), col("c2").as("n_cur"),
        (col("lm").cast("double") / 1e6).as("log_odds"),
        (col("lm") > 0L).as("rising"))
  }

  /** Cross-source VOCABULARY overlap matrix — the companion diagnostic
    * to `q_source_kl` (KL sees distribution shift over the shared
    * vocabulary; this sees how much vocabulary is shared at all): for
    * every unordered source pair the shared distinct-token count and
    * vocabulary jaccard. Low off-diagonal jaccard = lexically disjoint
    * sources (a mixing/tokenizer-budget signal: their vocabularies ADD
    * rather than overlap); the diagonal is each source's vocabulary
    * size with jaccard 1.
    *
    * Scale shape: ONE token pass collapses to the DISTINCT (source,
    * token) table (barriered, read 3×); the pair join is token-keyed —
    * a vocabulary SHUFFLE join whose per-token fan-out is bounded by
    * |sources|² (sources are bounded by contract, tokens never
    * re-scan); sizes attach broadcast-small (|sources| rows). */
  def vocabOverlap(t: Tables): DataFrame = vocabOverlap(t.documents)

  /** [[vocabOverlap]] over any `(text, source)` table. */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(preprocess(col("text")))).as("tok"))
      .distinct()
      .barrier() // read 3×: sizes + both sides of the pair join
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val shared = st.as("a")
      .join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("v").as("v_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("v").as("v_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("v_a"), col("v_b"),
        (floor(col("n_shared").cast("double") /
          (col("v_a") + col("v_b") - col("n_shared")).cast("double") * 1e6)
          / 1e6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Token-diversity scores — the templated/spam-document signal the
    * per-gate fractions in `Pipeline.gopherStats` don't capture directly:
    * Simpson concentration Σp² (an exact rational — its core is the
    * integer Σc², so it is partition-proof by construction) and Shannon
    * entropy −Σ p·ln p. The entropy sum is an ORDERED fold over the
    * hash-sorted per-doc token runs: a plain SUM of doubles would depend
    * on arrival order and break the hash oracle, the same determinism
    * discipline as the vector digests.
    *
    * Scale shape: ZERO shuffle. Every output is a per-DOCUMENT statistic
    * of that document's own token multiset, so the whole computation is
    * one map-side fold over the row's sorted 64-bit FNV token-hash array
    * (run-length over equal neighbors = the count table) — there is no
    * reason to ship per-doc counts through an exchange at all. The
    * earlier two-shuffle version (groupBy (doc,th), re-agg by doc) paid
    * ~30 MB of wire at sf1 AND inflated super-linearly in the records
    * audit (its doc-keyed partial agg read a shuffle hash-partitioned by
    * BOTH keys, so every doc appeared in every reduce task); this one
    * pays nothing and scales embarrassingly. A 64-bit in-doc hash
    * collision would merge two token counts identically in both engines
    * (the oracle replays the same hash). */
  def diversity(docs: DataFrame): DataFrame = {
    // run-length fold over the ASCENDING hash array: close a run when
    // the value changes, folding its entropy term in run order — the
    // same sequence of double additions as a fold over the hash-sorted
    // (th, c) count table, so the digest is bit-equal to the shuffled
    // formulation it replaced
    val sortedHashes = sort_array(transform(
      tokens(preprocess(col("text"))), t => graft.functions.fnv1a64(t)))
    val n = size(col("ths")).cast("long")
    val zero = struct(lit(0L).as("prev"), lit(0L).as("run"),
      lit(0L).as("nd"), lit(0L).as("sc2"), lit(0.0).as("ent"))
    def close(acc: Column): (Column, Column, Column) = {
      val p = acc.getField("run").cast("double") / n.cast("double")
      (acc.getField("nd") + 1L,
        acc.getField("sc2") + acc.getField("run") * acc.getField("run"),
        acc.getField("ent") - p * log(p))
    }
    val folded = aggregate(col("ths"), zero,
      (acc, x) => {
        val (nd, sc2, ent) = close(acc)
        when(acc.getField("run") === 0L,
          struct(x.as("prev"), lit(1L).as("run"), lit(0L).as("nd"),
            lit(0L).as("sc2"), lit(0.0).as("ent")))
          .when(x === acc.getField("prev"),
            struct(acc.getField("prev").as("prev"),
              (acc.getField("run") + 1L).as("run"),
              acc.getField("nd").as("nd"), acc.getField("sc2").as("sc2"),
              acc.getField("ent").as("ent")))
          .otherwise(struct(x.as("prev"), lit(1L).as("run"),
            nd.as("nd"), sc2.as("sc2"), ent.as("ent")))
      },
      acc => {
        val (nd, sc2, ent) = close(acc)
        when(acc.getField("run") === 0L,
          struct(lit(0L).as("nd"), lit(0L).as("sc2"), lit(0.0).as("ent")))
          .otherwise(struct(nd.as("nd"), sc2.as("sc2"), ent.as("ent")))
      })
    docs
      .select(col("doc_id"), sortedHashes.as("ths"))
      .select(col("doc_id"), n.as("n_tok"), folded.as("f"))
      .select(col("doc_id"), col("n_tok"),
        col("f").getField("nd").as("n_distinct"),
        (floor(when(col("n_tok") === 0L, lit(0.0))
          .otherwise(col("f").getField("sc2").cast("double") /
            (col("n_tok") * col("n_tok")).cast("double")) * 1e4) / 1e4)
          .as("simpson"),
        (floor(col("f").getField("ent") * 1e4) / 1e4).as("entropy"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** Rolling polynomial 64-bit fingerprint of the normalized text. */
  def fingerprints(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        poly_fingerprint(preprocess(col("text"))).as("fingerprint"),
        hex(poly_fingerprint(preprocess(col("text")))).as("fingerprint_hex"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** CCNet-style statistical-LM quality signal, self-trained on the
    * corpus: an add-one-smoothed BIGRAM language model — p(w₂|w₁) =
    * (c(w₁w₂)+1)/(c(w₁·)+V), with c(w₁·) the bigram-prefix count and V
    * the corpus vocabulary — scores every doc by its average negative
    * log-likelihood. Low avg-NLL = templated/predictable text, high =
    * gibberish/OCR noise; pipelines gate on both ends (here: `keep` cuts
    * the high tail at `maxAvgNll`; CCNet buckets by LM perplexity the
    * same way, just with an external LM).
    *
    * Scale shape: "training" IS aggregation — per-doc bigram counts
    * (map-side combined), corpus bigram counts derived from them (second
    * groupBy collapses to distinct bigrams), prefix counts from the
    * BIGRAM table (vocab-sized, not corpus-sized), V one countDistinct.
    * The scoring join lands on per-doc DISTINCT bigrams (m carries the
    * multiplicity), never the token stream.
    *
    * Determinism: the per-doc NLL is an ORDERED fold over the bg-sorted
    * count structs — a plain SUM of doubles would depend on shuffle
    * arrival order and break the hash oracle (same discipline as
    * [[diversity]]'s entropy). Counts are exact longs; the only floating
    * steps are the shared ln and one division, replayed identically by
    * the oracle. */
  /** Zipf audit — the corpus-health statistic for training data: natural
    * text follows rank × frequency ≈ const (log-log slope ≈ −1); a slope
    * far from −1 over the head vocabulary flags templated/spam-heavy or
    * truncated corpora before any model sees them. Least-squares fit of
    * ln(freq) on ln(rank) over the top `topN` tokens.
    *
    * Scale shape: ONE map-side-combined token groupBy, then a bounded
    * TakeOrdered to `topN` rows — the rank window and the regression run
    * on ≤ topN rows (bounded by contract, like the centroid collects).
    * The four regression sums are ORDERED folds over the rank-sorted
    * struct list (the [[diversity]] determinism discipline); the closed
    * form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is replayed term-for-term by the
    * oracle. */
  def zipfAudit(docs: DataFrame, topN: Int = 100): DataFrame = {
    val counts = docs
      .select(explode(tokens(preprocess(col("text")))).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("tk")).limit(topN)
    val ranked = top.select(col("c"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("tk"))).as("r"))
    val pts = ranked.select(struct(col("r"), col("c")).as("p"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    def x(e: Column) = log(e.getField("r").cast("double"))
    def y(e: Column) = log(e.getField("c").cast("double"))
    def fold(term: Column => Column) =
      aggregate(col("ps"), lit(0.0), (acc, e) => acc + term(e))
    val n = org.apache.spark.sql.functions.size(col("ps")).cast("double")
    val sx = fold(x); val sy = fold(y)
    val sxy = fold(e => x(e) * y(e)); val sxx = fold(e => x(e) * x(e))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    // n_ranks = head ranks actually fitted (≤ topN) — NOT a corpus token
    // count; any corpus with ≥ topN distinct tokens reads exactly topN
    pts.select(
      org.apache.spark.sql.functions.size(col("ps")).cast("long")
        .as("n_ranks"),
      when(n >= 2, floor(slope * 1e4) / 1e4).otherwise(0.0).as("zipf_slope"),
      when(n >= 2, floor(intercept * 1e4) / 1e4).otherwise(0.0)
        .as("intercept"))
  }

  /** RAG/embedding chunking prep: overlapping fixed-size token windows
    * per document — `size`-token chunks every `stride` tokens (overlap =
    * size − stride), with stable ids and offsets. The reference embeds
    * whole documents (`services/index_service.py:45` joins the full
    * text); a corpus-scale deployment embeds CHUNKS — bounded sequence
    * length for the encoder, one retrievable unit per passage — and this
    * is the deterministic splitter that feeds `q_embed`'s encoder seam.
    *
    * Pure narrow pass: tokenize once (checkpoint barrier against
    * Generate re-evaluation), explode the stride grid, slice. No shuffle
    * anywhere; chunk_id = start/stride needs no window function. Blank
    * docs produce no chunks. */
  def chunks(docs: DataFrame, size: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    val base = docs
      .select(col("doc_id"), tokens(preprocess(col("text"))).as("toks"))
      .barrier() // barrier: see cappedShingleTable in Dedup
      .select(col("doc_id"), col("toks"),
        org.apache.spark.sql.functions.size(col("toks")).as("n"))
      .filter(col("n") > 0)
    base
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        least(lit(size), col("n") - col("start")).cast("long").as("n_tok"),
        array_join(slice(col("toks"), col("start") + 1, lit(size)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** The BPE tokenizer-induction step: corpus-frequency-weighted counts
    * of adjacent CHARACTER pairs over the vocabulary — the statistic a
    * byte-pair-encoding trainer maximizes when choosing its next merge.
    * Returns the top `topK` merge candidates `(pair, score)` where
    * score = Σ over words of word_freq × in-word pair multiplicity.
    *
    * Scale shape — the reason BPE training is feasible at 100 TB: ONE
    * corpus pass builds the word-frequency table (map-side combined
    * token groupBy); everything after runs on the VOCABULARY (millions of
    * rows, not billions) — the char-pair explode is per DISTINCT word,
    * weighted by its frequency, never per occurrence. Subsequent merge
    * rounds would iterate on the vocab table alone; the corpus is never
    * re-read. Top-k is a TakeOrdered (never a full sort). */
  def bpePairs(docs: DataFrame, topK: Int = 20): DataFrame = {
    val freq = docs
      .select(explode(tokens(preprocess(col("text")))).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("f"))
    freq
      .select(col("f"), explode(shingles(split(col("tk"), ""), 2)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("score"))
      .orderBy(col("score").desc, col("pair"))
      .limit(topK)
  }

  /** One real BPE TRAINING iteration — [[bpeTrainMulti]] with a single
    * merge round (rounds 1 and 2's top-`topK` tables emitted). */
  def bpeTrain(docs: DataFrame, topK: Int = 10): DataFrame =
    bpeTrainMulti(docs, rounds = 1, topK = topK)

  /** Iterated BPE training on top of [[bpePairs]]' counting: `rounds`
    * times, pick the best merge (by score desc, then pair), APPLY it to
    * the vocabulary, and recount — the loop a byte-pair-encoding trainer
    * runs to convergence. Emits the top-`topK` pair table seen at every
    * round, `rounds + 1` tables in all (`(round, pair, score)`; round 1
    * is the pre-merge count, round r+1 reflects merges 1..r). Pairs
    * containing merged symbols are printed expanded (e.g. `ab c`).
    *
    * Scale shape (why BPE training is vocab-bound, not corpus-bound):
    * the corpus is read ONCE into the word-frequency table; each merge
    * application is a `replace()` over VOCABULARY strings (left-to-right
    * non-overlapping in both engines — the classic BPE convention), and
    * every round recounts pairs over the vocabulary alone. Each round's
    * winning merge is a ONE-row collect (bounded by contract, like the
    * centroid collects); merge r travels as the single sentinel char
    * `chr(r)` — outside the normalized `[\w %]` alphabet — so later
    * rounds' adjacency is again char adjacency, and the sentinels are
    * expanded back (newest first, so nested merges unfold) only for
    * display. All string rewriting goes through the `replace` COLUMN
    * function — corpus-derived strings are never interpolated into SQL
    * text, so a token containing quote-like characters can never break
    * (or inject into) a query. */
  def bpeTrainMulti(docs: DataFrame, rounds: Int = 5,
                    topK: Int = 10): DataFrame = {
    val st = bpeTrainLoop(docs, rounds)
    // sentinel expansion for display: newest merge first, so a merge
    // whose symbol contains an earlier sentinel unfolds completely
    def expand(c: Column, merges: List[String]): Column =
      merges.zipWithIndex.reverse.foldLeft(c) { case (acc, (m, i)) =>
        replace(acc, lit((i + 1).toChar.toString), lit(m))
      }
    st.roundPairs.zipWithIndex.map { case ((pr, merges), i) =>
      // the top-k CUT and the winner use the RAW pair order (same
      // convention as the oracle); expansion is presentation only
      pr.orderBy(col("score").desc, col("pair")).limit(topK)
        .select(lit((i + 1).toLong).as("round"),
          expand(col("pair"), merges).as("pair"), col("score"))
    }.reduce(_ unionByName _)
      .orderBy(col("round"), col("score").desc, col("pair"))
  }

  /** The trained state [[bpeTrainLoop]] returns: per-round pre-merge
    * pair tables (each with the merges applied BEFORE that round, for
    * display expansion), the merge strings in application order, and
    * the rewritten vocabulary `(tk0, tk, f)` — original word, post-
    * merge symbol string (sentinel char per merge), corpus frequency. */
  private[graft] final case class BpeState(
      roundPairs: List[(DataFrame, List[String])],
      merges: List[String], vocab: DataFrame)

  /** The shared BPE training loop ([[bpeTrainMulti]] emits its pair
    * tables, [[bpeEncode]] applies its vocabulary): ONE corpus pass
    * builds the word-frequency table; each of `rounds` rounds counts
    * adjacent symbol pairs over the VOCABULARY, picks the winner
    * (score desc, raw pair — one bounded single-row collect), and
    * rewrites the vocabulary with the merge as the `chr(round)`
    * sentinel (left-to-right non-overlapping `replace`, the classic
    * BPE convention, identical in both engines). Stops early when no
    * adjacent pair remains. All rewriting goes through the `replace`
    * COLUMN function — corpus strings never reach SQL text. */
  private[graft] def bpeTrainLoop(docs: DataFrame, rounds: Int): BpeState = {
    require(rounds >= 1 && rounds <= 30,
      "1..30 merge rounds (one sentinel char per round, below the space)")
    val freq = docs
      .select(explode(tokens(preprocess(col("text")))).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("f"))
      .select(col("tk").as("tk0"), col("tk"), col("f"))
      .barrier() // the ONE corpus pass; all rounds below are vocab-bound
    def pairsOf(words: DataFrame): DataFrame =
      words
        .select(col("f"), explode(shingles(split(col("tk"), ""), 2)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("score"))
    var vocab = freq
    var merges = List.empty[String]
    var outs = List.empty[(DataFrame, List[String])]
    var r = 1
    var dry = false
    while (r <= rounds + 1 && !dry) {
      val pr = pairsOf(vocab).barrier() // read twice: top-k + winner
      outs = outs :+ (pr, merges)
      if (r <= rounds) {
        val winner = pr.orderBy(col("score").desc, col("pair")).limit(1)
          .collect().headOption // BOUNDED: one row — this round's merge
        winner match {
          case None => dry = true // no adjacent pairs left: converged
          case Some(row) =>
            val merged = row.getString(0).split(" ").mkString
            vocab = vocab
              .withColumn("tk",
                replace(col("tk"), lit(merged), lit(r.toChar.toString)))
              .barrier() // vocab-sized; keeps round lineage flat
            merges = merges :+ merged
        }
      }
      r += 1
    }
    BpeState(outs, merges, vocab)
  }

  /** ENCODE the corpus with the learned merges — the apply half of BPE
    * that [[bpeTrainMulti]] trains: every document scored by its
    * post-merge symbol count, the number a sequence-packing or
    * context-budget pipeline actually consumes. Output per doc:
    * `n_words`, `n_chars` (normalized character count across word
    * occurrences), `n_symbols` (BPE symbols after `rounds` merges —
    * each merged pair is one symbol) and `compression` =
    * n_symbols/n_chars (1.0 = merges never fire, lower = corpus fits
    * the learned vocabulary better).
    *
    * Scale shape: the merges are APPLIED on the vocabulary (each
    * rewrite is a `replace` over DISTINCT words), and documents join
    * the (word → symbol length) table by token — the corpus is read
    * twice (frequency pass, scoring pass) and never rewritten
    * row-by-row; per-occurrence work is one join probe. The join is
    * un-hinted: the vocabulary grows with the corpus (AQE broadcasts
    * while it is small; the [[Pipeline.boilerplateFrom]] posture). */
  def bpeEncode(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val st = bpeTrainLoop(docs, rounds)
    val symLen = st.vocab
      .select(col("tk0"), length(col("tk")).cast("long").as("n_sym"))
    val per = docs
      .select(col("doc_id"), explode(tokens(preprocess(col("text")))).as("tk0"))
      .join(symLen, Seq("tk0"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("tk0"))).cast("long").as("n_chars"),
        sum(col("n_sym")).cast("long").as("n_symbols"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_words", "n_chars", "n_symbols"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_symbols"),
        when(col("n_chars") > 0,
          floor(col("n_symbols").cast("double") /
            col("n_chars").cast("double") * 1e4) / 1e4)
          .otherwise(0.0).as("compression"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** CCNet-style perplexity BUCKETING on top of [[lmScores]]: split the
    * corpus into `head` / `middle` / `tail` thirds by LM average NLL
    * (head = most predictable; CCNet trains on head+middle and drops or
    * down-weights tail). Output per bucket: doc count, min/max/mean NLL
    * — the mix table a curation recipe cites.
    *
    * Determinism across engines (the reason this does NOT use
    * interpolated percentiles): bucket cuts are ORDER STATISTICS — the
    * smallest observed NLL value whose cumulative count reaches ⌈n/3⌉
    * (and ⌈2n/3⌉) — so every cut is a double that already exists in the
    * data and both engines compare bit-identically; an interpolated cut
    * manufactures a new double whose last ulp can differ between
    * engines and flip boundary docs. Ties share a bucket (head/middle
    * may exceed n/3 by the tie mass), identically on both sides.
    *
    * Scale shape: the cumulative-count window runs over the DISTINCT
    * 1e-4-floored NLL values — a domain bounded by the score range
    * (≤ ~10⁵ rows) regardless of corpus size, so the single-partition
    * window is scale-invariant; scoring and assignment stay
    * corpus-parallel (the 2-value cut row broadcasts). */
  def lmBuckets(docs: DataFrame): DataFrame =
    lmBucketsFrom(lmScores(docs).select(col("doc_id"), col("avg_nll"))
      .barrier()) // read twice: cut derivation + assignment

  /** [[lmBuckets]] over an already-materialized [[lmScores]] table —
    * the materialize-once seam (score the corpus once; the bucket
    * report and the per-doc scores are two reads of one pass). The
    * caller passes a materialized `(doc_id, avg_nll)` table. */
  def lmBucketsFrom(scores: DataFrame): DataFrame = {
    val vals = scores.groupBy(col("avg_nll")).agg(count(lit(1)).as("c"))
    val cum = vals.withColumn("cum",
      sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("avg_nll"))))
    val cuts = cum.crossJoin(broadcast(scores.agg(count(lit(1)).as("n"))))
      .agg(min(when(col("cum") * 3 >= col("n"), col("avg_nll"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("avg_nll"))).as("b2"))
    scores.crossJoin(broadcast(cuts))
      .select(col("avg_nll"),
        when(col("avg_nll") <= col("b1"), "head")
          .when(col("avg_nll") <= col("b2"), "middle")
          .otherwise("tail").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_nll")).as("min_nll"),
        max(col("avg_nll")).as("max_nll"),
        (floor(sum(col("avg_nll").cast("decimal(18,4)")).cast("double") /
          count(lit(1)).cast("double") * 1e4) / 1e4).as("mean_nll"))
      .orderBy(col("bucket"))
  }

  def lmScores(docs: DataFrame, maxAvgNll: Double = 10.0): DataFrame =
    lmScoresFrom(docs
      .select(col("doc_id"), tokens(preprocess(col("text"))).as("toks"))
      .barrier(), // barrier + read twice: vocabulary and bigrams
      maxAvgNll)

  /** Frozen bigram model — the train/serve seam for [[lmScoresFrom]]:
    * corpus bigram counts `(bg, cb)`, prefix counts `(w1, cu)` and the
    * vocabulary size, trained once by a batch pass
    * ([[graft.streaming.CurationStream.freezeStats]]) and applied to any
    * later batch. */
  final case class LmModel(bigrams: DataFrame, prefixes: DataFrame,
                           vocabSize: Long)

  /** [[lmScores]] over a pre-tokenized, MATERIALIZED `(doc_id, toks)`
    * table — the fused-curation entry point ([[Pipeline.curate]] shares
    * ONE tokenization pass across all five gates; each gate alone paid
    * the preprocess regex chain, the hottest CPU in the funnel). Caller
    * must pass a checkpointed/materialized table: `toks` is read twice
    * and feeds Generates. Results identical to [[lmScores]].
    *
    * `model`: when given, the counts/vocab come FROZEN from a corpus
    * snapshot instead of being self-trained on `toks` — the streaming
    * twin's serve path. The scoring joins are LEFT with cb/cu coalesced
    * to 0 (pure add-one smoothing for bigrams unseen at freeze time) —
    * for the self-trained path every bigram matches, so the values are
    * identical to the inner-join form this generalizes. The model
    * tables' joins stay un-hinted: the bigram table grows with corpus
    * vocabulary, and a forced broadcast would fail at the hard limit on
    * a large freeze. */
  private[graft] def lmScoresFrom(toks: DataFrame,
                                  maxAvgNll: Double = 10.0,
                                  model: Option[LmModel] = None)
      : DataFrame = {
    val docBg = toks
      .select(col("doc_id"), explode(shingles(col("toks"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("m"))
      .barrier() // read twice: corpus counts + scoring join
    val (cbTab, cuTab) = model match {
      case Some(m) => (m.bigrams, m.prefixes)
      case None =>
        val cb = docBg.groupBy(col("bg")).agg(sum(col("m")).as("cb"))
          .barrier() // read twice: prefix counts + scoring join
        (cb, cb.select(split(col("bg"), " ").getItem(0).as("w1"), col("cb"))
          .groupBy(col("w1")).agg(sum(col("cb")).as("cu")))
    }
    val grouped = docBg
      .join(cbTab, Seq("bg"), "left")
      .join(cuTab, split(col("bg"), " ").getItem(0) === col("w1"), "left")
      // explicit doc-keyed exchange of the scored pairs — the per-doc
      // collect below then completes within partitions instead of
      // partial-aggregating over the bg-keyed join stream (where every
      // doc appears in every reduce task: partials ∝ tasks × docs, the
      // tfidfVectors finding from the sf1→sf10 shuffle-records audit)
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sort_array(collect_list(
          struct(col("bg"), col("m"),
            coalesce(col("cb"), lit(0L)).as("cb"),
            coalesce(col("cu"), lit(0L)).as("cu")))).as("cs"))
    val (scored, vCol) = model match {
      case Some(m) => (grouped, lit(m.vocabSize))
      case None => (grouped.crossJoin(broadcast(
        // two-level exact distinct (see Pipeline.datasetCard): the
        // vocabulary hash is spread across partitions instead of one
        // final count_distinct table
        toks.select(explode(col("toks")).as("tk"))
          .distinct().agg(count(lit(1)).as("V")))), col("V"))
    }
    val nll = aggregate(col("cs"), lit(0.0), (acc, e) => {
      acc + e.getField("m").cast("double") *
        log((e.getField("cu") + vCol).cast("double") /
          (e.getField("cb") + lit(1L)).cast("double"))
    })
    val avg = nll / col("n_bigrams").cast("double")
    toks.select(col("doc_id"))
      .join(scored.select(col("doc_id"), col("n_bigrams"),
        (floor(avg * 1e4) / 1e4).as("avg_nll"),
        (avg <= maxAvgNll).as("keep")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_nll"), lit(0.0)).as("avg_nll"),
        coalesce(col("keep"), lit(true)).as("keep"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))
  }

  /** Skip-gram context-pair mining over normalized tokens — the training
    * pair generator for word2vec/GloVe-style embedding pretraining: every
    * DIRECTED pair of tokens at distance ≤ `window` within a document is
    * a (center, context) observation; pairs are counted corpus-wide,
    * `minCount` drops the unstable tail, and the top `k` by count (ties →
    * lexicographic) are returned as the checkable summary surface.
    *
    * Scale shape: pair expansion is one NARROW per-row expression
    * (window·len structs per doc — linear in tokens, never tokens²; no
    * positional self-join of an exploded token table, which would shuffle
    * the corpus token list twice and join on doc_id), counting is one
    * map-side-combined aggregate shuffled on the pair key (the TF-IDF
    * vocabulary profile — unbounded key domain, so a SHUFFLE agg is the
    * rule), and ranking is a TakeOrdered over integer counts. The
    * DIRECTED symmetry is exploited: only FORWARD (position-ordered)
    * pairs are expanded and counted — half the explode and shuffle
    * volume of emitting both directions per position — and the directed
    * count c(x→y) = F(x,y) + F(y,x) is assembled by mirroring the
    * forward-count TABLE (distinct-pair rows, orders of magnitude
    * smaller than the pair stream) and re-aggregating. */
  def skipgrams(t: Tables, window: Int = 3, minCount: Long = 5,
                k: Int = 30): DataFrame =
    skipgrams(t.documents, window, minCount, k)

  /** [[skipgrams]] over any `(doc_id, text)` table. */
  def skipgrams(docs: DataFrame, window: Int, minCount: Long,
                k: Int): DataFrame =
    skipgramCounts(docs, window)
      .filter(col("c") >= minCount)
      .orderBy(col("c").desc, col("center"), col("context"))
      .limit(k)

  /** The full directed co-occurrence count table c(x→y) = F(x,y)+F(y,x)
    * at distance ≤ `window` — the shared base of [[skipgrams]] (which
    * ranks it) and [[ppmi]] (which normalizes it). See [[skipgrams]] for
    * the forward-only expansion + table-level mirroring scheme. */
  private[graft] def skipgramCounts(docs: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be ≥ 1, got $window")
    // filter() guards the descending-sequence trap: sequence(1, 0) is
    // [1, 0] (step defaults to -1), so the inner sequence only ever runs
    // with size(toks) > d
    val fwd = docs
      .select(tokens(preprocess(col("text"))).as("toks"))
      .select(explode(expr(
        s"""flatten(transform(
           |  filter(sequence(1, $window), d -> size(toks) > d),
           |  d -> transform(sequence(1, size(toks) - d), i ->
           |    named_struct('center', toks[i-1], 'context', toks[i-1+d]))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("f"))
    fwd
      // mirror INSIDE one dataflow (a self-union would re-run the pair
      // aggregate twice): each forward row fans out to itself + its swap
      .select(explode(array(
        struct(col("center"), col("context"), col("f")),
        struct(col("context").as("center"), col("center").as("context"),
          col("f")))).as("r"))
      .groupBy(col("r.center").as("center"), col("r.context").as("context"))
      .agg(sum(col("r.f")).as("c"))
  }

  /** The SGNS word-vector shift: ln 5 as the exact Java binary-double
    * literal, embedded identically in the Spark plan and the DuckDB
    * oracle so both engines subtract bit-equal constants. */
  private[graft] val PpmiShift = 1.6094379124341003 // ln(5): SGNS k=5

  /** Smoothed positive PMI over the skip-gram co-occurrence table — the
    * count-based word-association matrix SGNS factorizes (shifted PPMI,
    * Levy & Goldberg 2014): `SPPMI(w,c) = max(0, PMI_α(w,c) − ln k)` with
    * negative-sample shift k=5 and context-distribution smoothing α=0.5
    * (the word2vec convention is 0.75; 0.5 keeps the power IEEE-exact —
    * `sqrt` is correctly rounded in both engines, general `pow` is
    * libm-dependent). The output is the top-`k` strongest associations,
    * the table an embedding-pretraining pass materializes.
    *
    * Determinism: the smoothed context mass `Σ_c c_c^α` is a float sum
    * over an UNBOUNDED vocabulary — order-dependent if summed as double —
    * so each `sqrt(c_c)` is floored to a 1e-6-grid BIGINT and the total
    * is exact integer addition (the `text_entropy` trick). PMI then
    * reduces to `ln(c·S / (c_w·sc))` over four exact integers, floored to
    * the 1e-4 grid for ranking (the `q_collocations` convention).
    *
    * Scale shape: the pair table is built ONCE (barriered) and read three
    * ways (center marginals, context marginals, scoring); both marginal
    * attaches are vocabulary SHUFFLE joins (unbounded key domain — the
    * TF-IDF df-join rule); the smoothed total rides a broadcast 1-row
    * crossJoin; ranking is a TakeOrdered on the floored grid. */
  def ppmi(t: Tables, window: Int = 3, minCount: Long = 5,
           k: Int = 30): DataFrame = ppmi(t.documents, window, minCount, k)

  /** [[ppmi]] over any `(doc_id, text)` table. */
  def ppmi(docs: DataFrame, window: Int, minCount: Long, k: Int): DataFrame = {
    val pairs = skipgramCounts(docs, window)
      .barrier() // read 3×: center marginals, context marginals, scoring
    val cw = pairs.groupBy(col("center")).agg(sum(col("c")).as("c_w"))
    val cc = pairs.groupBy(col("context"))
      .agg(sum(col("c")).as("c_c"))
      .select(col("context"),
        floor(sqrt(col("c_c").cast("double")) * 1e6).cast("long").as("sc"))
    val sTot = cc.agg(sum(col("sc")).as("s_alpha"))
    val pmi = log(
      (col("c").cast("double") * col("s_alpha").cast("double")) /
        (col("c_w").cast("double") * col("sc").cast("double")))
    pairs.filter(col("c") >= minCount)
      .join(cw, Seq("center"))
      .join(cc, Seq("context"))
      .crossJoin(broadcast(sTot))
      .select(col("center"), col("context"), col("c"),
        (floor(greatest(lit(0.0), pmi - lit(PpmiShift)) * 1e4) / 1e4)
          .as("sppmi"))
      .orderBy(col("sppmi").desc, col("center"), col("context"))
      .limit(k)
  }

  /** Tokenizer fertility by language — the tokenizer-evaluation metric a
    * multilingual corpus release reports: subword (BPE-ish) tokens per
    * whitespace word and characters per subword token, per `lang`. A
    * high-fertility language is under-served by the tokenizer (more
    * tokens per word → shorter effective context, higher training cost
    * per content unit).
    *
    * One narrow per-doc count pass (the [[tokenCounts]] kernels) + one
    * bounded groupBy(lang) — integer sums, then integer÷integer double
    * ratios (IEEE-exact, engine-portable; no floor grid needed). */
  def fertility(t: Tables): DataFrame = fertility(t.documents)

  /** [[fertility]] over any `(doc_id, text, lang, n_chars)` table. */
  def fertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        wsTokenCount(col("text")).cast("long").as("ws"),
        bpeTokenCount(col("text")).cast("long").as("bpe"),
        col("n_chars").cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("n_chars"),
        when(col("ws_tokens") > 0,
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
          .otherwise(lit(0.0)).as("fertility"),
        when(col("bpe_tokens") > 0,
          col("n_chars").cast("double") / col("bpe_tokens").cast("double"))
          .otherwise(lit(0.0)).as("chars_per_token"))
      .orderBy(col("lang"))

  /** Per-source token-distribution KL divergence vs the whole corpus —
    * the domain-shift diagnostic a data-mixing pass reads before
    * reweighting sources (a source with high KL(source‖corpus) is
    * lexically far from the mix and dominates or starves a naive
    * proportional blend).
    *
    * KL(s‖corpus) = (1/n_s) Σ_t c_st · ln(c_st·n / (n_s·c_t)), computed
    * with the same ORDER-FREE integer-sum trick as `text_entropy`: each
    * term is floored to a 1e-6-grid BIGINT (a deterministic function of
    * the four exact counts), the per-source sum is exact integer
    * addition, and only the final division is float (floored to 1e-4) —
    * so the unordered vocabulary aggregate can never produce an
    * order-dependent float sum.
    *
    * Scale shape: ONE pass over tokens builds the (source, token) count
    * table; the corpus token counts re-aggregate THAT table (never a
    * second pass over documents); the token-key attach is a vocabulary
    * SHUFFLE join (unbounded key domain — TF-IDF's df-join rule); the
    * per-source totals and the corpus total are bounded-row broadcasts. */
  def sourceKl(t: Tables): DataFrame = sourceKl(t.documents)

  /** [[sourceKl]] over any `(doc_id, text, source)` table. */
  def sourceKl(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(preprocess(col("text")))).as("tk"))
      .groupBy(col("source"), col("tk"))
      .agg(count(lit(1)).as("c_st"))
      .barrier() // three consumers: corpus counts, source totals, terms
    val ct = st.groupBy(col("tk")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val n = ns.agg(sum(col("n_s")).as("n"))
    val terms = st
      .join(ct, Seq("tk"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_s"),
        floor(col("c_st").cast("double") *
          (log(col("c_st").cast("double")) + log(col("n").cast("double")) -
            log(col("n_s").cast("double")) - log(col("c_t").cast("double"))) *
          lit(1e6)).cast("long").as("term"))
    terms
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("term")).as("s_sum"))
      .select(col("source"), col("n_s").as("n_tokens"),
        (floor(col("s_sum").cast("double") / 1e6 /
          col("n_s").cast("double") * 1e4) / 1e4).as("kl"))
      .orderBy(col("source"))
  }

  /** Vocabulary-growth (Heaps'-law) curve over corpus prefixes — the
    * corpus statistic vocabulary/BPE sizing reads: how many NEW token
    * types each additional tenth of the corpus contributes, and the
    * cumulative vocabulary at each prefix. Sub-linear growth (Heaps'
    * V ∝ nᵝ, β < 1) is the expected shape; a linear tail signals
    * unbounded noise (OCR garbage, serial numbers) that will bloat any
    * trained vocabulary.
    *
    * Prefix buckets come from doc_id VALUE cuts against the broadcast
    * max (floor(id·10/(max+1))) — no global row-number window (a
    * corpus-sized unpartitioned Window is exactly what PlanDoctor
    * rejects). Each token type records its FIRST bucket via one
    * map-side-combined min aggregate; the cumulative sum runs over the
    * 10-row bucket aggregate (order key = the aggregate's grouping key —
    * the value-domain-bounded window shape the plan gate whitelists). */
  def vocabGrowth(t: Tables, buckets: Int = 10): DataFrame =
    vocabGrowth(t.documents, buckets)

  /** [[vocabGrowth]] over any `(doc_id, text)` table. */
  def vocabGrowth(docs: DataFrame, buckets: Int): DataFrame = {
    // an empty corpus has a null max: any cut works, and the curve has
    // zero rows
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val toks = docs
      .select(
        floor(col("doc_id") * buckets / lit(maxId + 1)).cast("int")
          .as("bucket"),
        explode(tokens(preprocess(col("text")))).as("tk"))
      .barrier() // two consumers: per-bucket occurrence counts, first-seen
    val occ = toks.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val firstSeen = toks.groupBy(col("tk"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val perBucket = occ.join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .select(col("bucket"), col("n_tokens"), col("new_types"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        sum(col("new_types")).over(w).as("cum_types"))
      .orderBy(col("bucket"))
  }

  /** Per-document Shannon entropy of the character and token
    * distributions over normalized text — the low-information filter
    * signal (gibberish/repeated-char spam → low char entropy;
    * template/key-value boilerplate → low token entropy for its length).
    * Both kernels are NARROW native calls
    * ([[graft.functions.char_entropy]]/[[graft.functions.token_entropy]],
    * order-free integer-sum formulation for cross-engine determinism) —
    * zero shuffle, linear in input splits. */
  def entropyScores(t: Tables): DataFrame = entropyScores(t.documents)

  /** [[entropyScores]] over any `(doc_id, text)` table. */
  def entropyScores(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), preprocess(col("text")).as("s"))
      .select(col("doc_id"),
        length(col("s")).cast("long").as("n_chars_norm"),
        graft.functions.char_entropy(col("s")).as("char_entropy"),
        wsTokenCount(col("s")).cast("long").as("n_tokens"),
        graft.functions.token_entropy(col("s")).as("token_entropy"))
      .transform(graft.Determinism.sorted(_)(col("doc_id")))

  /** Per-SOURCE token concentration: the Herfindahl index
    * HHI = Σ_t c_t² / (Σ_t c_t)² over each source's token counts, with
    * total-token and vocabulary sizes — the corpus-level concentration
    * audit next to the per-document Simpson index ([[diversity]]): a
    * source whose probability mass sits on a handful of boilerplate
    * tokens (HHI → 1) contributes templated text no dedup pass will
    * catch, and mixing weights (`sample_mix`) should see that.
    *
    * Scale shape: one tokenize+explode pass collapsed to (source, token)
    * counts — the only corpus-sized shuffle, map-side combined — then a
    * per-source fold to |sources| rows. Determinism: Σc² and (Σc)² are
    * EXACT integer sums in DECIMAL(38,0) (the [[diversity]] Simpson
    * discipline lifted from per-doc to per-source), finished by one DIV
    * on the 1e-6 grid — no float accumulation anywhere. */
  def sourceConcentration(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(tokens(preprocess(col("text"))))
        .as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ssq"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        expr("cast(ssq as decimal(38,0)) * 1000000 div " +
          "(cast(n_tokens as decimal(38,0)) * n_tokens)")
          .cast("double") / 1e6 as "hhi")
      .transform(graft.Determinism.sorted(_)(col("source")))
}
