package graft

import org.apache.spark.sql.functions._
import graft.operators.Pipeline

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("piiRedact finds and replaces emails, ips and phone shapes") {
    val docs = Seq(
      (1L, "mail me at jane.doe+x@example.org or bob@test.co today"),
      (2L, "server 192.168.0.1 and 10.0.0.255 are up"),
      (3L, "call 555-123-4567 or +1 nothing else"),
      (4L, "clean text with no identifiers at all"))
      .toDF("doc_id", "text")
    val byId = Pipeline.piiRedact(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 2 && byId(1L).getString(4) ==
      "mail me at [EMAIL] or [EMAIL] today")
    assert(byId(2L).getLong(2) == 2 && byId(2L).getString(4) ==
      "server [IP] and [IP] are up")
    assert(byId(3L).getLong(3) == 1 &&
      byId(3L).getString(4).contains("[PHONE]"))
    assert(byId(4L).getLong(1) == 0 && byId(4L).getLong(2) == 0 &&
      byId(4L).getLong(3) == 0 &&
      byId(4L).getString(4) == "clean text with no identifiers at all")
  }

  test("gopherStats flags repetitive documents") {
    val healthy = (1 to 60).map(i => s"unique$i").mkString(" ")
    val oneTokenSpam = Seq.fill(60)("spam").mkString(" ")
    val docs = Seq((1L, healthy), (2L, oneTokenSpam), (3L, "too short"))
      .toDF("doc_id", "text")
    val rows = Pipeline.gopherStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(6), "diverse doc must pass")
    assert(!rows(2L).getBoolean(6), "single-token spam must fail")
    assert(rows(2L).getDouble(2) < 0.1)  // frac_unique
    assert(rows(2L).getDouble(3) == 1.0) // top_token_frac
    assert(rows(2L).getDouble(4) > 0.9)  // dup_2gram_frac: (n-1 of n dup)
    assert(!rows(3L).getBoolean(6), "below min token count must fail")
  }

  test("decontaminate flags only docs sharing an n-gram with the bench set") {
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val bench = Seq((900L, shared)).toDF("doc_id", "text")
    val training = Seq(
      (1L, shared + " plus unique tail content here"),
      (2L, (1 to 20).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val byId = Pipeline.decontaminate(training, bench, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId(1L)._1 > 0 && byId(1L)._2)
    assert(byId(2L)._1 == 0 && !byId(2L)._2)
  }

  test("sampleByHash is a pure filter: deterministic, rate-bounded, no shuffle") {
    val t = sources.Tables(spark, sfDir)
    val a = Pipeline.sampleByHash(t.events, Pipeline.DefaultMix)
      .select($"event_id").as[Long].collect().toSet
    val b = Pipeline.sampleByHash(t.events, Pipeline.DefaultMix)
      .select($"event_id").as[Long].collect().toSet
    assert(a == b, "hash sampling must be deterministic")
    val plan = planOf(Pipeline.sampleByHash(t.events, Pipeline.DefaultMix))
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    // error rows are dropped entirely, purchases fully kept
    val kept = Pipeline.sampleByHash(t.events, Pipeline.DefaultMix)
      .groupBy($"event_type").count().as[(String, Long)].collect().toMap
    val totals = t.events.groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    assert(!kept.contains("error"))
    assert(kept("purchase") == totals("purchase"))
    assert(kept("view") < totals("view") / 5) // 50/1000 nominal
  }

  test("packSequences: cumulative offsets and pack ids are consistent per shard") {
    val t = sources.Tables(spark, sfDir)
    val rows = Pipeline.packSequences(t.documents, maxTokens = 512, shards = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == t.documents.count())
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val ordered = rs.sortBy(_._1)
      var cum = 0L
      ordered.foreach { case (_, sh, n, c, pid) =>
        assert(sh == shard)
        assert(c == cum + n, "cumulative token count must telescope")
        assert(pid == shard * 1000000L + (cum / 512), "pack id from start offset")
        cum = c
      }
    }
    // packs respect the shard prefix: no pack id appears in two shards
    val byPack = rows.groupBy(_._5).view.mapValues(_.map(_._2).distinct.size)
    assert(byPack.values.forall(_ == 1))
  }

  test("diversity: repetition concentrates simpson and crushes entropy") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 64).map(_ => "spam").mkString(" ")),      // one token 64×
      (2L, (1 to 64).map(i => s"tok$i").mkString(" ")),    // 64 distinct
      (3L, "")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.diversity(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((64L, 1L, 1.0, 0.0)), s"degenerate doc: ${got(1L)}")
    val (n2, d2, s2, e2) = got(2L)
    assert(n2 == 64L && d2 == 64L)
    assert(s2 == math.floor(1.0 / 64 * 1e4) / 1e4, s"uniform simpson $s2")
    assert(math.abs(e2 - math.log(64.0)) < 1e-3, s"uniform entropy $e2")
    assert(got(3L) == ((0L, 0L, 0.0, 0.0)), s"empty doc: ${got(3L)}")
    // per-doc statistics never justify an exchange: the whole query is a
    // map-side fold over each row's sorted token-hash array (the earlier
    // two-shuffle formulation paid ~30 MB of wire at sf1 and inflated
    // super-linearly in the shuffle-records audit)
    sys.props("graft.sort") = "false"
    try {
      val plan = operators.TextAnalysis.diversity(docs)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"diversity must be zero-shuffle:\n$plan")
    } finally sys.props("graft.sort") = "true"
  }

  test("readability: sentence/syllable ratios and the Flesch composition") {
    import spark.implicits._
    val docs = Seq(
      // 6 words, 2 sentence marks, vowel groups: o,e|o|ee|ou|i,e|i = 8
      (1L, "One two three. Four five six!", "prose"),
      // no sentence mark -> clamps to 1; no vowels -> 0 syllables
      (2L, "xyz zzz", "glyphs")).toDF("doc_id", "text", "source")
    val got = operators.TextAnalysis.readability(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    def grid(num: Long, den: Long) = (num * 1000000L / den).toDouble / 1e6
    def flesch(wps: Double, spw: Double) =
      math.floor((206.835 - 1.015 * wps - 84.6 * spw) * 1e4) / 1e4
    val (wpsP, spwP) = (grid(6, 2), grid(8, 6))
    assert(got("prose") == ((1L, wpsP, spwP, flesch(wpsP, spwP))),
      got("prose"))
    // glyphs: 2 words / clamped 1 sentence, 0 syllables
    assert(got("glyphs") == ((1L, 2.0, 0.0, flesch(2.0, 0.0))),
      got("glyphs"))
  }

  test("sourceConcentration: degenerate source HHI=1, uniform HHI=1/vocab") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 40).map(_ => "spam").mkString(" "), "boiler"),
      (2L, (1 to 40).map(_ => "spam").mkString(" "), "boiler"),
      (3L, (1 to 40).map(i => s"tok$i").mkString(" "), "rich"),
      (4L, (41 to 80).map(i => s"tok$i").mkString(" "), "rich"))
      .toDF("doc_id", "text", "source")
    val got = operators.TextAnalysis.sourceConcentration(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // one token repeated: HHI = 1 exactly (80²/80²)
    assert(got("boiler") == ((80L, 1L, 1.0)), got("boiler"))
    // 80 distinct singletons: HHI = floor(1e6/80)/1e6
    val (n, v, h) = got("rich")
    assert(n == 80L && v == 80L)
    assert(h == math.floor(1e6 / 80) / 1e6, s"uniform hhi $h")
  }

  test("maskSpans: selection, budgets and fingerprint match a plain-Scala replay") {
    // independent reference implementation of the span-corruption
    // contract (hash selection, remainder spans, sentinel collapse)
    def ref(docId: Long, toks: Seq[String]) = {
      val n = toks.length.toLong
      val spanCnt = math.ceil(n / 3.0).toLong
      def masked(s: Long) =
        ((docId * 1000003L + s) % 2147483647L) * 2654435761L %
          4294967296L % 100L < 15L
      val spans = 0L until spanCnt
      val nMasked = spans.filter(masked)
        .map(s => math.min(3L, n - s * 3L)).sum
      val corrupted = spans.flatMap(s =>
        if (masked(s)) Seq("<x>")
        else toks.slice(s.toInt * 3, math.min(n, s * 3 + 3).toInt))
        .mkString(" ")
      (n, nMasked, spans.count(masked).toLong,
        if (n == 0) 0.0 else (nMasked * 10000L / n).toDouble / 1e4,
        graft.functions.GraftHash.fnv1a64(
          org.apache.spark.unsafe.types.UTF8String.fromString(corrupted)))
    }
    // 40 docs × 0..12 all-alpha tokens: plenty of masked and unmasked
    // spans, remainder spans of size 1 and 2, and the empty doc
    val docs = (1L to 40L).map { id =>
      val toks = (0 until (id % 13).toInt)
        .map(i => ("a" + ('a' + i).toChar.toString) * 2)
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Pipeline.maskSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    var sawMasked = 0; var sawRemainder = false
    (1L to 40L).foreach { id =>
      val toks = (0 until (id % 13).toInt)
        .map(i => ("a" + ('a' + i).toChar.toString) * 2)
      val (n, m, s, ratio, fp) = ref(id, toks)
      assert(got(id) == ((n, m, s, ratio, fp)),
        s"doc $id: ${got(id)} vs ${(n, m, s, ratio, fp)}")
      if (s > 0) { sawMasked += 1; if (m < s * 3) sawRemainder = true }
    }
    assert(sawMasked > 3, s"degenerate fixture: $sawMasked masked docs")
    // empty doc pins the FNV offset basis (hash of the empty stream)
    assert(got(39L)._1 == 0L && got(39L)._5 == -3750763034362895579L)
    // per-doc statistics never justify an exchange (the text_diversity
    // rule): the whole operator is one map-side projection
    sys.props("graft.sort") = "false"
    try {
      val plan = Pipeline.maskSpans(docs)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"maskSpans must be zero-shuffle:\n$plan")
    } finally sys.props("graft.sort") = "true"
  }

  test("lm score: repeated template reads predictable, unique text does not") {
    import spark.implicits._
    // docs 1-3 are the SAME sentence: every bigram has corpus count 3 →
    // high smoothed probability → low avg-NLL. doc 4's bigrams are all
    // singletons (cb=1, p=2/(cu+V)) → higher NLL. doc 5: one token, no
    // bigrams; doc 6 empty.
    val template = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      (1L, template), (2L, template), (3L, template),
      (4L, (1 to 10).map(i => s"zzz$i yyy$i").mkString(" ")),
      (5L, "lonely"), (6L, "")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.lmScores(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val (n1, s1, _) = got(1L)
    assert(n1 == 9L, s"template bigrams: $n1")
    assert(got(1L) == got(2L) && got(2L) == got(3L),
      "identical docs must score identically")
    val (n4, s4, _) = got(4L)
    assert(n4 == 19L, s"unique-doc bigrams: $n4")
    assert(s4 > s1, s"unique text must out-NLL the template: $s4 vs $s1")
    assert(got(5L) == ((0L, 0.0, true)), s"no-bigram doc: ${got(5L)}")
    assert(got(6L) == ((0L, 0.0, true)), s"empty doc: ${got(6L)}")
  }

  test("chunks: stride grid, overlap, tail truncation, blank docs vanish") {
    import spark.implicits._
    // 10 tokens, size 4 / stride 3 → starts 0,3,6,9; tail chunk len 1
    val docs = Seq((1L, (0 to 9).map(i => s"t$i").mkString(" ")),
      (2L, ""), (3L, "one")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.chunks(docs, size = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)), s"$d1")
    assert(d1.head._5 == "t0 t1 t2 t3" && d1.last._5 == "t9")
    // consecutive chunks overlap by size − stride tokens
    assert(d1(0)._5.split(" ").last == "t3" && d1(1)._5.split(" ").head == "t3")
    assert(!got.exists(_._1 == 2L), "blank doc must produce no chunks")
    assert(got.filter(_._1 == 3L).toSeq ==
      Seq((3L, 0L, 0L, 1L, "one")), "single-token doc = one chunk")
  }

  test("zipf audit: a 1/r corpus fits slope ≈ −1, flat corpus ≈ 0") {
    import spark.implicits._
    // freq(r) = floor(120/r) for ranks 1..8 — an exact power-law head
    val zipfy = (1 to 8).flatMap(r => Seq.fill(120 / r)(s"w$r")).mkString(" ")
    val gz = operators.TextAnalysis.zipfAudit(
      Seq((1L, zipfy)).toDF("doc_id", "text")).head()
    assert(gz.getLong(0) == 8L)
    assert(math.abs(gz.getDouble(1) + 1.0) < 0.05,
      s"power-law slope: ${gz.getDouble(1)}")
    // all-equal frequencies → slope exactly 0 (and floor keeps it 0.0)
    val flat = (1 to 10).map(i => s"u$i").mkString(" ")
    val gf = operators.TextAnalysis.zipfAudit(
      Seq((1L, flat)).toDF("doc_id", "text")).head()
    assert(gf.getLong(0) == 10L && gf.getDouble(1) == 0.0, s"flat: $gf")
  }

  test("curation funnel: keep is the gate conjunction, attrition chains") {
    val t = sources.Tables(spark, sfDir)
    val c = operators.Pipeline.curate(t.documents).collect()
    assert(c.nonEmpty, "funnel must cover the training split")
    // the final verdict is exactly the conjunction of the five gates
    c.foreach { r =>
      assert(r.getBoolean(6) == (r.getBoolean(1) && r.getBoolean(2) &&
        r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5)), r.toString)
    }
    val rep = operators.Pipeline.curationReport(t.documents).collect()
    assert(rep.map(_.getString(1)).toSeq ==
      Seq("gopher", "lm_score", "boilerplate", "window_dup", "decontaminate"))
    // survivors never exceed entrants, and each stage's survivors are the
    // next stage's entrants — the attrition table chains
    rep.foreach(r => assert(r.getLong(3) <= r.getLong(2), r.toString))
    assert(rep.sliding(2).forall(p => p(0).getLong(3) == p(1).getLong(2)))
    assert(rep.head.getLong(2) == c.length)
    assert(rep.last.getLong(3) == c.count(_.getBoolean(6)),
      "final survivors must equal the per-doc keep count")
  }

  test("dataset card: one row, ratios bounded, counts consistent") {
    val t = sources.Tables(spark, sfDir)
    val card = operators.Pipeline.datasetCard(t)
    assert(card.columns.toSeq == Seq("n_docs", "n_tokens", "vocab_size",
      "exact_dup_rate", "frac_en", "mean_quality", "gopher_keep_rate",
      "pii_doc_frac"))
    val rows = card.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == t.documents.count())
    assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    assert(r.getLong(2) <= r.getLong(1), "vocab cannot exceed tokens")
    (3 to 7).foreach(i =>
      assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"col $i: $r"))
  }

  test("cardDiff: one-row release diff replays from the two cards") {
    // two releases with known moves: the current release doubles the doc
    // count and plants an exact duplicate
    val base = Seq(
      (1L, "alpha beta gamma"),
      (2L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val cur = Seq(
      (1L, "alpha beta gamma"),
      (2L, "the quick brown fox jumps"),
      (3L, "alpha beta gamma"), // exact dup of 1
      (4L, "delta epsilon zeta eta")).toDF("doc_id", "text")
    val cb = operators.Pipeline.datasetCardFrom(base).collect().head
    val cc = operators.Pipeline.datasetCardFrom(cur).collect().head
    val d = operators.Pipeline.cardDiff(
      operators.Pipeline.datasetCardFrom(base),
      operators.Pipeline.datasetCardFrom(cur)).collect()
    assert(d.length == 1)
    val r = d.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.0, "doc growth 4/2")
    def g4(x: Double) = math.floor(x * 1e4) / 1e4
    assert(r.getDouble(5) ==
      g4(cc.getLong(1).toDouble / cb.getLong(1).toDouble), "token growth")
    assert(r.getDouble(8) ==
      g4(cc.getLong(2).toDouble / cb.getLong(2).toDouble), "vocab growth")
    // deltas replay exactly from the two card rows
    assert(r.getDouble(9) == cc.getDouble(3) - cb.getDouble(3))
    assert(r.getDouble(9) > 0.0, "the planted dup must raise the dup rate")
    assert(r.getDouble(11) == cc.getDouble(5) - cb.getDouble(5))
    // zero-guard: a zero base card yields 0.0 growth, not null/inf
    val zeroCard = Seq((0L, 0L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF("n_docs", "n_tokens", "vocab_size", "exact_dup_rate",
        "frac_en", "mean_quality", "gopher_keep_rate", "pii_doc_frac")
    val z = operators.Pipeline.cardDiff(zeroCard,
      operators.Pipeline.datasetCardFrom(cur)).collect().head
    assert(z.getDouble(2) == 0.0 && z.getDouble(5) == 0.0 &&
      z.getDouble(8) == 0.0)
  }

  test("lm buckets: order-statistic terciles, ties share a bucket") {
    val t = sources.Tables(spark, sfDir)
    val rows = operators.TextAnalysis.lmBuckets(t.documents).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val n = t.documents.count()
    assert(rows.values.map(_._1).sum == n, "every doc lands in a bucket")
    // bucket boundaries are ordered: head's max <= middle's min <= tail's
    for (pair <- Seq("head" -> "middle", "middle" -> "tail"))
      (rows.get(pair._1), rows.get(pair._2)) match {
        case (Some(lo), Some(hi)) => assert(lo._3 <= hi._2,
          s"${pair._1} max ${lo._3} must not exceed ${pair._2} min ${hi._2}")
        case _ => // a degenerate tie corpus can leave a bucket empty
      }
    // head holds at least its third (ties only ever inflate it)
    assert(rows("head")._1 * 3 >= n)
  }

  test("curation report served from a materialized verdict table") {
    // the single-pass seam the registered queries use: verdicts land in
    // parquet once; the report is one aggregate over the store and must
    // equal the recompute-from-corpus form exactly
    val t = sources.Tables(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-verdicts").toString
    operators.Pipeline.curate(t.documents).write.mode("overwrite").parquet(dir)
    val fromStore = operators.Pipeline
      .curationReportFrom(spark.read.parquet(dir)).collect().toSeq
    val recompute = operators.Pipeline
      .curationReport(t.documents).collect().toSeq
    assert(fromStore == recompute)
  }

  test("bpe multi-round: merges chain through sentinels and expand back") {
    import spark.implicits._
    // vocab {abc:3, bca:1}. Round 1 pairs: "b c"=4, "a b"=3, "c a"=1 →
    // merge "bc". Round 2 (abc→a␁, bca→␁a): "a ␁"=3 → shown "a bc";
    // "␁ a"=1 → "bc a"; merge "a␁". Round 3 (a␁→␂): only "␁ a"=1
    // remains; merge "␁a". Round 4: single-symbol words only — the
    // table is empty and the trainer stops early (no winner).
    val docs = Seq((1L, "abc abc abc bca")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.bpeTrainMulti(docs, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, "b c", 4L), (1L, "a b", 3L), (1L, "c a", 1L),
      (2L, "a bc", 3L), (2L, "bc a", 1L),
      (3L, "bc a", 1L)), s"got $got")
    // the k=1 case IS bpeTrain (delegation pinned against the same corpus)
    val one = operators.TextAnalysis.bpeTrainMulti(docs, rounds = 1)
      .collect().toSeq
    val legacy = operators.TextAnalysis.bpeTrain(docs).collect().toSeq
    assert(one == legacy)
  }

  test("bpe encode: learned merges compress documents, converged corpora stay intact") {
    import spark.implicits._
    // corpus {abc:3, bca:1} (doc 1 = "abc abc abc", doc 2 = "bca").
    // 5 requested rounds converge after 3 merges (bc, a␁, ␁a): every
    // word collapses to ONE symbol. n_chars counts normalized chars per
    // occurrence; n_symbols the post-merge lengths.
    val docs = Seq((1L, "abc abc abc"), (2L, "bca")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.bpeEncode(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq((1L, 3L, 9L, 3L, 0.3333), (2L, 1L, 3L, 1L, 0.3333)),
      s"got $got")
    // one round only: "bc" merged, "abc" -> 2 symbols, "bca" -> 2
    val one = operators.TextAnalysis.bpeEncode(docs, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(one == Map(1L -> 6L, 2L -> 2L), s"got $one")
    // a blank doc keeps its row with zero counts and compression 0
    val blank = operators.TextAnalysis.bpeEncode(
        Seq((1L, "ab ab"), (2L, "   ")).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
    assert(blank == Seq((1L, 2L, 0.5), (2L, 0L, 0.0)), s"got $blank")
  }

  test("bpe train: winning merge applied left-to-right, round 2 recounts") {
    import spark.implicits._
    // vocab {ab:3, ba:1}: round 1 picks "a b" (score 3). After the merge,
    // word "ab" collapses to ONE symbol (no pairs left) and only "b a"
    // survives into round 2 — the recount must see the rewritten vocab.
    val docs = Seq((1L, "ab ab ab ba")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.bpeTrain(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a b", 3L), (1L, "b a", 1L), (2L, "b a", 1L)),
      s"got $got")
    // left-to-right non-overlap: "aaa" under merge "a a" -> [aa][a], so
    // round 2 still counts one adjacent (merged, a) pair
    val got2 = operators.TextAnalysis.bpeTrain(
        Seq((1L, "aaa aaa")).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got2.filter(_._1 == 2L) == Seq((2L, "aa a", 2L)), s"got $got2")
  }

  test("bpe pairs: frequency-weighted in-word multiplicity, ordered ties") {
    import spark.implicits._
    // f(ab)=2, f(ba)=1, f(aaa)=1 → "a b"=2·1, "b a"=1·1, "a a"=1·2
    val docs = Seq((1L, "ab ab ba"), (2L, "aaa")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.bpePairs(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a a", 2L), ("a b", 2L), ("b a", 1L)), s"got $got")
  }

  test("stratified sample: k per stratum, partition-invariant, map-side cap") {
    import org.apache.spark.sql.functions.col
    val t = sources.Tables(spark, sfDir)
    val s1 = operators.Pipeline.stratifiedSample(t.events, k = 10)
    val counts = s1.groupBy(col("event_type")).count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == 10L))
    // reproducible under any physical layout: hash order, not row order
    val s2 = operators.Pipeline.stratifiedSample(
      t.events.repartition(13), k = 10)
    assert(s1.collect().toSeq == s2.collect().toSeq)
    assert(planOf(s1).contains("WindowGroupLimit"), planOf(s1))
  }

  test("boilerplate: cross-doc template spans flag, unique text doesn't") {
    import spark.implicits._
    // 5 docs share an identical 6-token template span (two 5-grams);
    // each doc also has 5 unique tokens (one unique 5-gram + two mixed)
    val docs = (1L to 5L).map(i =>
      (i, s"shared span of common template text u${i}a u${i}b u${i}c u${i}d u${i}e"))
      .toDF("doc_id", "text")
    val got = operators.Pipeline.boilerplate(docs, minDf = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    // 11 tokens → 7 distinct 5-grams; the 2 all-shared ones are boilerplate
    got.foreach { case (_, (nGrams, nBoiler, _)) =>
      assert(nGrams == 7L && nBoiler == 2L)
    }
    // all-unique corpus: zero boilerplate, everything kept
    val uniq = (1L to 5L).map(i =>
      (i, (1 to 8).map(j => s"w$i-$j").mkString(" "))).toDF("doc_id", "text")
    val u = operators.Pipeline.boilerplate(uniq, minDf = 3).collect()
    assert(u.forall(r => r.getLong(2) == 0L && r.getBoolean(4)))
    // mostly-template corpus: keep flips off above maxFrac
    val tpl = (1L to 4L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta u$i"))
      .toDF("doc_id", "text")
    val k = operators.Pipeline.boilerplate(tpl, minDf = 3, maxFrac = 0.5)
      .collect()
    assert(k.forall(r => !r.getBoolean(4)),
      "docs dominated by shared grams must be dropped")
  }

  test("writeShards materializes one partition dir per shard, packs intact") {
    import org.apache.spark.sql.functions.col
    val t = sources.Tables(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    operators.Pipeline.writeShards(t.documents, dir, shards = 4)
    // hive-style shard partitioning on disk
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // read-back equals the packing query (partition column comes back
    // typed per the directory value)
    val back = spark.read.parquet(dir)
      .select(col("doc_id"), col("shard").cast("long").as("shard"),
        col("n_tokens"), col("cum_tokens"), col("pack_id"))
      .orderBy(col("doc_id")).collect().toSeq
    val want = operators.Pipeline.packSequences(t.documents, shards = 4)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("cum_tokens"), col("pack_id"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(back == want)
  }

  test("collocations: a planted phrase dominates PMI; loners suppressed") {
    // "neural network" co-occurs always and its parts appear nowhere
    // else → near-maximal PMI. "the" pairs with everything → low PMI.
    // Pairs under minCount never rank.
    val phraseDocs = (1L to 6L).map(i =>
      (i, s"the neural network runs the test u$i v$i"))
    // "runs" and "network" also appear apart, so every bigram EXCEPT the
    // planted phrase has diluted PMI
    val rareDocs = Seq(
      (7L, "rare pair rare pair the end runs alone here network alone too"))
    val docs = (phraseDocs ++ rareDocs).toDF("doc_id", "text")
    val got = operators.TextAnalysis.collocations(docs, minCount = 5, k = 5)
    val rows = got.collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(rows.contains("neural network"), s"planted phrase missing: $rows")
    // the planted phrase outranks every "the …" collocation
    val top = got.collect().head.getString(0)
    assert(top == "neural network", s"top collocation was $top")
    assert(!rows.keys.exists(_.startsWith("rare")),
      "sub-minCount pair must not rank")
  }

  test("skipgrams: directed pairs at distance ≤ window, exact counts") {
    // one doc "a b c d": window 2 forward pairs are (a,b) (b,c) (c,d)
    // (a,c) (b,d) — each also emitted reversed. 5 identical docs put
    // every pair at count 5 (= minCount); a 1-token doc emits nothing.
    val docs = ((1L to 5L).map(i => (i, "a b c d")) :+ (6L, "z"))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis
      .skipgrams(docs, window = 2, minCount = 5, k = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val fwd = Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "c", "b" -> "d")
    val want = (fwd ++ fwd.map(_.swap)).map(_ -> 5L).toMap
    assert(got == want, s"got $got")
    // window 1 drops the distance-2 pairs
    val w1 = operators.TextAnalysis
      .skipgrams(docs, window = 1, minCount = 5, k = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(w1 == Set("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b",
      "c" -> "d", "d" -> "c"))
    // minCount filters: raise it and everything vanishes
    assert(operators.TextAnalysis
      .skipgrams(docs, window = 2, minCount = 6, k = 100).count() == 0)
  }

  test("ppmi: planted association ranks, promiscuous pair clamps to 0") {
    // corpus: a perfectly-correlated rare pair (zq zr) ×5; a promiscuous
    // hub "the" co-occurring with 40 distinct fillers ×1 (sub-minCount:
    // they shape the marginals but never rank) and with zz ×5
    val docs = (
      (1L to 5L).map(i => (i, "zq zr")) ++
      (6L to 10L).map(i => (i, "the zz")) ++
      (1 to 40).map(n => (100L + n, s"the c$n"))
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.ppmi(docs, window = 3, minCount = 5, k = 30)
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap // keyed (center, context)
    // only the ≥ minCount pairs rank (4 directed rows)
    assert(got.size == 4, s"got ${got.keySet}")
    // replay the integer-smoothed formula: c_c ∈ {5 (zq, zr, zz), 45 (the)}
    val sc5 = math.floor(math.sqrt(5.0) * 1e6).toLong   // 2236067
    val sc45 = math.floor(math.sqrt(45.0) * 1e6).toLong // 6708203
    val s = 3 * sc5 + sc45 + 40 * 1000000L
    def sppmi(c: Long, cw: Long, sc: Long): Double =
      math.floor(math.max(0.0,
        math.log((c.toDouble * s.toDouble) / (cw.toDouble * sc.toDouble))
          - operators.TextAnalysis.PpmiShift) * 1e4) / 1e4
    assert(got(("zq", "zr")) == (5L, sppmi(5, 5, sc5)))
    assert(got(("zr", "zq")) == (5L, sppmi(5, 5, sc5)))
    assert(got(("zq", "zr"))._2 > 1.5, "planted pair must score high")
    // the→zz: high center marginal (45) kills the association → clamped 0
    assert(got(("the", "zz")) == (5L, 0.0))
    // zz→the: same pair reversed survives (context smoothing is directed)
    assert(got(("zz", "the")) == (5L, sppmi(5, 5, sc45)))
    assert(got(("zz", "the"))._2 > 0.0)
    // every score non-negative and on the 1e-4 grid
    got.values.foreach { case (_, v) =>
      assert(v >= 0.0 && math.floor(v * 1e4) == v * 1e4)
    }
  }

  test("langidEval: per-language recall and precision vs the labeled lang") {
    val docs = Seq(
      (1L, "the cat is here", "en"),   // → en (hit)
      (2L, "der hund ist da", "de"),   // → de (hit)
      (3L, "el perro que ladra", "es"),// → es (hit)
      (4L, "xyz abc", "en"),           // all-zero scores → tie → en (hit)
      (5L, "le chien et la", "fr"),    // fr beats the es hit on "la"
      (6L, "der und mit", "en"),       // → de: an en miss, a de false pos
      (7L, "the of and", "pt"))        // truth lang NEVER predicted
      .toDF("doc_id", "text", "lang")
    val got = operators.TextAnalysis.langidEval(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))).toMap
    def g6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got("en") == (3L, 2L, g6(2.0 / 3.0), 3L, g6(2.0 / 3.0)))
    assert(got("de") == (1L, 1L, 1.0, 2L, 0.5))
    assert(got("es") == (1L, 1L, 1.0, 1L, 1.0))
    assert(got("fr") == (1L, 1L, 1.0, 1L, 1.0))
    // unpredicted truth language: zero recall, zero prediction volume
    assert(got("pt") == (1L, 0L, 0.0, 0L, 0.0))
    assert(got.size == 5)
  }

  test("langidEval: a predicted-only language gets its own row") {
    // no truth label is "fr", but doc 2 predicts fr — the full-outer
    // join must surface its false-positive volume as an (n=0, recall=0)
    // row rather than hide it (ADVICE r11: over-predicted classes
    // outside the truth label set were invisible under the left join)
    val docs = Seq(
      (1L, "the cat is here", "en"),  // → en (hit)
      (2L, "le chien et la", "en"))   // → fr: an en miss, fr false pos
      .toDF("doc_id", "text", "lang")
    val got = operators.TextAnalysis.langidEval(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got("en") == (2L, 1L, 0.5, 1L, 1.0))
    assert(got("fr") == (0L, 0L, 0.0, 1L, 0.0))
    assert(got.size == 2)
  }

  test("langConfusion: cells aggregate to langidEval's truth rows") {
    val docs = Seq(
      (1L, "the cat is here", "en"),
      (2L, "der hund ist da", "de"),
      (3L, "el perro que ladra", "es"),
      (4L, "xyz abc", "en"),
      (5L, "le chien et la", "fr"),
      (6L, "der und mit", "en"),       // → de: off-diagonal cell
      (7L, "the of and", "pt"))        // → en: off-diagonal cell
      .toDF("doc_id", "text", "lang")
    val cells = operators.TextAnalysis.langConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // the off-diagonal confusions langidEval can only report as misses
    assert(cells(("en", "de"))._1 == 1L)
    assert(cells(("pt", "en"))._1 == 1L)
    assert(cells(("pt", "en"))._2 == 1.0) // pt's whole row is the en cell
    // row sums = langidEval's per-truth n; diagonal = its n_correct
    val eval = operators.TextAnalysis.langidEval(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val rowSums = cells.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2._1).sum).toMap
    for ((lang, (n, nCorrect)) <- eval if n > 0) {
      assert(rowSums(lang) == n, s"row sum $lang")
      assert(cells.getOrElse((lang, lang), (0L, 0.0))._1 == nCorrect,
        s"diagonal $lang")
    }
    // row shares sum to ~1 on the DIV grid (each cell floors, so the
    // sum can undershoot by < cells·1e-6 but never overshoot)
    rowSums.keys.foreach { lang =>
      val s = cells.toSeq.filter(_._1._1 == lang).map(_._2._2).sum
      assert(s <= 1.0 + 1e-9 && s > 1.0 - 1e-4, s"$lang shares: $s")
    }
  }

  test("trendingTerms: a planted new term tops the movers, both directions rank") {
    val base = (1 to 30).map(i => (i.toLong, "alpha beta common filler"))
      .toDF("doc_id", "text")
    val cur = (1 to 30).map(i =>
      (i.toLong, "gamma beta common filler")) // alpha→gamma swap
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.trendingTerms(base, cur, minCount = 5)
      .collect()
    val byTok = got.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toMap
    // the vanished and appeared terms are the extreme movers, symmetric
    // log-odds by construction (same counts, opposite direction)
    assert(byTok("gamma") == (0L, 30L,
      math.floor(math.log(31.0 * 121.0 / (1.0 * 91.0)) * 1e6) / 1e6, true))
    assert(byTok("alpha")._4 == false)
    assert(math.abs(byTok("alpha")._3) == math.abs(byTok("gamma")._3) ||
      math.abs(math.abs(byTok("alpha")._3) - math.abs(byTok("gamma")._3)) < 2e-6)
    // unchanged terms sit at ~0
    assert(math.abs(byTok("common")._3) < 0.01)
    // ranking: the two movers come first
    assert(got.take(2).map(_.getString(0)).toSet == Set("alpha", "gamma"))
  }

  test("signalCorrelation: exact-moment r, zero-variance signals stay 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "the the the the the the"),
      (3L, "mixed bag of words and the filler tokens here now"),
      (4L, "zz"),
      (5L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val got = Pipeline.signalCorrelation(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // replay from the published per-doc grids with exact BigInt moments
    val q = operators.TextAnalysis.qualityScores(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(6)).toMap
    val e = operators.TextAnalysis.entropyScores(docs)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(4)))
      .toMap
    def gi(x: Double) = BigInt(math.floor(x * 1e4 + 0.5).toLong)
    val ids = q.keys.toSeq.sorted
    val (a, b, c) = (ids.map(i => gi(q(i))),
      ids.map(i => gi(e(i)._1)), ids.map(i => gi(e(i)._2)))
    def pearson(xs: Seq[BigInt], ys: Seq[BigInt]): Double = {
      val n = BigInt(xs.length)
      val (sx, sy) = (xs.sum, ys.sum)
      val cov = n * xs.zip(ys).map { case (x, y) => x * y }.sum - sx * sy
      val vx = n * xs.map(x => x * x).sum - sx * sx
      val vy = n * ys.map(y => y * y).sum - sy * sy
      if (vx <= 0 || vy <= 0) 0.0
      else math.floor(cov.toDouble /
        math.sqrt(vx.toDouble * vy.toDouble) * 1e4) / 1e4
    }
    assert(got(("quality_score", "char_entropy")) == (5L, pearson(a, b)))
    assert(got(("quality_score", "token_entropy")) == (5L, pearson(a, c)))
    assert(got(("char_entropy", "token_entropy")) == (5L, pearson(b, c)))
    got.values.foreach { case (_, r) => assert(r >= -1.0 && r <= 1.0) }
    // a constant corpus has zero variance everywhere → r = 0 by contract
    val const = (1L to 4L).map(i => (i, "same text every time")).toDF("doc_id", "text")
    Pipeline.signalCorrelation(const).collect().foreach { r =>
      assert(r.getLong(2) == 4L && r.getDouble(3) == 0.0)
    }
  }

  test("vocabOverlap: pairwise vocabulary jaccard, disjoint pairs absent") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "b a", "s1"),    // s1 vocab {a,b,c}
      (3L, "b c d", "s2"),                       // s2 vocab {b,c,d}
      (4L, "x y", "s3"))                         // s3 vocab {x,y}
      .toDF("doc_id", "text", "source")
    val got = operators.TextAnalysis.vocabOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got(("s1", "s1")) == (3L, 3L, 3L, 1.0))
    assert(got(("s2", "s2")) == (3L, 3L, 3L, 1.0))
    assert(got(("s3", "s3")) == (2L, 2L, 2L, 1.0))
    // s1 ∩ s2 = {b, c}: jaccard 2/(3+3-2) = 0.5
    assert(got(("s1", "s2")) == (2L, 3L, 3L, 0.5))
    // zero-overlap pairs emit no row (jaccard 0 implied)
    assert(got.size == 4, s"pairs: ${got.keySet}")
  }

  test("fertility: per-lang token ratios from exact integer sums") {
    val docs = Seq(
      (1L, "ab cd", "en", "s1", 5L),    // ws 2, bpe 2
      (2L, "a1 b!", "en", "s1", 5L),    // ws 2, bpe 4 (a,1,b,!)
      (3L, "", "xx", "s2", 0L))         // empty: all zero, ratios 0.0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.TextAnalysis.fertility(docs)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(got("en") == Seq(2L, 4L, 6L, 10L, 1.5, 10.0 / 6.0))
    assert(got("xx") == Seq(1L, 0L, 0L, 0L, 0.0, 0.0))
  }

  test("sourceKl: sources matching the mix give 0; divergence replays") {
    // KL(s‖corpus) is zero only when the source distribution equals the
    // MIX — three identical sources all land at exactly 0.0
    val same = Seq((1L, "x y z", "s1", ""), (2L, "x y z", "s2", ""),
      (3L, "x y z", "s3", "")).toDF("doc_id", "text", "source", "lang")
    val zeros = operators.TextAnalysis.sourceKl(same)
      .collect().map(r => r.getString(0) -> r.getDouble(2))
    assert(zeros.forall(_._2 == 0.0), s"got ${zeros.toSeq}")
    // a concentrated source diverges; every value replays the floored
    // integer-sum formula exactly
    val docs = Seq(
      (1L, "x y z", "s1", ""), (2L, "x y z", "s2", ""),
      (3L, "q q q", "s3", ""))
      .toDF("doc_id", "text", "source", "lang")
    val got = operators.TextAnalysis.sourceKl(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq("s1", "s2", "s3"))
    def kl(terms: Seq[(Long, Long, Long, Long)]): Double = {
      val s = terms.map { case (cst, ct, ns, n) =>
        math.floor(cst.toDouble * math.log(
          cst.toDouble * n / (ns.toDouble * ct)) * 1e6).toLong
      }.sum
      math.floor(s.toDouble / 1e6 / terms.head._3.toDouble * 1e4) / 1e4
    }
    // s1: x, y, z each c_st=1, c_t=2, n_s=3, n=9 → 3·ln(1.5)-ish terms
    val wantS1 = kl(Seq.fill(3)((1L, 2L, 3L, 9L)))
    // s3: q with c_st=3, c_t=3, n_s=3, n=9 → ln(3)
    val wantS3 = kl(Seq((3L, 3L, 3L, 9L)))
    assert(got.find(_._1 == "s1").get._3 == wantS1, s"got $got")
    assert(got.find(_._1 == "s2").get._3 == wantS1)
    assert(got.find(_._1 == "s3").get._3 == wantS3)
    assert(wantS3 > wantS1 && wantS1 > 0.0)
    assert(got.map(_._2).toSeq == Seq(3L, 3L, 3L))
  }

  test("vocabGrowth: new types credited to first bucket, cumsums exact") {
    // ids 0..9 with buckets = 10 → bucket == doc_id (max 9, cut id*10/10)
    val docs = Seq(
      (0L, "a b"), (1L, "a c"), (2L, "a b c"), (3L, "d"),
      (4L, ""), (5L, "a"), (6L, "e e"), (7L, "a"), (8L, "a"), (9L, "f"))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.vocabGrowth(docs, buckets = 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // bucket 4 (empty doc) contributes no tokens → absent entirely
    assert(!got.contains(4))
    assert(got(0) == ((2L, 2L, 2L, 2L)))   // a, b new
    assert(got(1) == ((2L, 1L, 4L, 3L)))   // c new
    assert(got(2) == ((3L, 0L, 7L, 3L)))   // nothing new
    assert(got(3) == ((1L, 1L, 8L, 4L)))   // d new
    assert(got(6) == ((2L, 1L, 11L, 5L)))  // e new (counted once)
    assert(got(9) == ((1L, 1L, 14L, 6L)))  // f new
    // plan gate: the bucket-join-then-cumsum shape is bounded — no
    // error-severity window finding
    val audit = PlanDoctor.audit(
      operators.TextAnalysis.vocabGrowth(docs, buckets = 10))
    assert(!audit.exists(f => f.severity == "error"), audit.mkString("\n"))
  }

  test("vocabGrowth: an empty corpus gives zero rows, same schema") {
    val docs = Seq((0L, "a b"), (1L, "c")).toDF("doc_id", "text")
    val full = operators.TextAnalysis.vocabGrowth(docs, buckets = 10)
    val empty = operators.TextAnalysis.vocabGrowth(docs.limit(0), buckets = 10)
    assert(empty.collect().isEmpty)
    assert(empty.schema == full.schema)
  }

  test("entropy: uniform text maxes, constant text zeroes, empty is 0") {
    val docs = Seq(
      (1L, "aaaa"),          // one char class → char entropy 0
      (2L, "ab ab ab ab"),   // tokens all equal → token entropy 0
      (3L, ""),              // empty → all zeros
      (4L, "a b c d"))       // 4 distinct tokens → ln(4)
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.entropyScores(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 0.0, 1L, 0.0)))
    assert(got(2L)._4 == 0.0)                  // identical tokens
    assert(got(3L) == ((0L, 0.0, 0L, 0.0)))
    // "a b c d": 7 chars = 4 distinct letters + 3 spaces;
    // token entropy = ln(4) on the 1e-4 grid via the integer-sum replay
    val lnFour = math.floor(math.log(4.0) * 1e4) / 1e4
    assert(got(4L)._4 == lnFour, s"token entropy ${got(4L)._4} != $lnFour")
    assert(got(4L)._3 == 4L)
    // kernel formula cross-check on the char side of doc 4:
    // counts: 4 letters ×1, space ×3, n = 7
    val s = Seq(1L, 1L, 1L, 1L, 3L)
    val sm = s.map(c => math.floor(c * math.log(c.toDouble) * 1e6).toLong).sum
    val h = math.floor((math.log(7.0) - sm / 1e6 / 7.0) * 1e4) / 1e4
    assert(got(4L)._2 == h)
  }

  test("decontaminateSemantic flags embedding-space matches only") {
    val bench = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different benchmark question here")).toDF("doc_id", "text")
    val training = Seq(
      // verbatim copy of bench 0 → cosine 1.0, contaminated
      (100L, "the quick brown fox jumps over the lazy dog"),
      // reordered copy (same bag of tokens) → still cosine 1.0: the
      // paraphrase-shaped contamination n-gram overlap can miss
      (101L, "lazy dog the quick brown fox jumps over the"),
      // unrelated → low cosine, clean
      (102L, "unrelated text about spark physical plans entirely"),
      // token-less after preprocessing → outside the comparable universe
      (103L, "!!! ???")).toDF("doc_id", "text")
    val got = Pipeline.decontaminateSemantic(training, bench)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet == Set(100L, 101L, 102L))
    assert(got(100L)._3 && got(100L)._1 >= 0.999999 && got(100L)._2 == 0L)
    assert(got(101L)._3 && got(101L)._1 >= 0.999999 && got(101L)._2 == 0L)
    assert(!got(102L)._3, s"clean doc flagged: ${got(102L)}")
    // and the exact n-gram pass misses the reorder — the reason this
    // member of the family exists
    val ngram = Pipeline.decontaminate(training, bench, n = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!ngram(101L), "8-gram overlap should miss the token reorder")
  }

  test("packAudit: per-pack mass and doc counts reconcile with packing") {
    val docs = sources.Tables(spark, sfDir).documents
    val packs = Pipeline.packSequences(docs).collect()
    val audit = Pipeline.packAudit(docs).collect()
    val wantMass = packs.groupBy(_.getLong(4))
      .view.mapValues(rs => (rs.length.toLong, rs.map(_.getLong(2)).sum)).toMap
    assert(audit.length == wantMass.size)
    audit.foreach { r =>
      val (nDocs, mass) = wantMass(r.getLong(1))
      assert(r.getLong(2) == nDocs && r.getLong(3) == mass, s"$r")
      assert(r.getDouble(4) ==
        math.floor(mass.toDouble / 2048 * 1e4) / 1e4)
      // pack_id embeds its shard
      assert(r.getLong(1) / 1000000L == r.getLong(0))
    }
  }

  test("gateAgreement: hand-computed kappa — identical, independent and degenerate pairs") {
    // gopher == lm (kappa 1), boiler independent of gopher (kappa 0),
    // windows/decontam constant-true (kappa 0 by guard or marginals)
    val verdicts = Seq(
      (1L, true, true, true, true, true),
      (2L, true, true, false, true, true),
      (3L, false, false, true, true, true),
      (4L, false, false, false, true, true))
      .toDF("doc_id", "keep_gopher", "keep_lm", "keep_boiler",
        "keep_windows", "keep_decontam")
    val got = Pipeline.gateAgreementFrom(verdicts).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.size == 10)
    val gl = got(("gopher", "lm"))
    assert(gl.getLong(2) == 4L && gl.getLong(3) == 4L)
    assert(gl.getDouble(4) == 1.0 && gl.getDouble(5) == 1.0)
    val gb = got(("gopher", "boiler"))
    // n11=1, agree = 2·1 + 4 − 2 − 2 = 2, po = 0.5, pe = (4+4)/16 = 0.5
    assert(gb.getLong(3) == 2L && gb.getDouble(4) == 0.5 &&
      gb.getDouble(5) == 0.0)
    // constant gate vs varying gate: po = pe — chance-level, kappa 0
    val gw = got(("gopher", "windows"))
    assert(gw.getDouble(5) == 0.0)
    // both constant and equal: pe = 1 — degenerate guard emits 0
    val wd = got(("windows", "decontam"))
    assert(wd.getLong(3) == 4L && wd.getDouble(4) == 1.0 &&
      wd.getDouble(5) == 0.0)
  }

  test("gateAgreement is layout-invariant (one exact-moment aggregate)") {
    val verdicts = (1 to 50).map(i =>
      (i.toLong, i % 2 == 0, i % 3 == 0, i % 5 != 0, i % 7 != 0, true))
      .toDF("doc_id", "keep_gopher", "keep_lm", "keep_boiler",
        "keep_windows", "keep_decontam")
    def run(df: org.apache.spark.sql.DataFrame) =
      Pipeline.gateAgreementFrom(df).collect().toSeq
    assert(run(verdicts) == run(verdicts.repartition(13)))
  }
}
