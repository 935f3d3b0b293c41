package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup
    (4L, "completely different text about spark engines here"),
    (5L, "THE  QUICK brown fox jumps over the lazy dog")   // case/ws dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized copies, first wins") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text")
    assert(g.count() == 3)
    val big = g.filter($"n_copies" === 3).first()
    assert(big.getLong(big.fieldIndex("keep_id")) == 1L)
  }

  test("cross-source dup matrix: unordered source pairs, exact counts") {
    val docs = Seq(
      (1L, "crawl_a"), (2L, "crawl_b"), (3L, "crawl_b"),
      (4L, "crawl_c"), (5L, "crawl_a")
    ).toDF("doc_id", "source")
    // near-dup edges: a↔b twice (1-2, 3-5 reversed order), within-a once
    val pairs = Seq((1L, 2L), (3L, 5L), (1L, 5L), (2L, 3L))
      .toDF("a", "b")
    val got = Dedup.crossSourceDupMatrix(docs, "doc_id", "source", pairs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (3,5)=(b,a) and (1,2)=(a,b) both land in the canonical (a,b) cell
    assert(got == Map(
      ("crawl_a", "crawl_b") -> 2L,
      ("crawl_a", "crawl_a") -> 1L,
      ("crawl_b", "crawl_b") -> 1L))
  }

  test("token-frequency Zipf histogram: exact digit buckets, mass adds up") {
    val docs = Seq(
      Tuple1(Seq.fill(12)("common").mkString(" ")), // common ×12 → 2 digits
      Tuple1("common rare1 rare2 mid mid mid")      // mid ×3, hapax ×2
    ).toDF("text")
    val got = graft.ext.CorpusStats.tokenFrequencyHistogram(docs, "text")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 1-digit band: rare1(1), rare2(1), mid(3) → 3 types, 5 occurrences;
    // 2-digit band: common(13) → 1 type, 13 occurrences
    assert(got == Map(1 -> ((3L, 5L)), 2 -> ((1L, 13L))))
    assert(got.values.map(_._2).sum == 18L) // every token counted once
  }

  test("duplicated-n-gram fraction: shared trigrams flag dup docs, " +
    "unique docs score zero, short docs use the whole-text fallback") {
    val docs = Seq(
      (1L, "a b c d e"),            // trigrams: abc bcd cde
      (2L, "a b c d e"),            // exact dup → every trigram shared
      (3L, "a b c x y"),            // shares only "a b c"
      (4L, "p q r s t"),            // all unique
      (5L, "hi")                    // < 3 tokens → whole-text shingle
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedNgramFraction(docs, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))  // all three trigrams also in doc 2
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.3333)))
    assert(got(4L) == ((3L, 0L, 0.0)))
    assert(got(5L) == ((1L, 0L, 0.0)))  // lone whole-text shingle, unshared
    assert(got.size == 5)               // every doc gets a row
  }

  test("minhash signatures: identical docs get identical signatures") {
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", n = 1, k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    // near-dup shares most hash minima
    assert(sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } >= 4)
  }

  test("n-gram assembly: narrow and window strategies emit identical " +
    "results; narrow plan is shuffle-free before the agg") {
    val toks = corpus.select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
    def grams(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.as[(Long, String)].collect().toSeq.sorted
    val narrow = grams(Dedup.assembleNgrams(toks, 3))
    assert(narrow.nonEmpty)
    assert(narrow == grams(Oracles.windowNgrams(toks, 3)))
    // narrow assembly plans no window and no token-stream shuffle: the
    // first exchange is the caller's downstream agg.  AQE off so the
    // executed plan carries literal ShuffleExchangeExec nodes.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.assembleNgrams(toks, 3).queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "narrow shingle assembly must not use a window")
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "narrow shingle assembly must not shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("minhash kernel expression: bit-identical to the exploded " +
    "strategy for n=1 and n=3; kernel plan is shuffle-free") {
    def sigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for (n <- Seq(1, 3)) assert(
      sigs(Dedup.minhashSignatures(corpus, "doc_id", "text", n = n, k = 8)) ==
        sigs(Oracles.explodeMinhashSignatures(corpus, "doc_id", "text", n, 8)),
      s"kernel/explode signature mismatch at n=$n")
    // short-doc fallback (fewer tokens than n) and interpreted eval
    val short = Seq((1L, "ab"), (2L, "ab cd")).toDF("doc_id", "text")
    assert(sigs(Dedup.minhashSignatures(short, "doc_id", "text", n = 3, k = 8))
      == sigs(Oracles.explodeMinhashSignatures(short, "doc_id", "text", 3, 8)))
    // the kernel path is scan → project → filter: zero exchanges
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.minhashSignatures(corpus, "doc_id", "text", n = 3, k = 8)
        .queryExecution.executedPlan
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "kernel minhash must not shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("duplicate clusters: transitive closure to the min id, " +
    "singletons keep their own, diameter > 1 converges") {
    val docsDf = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // a diameter-3 chain (1-2-3-4), a pair (5-6), a singleton (7)
    val pairsDf = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.duplicateClusters(docsDf, "doc_id", pairsDf)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // real pipeline: LSH pairs over the tiny corpus — the exact-dup
    // pair (1,2) collapses, the unrelated doc stays alone
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 1, k = 8, bandRows = 2, threshold = 0.8).select($"a", $"b")
    val clusters = Dedup.duplicateClusters(corpus, "doc_id", lsh)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L)
    assert(clusters(4L) == 4L)
  }

  test("token-set encoding: kernel expression bit-identical to the " +
    "composed HOF form") {
    val docs = Seq((1L, "b a c a b"), (2L, "z"), (3L, ""),
      (4L, "x y z x y z")).toDF("doc_id", "text")
    def enc(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select($"id", $"toks").as[(Long, Seq[Long])].collect().toMap
    val k = enc(Dedup.encodeTokenSets(docs, "doc_id", "text", None))
    assert(k == enc(docs.select($"doc_id".as("id"),
      Oracles.hofTokenSetEncode(TextAnalysis.tokens($"text")).as("toks"))))
    assert(k(1L).length == 3 && k(1L) == k(1L).sorted)
  }

  test("duplicateClusters refuses to return unconverged labels") {
    val docsDf = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(docsDf, "doc_id", chain, maxIter = 1).count()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("cluster keepers: longest member wins, doc_id breaks ties, " +
    "singletons keep themselves") {
    val docsDf = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (5L, 7L))
      .toDF("doc_id", "n_chars")
    // cluster {1,2,3}: 2 and 3 tie on weight 30 → 2 wins; {4} and {5}
    // are singletons
    val pairsDf = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Dedup.clusterKeepers(docsDf, "doc_id", pairsDf, "n_chars")
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      1L -> (1L, 2L, 0), 2L -> (1L, 2L, 1), 3L -> (1L, 2L, 0),
      4L -> (4L, 4L, 1), 5L -> (5L, 5L, 1)))
  }

  test("saveClusters/loadClusters round-trip: persisted labels feed " +
    "clusterKeepersFrom identically to the direct computation") {
    val docsDf = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L))
      .toDF("doc_id", "n_chars")
    val pairsDf = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val clusters = Dedup.duplicateClusters(docsDf, "doc_id", pairsDf)
    dropTableFully("g_clusters")
    Dedup.saveClusters(clusters, "g_clusters", buckets = 4)
    val loaded = Dedup.loadClusters(spark, "g_clusters")
    assert(loaded.as[(Long, Long)].collect().toSet
      == clusters.as[(Long, Long)].collect().toSet)
    val direct = Dedup.clusterKeepers(docsDf, "doc_id", pairsDf, "n_chars")
      .as[(Long, Long, Long, Int)].collect().toSet
    val viaLoaded = Dedup
      .clusterKeepersFrom(docsDf, "doc_id", loaded, "n_chars")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(viaLoaded == direct)
    // a non-cluster table is refused
    val e = intercept[IllegalArgumentException] {
      docsDf.write.mode("overwrite").saveAsTable("g_not_clusters")
      Dedup.loadClusters(spark, "g_not_clusters")
    }
    assert(e.getMessage.contains("not a graft cluster table"))
    Seq("g_clusters", "g_not_clusters").foreach(dropTableFully)
  }

  test("cluster keepers: fractional weights order correctly " +
    "(no silent long truncation)") {
    // 0.9 vs 0.2 vs 0.5 — a long cast truncates all three to 0 and the
    // keeper would fall back to lowest doc_id (doc 1); the double path
    // must pick doc 2
    val docsDf = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5))
      .toDF("doc_id", "score")
    val pairsDf = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val keepers = Dedup.clusterKeepers(docsDf, "doc_id", pairsDf, "score")
      .filter($"is_keeper" === 1).select($"doc_id").as[Long].collect().toSet
    assert(keepers == Set(2L))
  }

  test("lshMatchIndexed: non-numeric doc ids produce a real match_id " +
    "(tiebreak must not negate a string id)") {
    val corpus = Seq(
      ("docA", "the quick brown fox jumps over the lazy dog"),
      ("docB", "an entirely different sentence about cats"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      ("inX", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val ix = Dedup.lshIndex(corpus, "doc_id", "text")
    val m = Dedup.lshMatchIndexed(ix, incoming, "doc_id", "text", 0.8)
      .as[(String, String, Double)].collect()
    assert(m.length == 1)
    assert(m(0)._1 == "inX" && m(0)._2 == "docA" && m(0)._3 == 1.0)
  }

  test("minhash_union: a NULL signature lane fails with a clear error, " +
    "not an NPE") {
    import graft.plans.MinHashUnionAgg.minhashUnion
    val df = Seq(Tuple1(Seq("aa", null.asInstanceOf[String])))
      .toDF("sig")
    val e = intercept[Exception] {
      df.agg(minhashUnion($"sig")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("signature lane 1 is NULL")), e)
  }

  test("minhash union aggregate: elementwise min of member sigs equals " +
    "the signature of the concatenated text; SQL-registered") {
    import graft.plans.MinHashUnionAgg.minhashUnion
    val members = Seq((1L, "red fox"), (2L, "blue fox"), (3L, "red dog"))
      .toDF("doc_id", "text")
    // union of the three token sets == tokens of the concatenation
    val union = Seq((9L, "red fox blue dog")).toDF("doc_id", "text")
    val agg = Dedup.minhashSignatures(members, "doc_id", "text", n = 1, k = 8)
      .agg(minhashUnion($"sig").as("usig"))
      .as[Seq[String]].head()
    val direct = Dedup.minhashSignatures(union, "doc_id", "text", n = 1, k = 8)
      .select($"sig").as[Seq[String]].head()
    assert(agg == direct)
    // SQL surface via GraftExtensions
    Dedup.minhashSignatures(members, "doc_id", "text", n = 1, k = 8)
      .createOrReplaceTempView("__sigs")
    val viaSql = spark.sql("SELECT minhash_union(sig) FROM __sigs")
      .as[Seq[String]].head()
    assert(viaSql == direct)
    // empty input → NULL (built-in aggregate null semantics)
    assert(spark.sql(
      "SELECT minhash_union(sig) FROM __sigs WHERE 1=0").head().isNullAt(0))
  }

  test("stratified sample: deterministic, subset of input, smallest " +
    "stratum fully kept, skewed strata shrink toward the target") {
    val docs = (1 to 300).map(i => (i.toLong, if (i <= 240) "big" else "small"))
      .toDF("doc_id", "lang")
    val kept = graft.ext.CorpusStats
      .stratifiedSample(docs, "doc_id", "lang")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    // reproducible: a second run returns the identical set
    val again = graft.ext.CorpusStats
      .stratifiedSample(docs, "doc_id", "lang")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    assert(kept == again)
    assert(kept.subsetOf((1 to 300).map(i =>
      (i.toLong, if (i <= 240) "big" else "small")).toSet))
    // rate for the smallest stratum is 1.0 → fully kept
    assert(kept.count(_._2 == "small") == 60)
    // the big stratum downsamples toward 60 (binomial around the target)
    val bigKept = kept.count(_._2 == "big")
    assert(bigKept < 120 && bigKept > 20, s"bigKept=$bigKept")
    // explicit per-stratum budget: rate clamps at 1 for small strata,
    // oversized strata shrink toward the budget
    val budgeted = graft.ext.CorpusStats
      .stratifiedSample(docs, "doc_id", "lang", target = Some(120L))
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    assert(budgeted.count(_._2 == "small") == 60) // 60 < 120 → all kept
    val bigBudgeted = budgeted.count(_._2 == "big")
    assert(bigBudgeted > 60 && bigBudgeted < 200, s"bigBudgeted=$bigBudgeted")
  }

  test("rare-token ratio: hapax counted corpus-wide over distinct " +
    "per-doc vocabularies") {
    // corpus DF: shared=3 docs, pair=2, solo1/solo2/solo3 = 1 each
    val docsDf = Seq(
      (1L, "shared pair solo1"),
      (2L, "shared pair"),
      (3L, "shared solo2 solo3 solo3")) // in-doc repeat still hapax
      .toDF("doc_id", "text")
    val got = graft.ext.CorpusStats
      .rareTokenRatio(docsDf, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == (3L, 1L, 1.0 / 3))
    assert(got(2L) == (2L, 0L, 0.0))
    assert(got(3L) == (3L, 2L, 2.0 / 3))
  }

  test("contamination overlap: exact shared-shingle fractions, " +
    "clean docs absent") {
    val train = Seq((1L, "a b c d e f"),     // 5-grams: abcde, bcdef
                    (2L, "q w e r t y u"))   // disjoint from bench
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.contaminationOverlap(train, bench, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(1L -> ((2L, 1L, 0.5))))
  }

  test("source mix: token shares are exact and sum to 1") {
    val docs = Seq(("web", "a b c"), ("web", "d e"), ("books", "f g h i j"))
      .toDF("source", "text")
    val out = graft.ext.CorpusStats.sourceMix(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map("web" -> ((2L, 5L, 0.5)), "books" -> ((1L, 5L, 0.5))))
  }

  test("datasetCard volume leg equals sourceMix exactly (round-20: the " +
    "card derives volumes from the shared (source, token) pass instead " +
    "of a third tokenize scan) — incl. an all-empty-token source") {
    val docs = Seq(("web", "a b c"), ("web", "d e"),
        ("books", "f g h i j"), ("punct", "..."), ("punct", "!!"))
      .toDF("source", "text") // tokenizer yields [] for punct-only text
    val mix = graft.ext.CorpusStats.sourceMix(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val card = graft.ext.CorpusStats
      .datasetCard(docs, "source", "text", vocabSize = 3)
      .select("source", "n_docs", "n_tokens", "tok_share")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // the card inner-joins the divergence/vocab legs, which drop
    // token-free sources — compare on the card's domain, and pin that
    // sourceMix agrees bit-for-bit there
    assert(card.nonEmpty && card.keySet == mix.keySet - "punct")
    card.foreach { case (s, v) => assert(v == mix(s), s"source $s") }
  }

  test("datasetCard keeps NULL-source token mass in the tok_share " +
    "total (round-20 ADVICE: null-safe volume join) — the NULL row " +
    "itself drops out via the card's inner joins, like the oracle's") {
    val docs = Seq(("web", "a b c"), ("books", "d e"),
        (null.asInstanceOf[String], "f g h i j"))
      .toDF("source", "text")
    // sourceMix groups NULL normally: total = 3 + 2 + 5 = 10
    val mix = graft.ext.CorpusStats.sourceMix(docs, "source", "text")
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(mix(Some("web")) == ((1L, 3L, 0.3)) &&
      mix(Some("books")) == ((1L, 2L, 0.2)) &&
      mix(None) == ((1L, 5L, 0.5)), mix)
    val card = graft.ext.CorpusStats
      .datasetCard(docs, "source", "text", vocabSize = 3)
      .select("source", "n_docs", "n_tokens", "tok_share")
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // NULL source absent from the card (inner joins), but its 5 tokens
    // stay in every other source's share denominator
    assert(card.keySet == Set(Some("web"), Some("books")), card)
    assert(card(Some("web")) == mix(Some("web")) &&
      card(Some("books")) == mix(Some("books")), s"card $card mix $mix")
  }

  test("exactDupShare: aggregation-only rewrite equals the join form " +
    "(round-20: no corpus self-join, one fingerprint pass) — cross-" +
    "source copies counted, null sources kept, NULL-text docs dropped " +
    "from both numerator and denominator (round-21: the join form's " +
    "NULL-fp semantics made exact)") {
    val docs = Seq(
      ("web", "same text"), ("books", "same text"), // cross-source dup
      ("web", "unique one"), ("web", "twin"), ("web", "twin"),
      ("books", "unique two"),
      (null.asInstanceOf[String], "null src unique"),
      (null.asInstanceOf[String], "null twin"),
      (null.asInstanceOf[String], "null twin"),
      // NULL text → NULL fingerprint: the join form drops these rows
      // (NULL keys never equi-join), so web's denominator stays 4 and
      // the all-null-text source has NO row at all
      ("web", null.asInstanceOf[String]),
      ("ghost", null.asInstanceOf[String]),
      ("ghost", null.asInstanceOf[String]))
      .toDF("source", "text")
    val got = graft.ext.CorpusStats.exactDupShare(docs, "source", "text")
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    // old join-form ground truth, computed inline
    val fp = docs.select(col("source"),
      graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
    val g = fp.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
    val want = fp.join(g, "fp").groupBy(col("source"))
      .agg(count(lit(1)).as("__docs"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("__dups"))
      .select(col("source"),
        round(col("__dups") / col("__docs"), 6).as("s"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(got == want, s"got $got want $want")
    assert(got(Some("web")) == 0.75 && got(Some("books")) == 0.5 &&
      got(None) == round2(2.0 / 3.0))
    assert(!got.contains(Some("ghost")), s"all-NULL-text source kept: $got")
  }

  private def round2(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("vocab coverage: exact OOV occurrence counts, token-asc " +
    "tiebreak at the frequency cutoff") {
    // corpus freqs: x:4, z:2, y:1 → top-2 vocab = {x, z}; y is OOV
    val docs = Seq(("a", "x x x y"), ("b", "x z z")).toDF("source", "text")
    val got = graft.ext.CorpusStats
      .vocabCoverage(docs, "source", "text", vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map("a" -> ((4L, 1L, 0.25)), "b" -> ((3L, 0L, 0.0))))
    // equal-frequency cutoff: 'a' and 'b' both ×1, vocabSize=1 →
    // token-asc keeps 'a', so exactly the 'b' occurrence is OOV
    val tie = Seq(("s", "a b")).toDF("source", "text")
    val gotTie = graft.ext.CorpusStats
      .vocabCoverage(tie, "source", "text", vocabSize = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(gotTie.toSeq == Seq((2L, 1L, 0.5)))
  }

  test("source JS divergence: zero for identical distributions, " +
    "symmetric closed-form value for disjoint sources, bounded by ln 2") {
    // identical distributions → JS = 0 exactly (p = q for every token)
    val same = Seq(("s1", "a b"), ("s2", "a b")).toDF("source", "text")
    val j0 = graft.ext.CorpusStats.sourceDivergence(same, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(j0 == Map("s1" -> 0.0, "s2" -> 0.0))

    // disjoint equal-mass sources: each has p=1 on its own token,
    // q=0.5 on both → JS = 0.5·ln(4/3) + 0.5·(0.5·ln(2/3) + 0.5·ln 2)
    val expected = BigDecimal(
      0.5 * math.log(4.0 / 3) +
      0.5 * (0.5 * math.log(2.0 / 3) + 0.5 * math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val disj = Seq(("s1", "a"), ("s2", "b")).toDF("source", "text")
    val jd = graft.ext.CorpusStats.sourceDivergence(disj, "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(jd.map(_._1).toSet == Set("s1", "s2"))
    jd.foreach { case (_, n, js) =>
      assert(n == 1L)
      assert(js == expected)
      assert(js > 0 && js < math.log(2.0))
    }
  }

  test("minhash estimate: identical docs score 1.0, disjoint docs 0.0, " +
    "and the k-lane estimate tracks exact Jaccard on real pairs") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma delta"), // = doc 1 → est 1.0
      (3L, "en", "omicron pi rho sigma")    // disjoint from both
    ).toDF("doc_id", "lang", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val est = Dedup.minhashEstimate(docs, "doc_id", "text", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(est((1L, 2L)) == 1.0)
    assert(est((1L, 3L)) == 0.0)

    // on sf0.001's verified near-dup pairs (true J >= 0.8) the 8-lane
    // estimate must concentrate high: mean >= 0.6 (σ ≈ 0.14 at J=0.8)
    val real = Tables.documents(spark, sf0001)
    val exact = Dedup.blockedJaccardPairs(real, "doc_id", "text",
      "lang", threshold = 0.8).select($"a", $"b")
    val ests = Dedup.minhashEstimate(real, "doc_id", "text", exact)
      .select($"est_jaccard").as[Double].collect()
    assert(ests.nonEmpty)
    val mean = ests.sum / ests.length
    info(s"mean 8-lane estimate over ${ests.length} true >=0.8 pairs: $mean")
    assert(mean >= 0.6)
  }

  test("containment pairs: a fully-quoted short doc scores 1.0 where " +
    "Jaccard misses it; unrelated docs never pair") {
    val docs = Seq(
      (1L, "en", "a b c d e f g h i j"),
      (2L, "en", "a b c"),            // subset of 1 → containment 1.0
      (3L, "en", "x y z"),
      (4L, "de", "a b c")             // same text, different block
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.blockedContainmentPairs(docs, "doc_id", "text",
      "lang", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair is invisible to Jaccard at any near-dup threshold
    // (J = 3/10) — containment is a genuinely different lens
    val jac = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
      "lang", threshold = 0.8)
    assert(jac.count() == 0)
  }

  test("containmentFromJaccardPairs: the J/(1+J)·(|A|+|B|) identity " +
    "reproduces the exact containment on every pair both paths score") {
    val docs = Seq(
      (1L, "en", "a b c d e f g h i j"),
      (2L, "en", "a b c d e f g h"),     // J=8/10, containment 1.0
      (3L, "en", "a b c d e f x y"),     // overlaps 1 and 2 partially
      (4L, "en", "k l m n o p q r"),
      (5L, "en", "k l m n o p q z")      // J=7/9 with 4
    ).toDF("doc_id", "lang", "text")
    // all-pairs Jaccard edges (threshold 0 keeps every pair) feed the
    // closed-form derivation; the exact blocked self-join is the truth
    val edges = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
      "lang", threshold = 0.0)
    val derived = Dedup.containmentFromJaccardPairs(docs, "doc_id",
      "text", edges, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val exact = Dedup.blockedContainmentPairs(docs, "doc_id", "text",
      "lang", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(derived.keySet == exact.keySet)
    derived.foreach { case (k, c) =>
      assert(math.abs(c - exact(k)) < 1e-12, s"pair $k: $c vs ${exact(k)}")
    }
    assert(derived((1L, 2L)) == 1.0) // the subset pair survives the lens
  }

  test("globalRank: exact 1..N total-order ranks, independent of the " +
    "partition count, and no (single-task) Window in the physical plan") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", pmod(col("id") * 37, lit(101)))
    val order = Seq(col("v").desc, col("id").asc)
    val want = df.orderBy(order: _*).select("id").as[Long].collect()

    for (parts <- Seq(3, 7, 32)) {
      val ranked = graft.ext.CorpusStats.globalRank(df, order,
        partitions = parts)
      val got = ranked.orderBy("rank").select("id").as[Long].collect()
      assert(got.sameElements(want), s"order mismatch at parts=$parts")
      val Array(lo, hi, distinct) = ranked
        .agg(min("rank"), max("rank"), countDistinct("rank"))
        .first().toSeq.map(_.asInstanceOf[Long]).toArray
      assert((lo, hi, distinct) == ((1L, 1000L, 1000L)))
      assert(!ranked.queryExecution.executedPlan.toString.contains("Window"),
        "globalRank must not plan an unpartitioned window")
    }
  }

  test("globalRank: codegen and rows index strategies agree exactly " +
    "(round-20 optimization: monotonically_increasing_id decode vs the " +
    "mapPartitions Row-encoder path)") {
    val df = spark.range(0, 997).toDF("id") // prime: uneven partitions
      .withColumn("v", pmod(col("id") * 53, lit(89)))
    val order = Seq(col("v").asc, col("id").desc)
    def ranks(ranked: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      ranked.select(col("id"), col("rank")).as[(Long, Long)]
        .collect().sortBy(_._1)
    val codegen =
      ranks(graft.ext.CorpusStats.globalRank(df, order, partitions = 7))
    val rows = ranks(Oracles.globalRankRows(df, order, partitions = 7))
    assert(codegen.sameElements(rows),
      "rank strategies diverged: " +
        codegen.zip(rows).find { case (a, b) => a != b }.toString)
    // and the codegen path is Row-free: no
    // DeserializeToObject/SerializeFromObject in its plan
    val plan = graft.ext.CorpusStats.globalRank(df, order, partitions = 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"),
      "default globalRank path must stay inside codegen (no Row encoder)")
  }

  test("shardAssignments: deterministic, balanced-ish, dense 0..k-1 " +
    "positions per shard, and no single-task Window in the plan") {
    val df = spark.range(0, 1000).toDF("doc_id")
    val got = graft.ext.CorpusStats.shardAssignments(df, "doc_id", 8)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "shardAssignments must not plan a per-shard window")
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 1000)
    // pure function of the id: a re-run and a different partitioning
    // agree exactly
    val again = graft.ext.CorpusStats
      .shardAssignments(df.repartition(7), "doc_id", 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSet == again.toSet)
    // positions are dense 0..count-1 within every shard
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val pos = rs.map(_._3).sorted
      assert(pos.sameElements(0L until rs.length.toLong),
        s"shard $shard positions not dense: ${pos.take(5).mkString(",")}")
    }
    // LCG balance: no shard is pathologically loaded
    val sizes = rows.groupBy(_._2).values.map(_.length)
    assert(sizes.size == 8 && sizes.min > 60 && sizes.max < 190, sizes)
    // within-shard order is the hash order, not id order (it shuffles)
    val firstShard = rows.filter(_._2 == rows.head._2).sortBy(_._3).map(_._1)
    assert(!firstShard.sameElements(firstShard.sorted), "order not shuffled")
  }

  test("interleavedOrder rotates sources round-robin within each shard " +
    "and never plans a window") {
    val df = spark.range(0, 600).toDF("doc_id")
      .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(3))))
    val got = graft.ext.CorpusStats
      .interleavedOrder(df, "doc_id", "source", nShards = 4)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"))
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length == 600)
    rows.groupBy(_._3).foreach { case (shard, rs) =>
      val ordered = rs.sortBy(_._5)
      // dense serving positions
      assert(ordered.map(_._5).sameElements(0L until rs.length.toLong))
      // rounds are non-decreasing along the serving order, and within
      // a round each source appears at most once, in source order
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 < b._4 || (a._4 == b._4 && a._2 < b._2),
          s"shard $shard: rotation order broken at $a -> $b")
      }
      // while every source still has examples, consecutive picks
      // never repeat a source (the interleaving property)
      val minCount = ordered.groupBy(_._2).values.map(_.length).min
      ordered.take(minCount * 3).sliding(2).foreach { case Array(a, b) =>
        assert(a._2 != b._2, s"shard $shard: source run at $a -> $b")
      }
    }
  }

  test("LSH pipeline finds the dup cluster and never fabricates pairs") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 1, k = 8, bandRows = 2, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 5L),
      (2L, 5L), (3L, 5L))))
  }

  test("LSH recall vs exact blocked Jaccard on real documents (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    val exact = Dedup.blockedJaccardPairs(docs, "doc_id", "text", "lang", 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lshAll = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 1, k = 8, bandRows = 2, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val found = exact.count(lshAll.contains)
    assert(exact.nonEmpty)
    val recall = found.toDouble / exact.size
    info(s"LSH recall over blocked-exact pairs: $recall (${exact.size} pairs)")
    assert(recall >= 0.95)
  }

  test("estimate cull (estCull=0.5) is a pure prefilter with >= 0.999 " +
    "recall on real documents (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    def run(cull: Option[Double]): Set[(Long, Long)] =
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 1, k = 8, bandRows = 2, threshold = 0.8, estCull = cull)
        .select("a", "b").as[(Long, Long)].collect().toSet
    val unculled = run(None)
    val culled = run(Some(0.5))
    assert(unculled.nonEmpty)
    // a prefilter may only ever REMOVE pairs — fabrication is a bug
    assert(culled.subsetOf(unculled))
    // at cutoff 0.5 / k=8 the binomial tail says a J=0.8 pair that
    // already shares a band fails with p ≈ 0.0016; measured on this
    // corpus: 11 / 32028 dropped (0.034%).  Pin the order of magnitude.
    val recall = culled.size.toDouble / unculled.size
    info(s"estimate-cull recall: $recall " +
      s"(dropped ${(unculled -- culled).size} of ${unculled.size})")
    assert(recall >= 0.999)
  }

  test("sequence packing: lanes fill to budget, contiguous by id, " +
    "oversize docs get their own pack boundary") {
    val docs = Tables.documents(spark, sf0001)
    val packs = graft.ext.CorpusStats.packAssignments(
      docs, "doc_id", "lang", "text", budget = 2048, shards = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    assert(packs.length == docs.count())
    packs.groupBy(p => (p._2, p._3)).foreach { case (_, lane) =>
      val sorted = lane.sortBy(_._1)
      // pack ids are non-decreasing in id order and start at 0
      assert(sorted.head._5 == 0)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => b._5 >= a._5; case _ => true })
      // each pack's PRECEDING-doc total stays under budget (the doc
      // that crosses the boundary opens the next pack)
      sorted.groupBy(_._5).foreach { case (_, pk) =>
        val withoutLast = pk.sortBy(_._1).dropRight(1).map(_._4).sum
        assert(withoutLast < 2048)
      }
    }
  }

  test("oversize docs (n_tokens > budget) are flagged; they span pack " +
    "boundaries from their running-total position") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "en", "a b c"),                          // 3 tokens
      (2L, "en", Seq.fill(10)("t").mkString(" ")),  // 10 tokens > budget 8
      (3L, "en", "x y")                             // 2 tokens
    ).toDF("doc_id", "lang", "text")
    val got = graft.ext.CorpusStats.packAssignments(
        tiny, "doc_id", "lang", "text", budget = 8, shards = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(4), r.getBoolean(5)))).toMap
    // doc 2 starts in pack 0 (cum-before = 3) and spills past the budget
    // into pack 1's range — flagged so samplers can drop/truncate it
    assert(got(1L) == ((0, false)))
    assert(got(2L) == ((0, true)), "doc over budget must carry the flag")
    assert(got(3L) == ((1, false))) // cum-before = 13 → pack 1
  }

  test("packOffsets: contiguous within-pack token offsets, fill equals " +
    "member-token sum, first doc of every pack starts at 0") {
    val docs = Tables.documents(spark, sf0001)
    val rows = graft.ext.CorpusStats.packOffsets(
      docs, "doc_id", "lang", "text", budget = 2048, shards = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(6), r.getInt(7)))
    assert(rows.length == docs.count())
    rows.groupBy(p => (p._2, p._3, p._5)).foreach { case (_, pk) =>
      val sorted = pk.sortBy(_._1)
      assert(sorted.head._6 == 0, s"first doc offset nonzero: ${sorted.head}")
      // offsets are the running token total of preceding members
      var cum = 0
      sorted.foreach { d =>
        assert(d._6 == cum, s"offset gap at $d (want $cum)")
        cum += d._4
      }
      // fill = total member tokens, identical on every member row
      assert(pk.forall(_._7 == cum), s"fill mismatch in pack $pk")
    }
  }

  test("chunk windows: counts, offsets and clipping match the contract") {
    import spark.implicits._
    val tiny = Seq(
      (1L, Seq.fill(5)("t").mkString(" ")),  // 5 tokens: [0,4) + [2,5)
      (2L, "a b"),                           // under size → one short chunk
      (3L, Seq.fill(4)("t").mkString(" ")),  // exactly size → one chunk
      (4L, Seq.fill(9)("t").mkString(" "))   // 9: starts 0,2,4 (ceil(5/2)+1... )
    ).toDF("doc_id", "text")
    val got = graft.ext.CorpusStats.chunkAssignments(
        tiny, "doc_id", "text", size = 4, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._3, c._4)))
      .toMap
    assert(got(1L) === Seq((0L, 4L), (2L, 3L)))
    assert(got(2L) === Seq((0L, 2L)))
    assert(got(3L) === Seq((0L, 4L)))
    // n=9: nc = ceil((9-4)/2)+1 = 4 → starts 0,2,4,6; last clips to 3
    assert(got(4L) === Seq((0L, 4L), (2L, 4L), (4L, 4L), (6L, 3L)))
    // full coverage: union of [start, start+len) == [0, n)
    val covered = got(4L).flatMap { case (s0, l) => s0 until (s0 + l) }.toSet
    assert(covered === (0L until 9L).toSet)
  }

  test("chunk windows reject zero or oversized stride") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.ext.CorpusStats.chunkAssignments(df, "doc_id", "text", 4, 0)
    }
    intercept[IllegalArgumentException] {
      graft.ext.CorpusStats.chunkAssignments(df, "doc_id", "text", 4, 5)
    }
  }

  test("mixture weights: alpha=1 is proportional sampling; alpha<1 " +
    "flattens toward the small sources") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", Seq.fill(90)("t").mkString(" ")),
      (2L, "s2", Seq.fill(9)("t").mkString(" ")),
      (3L, "s3", "t")
    ).toDF("doc_id", "source", "text")

    val prop = graft.ext.CorpusStats
      .mixtureWeights(docs, "source", "text", alpha = 1.0,
        budgetTokens = 1000L)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(prop("s1") === ((0.9, 900L, 10.0)))
    assert(prop("s2") === ((0.09, 90L, 10.0)))
    assert(prop("s3") === ((0.01, 10L, 10.0))) // α=1 ⇒ equal epochs

    val flat = graft.ext.CorpusStats
      .mixtureWeights(docs, "source", "text", alpha = 0.3,
        budgetTokens = 1000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(flat("s1") < 0.9 && flat("s3") > 0.01,
      s"alpha<1 must compress the spread: $flat")
    assert(math.abs(flat.values.sum - 1.0) < 1e-4)
  }

  test("edit-distance near-dups: exact copies, small edits in, " +
    "unrelated docs out") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // "tok7x37790" has the same md5 nibble high-bit pattern as "tok7",
    // so swapping it preserves the SimHash fingerprint exactly — the
    // pair is caught by construction, at edit distance 6
    val docs = Seq(
      (1L, base),
      (2L, base),                                 // identical → dist 0
      (3L, base.replace("tok7 ", "tok7x37790 ")), // fp-preserving edit
      (4L, (101 to 140).map(i => s"zz$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.simhashEditPairs(docs, "doc_id", "text",
        maxDist = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      .toMap
    assert(got.get((1L, 2L)).contains(0))
    assert(got.get((1L, 3L)).contains(6))
    assert(got.get((2L, 3L)).contains(6))
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("edit-distance near-dups: blocking loses nothing vs brute force " +
    "on a corpus slice") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 150)
    val blocked = graft.ext.Dedup.simhashEditPairs(docs, "doc_id", "text",
        maxDist = 40)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val t = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    val brute = t.as("x").join(t.as("y"),
        col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.len") - col("y.len")) <= 40)
      .filter(levenshtein(col("x.text"), col("y.text"), 40) >= 0)
      .select(col("x.doc_id"), col("y.doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "slice must contain at least one near-dup pair")
    val recall = blocked.intersect(brute).size.toDouble / brute.size
    info(s"simhash-block recall on slice: $recall " +
      s"(${blocked.intersect(brute).size}/${brute.size})")
    assert(recall >= 0.9, s"missed pairs: ${(brute -- blocked).take(5)}")
    assert((blocked -- brute).isEmpty, "verify stage must keep it exact")

    // the narrower 1-nibble blocking is strictly weaker — monotone recall
    val narrow = graft.ext.Dedup.simhashEditPairs(docs, "doc_id", "text",
        maxDist = 40, maskNibbles = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(narrow.subsetOf(blocked))
  }

  test("simhash64 kernel: blocks match a plain-JVM md5 replay, and the " +
    "SQL registration agrees with the Column API") {
    import spark.implicits._
    // independent replay of the bit rule: bit b votes +1 iff bit b%4
    // of hex digit b/4 of md5(token) is set; block j packs 8j..8j+7
    def replay(toks: Seq[String]): Seq[Int] = {
      val counts = new Array[Int](64)
      toks.foreach { t =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        for (b <- 0 until 64) {
          val nib = Integer.parseInt(hex.substring(b / 4, b / 4 + 1), 16)
          counts(b) += (if (((nib >> (b % 4)) & 1) == 1) 1 else -1)
        }
      }
      (0 until 8).map(j => (8 * j until 8 * j + 8)
        .map(b => if (counts(b) > 0) 1 << (b - 8 * j) else 0).sum)
    }
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha"),
      (3L, "x y z x y z"))
    val got = graft.ext.Dedup.simhashFingerprints64(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == replay(text.split(" ").toSeq),
        s"doc $id kernel/replay mismatch")
    }
    assert(got.values.forall(bs => bs.length == 8 &&
      bs.forall(v => v >= 0 && v <= 255)))
    // SQL surface
    docs.toDF("doc_id", "text").createOrReplaceTempView("__sh64")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash_sig64(split(text, ' ')) FROM __sh64")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaSql == got)
  }

  test("64-bit edit-distance near-dups: identical and lightly-edited " +
    "docs in, unrelated out; blocking loses nothing vs brute force") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 150)
    val blocked = graft.ext.Dedup.simhashEditPairs64(docs, "doc_id",
        "text", maxDist = 40)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val t = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    val brute = t.as("x").join(t.as("y"),
        col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.len") - col("y.len")) <= 40)
      .filter(levenshtein(col("x.text"), col("y.text"), 40) >= 0)
      .select(col("x.doc_id"), col("y.doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "slice must contain at least one near-dup pair")
    val recall = blocked.intersect(brute).size.toDouble / brute.size
    info(s"simhash64-block recall on slice: $recall " +
      s"(${blocked.intersect(brute).size}/${brute.size})")
    assert(recall >= 0.9, s"missed pairs: ${(brute -- blocked).take(5)}")
    assert((blocked -- brute).isEmpty, "verify stage must keep it exact")
    // narrower masking is strictly weaker — monotone recall (2-of-8
    // measured 3/7 on this slice; the 4-of-8 default restores parity
    // with the 16-bit variant)
    val narrow = graft.ext.Dedup.simhashEditPairs64(docs, "doc_id",
        "text", maxDist = 40, maskBlocks = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(narrow.subsetOf(blocked))
  }

  test("edit-neardup64 halved12 and combo70 schemes return identical " +
    "pairs (the block-diff restore is exact), auto gates on size") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    def pairs(scheme: String, mask: Int = 4) =
      graft.ext.Dedup.simhashEditPairs64(docs, "doc_id", "text",
          maxDist = 40, maskBlocks = mask, scheme = scheme)
        .select("a", "b", "edit_dist").as[(Long, Long, Int)]
        .collect().toSet
    val h = pairs("halved12")
    val c = pairs("combo70")
    assert(h == c, s"schemes diverge: only-halved=${(h -- c).take(3)} " +
      s"only-combo=${(c -- h).take(3)}")
    assert(h.nonEmpty)
    // equality holds at narrower masks too (halved12 candidates are a
    // superset for any maskBlocks <= 4; the in-join filter trims to
    // the same predicate)
    assert(pairs("halved12", mask = 2) == pairs("combo70", mask = 2))
    // auto = halved12 under the threshold, combo70 above (forced via
    // the conf; output identical either way so only the PLAN differs —
    // assert the dispatch through the blocked key count is overkill,
    // the scheme equality above is the semantic pin)
    val conf = graft.ext.Dedup.EditDup64SchemeThresholdConf
    try {
      spark.conf.set(conf, "1")
      assert(pairs("auto") == c)
      spark.conf.set(conf, "1000000")
      assert(pairs("auto") == c)
    } finally spark.conf.unset(conf)
  }

  test("simhashEditPairsAuto dispatches on corpus size at the measured " +
    "crossover, conf-overridable, and both branches agree on the fixture") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 100)
    // the pure gate pins the switch point exactly
    assert(!graft.ext.Dedup.editDupUse64(99999L,
      graft.ext.Dedup.EditDupCrossoverDefault))
    assert(graft.ext.Dedup.editDupUse64(100000L,
      graft.ext.Dedup.EditDupCrossoverDefault))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val conf = graft.ext.Dedup.EditDupCrossoverConf
    try {
      // The dispatched width is detected from the fingerprint column
      // the plan carries ("blocks" = the 8-block 64-bit scheme, absent
      // from the 16-bit path) — the kernel NAME is no longer visible
      // in the analyzed plan because editVerify localCheckpoints the
      // fingerprint table (the round-11 advice pin), which collapses
      // the kernel call into a LogicalRDD.
      def is64(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.analyzed.toString.contains("blocks#")
      // 100 docs < crossover 10^5 → 16-bit plan (no 64-bit kernel)
      spark.conf.unset(conf)
      val auto16 = graft.ext.Dedup.simhashEditPairsAuto(docs, "doc_id",
        "text", maxDist = 40)
      assert(!is64(auto16))
      assert(pairs(auto16) == pairs(graft.ext.Dedup.simhashEditPairs(
        docs, "doc_id", "text", maxDist = 40)))
      // crossover forced below the corpus → 64-bit plan
      spark.conf.set(conf, "10")
      val auto64 = graft.ext.Dedup.simhashEditPairsAuto(docs, "doc_id",
        "text", maxDist = 40)
      assert(is64(auto64))
      assert(pairs(auto64) == pairs(graft.ext.Dedup.simhashEditPairs64(
        docs, "doc_id", "text", maxDist = 40)))
    } finally spark.conf.unset(conf)
  }

  test("curriculum deciles partition the corpus into near-equal bands " +
    "ordered by score") {
    val q = graft.queries.ExtQueries.qs("x57_curriculum_deciles")
    val rows = q(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0 until 10))
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"uneven deciles: ${sizes.toSeq}")
    // decile 0 holds the highest-entropy docs; bands are ordered and
    // non-overlapping: each decile's max <= the previous decile's min
    rows.sliding(2).foreach { case Array(hi, lo) =>
      assert(lo._3 <= hi._3, s"band overlap: $lo vs $hi")
      ()
    }
  }

  test("group sample is k-per-group, deterministic, and " +
    "partitioning-independent") {
    val docs = Tables.documents(spark, sf0001)
    def run(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      graft.plans.TopKPerKey.topKPerKey(
          df.select(col("doc_id"), col("source"),
            md5(concat(lit("smp:"), col("doc_id"))).as("h")),
          keys = Seq(col("source")),
          order = Seq(col("h").asc, col("doc_id").asc), k = 5)
        .select("doc_id", "source")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run(docs)
    val b = run(docs.repartition(13, col("doc_id")))
    assert(a == b, "sample must not depend on physical partitioning")
    val perGroup = a.groupBy(_._2).view.mapValues(_.size)
    assert(perGroup.values.forall(_ == 5))
  }

  test("globalCumSum equals the single-task window form and is " +
    "partitioning-independent") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars").cast("long").as("v"))
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.ext.CorpusStats.globalCumSum(df,
          Seq(col("v").desc, col("doc_id").asc), "v")
        .select("doc_id", "cum")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(docs)
    val b = run(docs.repartition(17, col("doc_id")))
    assert(a == b, "cumsum must not depend on physical partitioning")
    val w = Window.orderBy(col("v").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = docs.withColumn("cum", sum(col("v")).over(w))
      .select("doc_id", "cum")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == expected)
    // and the plan truly avoids the single-task window
    val plan = graft.ext.CorpusStats.globalCumSum(docs,
        Seq(col("v").desc, col("doc_id").asc), "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
  }

  test("globalCumSum handles SIGNED values: partition totals are the " +
    "last-in-order cum, not the max (sweep-line regression)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // alternating +1/-1 deltas: with many partitions the max-cum within
    // a partition exceeds its net total, which overstated offsets
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 1) 1L else -1L))
    val df = rows.toDF("k", "v")
    val got = graft.ext.CorpusStats.globalCumSum(
        df.repartition(13), Seq(col("k")), "v", partitions = 8)
      .select("k", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("cum", sum(col("v")).over(w))
      .select("k", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("globalCumSum: operator and rows strategies agree exactly, " +
    "and the default plan carries the PartitionPrefixSum operator " +
    "with no Row encoder (round-20 optimization)") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i, (i * 31) % 97 - 48)) // signed
    val df = rows.toDF("k", "v")
    def cums(summed: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      summed.select(col("k"), col("cum")).as[(Long, Long)]
        .collect().sortBy(_._1)
    val op = cums(graft.ext.CorpusStats.globalCumSum(
      df.repartition(11), Seq(col("k")), "v", partitions = 7))
    val rws = cums(Oracles.globalCumSumRows(
      df.repartition(11), Seq(col("k")), "v", partitions = 7))
    assert(op.sameElements(rws),
      "cumsum strategies diverged: " +
        op.zip(rws).find { case (a, b) => a != b }.toString)
    // the final globalCumSum plan is checkpoint-truncated (RDD scan),
    // so pin the attach step's own plan: the custom operator, no
    // exchange above the sort, no Row encoder
    val plan = graft.plans.PartitionPrefixSum.attach(
        df.repartitionByRange(7, col("k"))
          .sortWithinPartitions(col("k")), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionPrefixSum"),
      s"attach must plan the custom operator:\n$plan")
    assert(!plan.contains("SerializeFromObject"),
      "cumsum attach must not round-trip external Rows")
  }

  test("snapshot novelty: copies are not novel, fresh docs are") {
    import spark.implicits._
    // no underscores: the unicode tokenizer treats them as punctuation
    // and "tokA_1" would split into shared tokens across seeds
    val mk = (seed: Int) => (1 to 30)
      .map(i => s"tok${seed}x$i").mkString(" ")
    val snapshot = Seq((1L, "s1", mk(1)), (2L, "s1", mk(2)))
    val incoming = Seq(
      (10L, "s1", mk(1)),   // verbatim copy of doc 1 → matched
      (11L, "s1", mk(99)),  // brand new → novel
      (12L, "s2", mk(2)))   // copy in another source → matched
    val docs = (snapshot ++ incoming).toDF("doc_id", "source", "text")
    val matches = graft.ext.Dedup.lshMatchAgainst(
      docs.filter($"doc_id" < 10), docs.filter($"doc_id" >= 10),
      "doc_id", "text", n = 1, k = 8, bandRows = 2, threshold = 0.8)
    val novel = docs.filter($"doc_id" >= 10)
      .join(matches.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(novel === Set(11L))
  }

  test("percentile trim: cutoffs and kept counts match a hand-computed " +
    "group") {
    import spark.implicits._
    // lengths 10..19: p10 = 10.9, p90 = 18.1 → kept = 11..18 (8 docs)
    val docs = (0 until 10).map(i => (i.toLong, "s", 10L + i))
      .toDF("doc_id", "source", "n_chars")
    val got = graft.ext.CorpusStats.lengthTrimStats(
        docs, "source", "n_chars", 0.1, 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq(("s", 10L, 8L, 10.9, 18.1)))
  }

  test("weighted sample replays the Efraimidis-Spirakis keys computed " +
    "independently in the JVM, and ignores partitioning") {
    val docs = Tables.documents(spark, sf0001)
    def run(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      graft.ext.CorpusStats.weightedSample(df, "doc_id", "source",
          "n_chars", k = 5)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    val a = run(docs)
    assert(a == run(docs.repartition(11, col("doc_id"))))

    // independent replay: same md5 uniform + ln/w key, straight Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, w: Long): Double = {
      val hex = md.digest(s"${id}es".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      BigDecimal(math.log(u) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = docs.select("doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = rows.groupBy(_._2).view.mapValues { grp =>
      grp.map(t => (t._1, key(t._1, t._3)))
        .sortBy { case (id, k0) => (-k0, id) }
        .take(5).map(_._1).sorted.toSeq
    }.toMap
    assert(a == expected)
  }

  test("source concentration: uniform shares give HHI = 1/n, a " +
    "monopoly gives HHI = 1") {
    import spark.implicits._
    val uniform = Seq((1L, "a", "t t"), (2L, "b", "t t"), (3L, "c", "t t"),
        (4L, "d", "t t")).toDF("doc_id", "source", "text")
    val u = graft.ext.CorpusStats
      .sourceConcentration(uniform, "source", "text").collect().head
    assert((u.getLong(0), u.getDouble(1), u.getDouble(2), u.getDouble(3))
      === ((4L, 0.25, 4.0, 0.25)))
    val mono = Seq((1L, "a", "t t t t")).toDF("doc_id", "source", "text")
    val m = graft.ext.CorpusStats
      .sourceConcentration(mono, "source", "text").collect().head
    assert((m.getLong(0), m.getDouble(1), m.getDouble(2), m.getDouble(3))
      === ((1L, 1.0, 1.0, 1.0)))
  }

  test("approx length stats track exact within sketch tolerance") {
    val docs = Tables.documents(spark, sf0001)
    val exact = graft.ext.CorpusStats.lengthStats(docs, "lang", "n_chars")
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = graft.ext.CorpusStats
      .lengthStatsApprox(docs, "lang", "n_chars")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (lang, a) =>
      val e = exact(lang)
      // counts/min/max/mean identical; quantiles within a loose band
      // (interpolated exact vs nearest-rank sketch on small groups)
      assert(a.getLong(a.fieldIndex("n_docs")) == e.getLong(e.fieldIndex("n_docs")))
      assert(a.getLong(a.fieldIndex("min_len")) == e.getLong(e.fieldIndex("min_len")))
      assert(a.getLong(a.fieldIndex("max_len")) == e.getLong(e.fieldIndex("max_len")))
      val p95e = e.getDouble(e.fieldIndex("p95_len"))
      val p95a = a.getDouble(a.fieldIndex("p95_len"))
      assert(math.abs(p95a - p95e) <= math.max(0.05 * p95e, 50.0),
        s"$lang p95 approx=$p95a exact=$p95e")
    }
  }

  test("decontamination: shared n-gram flags the doc, disjoint text passes") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // shares 5-gram
      (2L, "one two three four five six seven"),        // disjoint
      (3L, "alpha beta gamma delta epsilon")            // whole = bench prefix
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val flagged = Dedup.contaminatedDocs(train, bench, "doc_id", "text", 5)
      .as[Long].collect().toSet
    assert(flagged == Set(1L, 3L))
  }

  test("simhashFingerprints equals the expression fold") {
    val docs = Tables.documents(spark, sf0001)
    val fast = Dedup.simhashFingerprints(docs, "doc_id", "text")
    val ref = Oracles.simhashFold(docs, "doc_id", "text")
    assert(fast.except(ref).count() == 0 && ref.except(fast).count() == 0)
  }

  test("simhash: normalized dups identical, near-dups close, distinct far") {
    val fp = Dedup.simhashFingerprints(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fp(1L) == fp(2L))
    def ham(a: Int, b: Int) = Integer.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) <= 6)
    assert(ham(fp(1L), fp(3L)) <= ham(fp(1L), fp(4L)))
  }

  test("mergeClusters(saved, delta) equals the full recompute on " +
    "randomized graph splits") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val allPairs = (1 to 50)
        .map(_ => (rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L))
        .filter(p => p._1 != p._2).distinct
      val docs = (1L to n.toLong).map(Tuple1(_)).toDF("doc_id")
      val pairsDf = allPairs.toDF("a", "b")
      def isNew(id: Long) = id % 4 == 1
      val oldDocs = docs.filter(!col("doc_id").mod(4).equalTo(1))
      val newDocs = docs.filter(col("doc_id").mod(4).equalTo(1))
      val oldPairs = allPairs.filter(p => !isNew(p._1) && !isNew(p._2))
        .toDF("a", "b")
      val delta = allPairs.filter(p => isNew(p._1) || isNew(p._2))
        .toDF("a", "b")
      val saved = Dedup.duplicateClusters(oldDocs, "doc_id", oldPairs)
      val merged =
        Dedup.mergeClusters(saved, newDocs, "doc_id", delta)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.duplicateClusters(docs, "doc_id", pairsDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(merged == full,
        s"trial $trial: merge/recompute diverged: " +
          s"${(merged diff full) ++ (full diff merged)}")
    }
  }

  test("duplicatedSpans localizes maximal cross-doc duplicated runs " +
    "with inclusive token offsets; self-repetition does not count") {
    val boiler = "alpha beta gamma delta epsilon" // 5 tokens, 3 3-grams
    val docs = Seq(
      1L -> s"u1 u2 u3 $boiler u4 u5", // boiler at tokens 3..7
      2L -> s"v1 $boiler v2 v3 v4 v5", // boiler at tokens 1..5
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8", // nothing shared
      // a doc repeating ITS OWN phrase: df is per-doc-distinct, so no span
      4L -> "r1 r2 r3 r1 r2 r3 r1 r2 r3 zz").toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      (1L, 3, 7, 3L, 2L),
      (2L, 1, 5, 3L, 2L)), got)
  }

  test("excising duplicatedSpans kills the corpus' duplicated-ngram " +
    "fraction on planted boilerplate") {
    // globally unique filler tokens per doc; shared boilerplate planted
    // mid-document at varying offsets
    val boiler = (1 to 6).map(i => s"bp$i").mkString(" ")
    val raw = (1 to 10).map { i =>
      val pre = (0 until 5 + (i * 3) % 7).map(j => s"d${i}p$j")
      val post = (0 until 6).map(j => s"d${i}s$j")
      val text =
        if (i <= 7) (pre :+ boiler) ++ post
        else pre ++ post // three docs without boilerplate
      i.toLong -> text.mkString(" ")
    }
    val docs = raw.toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1)
    assert(spans.keySet == (1L to 7L).toSet, spans.keySet)
    // excise [span_start, span_end] token ranges per doc
    val excised = raw.map { case (id, text) =>
      val drop = spans.getOrElse(id, Array())
        .flatMap { case (_, s, e) => s to e }.toSet
      id -> text.split(" ").zipWithIndex
        .collect { case (t, j) if !drop(j) => t }.mkString(" ")
    }.toDF("doc_id", "text")
    val worst = Dedup
      .duplicatedNgramFraction(excised, "doc_id", "text", n = 3)
      .agg(org.apache.spark.sql.functions.max("dup_frac"))
      .first().getDouble(0)
    assert(worst == 0.0,
      s"excised corpus still has duplicated n-grams (max frac $worst)")
  }

  test("winnowing: every w-window holds a selection (the cover " +
    "guarantee), shared runs share fingerprints, density stays ~2/(w+1)") {
    val rnd = new scala.util.Random(11)
    def words(n: Int, tag: String) =
      (0 until n).map(_ => s"$tag${rnd.nextInt(50)}")
    val shared = (0 until 12).map(i => s"run$i") // >= k+w-1 = 7 tokens
    val d1 = (words(30, "a") ++ shared ++ words(20, "b")).mkString(" ")
    val d2 = (words(5, "c") ++ shared ++ words(40, "d")).mkString(" ")
    val docs = Seq(1L -> d1, 2L -> d2).toDF("doc_id", "text")
    val sel = graft.ext.Dedup
      .winnowingFingerprints(docs, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // cover: every window of 4 consecutive k-gram positions (full
    // windows) contains at least one selected position
    for ((id, text) <- Seq(1L -> d1, 2L -> d2)) {
      val m = text.split(" ").length - 3 // #4-grams
      val ps = sel.filter(_._1 == id).map(_._2).toSet
      for (end <- 3 until m)
        assert((end - 3 to end).exists(ps),
          s"doc $id: window ending at $end has no selection")
      // density: expected 2/(w+1) = 0.4; generous upper bound
      assert(ps.size <= m * 0.7, s"doc $id: density ${ps.size.toDouble / m}")
    }
    // the 12-token shared run guarantees >= 1 shared fingerprint hash
    val h1 = sel.filter(_._1 == 1L).map(_._3).toSet
    val h2 = sel.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty, "shared run must share a selected hash")
    // ... and the candidate-pair stage surfaces exactly that pair
    val withClean = docs.unionByName(
      Seq(3L -> words(60, "z").mkString(" ")).toDF("doc_id", "text"))
    val pairs = graft.ext.Dedup
      .winnowedDupCandidates(withClean, "doc_id", "text",
        k = 4, w = 4, minShared = 1)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), pairs)
  }

  test("benchExposure rolls leakage up to the benchmark side, keeping " +
    "clean bench items with zero counts") {
    val bench = Seq(
      100L -> "l1 l2 l3 l4 l5 l6", // 2 shingles, both leaked
      200L -> "z1 z2 z3 z4 z5"     // 1 shingle, clean
    ).toDF("doc_id", "text")
    val train = Seq(
      1L -> "t1 l1 l2 l3 l4 l5 t2", // shares shingle 1
      2L -> "l2 l3 l4 l5 l6 t3",    // shares shingle 2
      3L -> "c1 c2 c3 c4 c5 c6"     // clean
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup
      .benchExposure(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(100L) == ((2L, 2L, 0.5)), got(100L))
    assert(got(200L) == ((1L, 0L, 0.0)), got(200L))
  }

  test("exciseContaminated removes every original benchmark 5-gram " +
    "from the train side and keeps clean text intact") {
    val leak = "l1 l2 l3 l4 l5 l6" // 6 tokens → two 5-grams
    val bench = Seq(100L -> s"b1 b2 $leak b3").toDF("doc_id", "text")
    val train = Seq(
      1L -> s"t1 t2 $leak t3 t4",  // leaked span mid-document
      2L -> "c1 c2 c3 c4 c5 c6 c7" // clean
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup
      .exciseContaminated(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("t1 t2 t3 t4", 10L, 6L)), got(1L))
    assert(got(2L) == (("c1 c2 c3 c4 c5 c6 c7", 7L, 0L)), got(2L))
    // the cleaned corpus carries no contamination (the cover property;
    // seam tokens here are unique, so no seam-created overlap either)
    val cleaned = got.toSeq.map { case (id, (t, _, _)) => (id, t) }
      .toDF("doc_id", "text")
    assert(graft.ext.Dedup
      .contaminatedDocs(cleaned, bench, "doc_id", "text", n = 5)
      .count() == 0)
  }

  test("exciseDuplicatedSpans keep-owner mode cuts non-owner occurrences " +
    "and leaves the min-doc_id owner's text intact") {
    val boiler = "alpha beta gamma delta epsilon"
    val docs = Seq(
      1L -> s"u1 u2 u3 $boiler u4 u5",
      2L -> s"v1 $boiler v2 v3 v4 v5",
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      4L -> "r1 r2 r3 r1 r2 r3 r1 r2 r3 zz").toDF("doc_id", "text")
    val got = Dedup.exciseDuplicatedSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((s"u1 u2 u3 $boiler u4 u5", 10L, 0L)), got(1L))
    assert(got(2L) == (("v1 v2 v3 v4 v5", 10L, 5L)), got(2L))
    assert(got(3L) == (("w1 w2 w3 w4 w5 w6 w7 w8", 8L, 0L)), got(3L))
    // self-repetition is not cross-doc: untouched
    assert(got(4L)._3 == 0L, got(4L))
  }

  test("exciseDuplicatedSpans scrub-everywhere mode drives cross-doc " +
    "dup_frac to zero through the operator itself") {
    val boiler = (1 to 6).map(i => s"bp$i").mkString(" ")
    val raw = (1 to 10).map { i =>
      val pre = (0 until 5 + (i * 3) % 7).map(j => s"d${i}p$j")
      val post = (0 until 6).map(j => s"d${i}s$j")
      val text =
        if (i <= 7) (pre :+ boiler) ++ post
        else pre ++ post
      i.toLong -> text.mkString(" ")
    }
    val docs = raw.toDF("doc_id", "text")
    val cleaned = Dedup.exciseDuplicatedSpans(docs, "doc_id", "text",
      n = 3, keepFirstOwner = false)
    assert(cleaned.count() == 10L)
    val worst = Dedup
      .duplicatedNgramFraction(
        cleaned.select(col("doc_id"), col("text_clean").as("text")),
        "doc_id", "text", n = 3)
      .agg(org.apache.spark.sql.functions.max("dup_frac"))
      .first().getDouble(0)
    assert(worst == 0.0,
      s"operator-excised corpus still has duplicated n-grams ($worst)")
    // keep-owner mode never loses a phrase from the corpus: the planted
    // boilerplate survives in exactly the owner (doc 1)
    val kept = Dedup.exciseDuplicatedSpans(docs, "doc_id", "text", n = 3)
      .filter(col("text_clean").contains(boiler))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), kept)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f)),
    (10L, Array(1.0f, 0.05f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosinePairsKernel enforces its collect caps, single pass") {
    val rowsErr = intercept[IllegalArgumentException] {
      Similarity.cosinePairsKernel(spark, vecs, 0.0, maxCollectRows = 3L)
    }
    assert(rowsErr.getMessage.contains("maxCollectRows"))
    assert(rowsErr.getMessage.contains("cosineNearDupPairsBucketed"))
    val bytesErr = intercept[IllegalArgumentException] {
      Similarity.cosinePairsKernel(spark, vecs, 0.0, maxCollectBytes = 64L)
    }
    assert(bytesErr.getMessage.contains("maxCollectBytes"))
    // within caps it still computes: 5 vecs, all pairs at threshold 0
    assert(Similarity.cosinePairsKernel(spark, vecs, -1.0).count() == 10)
  }

  test("cosine: identical direction → 1, orthogonal → 0") {
    val c = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" === 0)
      .select($"b.vec_id",
        Similarity.cosine($"a.embedding", $"b.embedding").as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(c(0L) - 1.0) < 1e-12)
    assert(math.abs(c(2L)) < 1e-12)
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val top = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs.filter($"vec_id" > 0), k = 2, dim = 3)
      .orderBy("rank").select("c_id").as[Long].collect()
    assert(top.toSeq == Seq(10L, 1L))
  }

  test("LSH ANN: hits are a correctly-scored subset; recall measured (sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    val brute = Similarity.bruteForceTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, c, 10, dim = 64, planes = 4)
    val lshPairs = lsh.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // scores in LSH output equal exact cosine (re-rank is exact)
    val joined = lsh.as("l").join(
      Similarity.bruteForceTopK(q, c, Int.MaxValue).as("b"),
      $"l.q_id" === $"b.q_id" && $"l.c_id" === $"b.c_id")
      .filter(abs($"l.score" - $"b.score") > 1e-9)
    assert(joined.count() == 0)
    val recall = brute.count(lshPairs.contains).toDouble / brute.size
    info(s"LSH ANN recall@10 vs brute force: $recall")
    assert(recall > 0.0)
  }

  test("RP compress-then-rerank ANN: exact scores, strong recall, and " +
    "cand = corpus degenerates to brute force (sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    val nCorpus = c.count().toInt
    val brute = Similarity.bruteForceTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val rp = Similarity.rpTopK(q, c, k = 10, dim = 64, rDim = 16, cand = 30)
    val rpPairs = rp.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // rerank scores are exact full-dim cosine
    val joined = rp.as("r").join(
      Similarity.bruteForceTopK(q, c, Int.MaxValue).as("b"),
      $"r.q_id" === $"b.q_id" && $"r.c_id" === $"b.c_id")
      .filter(abs($"r.score" - $"b.score") > 1e-9)
    assert(joined.count() == 0)
    val recall = brute.count(rpPairs.contains).toDouble / brute.size
    info(s"RP ANN recall@10 (rDim=16, cand=30): $recall")
    // near-random synthetic embeddings are the JL worst case (cosines
    // concentrate near 0, so candidate cuts flip easily) — 0.425
    // measured, on par with IVF nprobe=4 and ~5× the single-table LSH
    assert(recall >= 0.3)
    // widening the candidate cut to the whole corpus recovers brute force
    val full = Similarity.rpTopK(q, c, k = 10, dim = 64, rDim = 16,
      cand = nCorpus)
    assert(full.select("q_id", "c_id").as[(Long, Long)]
      .collect().toSet == brute)
    // pinRerank only changes the physical plan (extra exchange before
    // the rerank), never the ranking
    val pinned = Similarity.rpTopK(q, c, k = 10, dim = 64, rDim = 16,
      cand = 30, pinRerank = true)
    assert(pinned.select("q_id", "c_id").as[(Long, Long)]
      .collect().toSet == rpPairs)
  }

  test("IVF ANN: exact scores, recall grows with nprobe, full probe = " +
    "brute force (sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    val brute = Similarity.bruteForceTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivf4 = Similarity.ivfTopK(q, c, 10, nlist = 16, nprobe = 4)
    // scores in IVF output equal exact cosine (re-rank is exact)
    val all = Similarity.bruteForceTopK(q, c, Int.MaxValue)
    val wrong = ivf4.as("l").join(all.as("b"),
      $"l.q_id" === $"b.q_id" && $"l.c_id" === $"b.c_id")
      .filter(abs($"l.score" - $"b.score") > 1e-9).count()
    assert(wrong == 0)
    val r4 = brute.count(pairs(ivf4).contains).toDouble / brute.size
    val r16 = brute.count(pairs(
      Similarity.ivfTopK(q, c, 10, nlist = 16, nprobe = 16)).contains)
      .toDouble / brute.size
    info(s"IVF recall@10: nprobe=4 → $r4, nprobe=16 (all cells) → $r16")
    assert(r4 > 0.0 && r4 <= r16)
    // probing every cell searches the whole corpus → identical to brute
    assert(r16 == 1.0)
  }

  test("IVF index: build-once probes equal the one-shot call; bucketed " +
    "save/load round-trips parameters and answers") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "score")
        .as[(Long, Long, Double)].collect().toSet
    val oneShot = pairs(Similarity.ivfTopK(q, c, 10, nlist = 16, nprobe = 4))
    val ix = Similarity.ivfIndex(c, dim = 64, nlist = 16)
    assert(pairs(Similarity.ivfTopKIndexed(ix, q, 10, nprobe = 4)) == oneShot)
    Seq("g_ivf_a", "g_ivf_c").foreach(dropTableFully)
    Similarity.saveIvfIndex(ix, "g_ivf_a", "g_ivf_c", buckets = 4)
    val loaded = Similarity.loadIvfIndex(spark, "g_ivf_a", "g_ivf_c")
    assert((loaded.dim, loaded.nlist) == (64, 16))
    assert(pairs(Similarity.ivfTopKIndexed(loaded, q, 10, nprobe = 4))
      == oneShot)
    // the bucketed assignment scan supplies the cell partitioning: the
    // corpus side of a probe join never shuffles
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = loaded.assigned.groupBy($"cell").count()
        .queryExecution.executedPlan
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "bucketed IVF assignment must pre-partition by cell")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("PQ ANN: codewords retrieve themselves at zero distance, L2 " +
    "recall beats chance, bucketed save/load round-trips (sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    // codebook = 16 lowest corpus ids (8..23); a codeword queried
    // against the corpus quantizes losslessly → adist 0, rank 1
    val selfQ = e.filter($"vec_id" === 9)
    val self = Similarity.pqTopK(selfQ, c, topK = 1).first()
    assert((self.getLong(0), self.getLong(1), self.getDouble(2),
      self.getInt(3)) == ((9L, 9L, 0.0, 1)))

    // recall vs EXACT L2 top-10 (PQ approximates L2, not cosine)
    def l2sq(a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"d".asc, $"c_id".asc)
    val exact = q.select($"vec_id".as("q_id"), $"embedding".as("qv"))
      .crossJoin(c.select($"vec_id".as("c_id"), $"embedding".as("cv")))
      .withColumn("d", l2sq($"qv", $"cv"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(q, c, topK = 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    info(s"PQ ADC recall@10 vs exact L2 (m=8, k=16): $recall")
    assert(recall >= 0.2) // 16-codeword toy codebook on random vectors

    // save/load: parameters and answers survive the round trip
    val ix = Similarity.pqIndex(c, dim = 64, m = 8, k = 16)
    Seq("g_pq_codes", "g_pq_cb").foreach(dropTableFully)
    Similarity.savePqIndex(ix, "g_pq_codes", "g_pq_cb", buckets = 4)
    val loaded = Similarity.loadPqIndex(spark, "g_pq_codes", "g_pq_cb")
    assert((loaded.dim, loaded.m, loaded.k) == ((64, 8, 16)))
    assert(Similarity.pqTopKIndexed(loaded, q, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet == pq)
  }

  test("vector_avg aggregate: elementwise means per group") {
    import graft.plans.VectorAvgAgg.vectorAvg
    val df = Seq(
      (1L, Array(1.0, 2.0)), (1L, Array(3.0, 4.0)), (2L, Array(5.0, 6.0)))
      .toDF("g", "v")
    val got = df.groupBy($"g").agg(vectorAvg($"v").as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq(2.0, 3.0) && got(2L) == Seq(5.0, 6.0))
    assert(df.filter($"g" === 99).agg(vectorAvg($"v")).head().isNullAt(0))
  }

  test("k-means-refined IVF: exact scores and full-probe = brute force " +
    "hold for ANY codebook (re-rank is exact)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    val ix = Similarity.ivfIndexRefined(c, dim = 64, nlist = 8, iters = 2)
    val nCells = ix.cent.count().toInt // empty cells may drop (Lloyd's)
    assert(nCells >= 1 && nCells <= 8)
    val full = Similarity.ivfTopKIndexed(ix, q, 10, nprobe = nCells)
    val brute = Similarity.bruteForceTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(full.select("q_id", "c_id").as[(Long, Long)].collect().toSet
      == brute, "probing every cell must equal brute force")
    // returned scores are exact cosines regardless of centroids
    val all = Similarity.bruteForceTopK(q, c, Int.MaxValue)
    val wrong = full.as("l").join(all.as("b"),
      $"l.q_id" === $"b.q_id" && $"l.c_id" === $"b.c_id")
      .filter(abs($"l.score" - $"b.score") > 1e-9).count()
    assert(wrong == 0)
  }

  test("brute-force cosine pairs refuse corpus-sized input with a " +
    "pointer to the bucketed operator") {
    val big = spark.range(1001)
      .select($"id".as("vec_id"),
        array(Seq.fill(8)(lit(1.0f)): _*).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(big, 0.9, dim = 8, maxRows = 1000)
    }
    assert(e.getMessage.contains("cosineNearDupPairsBucketed"))
  }

  test("bucketed cosine near-dup: subset of exact pairs, scores identical, " +
    "distributed plan (sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val exact = Similarity.cosineNearDupPairs(e, threshold = 0.4)
      .select("a", "b", "score").as[(Long, Long, Double)].collect().toSet
    val bucketed = Similarity.cosineNearDupPairsBucketed(e, threshold = 0.4)
    val got = bucketed.select("a", "b", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got.subsetOf(exact), "bucketing must never fabricate or rescore pairs")
    assert(exact.nonEmpty)
    val recall = got.size.toDouble / exact.size
    info(s"bucketed cosine recall vs exact: $recall (${exact.size} pairs)")
    assert(recall > 0.0)
    // 100 TB shape: equi-join only — no cartesian/BNLJ, no broadcast of
    // the corpus, nothing collected to the driver (pure DataFrame plan)
    val plan = bucketed.queryExecution.executedPlan
    val bad = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty, s"non-equi join in bucketed plan: $bad")
    val hints = bucketed.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty)
  }

  test("block-decomposed bucketed cosine equals the single-task-per-bucket " +
    "result (skew path, sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val whole = Similarity.cosineNearDupPairsBucketed(e, 0.4)
      .select("a", "b", "score").as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity.cosineNearDupPairsBucketed(e, 0.4, blocks = 3)
      .select("a", "b", "score").as[(Long, Long, Double)].collect().toSet
    assert(whole.nonEmpty)
    assert(blocked == whole,
      "block decomposition must change task layout only, never results")
  }

  test("semanticContamination flags a planted paraphrase leak (scaled " +
    "copy -> cosine 1.0), ranks it by its best bench match, and " +
    "ignores clean train docs") {
    val train = Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 97 =!= 0)
    // bench: one planted leak (train vec 1 scaled by 3 -> cosine 1.0
    // against its source) plus the natural %97 slice
    val planted = train.filter($"vec_id" === 1)
      .select(lit(900001L).as("vec_id"),
        transform($"embedding", x => x * lit(3.0f)).as("embedding"))
    val bench = Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 97 === 0)
      .select($"vec_id", $"embedding")
      .unionByName(planted)
    val got = Similarity.semanticContamination(train, bench, tau = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // at tau 0.999 only the planted identity survives: train doc 1,
    // matched to the planted bench id, cosine 1.0 on the score grid
    assert(got.toSeq === Seq((1L, 900001L, 1.0)))
    // and at the working tau, every reported train_id is unique (one
    // best bench match per contaminated doc — the drop-list contract)
    val ranked = Similarity.semanticContamination(train, bench, tau = 0.4)
      .collect().map(r => r.getLong(0))
    assert(ranked.distinct.length == ranked.length)
    assert(ranked.contains(1L))
  }

  test("semanticPrune: every vector appears once; dropped iff a lower-id " +
    "cell-mate is within tau (independent replay, sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val res = Similarity.semanticPrune(e, tau = 0.4, nlist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val raw = e.select($"vec_id",
        transform($"embedding", _.cast("double")).as("v"))
      .as[(Long, Array[Double])].collect().toMap
    assert(res.map(_._1).distinct.length == raw.size)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.map(i => x(i) * y(i)).sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cellOf = res.map(r => r._1 -> r._2).toMap
    res.foreach { case (id, cell, dropped, by) =>
      val expectBy = raw.keys.toSeq.sorted
        .filter(o => o < id && cellOf(o) == cell && cos(raw(o), raw(id)) >= 0.4)
        .headOption
      assert(by == expectBy && dropped == expectBy.isDefined,
        s"vec $id: got ($dropped, $by), expected $expectBy")
    }
    info(s"${res.count(_._3)} of ${res.length} vectors pruned")
  }

  test("multi-table LSH strictly dominates single-table recall (sf0.001)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 8)
    val c = e.filter($"vec_id" >= 8)
    val brute = Similarity.bruteForceTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val pairs = df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
      brute.count(pairs.contains).toDouble / brute.size
    }
    // weak angular signal (random vectors, max cos ≈ 0.5) → shallow
    // buckets (4 planes), more tables
    val single = recallOf(Similarity.lshTopK(q, c, 10, planes = 4))
    val multi = recallOf(Similarity.lshTopKMulti(q, c, 10,
      planes = 4, tables = 8))
    info(s"recall single-table=$single multi-table=$multi")
    assert(multi >= single)
    assert(multi >= 0.5, s"multi-table recall too low: $multi")
  }

  test("lshTopKMulti signature stage scans the corpus once, not once " +
    "per table") {
    val e = Tables.embeddings(spark, sf0001)
    val plan = Similarity.lshTopKMulti(e.filter($"vec_id" < 8),
        e.filter($"vec_id" >= 8), 10, planes = 4, tables = 8)
      .queryExecution.optimizedPlan
    // 2 scans feed the candidate join (one per side) + 2 feed the
    // exact re-rank = 4 total; the old shape had tables+1 per side
    val scans = plan.collectLeaves().size
    assert(scans == 4, s"expected 4 relation scans, got $scans:\n$plan")
  }

  test("IVF index lifecycle: extend flags re-uploads of accepted " +
    "batches, extended probe equals a fresh rebuild, save/load " +
    "round-trips") {
    import graft.ext.Similarity
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 131.0 + i * 17.0) * 10).toFloat)
    val corpus = (0L until 20L).map(id => (id, vec(id.toInt)))
      .toDF("vec_id", "embedding")
    // a (near-)basis vector: cosine vs any sin-profile corpus vector
    // is |v_63|/|v| ≈ 0.1 — far below the 0.99 gate
    val novel = Array.tabulate(64)(i => if (i == 63) 10f else 0f)
    val b1 = Seq((100L, novel)).toDF("vec_id", "embedding")
    val b2 = Seq((200L, novel)).toDF("vec_id", "embedding") // re-upload
    val ix0 = Similarity.ivfIndex(corpus, dim = 64, nlist = 16)
    assert(Similarity.ivfGate(ix0, b1, threshold = 0.99).count() == 0,
      "a novel vector must pass the gate before acceptance")
    val ix1 = Similarity.extendIvfIndex(ix0, b1)
    def gate(ix: Similarity.IvfIndex, in: org.apache.spark.sql.DataFrame) =
      Similarity.ivfGate(ix, in, threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    assert(gate(ix1, b2) == Seq((200L, 100L, 1.0)),
      "a re-upload of an accepted batch must be flagged")
    // extension ≡ fresh rebuild whenever the fresh build selects the
    // same centroids (ids 0..15 stay the 16 lowest; 100 doesn't)
    val fresh = Similarity.ivfIndex(corpus.unionByName(b1),
      dim = 64, nlist = 16)
    val queries = (0 until 5).map(k => (300L + k, vec(500 + k)))
      .toDF("vec_id", "embedding")
    def probe(ix: Similarity.IvfIndex) =
      Similarity.ivfTopKIndexed(ix, queries, k = 5)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(probe(ix1) == probe(fresh),
      "extended index must answer like a fresh build of the union")
    // persistence: bucketed round-trip with the extension folded in
    dropTableFully("ivf_asg_t"); dropTableFully("ivf_cent_t")
    Similarity.saveIvfIndex(ix1, "ivf_asg_t", "ivf_cent_t")
    val loaded = Similarity.loadIvfIndex(spark, "ivf_asg_t", "ivf_cent_t")
    assert(gate(loaded, b2) == Seq((200L, 100L, 1.0)))
    dropTableFully("ivf_asg_t"); dropTableFully("ivf_cent_t")
  }

  test("centroidDrift: identical snapshots score 1.0, a rotated label " +
    "scores low, counts ride along") {
    import graft.ext.Similarity
    val a = Seq(
      (0L, 0, Array(1f, 0f, 0f)), (2L, 0, Array(1f, 0.2f, 0f)),
      (4L, 1, Array(0f, 1f, 0f)), (6L, 1, Array(0f, 1f, 0.2f)))
      .toDF("vec_id", "label", "embedding")
    val m = Similarity.centroidDrift(a, a).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(m(0) == 1.0 && m(1) == 1.0, m)
    // rotate label 1 to an orthogonal direction in the "new" snapshot
    val b = Seq(
      (1L, 0, Array(1f, 0.1f, 0f)),
      (5L, 1, Array(1f, 0f, 0f)), (7L, 1, Array(1f, 0f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    val d = Similarity.centroidDrift(a, b).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(d(0)._3 > 0.99, d(0))
    assert(d(1)._3 < 0.2, d(1)) // orthogonal-ish centroid
    assert(d(1)._1 == 2L && d(1)._2 == 2L)
  }

  test("quantizationStats: hand-computed spans, half-up grid snapping, " +
    "exact zero error on representable values") {
    import graft.ext.Similarity
    // dims span [0,2] and [0,4]; levels=3 → grid {0,1,2} and {0,2,4}
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 2f)), (2L, Array(2f, 4f)),
      (3L, Array(0.5f, 3f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizationStats(emb, dim = 2, levels = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(0L) == ((0.0, 0.0)) && got(1L) == ((0.0, 0.0)) &&
      got(2L) == ((0.0, 0.0)), got)
    // 0.5 scales to grid 0.5 → rounds UP to 1 → err −0.5; 3 scales to
    // 1.5 → rounds UP to 2 → deq 4, err −1
    assert(got(3L) == ((0.625, 1.0)), got(3L))
  }

  test("PQ index extension: batch encoded against the frozen codebook, " +
    "extended probe equals a fresh rebuild, save/load keeps the leg") {
    import graft.ext.Similarity
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 131.0 + i * 17.0) * 10).toFloat)
    val corpus = (0L until 20L).map(id => (id, vec(id.toInt)))
      .toDF("vec_id", "embedding")
    val batch = (100L until 104L).map(id => (id, vec(id.toInt)))
      .toDF("vec_id", "embedding")
    val ix0 = Similarity.pqIndex(corpus, dim = 64, m = 8, k = 16)
    val ix1 = Similarity.extendPqIndex(ix0, batch)
    // codebook = the 16 lowest-id vectors' subvectors; union corpus
    // selects the same ids 0..15, so extension ≡ fresh rebuild
    val fresh = Similarity.pqIndex(corpus.unionByName(batch),
      dim = 64, m = 8, k = 16)
    val queries = (0 until 4).map(j => (300L + j, vec(700 + j)))
      .toDF("vec_id", "embedding")
    def probe(ix: Similarity.PqIndex) =
      Similarity.pqTopKIndexed(ix, queries, topK = 5)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(probe(ix1) == probe(fresh),
      "extended PQ index must answer like a fresh build of the union")
    // the new leg survives bucketed persistence
    dropTableFully("pq_codes_t"); dropTableFully("pq_cb_t")
    Similarity.savePqIndex(ix1, "pq_codes_t", "pq_cb_t")
    val loaded = Similarity.loadPqIndex(spark, "pq_codes_t", "pq_cb_t")
    assert(probe(loaded) == probe(fresh))
    dropTableFully("pq_codes_t"); dropTableFully("pq_cb_t")
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("vocabEncode: greedy longest-match against a known encoding, " +
    "UNK for unmatched chars, SQL registration agrees") {
    import graft.plans.VocabEncode.vocabEncode
    val vocab = Seq("a", "b", "c", "ab", "abc", "bc") // index = id
    val got = Seq(Tuple1("abcab ba x abc")).toDF("t")
      .select(vocabEncode($"t", vocab)).as[Seq[Int]].head()
    // "abcab" → abc(4), ab(3); "ba" → b(1), a(0); "x" → UNK; "abc" → 4
    assert(got == Seq(4, 3, 1, 0, -1, 4), got)
    // empty text → empty ids; null → null
    val edge = Seq(Tuple1(""), Tuple1(null: String)).toDF("t")
      .select(vocabEncode($"t", vocab)).collect()
    assert(edge(0).getSeq[Int](0) == Seq.empty && edge(1).isNullAt(0))
    // SQL surface: vocab as a foldable array literal
    val sql = spark.sql(
      "SELECT vocab_encode('abcab', array('a','b','c','ab','abc','bc'))")
      .as[Seq[Int]].head()
    assert(sql == Seq(4, 3), sql)
    intercept[Exception] { spark.sql(
      "SELECT vocab_encode('x', array(t)) FROM (SELECT 'a' AS t)")
      .collect() }
  }

  test("vocabTokenStats counts real-vocab tokens and UNKs per doc " +
    "(mirrors the recursive-CTE oracle on hand-checked rows)") {
    val docs = Seq(1L -> "the cat in the hat", 2L -> "qq zebra then")
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabTokenStats(docs, "doc_id", "text",
      TextAnalysis.toyVocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // doc 1: the|c,at|in|the|h,at = 7 tokens, 0 unk
    // doc 2: q,q | z,e,b,r,a | the,n = 9 tokens, 3 unk (q,q,z)
    assert(got == Set((1L, 7L, 0L), (2L, 9L, 3L)), got)
  }

  test("tokenizer modes: unicode equals simple on plain ASCII, and " +
    "handles NBSP / em-space / punctuation where simple can't") {
    def toksOf(mode: String, s: String): Seq[String] = {
      spark.conf.set("spark.graft.tokenizer", mode)
      try Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.tokens($"t")).as[Seq[String]].head()
      finally spark.conf.unset("spark.graft.tokenizer")
    }
    // equivalence on space-separated ASCII (the oracle-parity corpus)
    val ascii = "the quick brown fox"
    assert(toksOf("unicode", ascii) == toksOf("simple", ascii))
    assert(toksOf("simple", ascii) == Seq("the", "quick", "brown", "fox"))
    // divergence: NBSP, em space, ideographic space, punctuation
    val messy = "héllo, wörld! foo　bar."
    assert(toksOf("unicode", messy)
      == Seq("héllo", "wörld", "foo", "bar"))
    assert(toksOf("simple", messy) == Seq(messy)) // one unbroken blob
    // an explicit separator pins semantics regardless of mode
    spark.conf.set("spark.graft.tokenizer", "unicode")
    try assert(Seq(Tuple1("a|b|c")).toDF("t")
      .select(TextAnalysis.tokens($"t", "\\|")).as[Seq[String]].head()
      == Seq("a", "b", "c"))
    finally spark.conf.unset("spark.graft.tokenizer")
    // the DEFAULT (no conf set) is unicode since round 8: punctuation
    // and CJK/exotic whitespace tokenize sanely out of the box
    spark.conf.unset("spark.graft.tokenizer")
    val byDefault = Seq(Tuple1("日本語　テスト, and more!")).toDF("t")
      .select(TextAnalysis.tokens($"t")).as[Seq[String]].head()
    assert(byDefault == Seq("日本語", "テスト", "and", "more"))
    // punctuation-only / whitespace-only text → NO tokens (the fused
    // single-pass tokenizer yields [], not a lone "" artifact)
    assert(toksOf("unicode", "... !!  ") == Seq.empty)
  }

  test("PII redaction: typed placeholders, counts, ordering contract") {
    import graft.ext.Pii
    val df = Seq(
      (1L, "mail me at jo.doe+x@mail.example.org now"),
      (2L, "server 192.168.0.1 and 8.8.8.8"),
      (3L, "ssn 123-45-6789 phone 555-123-4567 or 555.123.4567"),
      (4L, "clean text no pii 12345")
    ).toDF("doc_id", "text")
    val got = Pii.piiByDoc(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("text_redacted")
      == "mail me at <EMAIL> now")
    assert(got(1L).getAs[Int]("n_email") == 1)
    assert(got(2L).getAs[Int]("n_ipv4") == 2)
    assert(got(2L).getAs[String]("text_redacted") == "server <IP> and <IP>")
    // dotted and dashed phones both hit; the 3-group dotted phone must
    // NOT be eaten by the 4-group IP pattern that runs first
    assert(got(3L).getAs[Int]("n_ssn") == 1)
    assert(got(3L).getAs[Int]("n_phone") == 2)
    assert(got(3L).getAs[String]("text_redacted")
      == "ssn <SSN> phone <PHONE> or <PHONE>")
    assert(!got(4L).getAs[Boolean]("has_pii"))
    assert(got(4L).getAs[String]("text_redacted")
      == "clean text no pii 12345")
  }

  test("HTML cleaning: script content dies, tag content survives, " +
    "entities decode after stripping, whitespace collapses") {
    import graft.ext.TextClean
    val df = Seq(
      (1L, "<div><script>var x = \"<p>\";</script>" +
        "<p>Hello &amp; world</p></div>"),
      (2L, "plain text stays"),
      (3L, "a &lt;tag&gt; literal<!-- note --> here")
    ).toDF("doc_id", "text")
    val got = TextClean.cleanByDoc(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // the script BLOCK vanishes (embedded "<p>" string included); the
    // real <p> tag dies but its content survives; &amp; decodes last
    assert(got(1L).getAs[String]("text_clean") == "Hello & world")
    assert(got(2L).getAs[String]("text_clean") == "plain text stays")
    assert(got(2L).getAs[Double]("removed_frac") == 0.0)
    // decoded &lt;tag&gt; is PROSE, not markup — decode-after-strip
    // means it can never be re-stripped
    assert(got(3L).getAs[String]("text_clean") == "a <tag> literal here")
  }

  test("quality-model scoring: deterministic, bounded, broadcast model " +
    "join (corpus text never shuffles)") {
    import graft.ext.QualityModel
    val docs = Tables.documents(spark, sf0001)
    val scored = QualityModel.scoreDocs(docs, "doc_id", "text")
    val a = scored.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(a.size == docs.count())
    // deterministic across independent plan builds
    val b = QualityModel.scoreDocs(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(a == b)
    // mean of [-1,1) weights stays bounded; keep == score > threshold
    a.values.foreach { case (s, k) =>
      assert(s >= -1.0 && s < 1.0)
      assert(k == (s > 0.0))
    }
    // the model side broadcasts: scoring joins must not shuffle the corpus
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastQueryStage"), plan)
    // an externally-supplied model rides the same path
    val w = QualityModel.hashedWeights(spark, 64, salt = "other-model")
    val alt = QualityModel.scoreWith(docs, "doc_id", "text", w, 64,
      bias = 0.5, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(alt.keySet == a.keySet)
    assert(alt != a.map { case (k, (s, _)) => k -> s })
  }

  test("DSIR weights rank target-vocabulary docs above off-target docs " +
    "and ride a broadcast model join") {
    import graft.ext.QualityModel
    // target vocabulary {t1..t4}, off-target {z1..z4}; raw corpus mixes
    val target = Seq((100L, "t1 t2 t3 t4 t1 t2")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "t1 t2 t3 t4"),    // pure target vocab
      (2L, "t1 t2 z1 z2"),    // half
      (3L, "z1 z2 z3 z4"))    // pure off-target
      .toDF("doc_id", "text")
    val scored = QualityModel.dsirWeights(raw, target, "doc_id", "text")
    val w = scored.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(2L) && w(2L) > w(3L), w)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastQueryStage"), plan)
  }

  test("bigram LM scoring: hand-computed probabilities, unseen floor " +
    "for cross-corpus scoring") {
    import graft.ext.QualityModel
    val train = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // uni: a=3 b=3 c=1; bigrams: "a b"=3, "b a"=1, "b c"=1
    // P(a b)=3/3  P(b a)=1/3  P(b c)=1/3
    val got = QualityModel.lmScoreDocs(train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val third = math.log(1.0 / 3)
    assert(got(1L)._1 == 3)
    assert(got(1L)._2 == BigDecimal(third / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(2L)._1 == 2)
    assert(got(2L)._2 == BigDecimal(third / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a doc full of bigrams the model never saw scores the floor
    val model = QualityModel.bigramModel(train, "text")
    val unseen = QualityModel.lmScoreWith(
      Seq((9L, "x y")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(unseen.toSeq == Seq((9L, 1L, -23.0)))
    // sub-2-token docs carry no bigrams and no row
    assert(QualityModel.lmScoreDocs(
      Seq((1L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
      .count() == 0)
  }

  test("langid picks marker argmax, und when none fire") {
    val df = Seq("the cat is on the mat", "el gato", "zzz qqq").toDF("t")
    val out = df.select(TextAnalysis.langId(TextAnalysis.tokens($"t")))
      .as[String].collect()
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("quality metrics and gate") {
    val toks = TextAnalysis.tokens($"t")
    val r = Seq("the quick brown fox jumps over the lazy dog and runs away")
      .toDF("t")
      .select(TextAnalysis.nTokens(toks),
        TextAnalysis.stopwordRatio(toks),
        TextAnalysis.qualityOk(toks, 10, 100, 0.01)).first()
    assert(r.getInt(0) == 12)
    assert(math.abs(r.getDouble(1) - 3.0 / 12) < 1e-12)
    assert(r.getBoolean(2))
  }

  test("repetition signals: crafted doc fractions are exact") {
    val df = Seq((1L, "a a a b"), (2L, "x y z w v u q r s t")).toDF("id", "t")
    val r = TextAnalysis.repetitionByDoc(df, "id", "t")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    // "a a a b": 4 tokens, top tok "a"×3, 2 distinct, bigrams
    // {"a a"×2, "a b"} → top fraction 2/3
    assert(r(1L) == ((4L, 0.75, 0.5, 2.0 / 3.0)))
    // all-distinct doc: top token 1/10, distinct 1.0, every bigram unique
    assert(r(2L) == ((10L, 0.1, 1.0, 1.0 / 9.0)))
  }

  test("langIdByDoc / qualityByDoc (explode plans) equal the expression folds") {
    val docs = Tables.documents(spark, sf0001)
    val fastLang = TextAnalysis.langIdByDoc(docs, "doc_id", "text")
    val refLang = docs.select($"doc_id",
      TextAnalysis.langId(TextAnalysis.tokens($"text")).as("lang_pred"))
    assert(fastLang.except(refLang).count() == 0 &&
      refLang.except(fastLang).count() == 0)
    val fastQ = TextAnalysis.qualityByDoc(docs, "doc_id", "text", 10, 100000, 0.01)
    val toks = TextAnalysis.tokens($"text")
    val refQ = docs.select($"doc_id",
      TextAnalysis.nTokens(toks).as("n_tokens"),
      TextAnalysis.stopwordRatio(toks).as("stop_ratio"),
      TextAnalysis.meanTokenLen($"text", toks).as("mean_token_len"),
      TextAnalysis.qualityOk(toks, 10, 100000, 0.01).as("quality_ok"))
    assert(fastQ.except(refQ).count() == 0 && refQ.except(fastQ).count() == 0)
  }

  test("tfidf keywords: exact scores, common terms score zero, " +
    "term-asc tiebreak") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry")
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis
      .tfidfKeywords(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getString(1),
        r.getDouble(2)))).toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=2: df(apple)=1, df(cherry)=1 → idf ln2; df(banana)=2 → idf 0
    assert(got((1L, 1)) == (("apple", (ln2 * 2 * 1e6).round / 1e6)))
    assert(got((1L, 2)) == (("banana", 0.0)))
    assert(got((2L, 1)) == (("cherry", ln2)))
    assert(got((2L, 2)) == (("banana", 0.0)))
  }

  test("token counts: whitespace vs BPE-ish") {
    // unicode default: the hyphen is punctuation → foo-bar splits
    val r = Seq("hello world42 foo-bar").toDF("t")
      .select(TextAnalysis.nTokens(TextAnalysis.tokens($"t")),
        TextAnalysis.bpeishCount($"t")).first()
    assert(r.getInt(0) == 4)
    // hello | world | 42 | foo | - | bar
    assert(r.getInt(1) == 6)
    // simple mode keeps the literal-space split
    spark.conf.set("spark.graft.tokenizer", "simple")
    try {
      val s = Seq("hello world42 foo-bar").toDF("t")
        .select(TextAnalysis.nTokens(TextAnalysis.tokens($"t"))).first()
      assert(s.getInt(0) == 3)
    } finally spark.conf.unset("spark.graft.tokenizer")
  }

  test("PMI collocations: the engineered collocation wins, independent " +
    "pairs score ~0, hapax pairs are floored out") {
    // "aa bb" always co-occur (8x); "cc" and "dd" appear together only
    // by chance; "ee ff" appears once (hapax — must be floored)
    val docs = ((1L to 8L).map(i => (i, "aa bb cc")) ++
      Seq((9L, "dd cc ee ff"), (10L, "dd xx"))).toDF("doc_id", "text")
    val got = graft.ext.CorpusStats
      .pmiCollocations(docs, "doc_id", "text", minCount = 5, topK = 5)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // N = 8*2 + 3 + 1 = 20 bigrams; c(aa bb)=8, c(aa)=8, c(bb)=8
    // PMI = ln(8*20 / 64) = ln(2.5)
    assert(got.keySet == Set(("aa", "bb"), ("bb", "cc")))
    assert(got(("aa", "bb"))._1 == 8L)
    assert(got(("aa", "bb"))._2
      == BigDecimal(math.log(2.5)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // "ee ff" (hapax) floored despite maximal PMI
    assert(!got.contains(("ee", "ff")))
  }

  test("char entropy: degenerate text scores 0, uniform alphabets score " +
    "ln(k), natural-ish text lands between") {
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, "abcd"),
      (4L, "the quick brown fox")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == 0.0) // single repeated char: no information
    assert(got(2L) == r6(math.log(2)))
    assert(got(3L) == r6(math.log(4)))
    assert(got(4L) > 2.0 && got(4L) < 3.0) // natural text, 19 chars
  }

  test("rolling hash: equal for equal token streams, shifts change it") {
    val h = Seq("a b c", "a b c", "b c a").toDF("t")
      .select(TextAnalysis.rollingHash(TextAnalysis.tokens($"t")))
      .as[Long].collect()
    assert(h(0) == h(1))
    assert(h(0) != h(2))
  }

  test("fingerprint is whitespace/case invariant") {
    val f = Seq("A  b\tC", "a b c").toDF("t")
      .select(TextAnalysis.fingerprint($"t")).as[String].collect()
    assert(f(0) == f(1))
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("bpeTrain learns the hand-computed merge sequence") {
    // words: aaab ×3, ab ×1
    // r0: (a,a)=6 beats (a,b)=4 → aa;  r1: (a,b)=4 beats (aa,a)=3 → ab;
    // r2: only (aa,ab)=3 → aaab
    val docs = Seq("aaab aaab aaab ab").toDF("text")
    val got = graft.ext.Bpe.bpeTrain(docs, "text", merges = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (0, "a", "a", "aa", 6L),
      (1, "a", "b", "ab", 4L),
      (2, "aa", "ab", "aaab", 3L)), got.toSeq)
  }

  /** Straightforward list-based reference BPE (count adjacent pairs
    * with overlaps; greedy left-to-right merge) — the semantics the
    * doubled-space replace encoding must reproduce. */
  private def refTrain(words: Seq[(String, Long)],
                       k: Int): Seq[(Int, String, String, String, Long)] = {
    var ws = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 0 until k) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for ((syms, c) <- ws; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += c
      val ((a, b), c) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      out += ((r, a, b, a + b, c))
      ws = ws.map { case (syms, cnt) =>
        val buf = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            buf += (a + b); i += 2
          } else { buf += syms(i); i += 1 }
        }
        (buf.result(), cnt)
      }
    }
    out.result()
  }

  test("bpeTrain stops early when pairs run out; empty corpus learns " +
    "nothing") {
    val tiny = Seq("ab").toDF("text") // round 0 merges (a,b); then dry
    val got = graft.ext.Bpe.bpeTrain(tiny, "text", merges = 5)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq((0, "ab", 1L)), got.toSeq)
    val empty = Seq.empty[String].toDF("text")
    assert(graft.ext.Bpe.bpeTrain(empty, "text", merges = 3).count() == 0)
  }

  test("bpeEncodeCounts meters documents with the learned merges") {
    // merges learned: aa, ab, aaab (see the hand-computed test) →
    // 'aaab' encodes to 1 symbol, 'ab' to 1 symbol
    val docs = Seq((1L, "aaab aaab aaab ab")).toDF("doc_id", "text")
    val got = graft.ext.Bpe
      .bpeEncodeCounts(docs, "doc_id", "text", merges = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 4L, 4L)), got.toSeq)
  }

  test("bpeEncodeCounts auto-dispatches past the collect cap (round-21): " +
    "a vocabulary larger than bpeEncodeMaxCollectWords runs the rounds " +
    "path bit-identically instead of throwing") {
    val docs = Seq(
      (1L, "aaab aaab aaab ab"), (2L, "banana bandana"),
      (3L, "the the the band banned a banana"),
      (4L, "zzz"), (5L, "a")).toDF("doc_id", "text")
    // 10 distinct words >> cap=4 → the default local impl must fall
    // back to the distributed rounds path, not require-throw
    def run(cap: Option[Long]): Seq[(Long, Long, Long)] = {
      cap.foreach(c => spark.conf
        .set("spark.graft.bpeEncodeMaxCollectWords", c.toString))
      try graft.ext.Bpe.bpeEncodeCounts(docs, "doc_id", "text", merges = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      finally spark.conf.unset("spark.graft.bpeEncodeMaxCollectWords")
    }
    val uncapped = run(None)
    val pastCap = run(Some(4L))
    assert(pastCap == uncapped, s"pastCap $pastCap vs uncapped $uncapped")
  }

  test("mergeVocab feeds the learned symbols into the VocabEncode " +
    "apply path: trained merges eliminate UNKs and shrink token counts") {
    val docs = Seq((1L, "aaab aaab aaab ab")).toDF("doc_id", "text")
    val vocab = graft.ext.Bpe.mergeVocab(docs, "text", merges = 3)
    assert(vocab.startsWith(Seq("a", "b")), vocab)
    assert(vocab.containsSlice(Seq("aa", "ab", "aaab")), vocab)
    val stats = graft.ext.TextAnalysis
      .vocabTokenStats(docs, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    // greedy longest-match with 'aaab' and 'ab' in vocab: 4 tokens, 0 UNK
    assert(stats == ((4L, 0L)), stats)
  }

  test("bpeTrain matches a list-based reference on seeded random corpora " +
    "(the replace encoding IS greedy left-to-right merging)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val words = (1 to 40).map { _ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => "abc" (rnd.nextInt(3))).mkString
      }.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val want = refTrain(words, k = 6)
      val got = graft.ext.Bpe
        .bpeTrainOnWords(words.toDF("word", "cnt"), merges = 6)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }

  test("bpeTrainLocal == bpeTrainOnWords merge for merge (seeded random " +
    "corpora) and matches the list reference at 64 merges") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val words = (1 to 50).map { _ =>
        (1 to (1 + rnd.nextInt(7))).map(_ => "abcd" (rnd.nextInt(4))).mkString
      }.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("round").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq
      val dist = rowsOf(graft.ext.Bpe
        .bpeTrainOnWords(words.toDF("word", "cnt"), merges = 10))
      val local = rowsOf(graft.ext.Bpe
        .bpeTrainLocalOnWords(words.toDF("word", "cnt"), merges = 10))
      assert(local == dist, s"trial $trial: $local vs $dist")
      // depth: 64 merges against the list-based reference (the
      // distributed trainer at 64 rounds would cost 64 jobs — exactly
      // the ceiling bpeTrainLocal exists to avoid)
      val want64 = refTrain(words, k = 64)
      val got64 = rowsOf(graft.ext.Bpe
        .bpeTrainLocalOnWords(words.toDF("word", "cnt"), merges = 64))
      assert(got64 == want64.take(got64.size) &&
        (got64.size == 64 || got64.size == want64.size),
        s"trial $trial 64-merge mismatch")
    }
  }

  test("bpeTrainLocal trains 64 merges from the documents table in " +
    "<= 8 Spark jobs; the collect cap is enforced") {
    val docs = Tables.documents(spark, sf0001)
    val (got, jobs) = jobsDuring {
      val df = graft.ext.Bpe.bpeTrainLocal(docs, "text", merges = 64)
      df.collect() // LocalRelation result: no corpus job
    }
    assert(got.length == 64, s"expected 64 merges, got ${got.length}")
    assert(jobs <= 8,
      s"driver-side training must not iterate Spark jobs per merge " +
        s"round: $jobs jobs for 64 merges")
    val ex = intercept[IllegalArgumentException] {
      graft.ext.Bpe.bpeTrainLocal(docs, "text", merges = 4,
        maxCollectWords = 10)
    }
    assert(ex.getMessage.contains("bpeTrainOnWords"), ex.getMessage)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("frame sampling fans media out to per-frame rows, narrowly") {
    val docs = Tables.documents(spark, sf0001).limit(10)
    val media = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.sampleFrames(spark, media, everyN = 64)
    val byDoc = frames.collect().groupBy(_.media_id)
    val sizes = docs.select($"doc_id", octet_length($"text").cast("long"))
      .as[(Long, Long)].collect().toMap
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == math.ceil(sizes(id) / 64.0).toInt)
      assert(fs.map(_.frame_no).sorted.toSeq == (0 until fs.length))
      // frame bytes reassemble the payload
      assert(fs.sortBy(_.frame_no).flatMap(_.frame_bytes).length == sizes(id))
    }
    // plan is shuffle-free (narrow fan-out)
    val shuffles = frames.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty)
  }

  test("streaming trigger mapping covers the frequency enum") {
    import graft.streaming.Streams
    assert(graft.model.Schemas.frequencies
      .forall(f => Streams.triggerFor(f) != null))
    intercept[IllegalArgumentException](Streams.triggerFor("fortnight"))
  }

  test("extractFeatures decodes a real PNG and BMP via javax.imageio: " +
    "true width/height, luminance statistics, format-independent hash") {
    import Multimodal.MediaRow
    def imageBytes(fmt: String): Array[Byte] = {
      // 8x5 vertical stripes: even columns white, odd black → mean 127.5
      val img = new java.awt.image.BufferedImage(8, 5,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 8; y <- 0 until 5)
        img.setRGB(x, y, if (x % 2 == 0) 0xffffff else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      MediaRow(1L, "image", imageBytes("png"), 0, 0, 0),
      MediaRow(2L, "image", imageBytes("bmp"), 0, 0, 0)).toDS().toDF()
    val f = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.media_id -> r).toMap
    Seq(1L, 2L).foreach { id =>
      assert(f(id).width == 8 && f(id).height == 5, f(id))
      assert(f(id).n_bytes == 40) // decoded = w*h grayscale bytes
      assert(math.abs(f(id).mean_byte - 127.5) < 0.01, f(id).mean_byte)
    }
    // canonical grayscale form: PNG and BMP of the SAME image hash alike
    assert(f(1L).content_md5 == f(2L).content_md5)
    // corrupt bytes with an image magic fall through to the passthrough
    // instead of killing the task
    val junk = "BMthis is not a real bitmap".getBytes("UTF-8")
    val fallback = Multimodal.extractFeatures(spark,
      Seq(MediaRow(3L, "text", junk, 7, 9, 0)).toDS().toDF()).head()
    assert(fallback.n_bytes == junk.length)
    assert(fallback.width == 7 && fallback.height == 9)
  }

  test("oversize image headers are rejected header-only: no raster " +
    "allocation, observable counter, conf-tunable cap") {
    import Multimodal.{ImageIoCodec, MediaRow}
    // A valid, self-consistent BMP header claiming 20000x20000 (400 MPix)
    // with no pixel data.  The old ImageIO.read-first path would allocate
    // the ~1.6 GB raster before noticing the truncation; the header-only
    // probe must reject it without allocating anything.  (The size fields
    // must be self-consistent: the JDK BMP reader rejects mismatched
    // fileSize/imageSize in readHeader before dimensions are exposed.)
    def le(v: Int, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val (w0, h0) = (20000, 20000)
    val dataSz = (((w0.toLong * 3 + 3) / 4 * 4) * h0).toInt
    val hostile: Array[Byte] =
      Array[Byte]('B', 'M') ++ le(54 + dataSz, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(w0, 4) ++ le(h0, 4) ++ le(1, 2) ++
        le(24, 2) ++ le(0, 4) ++ le(dataSz, 4) ++ le(0, 4) ++ le(0, 4) ++
        le(0, 4) ++ le(0, 4)
    val before = ImageIoCodec.oversizeRejected.get()
    assert(ImageIoCodec.decode(hostile).isEmpty)
    assert(ImageIoCodec.oversizeRejected.get() == before + 1,
      "oversize drop must be counted, not silent")
    // the cap is per-call tunable: a real 8x5 PNG passes the default
    // cap and fails a cap of 1 pixel
    val img = new java.awt.image.BufferedImage(8, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(ImageIoCodec.decode(png).isDefined)
    assert(ImageIoCodec.decode(png, maxPixels = 1L).isEmpty)
    // spark.graft.maxDecodePixels reaches the pipeline: with the cap at
    // 1 the PNG falls back to the passthrough (encoded-byte features)
    spark.conf.set(ImageIoCodec.maxPixelsConf, "1")
    try {
      val f = Multimodal.extractFeatures(spark,
        Seq(MediaRow(9L, "image", png, 3, 4, 0)).toDS().toDF()).head()
      assert(f.n_bytes == png.length && f.width == 3 && f.height == 4)
    } finally spark.conf.unset(ImageIoCodec.maxPixelsConf)
    val f2 = Multimodal.extractFeatures(spark,
      Seq(MediaRow(9L, "image", png, 3, 4, 0)).toDS().toDF()).head()
    assert(f2.n_bytes == 40 && f2.width == 8 && f2.height == 5)
  }

  test("binary payload plumbing: features computed per partition") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(spark, media, frameEvery = 64)
    val got = feats.collect().map(f => f.media_id -> f).toMap
    val expected = docs.select($"doc_id", md5($"text"),
      octet_length($"text").cast("long")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(got.size == 50)
    expected.foreach { case (id, (h, n)) =>
      assert(got(id).content_md5 == h)
      assert(got(id).n_bytes == n)
      assert(got(id).frames_sampled == math.ceil(n / 64.0).toInt)
      assert(got(id).mean_byte > 0)
    }
  }

  /** Renders f(u,v) ∈ [0,1]² → [0,255] at the given resolution — the
    * same continuous image sampled at any size, so resize robustness is
    * testable without an image-scaling library. */
  private def render(w: Int, h: Int)(f: (Double, Double) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val g = f((x + 0.5) / w, (y + 0.5) / h) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    bos.toByteArray
  }

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dHash64 is perceptual: stable across format and resolution, " +
    "local under small edits, far for different images") {
    import Multimodal.ImageIoCodec
    def fp(png: Array[Byte]): Long = {
      val d = ImageIoCodec.decode(png).get
      Multimodal.dHash64(d.gray, d.width, d.height)
    }
    // a photo-like scene: diagonal gradient + a bright blob
    def scene(u: Double, v: Double): Int =
      (u * 160 + v * 60 +
        (if ((u - 0.3) * (u - 0.3) + (v - 0.4) * (v - 0.4) < 0.04) 80
         else 0)).toInt.min(255)
    val base = fp(render(63, 41)(scene))
    // same scene, different resolution (and non-divisible grid sizes)
    assert(ham(base, fp(render(126, 82)(scene))) <= 6,
      "resize must move only a few bits")
    assert(ham(base, fp(render(90, 60)(scene))) <= 6)
    // brightness shift: dHash compares ADJACENT cells, so a uniform
    // +40 offset leaves every comparison unchanged
    assert(ham(base, fp(render(63, 41)((u, v) =>
      (scene(u, v) + 40).min(255)))) <= 2)
    // a small local edit (blob nudged slightly) stays near
    def edited(u: Double, v: Double): Int =
      (u * 160 + v * 60 +
        (if ((u - 0.33) * (u - 0.33) + (v - 0.4) * (v - 0.4) < 0.04) 80
         else 0)).toInt.min(255)
    assert(ham(base, fp(render(63, 41)(edited))) <= 4)
    // a genuinely different image is far
    def other(u: Double, v: Double): Int =
      (math.sin(u * 31) * 120 + math.cos(v * 23) * 120 + 10).toInt.max(0).min(255)
    assert(ham(base, fp(render(63, 41)(other))) >= 16)
  }

  test("nearDupPairs finds planted image near-dups via the real decode " +
    "path and nothing else; banded plan equals all-pairs") {
    import Multimodal.MediaRow
    // 12 distinct scenes + 3 perturbed copies (ids +100)
    def scene(k: Int)(u: Double, v: Double): Int =
      (math.sin(u * (7 + 3 * k)) * 110 + math.cos(v * (5 + 2 * k)) * 110 +
        k * 9).toInt.max(0).min(255)
    def tweak(k: Int)(u: Double, v: Double): Int =
      (scene(k)(u, v) + (if ((u - 0.5).abs < 0.02 && (v - 0.5).abs < 0.02)
        25 else 0)).min(255)
    val originals = (0 until 12).map(k =>
      MediaRow(k.toLong, "image", render(64, 48)(scene(k)), 0, 0, 0))
    val copies = Seq(1, 4, 7).map(k =>
      MediaRow(k + 100L, "image", render(64, 48)(tweak(k)), 0, 0, 0))
    val media = (originals ++ copies).toDS().toDF()
    val pairs = Multimodal.nearDupPairs(spark, media, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(Seq(1, 4, 7).forall(k => found.contains((k.toLong, k + 100L))),
      s"planted near-dups must be recalled: $found")
    // the banded candidate set loses nothing vs brute force at ham<=4
    val fps = Multimodal.fingerprints(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- fps.keys; b <- fps.keys if a < b
      if ham(fps(a), fps(b)) <= 4
    } yield (a, b)).toSet
    assert(found == brute, s"banded=$found brute=$brute")
    // guarantee precondition is enforced
    intercept[IllegalArgumentException](
      Multimodal.nearDupPairs(spark, media, maxDist = 5, maskBlocks = 4))
  }

  test("frameSetNearDup: trimmed copies surface with high Jaccard, " +
    "unrelated media don't, dfCap drops ubiquitous frames from pairing") {
    import Multimodal.MediaRow
    val rnd = new scala.util.Random(7)
    def blob(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); rnd.nextBytes(b); b
    }
    val full = blob(640) // 10 frames at everyN=64
    val trimmed = full.take(512) // 8 frames, all shared → J = 8/10
    val media = Seq(
      MediaRow(1L, "video", full, 0, 0, 0),
      MediaRow(2L, "video", trimmed, 0, 0, 0),
      MediaRow(3L, "video", blob(640), 0, 0, 0)).toDS().toDF()
    val pairs = Multimodal.frameSetNearDup(spark, media, everyN = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    // nothing capped → capped_frames = 0 and the upper bound collapses
    // onto the reported lower bound
    assert(pairs.toSeq == Seq((1L, 2L, 8L, 0.8, 0L, 0.8)), pairs.toSeq)
    // a frame present in EVERY media (shared intro card) is dropped
    // from pairing by dfCap, and set sizes still count it
    val intro = blob(64)
    val withIntro = Seq(
      MediaRow(1L, "video", intro ++ full, 0, 0, 0),
      MediaRow(2L, "video", intro ++ blob(640), 0, 0, 0),
      MediaRow(3L, "video", intro ++ blob(640), 0, 0, 0)).toDS().toDF()
    val capped = Multimodal.frameSetNearDup(spark, withIntro,
      everyN = 64, minJaccard = 0.0, dfCap = 2)
    assert(capped.count() == 0,
      "pairs sharing only a dfCap-ubiquitous frame must not pair")
    // the cap bias is SURFACED: media 1/2 share the intro (capped,
    // df=3 > dfCap=2) plus 8 rare frames of `full`.  Reported jaccard
    // is the lower bound 8/(11+11-8); capped_frames = min(1,1) = 1 and
    // jaccard_ub = 9/(22-8-1) = the true-overlap upper bound, which
    // here is EXACT because the one capped frame is genuinely shared.
    val withIntro2 = Seq(
      MediaRow(1L, "video", intro ++ full, 0, 0, 0),
      MediaRow(2L, "video", intro ++ trimmed ++ blob(128), 0, 0, 0),
      MediaRow(3L, "video", intro ++ blob(640), 0, 0, 0)).toDS().toDF()
    val surfaced = Multimodal.frameSetNearDup(spark, withIntro2,
      everyN = 64, minJaccard = 0.3, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    val trueJ = 9.0 / 13.0 // 9 shared incl. intro, union 13
    assert(surfaced.toSeq == Seq((1L, 2L, 8L,
      math.rint(8.0 / 14.0 * 1e4) / 1e4, 1L,
      math.rint(9.0 / 13.0 * 1e4) / 1e4)), surfaced.toSeq)
    // bounds are rounded to 4 decimals, so bracket up to rounding slack
    assert(surfaced.head._4 <= trueJ + 5e-5 &&
      trueJ <= surfaced.head._6 + 5e-5,
      "reported bounds must bracket the true Jaccard")
  }

  test("frameSetNearDup on REAL multi-frame media: animated GIFs decode " +
    "to per-frame rows via ImageIO, a trimmed animation pairs with its " +
    "original, an unrelated one does not") {
    import Multimodal.MediaRow
    def frame(k: Int): java.awt.image.BufferedImage = {
      // 8x8, row (k % 8) white on black; frames past 8 add a white
      // column so every k yields a distinct pattern
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 8) img.setRGB(x, k % 8, 0xffffff)
      if (k >= 8) for (y <- 0 until 8) img.setRGB(7, y, 0xffffff)
      img
    }
    def animatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f => writer.writeToSequence(
        new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence()
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    val fullFrames = (0 until 10).map(frame)
    val full = animatedGif(fullFrames)
    val trimmed = animatedGif(fullFrames.take(8)) // re-muxed trim
    // k = 10..15: white-column variants of rows 2..7 — disjoint from
    // full's frame set (rows 0..7 plain, rows 0..1 with column)
    val other = animatedGif((10 until 16).map(frame))
    // real decode: 10 actual animation frames, not byte chops of the
    // container — and each frame is the 64-byte 8x8 grayscale raster
    val fx = Multimodal.frameHexes(spark,
      Seq(MediaRow(1L, "video", full, 0, 0, 0)).toDS().toDF(), everyN = 64)
      .collect().map(_.getString(1))
    assert(fx.length == 10, s"expected 10 real frames, got ${fx.length}")
    assert(fx.forall(_.length == 128), "frame = 8x8 gray raster hex")
    assert(fx.distinct.length == 10, "distinct patterns, distinct frames")
    val media = Seq(
      MediaRow(1L, "video", full, 0, 0, 0),
      MediaRow(2L, "video", trimmed, 0, 0, 0),
      MediaRow(3L, "video", other, 0, 0, 0)).toDS().toDF()
    val pairs = Multimodal.frameSetNearDup(spark, media, everyN = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // frame SETS: trim shares its 8 frames with the 10-frame original
    assert(pairs.toSeq == Seq((1L, 2L, 8L, 0.8)), pairs.toSeq)
  }

  test("decodeFrames guards: total pixel budget rejects a frame bomb " +
    "to the passthrough; single-frame images keep chop semantics") {
    import Multimodal.MediaRow
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val oneFrame = bos.toByteArray
    // single-frame GIF: decodeFrames sees one frame; frameHexes chops
    // the 64-byte raster at everyN = 16 → 4 pseudo-frames (unchanged
    // single-image semantics)
    assert(Multimodal.ImageIoCodec.decodeFrames(oneFrame).get.size == 1)
    val chopped = Multimodal.frameHexes(spark,
      Seq(MediaRow(1L, "image", oneFrame, 0, 0, 0)).toDS().toDF(),
      everyN = 16).count()
    assert(chopped == 4, s"expected 4 chopped pseudo-frames, got $chopped")
    // budget: 64 px/frame, cap at 100 px total → second frame overruns
    assert(Multimodal.ImageIoCodec.decodeFrames(oneFrame,
      maxPixels = 100).isDefined)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos2 = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos2)
    writer.setOutput(ios); writer.prepareWriteSequence(null)
    (0 until 3).foreach(_ => writer.writeToSequence(
      new javax.imageio.IIOImage(img, null, null), null))
    writer.endWriteSequence(); ios.close(); writer.dispose()
    assert(Multimodal.ImageIoCodec.decodeFrames(bos2.toByteArray,
      maxPixels = 100).isEmpty, "3x64 px must overrun a 100 px budget")
  }

  test("media fp index lifecycle: extend flags re-uploads of accepted " +
    "batches, save/load round-trips with the band scheme pinned") {
    import Multimodal.MediaRow
    def img(k: Int): Array[Byte] = render(64, 48) { (u, v) =>
      (math.sin(u * (7 + 3 * k)) * 110 + math.cos(v * (5 + 2 * k)) * 110 +
        k * 9).toInt.max(0).min(255)
    }
    val corpus = (0 until 6).map(k =>
      MediaRow(k.toLong, "image", img(k), 0, 0, 0)).toDS().toDF()
    // a different function family from the corpus scenes, so the fresh
    // upload matches nothing until it is itself accepted
    val novel = render(64, 48) { (u, v) =>
      (u * 200 + v * 40 + (if (u > 0.7) 15 else -15)).toInt.max(0).min(255)
    }
    val batch1 = Seq(MediaRow(100L, "image", novel, 0, 0, 0)).toDS().toDF()
    // a re-upload of batch1's image arrives later
    val batch2 = Seq(MediaRow(200L, "image", novel, 0, 0, 0)).toDS().toDF()
    val ix0 = Multimodal.fpIndex(spark, corpus)
    assert(Multimodal.matchIndexed(ix0, spark, batch1).count() == 0)
    val ix1 = Multimodal.extendFpIndex(ix0, spark, batch1)
    val m = Multimodal.matchIndexed(ix1, spark, batch2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(m.toSeq == Seq((200L, 100L, 0)),
      s"re-upload must match the accepted batch: ${m.toSeq}")
    // persistence: bucketed table round-trip, same answer
    spark.sql("DROP TABLE IF EXISTS fp_ix_test")
    Multimodal.saveFpIndex(ix1, "fp_ix_test")
    val reopened = Multimodal.loadFpIndex(spark, "fp_ix_test")
    assert(reopened.maskBlocks == ix1.maskBlocks)
    val m2 = Multimodal.matchIndexed(reopened, spark, batch2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(m2.toSeq == m.toSeq)
    spark.sql("DROP TABLE IF EXISTS fp_ix_test")
  }

  test("byteGridDHash64: payload-deterministic, single-byte edits are " +
    "local, length changes re-grid") {
    val text = ("the quick brown fox jumps over the lazy dog " * 6).trim
    val b = text.getBytes("UTF-8")
    val base = Multimodal.byteGridDHash64(b)
    assert(base == Multimodal.byteGridDHash64(text.getBytes("UTF-8")))
    // one in-place byte edit perturbs one cell → at most 2 bits
    val edit = b.clone(); edit(10) = 'Z'.toByte
    assert(ham(base, Multimodal.byteGridDHash64(edit)) <= 2)
    // sub-72-byte payloads are well-defined (empty cells count 0)
    assert(Multimodal.byteGridDHash64("tiny".getBytes("UTF-8")) ==
      Multimodal.byteGridDHash64("tiny".getBytes("UTF-8")))
  }

  test("every incremental ingest-gate index auto-compacts its union " +
    "chain (the Indexes discipline): 20+ extends keep plan depth " +
    "bounded and the key sets equal a fresh build") {
    import graft.ext.{Dedup, Indexes, Multimodal}
    def leaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collectLeaves().size
    def docBatch(i: Int) = (0 until 3).map { j =>
      (i * 10L + j, s"batch $i doc $j tok${i % 9} tok${j} " +
        s"alpha beta gamma delta run$i word$j")
    }.toDF("doc_id", "text")
    // LSH index: bands AND enc both stay bounded
    var lsh = Dedup.lshIndex(docBatch(0), "doc_id", "text",
      n = 2, k = 8, bandRows = 4)
    (1 to 20).foreach { i =>
      lsh = Dedup.extendLshIndex(lsh, docBatch(i), "doc_id", "text") }
    assert(leaves(lsh.bands) <= Indexes.CompactLegs,
      s"lsh bands depth ${leaves(lsh.bands)}")
    assert(leaves(lsh.enc) <= Indexes.CompactLegs)
    val lshFresh = Dedup.lshIndex(
      (0 to 20).map(docBatch).reduce(_ unionByName _),
      "doc_id", "text", n = 2, k = 8, bandRows = 4)
    assert(lsh.bands.select("band_key", "ex_id").collect().map(_.toString)
      .sorted.toSeq ===
      lshFresh.bands.select("band_key", "ex_id").collect()
        .map(_.toString).sorted.toSeq)
    // winnow index
    var win = Dedup.winnowIndex(docBatch(0), "doc_id", "text",
      k = 3, w = 4)
    (1 to 20).foreach { i =>
      win = Dedup.extendWinnowIndex(win, docBatch(i), "doc_id", "text") }
    assert(leaves(win.sel) <= Indexes.CompactLegs,
      s"winnow depth ${leaves(win.sel)}")
    // media fp index
    def mediaBatch(i: Int) = Multimodal.mediaFromDocuments(docBatch(i))
    var fp = Multimodal.fpIndex(spark, mediaBatch(0))
    (1 to 20).foreach { i =>
      fp = Multimodal.extendFpIndex(fp, spark, mediaBatch(i)) }
    assert(leaves(fp.blocked) <= Indexes.CompactLegs,
      s"fp depth ${leaves(fp.blocked)}")
    val fpFresh = Multimodal.fpIndex(spark,
      Multimodal.mediaFromDocuments(
        (0 to 20).map(docBatch).reduce(_ unionByName _)))
    assert(fp.blocked.select("ex_id").distinct().collect().map(_.getLong(0))
      .sorted.toSeq ===
      fpFresh.blocked.select("ex_id").distinct().collect()
        .map(_.getLong(0)).sorted.toSeq)
  }
}
