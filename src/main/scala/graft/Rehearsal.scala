package graft
import graft.tools.{Json, LocalSession}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Repeatable scale-rehearsal gate (round-9 verdict item #3, made a
  * scripted artifact in round 11): times the ceiling queries at sf0.1
  * and at an N× generated corpus (`tools/gen_sf1.py`), and emits
  * `REHEARSAL.json` with per-query growth ratios so a regression in any
  * production-path plan's scaling is caught by diffing one committed
  * file instead of re-running hand commands.
  *
  * Usage: `runMain graft.Rehearsal <baseDir> <bigDir> <scale>`
  * (driver wrapper: `tools/rehearsal.sh`, which generates `<bigDir>`
  * first if absent).  Env:
  * `SPARK_GRAFT_REHEARSAL_RUNS` timed runs per (query, dir), min taken
  * (default 2 — one-off runs under ambient load triggered phantom
  * verdicts in rounds 8/9, so the artifact carries the [min,max] spread
  * the round-9 verdict asked the bench for);
  * `SPARK_GRAFT_REHEARSAL_QUERIES` comma list overriding the ceiling
  * set; `SPARK_GRAFT_REHEARSAL_OUT` overrides the artifact path
  * (default REHEARSAL.json — e.g. the 100x probe writes
  * REHEARSAL_100X.json so it cannot clobber the committed 10x gate);
  * `SPARK_GRAFT_REHEARSAL_HISTORY` (round-16, the r15 verdict's #6):
  * run the first N declared queries once (name order, base dir,
  * slate-cleared after) BEFORE the gated measurements, so the gate
  * can be taken in the driver's failure mode — "197 queries of
  * session history, then the loop" — instead of on a quiet slate.
  * The history leaves no pinned blocks (the slate clear between
  * queries removes those); what it leaves is the JVM-level residue a
  * fresh session lacks: JIT/code-cache state, old-gen occupancy and
  * fragmentation, accumulated weak/soft references.  The artifact
  * records `"history": N`.
  *
  * The default set is every query the round-9 rehearsal identified as a
  * scaling ceiling plus the round-11 perceptual near-dup lens: the
  * point is growth SHAPE (sub-linear in data at bounded dup density),
  * not absolute seconds, so the artifact records `growth = big/base`
  * next to `scale` for direct comparison.
  */
object Rehearsal {
  val defaultQueries: Seq[String] = Seq(
    "x3_minhash_lsh_pairs", "st4_ingest_neardup", "x20b_dup_clusters_lsh",
    "x55b_edit_neardup64", "x40_rp_ann", "x39_curriculum_rank",
    "x73_image_neardup", "x74_frameset_neardup", "st9_media_ingest_gate",
    // round-12 additions (round-11 verdict #8): the containment family
    // and the incremental cluster merge were the only production-path
    // pairwise lenses not growth-gated
    "x45b_containment_lsh", "x77_cluster_merge", "x75_dup_spans",
    // round-12 operators with their own scaling ceilings: cross-doc
    // excision (x75's apply side), BPE training (vocab-sized rounds —
    // should grow with VOCABULARY, far below data scale), the
    // double-globalRank interleave, the winnowing pair family, and the
    // streaming DSIR gate
    "x78_span_excision", "x81_bpe_train", "x84_interleaved_order",
    "x90_winnow_pairs", "st11_dsir_gate",
    // late-round-12 additions: GD training (iters × two corpus aggs —
    // linear by construction, gate proves it) and the one-shuffle
    // funnel over the events log
    "x95_quality_train", "x93_funnel_steps",
    // round-13 (round-12 verdict #6): the remaining top-10 bench
    // queries plus the flat-cost entries whose 100 TB behavior is
    // invisible at sf0.1 (x43's full-corpus profile, x10's per-doc
    // scoring), the rebuilt semantic prune, the winnowing gate, and
    // the new zero-shuffle envelope fingerprint
    "x22_semantic_prune", "st10_embedding_ingest_gate",
    "x55_edit_neardup", "st12_winnow_gate", "x10_quality",
    "x43_dataset_card", "x99_envelope_fp",
    // round-13: k-means is iters × (corpus pass + k-row agg) — linear
    // by construction, the gate proves it
    "x100_kmeans",
    // round-14: the rest of the clustering family (prototype heaps +
    // route gate) — probed at 100x this round, kept in the 10x gate so
    // a future regression in the kernel/TopKPerKey path is caught here
    "x101_cluster_prototypes", "st14_cluster_route_gate",
    // round-14 web-provenance family: the two members that shuffle
    // (URL keep-best groupBy; paragraph-hash df + join) — the map-side
    // members (x102/x104/x106) ride the scan and have no ceiling
    "x103_url_dedup", "x105_paragraph_dedup",
    // round-15: the media/container decode lenses — per-payload
    // mapPartitions, linear by construction, the gate proves it (and
    // x105 re-gated above after its skew-split plan change)
    "x113_flac_audio", "x114_warc_records",
    // round-15 compositions: crawl ingestion (parse∘strip∘canonical),
    // robots parsing (per-host window), the WARC frontier gate, and
    // the mixed-media budget rollup
    "x115_crawl_ingest", "x117_robots_parse", "st16_warc_frontier_gate",
    "x118_decode_budget",
    // round-16: RFC 9309 longest-match resolution (per-host sorted
    // rules, broadcast) and the frontier fetch decision (novelty ∧
    // robots) — the compositions that consult the rules at corpus rate
    "x119_robots_verdict", "st17_frontier_policy_gate",
    // round-16: the politeness scheduler (TopKPerKey cap + bounded
    // window + broadcast delay join)
    "x121_politeness",
    // round-17 (round-16 verdict #4): the four r16 queries that had no
    // growth row — crawl-delay parsing, sitemap discovery + parsing,
    // and the IVF-probe semantic decontamination whose 100 TB claim
    // previously rested on design argument alone
    "x120_crawl_delay", "x122_sitemap_discovery", "x123_sitemap_entries",
    "x124_semantic_decontam",
    // round-17 operators: the bounded sitemap-resolution loop composed
    // into the frontier, the freshness recrawl gate, and the
    // cross-cycle politeness resume
    "st18_sitemap_resolve", "st19_recrawl_gate", "x125_politeness_cycles",
    "st20_sitemap_recrawl", "st21_link_frontier",
    // round-17 link-authority family: the host-edge rollup (the link
    // table's one shuffle), the fixed-point PageRank walk (per-sweep
    // cost = edge distinct + |V|-sized joins — the corpus-linear part
    // is the DISTINCT, the walk itself is host-sized), and the ranked
    // frontier composition (x130's corpus-rate leg is the same
    // DISTINCT shape as x127 — the fixpoint itself is host-sized)
    "x127_host_graph", "x128_pagerank", "st22_ranked_frontier",
    // round-17 crawl mechanics: the two-level trap rollup, the
    // bounded redirect walk + its frontier composition, the
    // warm-started rank resume, and the budget rollup
    "x131_url_traps", "x132_redirects", "st23_redirect_frontier",
    "st24_rank_resume", "x133_crawl_budget",
    // round-17 page-policy tier: the three-group link extraction, the
    // directive+keeper rollup, and the policy-filtered frontier
    "x135_links_policy", "x136_canonical_keepers", "st25_policy_frontier",
    // round-17 closing additions: the fetch-log audit, the backoff
    // rollup, the scorecard composition, and the reciprocity join
    "x137_politeness_audit", "x138_recrawl_backoff",
    "st26_host_scorecard", "x139_link_reciprocity",
    // round-18 (round-17 verdict #5): the round-17 queries that had
    // no growth row — link extraction (per-doc regex, linear by
    // construction), anchor top-k (heap-bounded), host components
    // (the dedup fixpoint on a LONG-CHAIN graph, unlike the near-dup
    // cliques it was gated on), page directives (map-side regex), and
    // the anchor-pair rollup
    "x126_link_extract", "x129_anchor_topk", "x130_host_components",
    "x134_page_directives", "st27_anchor_pairs",
    // round-18: the composed crawl cycle — four feeds + gate + rank +
    // politeness in one declared query — and the warm-started
    // component resume (prior fixpoint + star-seeded delta walk)
    "st28_crawl_cycle", "st29_component_resume",
    // round-18: HyperBall — per sweep one register-max exchange over
    // (node, 256 B) partials; |V|-sized by construction
    "x140_harmonic_centrality",
    // round-19 (round-18 verdict #1/#6): the warm-started HyperBall
    // resume (delta-gated sweeps over the full-history edge set) and
    // the URL-grain degraded PageRank walk (saveEdges bucketed write +
    // co-located shuffle sweeps — the write is the corpus-linear half,
    // the walk is node-sized)
    "st30_hyperball_resume", "x141_pagerank_bucketed",
    // round-20 (round-19 verdict #1/#5): the bucketed HyperBall
    // read-out (saveEdges write + co-located-shuffle sweeps) and the
    // bucketed warm resume (bucketed state build + persist + the
    // delta-gated no-broadcast walk)
    "x142_harmonic_bucketed", "st31_hyperball_bucketed")

  def main(args: Array[String]): Unit = {
    val Array(baseDir, bigDir, scaleStr) = args.take(3)
    val scale = scaleStr.toDouble
    val runs = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_RUNS", "2").toInt
    val queries = sys.env.get("SPARK_GRAFT_REHEARSAL_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultQueries)
    val history =
      sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_HISTORY", "0").toInt
    // 32 cores: the committed REHEARSAL.json is recorded there
    val spark = LocalSession.session(32, "ERROR")

    // Session-history warm-up: replay the suite ONCE before any gated
    // measurement (same slate-v2 semantics as the bench).
    if (history > 0) println(s"[rehearsal] ran " +
      s"${LocalSession.replayHistory(spark, baseDir, history)} history queries")

    // Queries whose declared form pins its whole result in a session
    // cache would rehearse the CACHE, not the operator — time those
    // through a direct, uncached call instead (the declared x95 entry
    // trains once per (session, dataset) by design; here every timed
    // run must retrain).
    val uncached: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "x95_quality_train" -> ((s, d) =>
        graft.ext.QualityModel.trainQualityModel(Tables.documents(s, d),
          "doc_id", "text",
          org.apache.spark.sql.functions.col("lang") === "en")),
      // x124's DECLARED query ties the bench side to the corpus
      // (vec_id % 97), so rehearsing it as-is measures bench×train —
      // quadratic BY THE LATTICE, not by the operator (measured 605x
      // at 100x data before this override).  The operator's production
      // contract is the opposite: eval sets are FIXED-size while the
      // train corpus grows (the scaladoc's index-once/probe-small
      // shape).  Rehearse THAT: bench pinned to the vec_id < 2048
      // sliver (present identically in every generated corpus), train
      // = the rest, growing with scale — growth then measures the
      // per-train-row probe cost, the thing a 100 TB claim rests on.
      "x124_semantic_decontam" -> { (s, d) =>
        import org.apache.spark.sql.functions.col
        val e = Tables.embeddings(s, d)
        graft.ext.Similarity.semanticContamination(
          e.filter(col("vec_id") % 97 =!= 0),
          e.filter(col("vec_id") % 97 === 0 && col("vec_id") < 2048),
          tau = 0.3, dim = 64, nlist = 16, nprobe = 4, k = 10)
      })
    // ELEVATION CANARY, the Bench discipline applied to the growth
    // instrument (round-19: the first 10x gate of the round recorded
    // st28's BASE at 15.6 s with tight spreads and an inverted 0.58x
    // growth — session-order inflation a fresh-session A/B read at
    // 5.9 s; a growth ratio is only as good as the two moments it
    // compares).  A fixed-cost map-only probe over the BASE corpus
    // (constant work regardless of which dir a query is being timed
    // against) runs before every (query, dir) measurement; each row
    // carries its two canary readings, and a reading ≥2x the run's
    // canary minimum marks that side "elevated" so an inflated ratio
    // identifies itself from the committed artifact alone.
    import org.apache.spark.sql.functions.{col, length, sum => fsum}
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      Tables.documents(spark, baseDir)
        .agg(fsum(length(col("text")))).head()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce(); canaryOnce() // untimed: absorb class-load/codegen/JIT
    val canaryReads = scala.collection.mutable.ListBuffer[Double]()
    def canary(): Double = {
      // min-of-2: one read of a ~0.1 s probe flips the 2x elevated
      // flag on scheduler jitter alone (round-20: 10 rows flagged on
      // an IDLE box, readings 0.14-0.37 s around a 0.10 s run min) —
      // the min of two reads measures sustained load, not jitter;
      // the same min-of-N discipline every other timing here uses
      val t = math.min(canaryOnce(), canaryOnce())
      canaryReads += t
      t
    }
    def time(name: String, dir: String): Seq[Double] = {
      // Clean slate per (query, dir): earlier queries' pinned
      // localCheckpoint blocks otherwise accumulate across the run and
      // push later queries into eviction/spill — measured: x90 at 11×
      // as rehearsal query #16 vs 2.9× warm in a fresh session, same
      // code.  Clearing BETWEEN queries (never between a query's own
      // warmup and timed runs) keeps each query's intra-run cache
      // semantics (x77 still times merge-against-pinned-pairs) while
      // removing cross-query session history from the measurement.
      graft.queries.ExtQueries.clearSessionSlate(spark)
      val fn = uncached.getOrElse(name, SparkEntry.queries(name))
      // one untimed warmup absorbs class-load/codegen/file-listing cost
      fn(spark, dir).count()
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
    }

    // Locale.ROOT formatting: the f-interpolator uses the JVM default
    // locale, so under a comma-decimal locale "%.3f" would emit `1,234`
    // and corrupt the JSON artifact.  Dir strings are escaped: a quote
    // or backslash in a path must not break the committed file.
    def n(v: Double, digits: Int = 3): String =
      String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))
    val rows = queries.map { name =>
      val cBase = canary()
      val base = time(name, baseDir)
      val cBig = canary()
      val big = time(name, bigDir)
      val g = big.min / base.min
      println(s"[rehearsal] ${name.padTo(24, ' ')} base=${n(base.min, 2)}s " +
        s"big=${n(big.min, 2)}s growth=${n(g, 1)}x (scale=${n(scale, 0)}x, " +
        s"canary ${n(cBase, 2)}/${n(cBig, 2)})")
      (name, base, big, g, cBase, cBig)
    }
    // the elevation reference is the quietest moment the RUN ITSELF
    // saw — a per-row reading ≥2x it marks that side suspect
    val cMin = if (canaryReads.isEmpty) 1.0 else canaryReads.min
    val rowJson = rows.map { case (name, base, big, g, cBase, cBig) =>
      s"""  "$name": {"base_sec": ${n(base.min)}, "big_sec": ${n(big.min)},
         |    "base_spread": [${n(base.min)}, ${n(base.max)}],
         |    "big_spread": [${n(big.min)}, ${n(big.max)}],
         |    "canary": [${n(cBase)}, ${n(cBig)}],
         |    "elevated": ${cBase >= 2 * cMin || cBig >= 2 * cMin},
         |    "growth": ${n(g, 2)}, "sublinear": ${g < scale}}""".stripMargin
    }
    val json =
      s"""{
         |  "base_dir": ${Json.quote(baseDir)}, "big_dir": ${Json.quote(bigDir)},
         |  "scale": ${n(scale, 2)}, "runs_per_point": $runs,
         |  "history": $history,
         |  "canary_min_sec": ${n(cMin)},
         |  "queries": {
         |${rowJson.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    val out = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_OUT",
      "REHEARSAL.json")
    Files.writeString(Paths.get(out), json)
    println(s"[rehearsal] wrote $out (${queries.size} queries)")
    spark.stop()
  }
}
