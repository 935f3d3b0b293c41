package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistics and dataset management for training-data
  * pipelines: distribution stats, deterministic splits, heavy-hitter
  * n-grams.
  *
  * Scale notes: stats are single hash aggregations (exact percentiles
  * shuffle per-group value lists — swap to `percentile_approx` sketches
  * past memory limits, same API shape); splitting is a pure map-side
  * expression (no shuffle, reproducible across runs/partitionings
  * because the bucket comes from a content/id hash, not RNG state);
  * heavy hitters are explode → partial-agg → top-k, with the map-side
  * combine collapsing the n-gram long tail before the shuffle.
  */
object CorpusStats {

  /** Per-group document-length distribution: exact interpolated
    * quantiles + mean.  Exact (not sketched) so results are
    * oracle-comparable; the approx variant is a drop-in
    * (`percentile_approx`). */
  def lengthStats(docs: DataFrame, groupCol: String,
                  lenColName: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col(lenColName)), 2).as("mean_len"),
        expr(s"percentile($lenColName, 0.5)").as("p50_len"),
        expr(s"percentile($lenColName, 0.95)").as("p95_len"),
        min(col(lenColName)).as("min_len"),
        max(col(lenColName)).as("max_len"))

  /** Source-concentration summary: Herfindahl–Hirschman index over
    * per-source token shares (`HHI = Σ share²`) and its inverse — the
    * "effective number of sources" — plus the top share.  One number
    * answering "is this corpus really diverse, or is it one crawl
    * wearing twenty names"; tracked across curation steps it shows
    * whether dedup/balancing actually flattened the mixture.
    *
    * Scale shape: the corpus collapses to #sources rows in one
    * partial agg, then two #sources-row reductions — nothing
    * data-sized past the first shuffle. */
  def sourceConcentration(docs: DataFrame, sourceCol: String,
                          textCol: String): DataFrame = {
    val per = docs.select(col(sourceCol).as("source"),
        TextAnalysis.nTokens(TextAnalysis.tokens(col(textCol))).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"))
      .localCheckpoint() // #sources rows; both reductions derive from it
    val tot = per.agg(sum(col("n_tokens")).as("__tot"))
    per.crossJoin(broadcast(tot))
      .select((col("n_tokens") / col("__tot")).as("share"))
      .agg(count(lit(1)).as("n_sources"),
        round(sum(col("share") * col("share")), 6).as("hhi"),
        round(lit(1.0) / sum(col("share") * col("share")), 6)
          .as("effective_sources"),
        round(max(col("share")), 6).as("top_share"))
  }

  /** Weighted sampling WITHOUT replacement, `k` per group
    * (Efraimidis–Spirakis A-Res): each row draws a content-addressed
    * uniform `u` from md5(id ++ salt) and scores `key = ln(u) / w`;
    * the `k` LARGEST keys per group are distributed exactly as
    * sequential weighted draws without replacement.  Unlike the
    * keep-rate filter of [[stratifiedSample]] this returns an EXACT
    * count per group with inclusion probability ∝ weight — the
    * quality-weighted shortlist primitive (eval set selection,
    * exemplar mining, importance-weighted subcorpora).
    *
    * Determinism: u is a pure function of (id, salt) — reproducible
    * across runs, engines (the oracle replays key values bit-for-bit),
    * and partitionings; keys round to 6 before ranking with an id
    * tiebreak, the cross-engine ordering idiom.  Rows with
    * non-positive weight are never sampled.
    *
    * Scale shape: key assignment is map-side; the per-group top-k runs
    * on [[graft.plans.TopKPerKey]] bounded heaps — O(#groups · k)
    * memory after one hash exchange, no per-group sort. */
  def weightedSample(docs: DataFrame, idCol: String, groupCol: String,
                     weightCol: String, k: Int,
                     salt: String = "es"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
      lit(salt))), 1, 8), 16, 10).cast("double") + 0.5) / lit(4294967296.0)
    val keyed = docs.filter(col(weightCol) > 0)
      .select(col(idCol), col(groupCol),
        round(log(u) / col(weightCol), 6).as("es_key"))
    graft.plans.TopKPerKey.topKPerKey(keyed, Seq(col(groupCol)),
      Seq(col("es_key").desc, col(idCol).asc), k)
  }

  /** Percentile-based length trim (the C4 "drop the improbably short
    * and long tails" rule, made per-group and auditable): per group,
    * the `[pLo, pHi]` interdecile cutoffs of `lenColName` and how many
    * documents survive them.  Run this BEFORE committing a trim — the
    * kept-fraction per source is the audit row that catches a source
    * whose whole distribution would be deleted.
    *
    * Scale shape: one grouped percentile agg collapsing to #groups
    * rows, broadcast back over the corpus for the in-range count —
    * the corpus never shuffles.  Swap `percentile` for
    * `approx_percentile` at 100 TB exactly as [[lengthStatsApprox]]
    * does. */
  def lengthTrimStats(docs: DataFrame, groupCol: String,
                      lenColName: String, pLo: Double,
                      pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    val cuts = docs.groupBy(col(groupCol))
      .agg(expr(s"percentile($lenColName, $pLo)").as("__lo"),
        expr(s"percentile($lenColName, $pHi)").as("__hi"))
    docs.join(broadcast(cuts), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col(lenColName) >= col("__lo") &&
          col(lenColName) <= col("__hi"), 1L).otherwise(0L)).as("n_kept"),
        round(min(col("__lo")), 2).as("lo"),
        round(min(col("__hi")), 2).as("hi"))
  }

  /** The 100 TB variant of [[lengthStats]]: `approx_percentile`
    * (KLL-style sketch) replaces the exact per-group value-list sort —
    * constant memory per group, mergeable partials, same column
    * contract.  `accuracy` trades sketch size for error
    * (1/accuracy relative rank error; 10 000 ⇒ ±0.01%). */
  def lengthStatsApprox(docs: DataFrame, groupCol: String,
                        lenColName: String,
                        accuracy: Int = 10000): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col(lenColName)), 2).as("mean_len"),
        expr(s"approx_percentile($lenColName, 0.5, $accuracy)")
          .cast("double").as("p50_len"),
        expr(s"approx_percentile($lenColName, 0.95, $accuracy)")
          .cast("double").as("p95_len"),
        min(col(lenColName)).as("min_len"),
        max(col(lenColName)).as("max_len"))

  /** Deterministic train/val/test assignment: bucket = first 8 hex of
    * md5(id || salt) as int mod 100.  Content-addressed, so the split
    * is stable under re-partitioning, re-runs, and incremental corpus
    * growth — the property RNG-based `randomSplit` lacks. */
  def splitColumn(id: Column, salt: String = "graft",
                  trainPct: Int = 80, valPct: Int = 10): Column = {
    val bucket = (conv(substring(md5(concat(id.cast("string"), lit(salt))),
      1, 8), 16, 10).cast("long") % 100).cast("int")
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  def splitCounts(docs: DataFrame, idCol: String,
                  groupCol: String): DataFrame =
    docs.withColumn("split", splitColumn(col(idCol)))
      .groupBy(col(groupCol), col("split"))
      .agg(count(lit(1)).as("n"))

  /** Greedy contiguous sequence packing: assign documents to
    * fixed-token-budget training context packs.  Documents order
    * deterministically by id within a (stream, shard) lane; a running
    * token total places each doc in pack `floor(tokens_before/budget)`
    * — the standard concat-and-chunk packing of LM data pipelines.
    *
    * Scale: the cumulative window partitions by (stream, shard), so
    * parallelism is streams×shards, NOT streams — `shards` keeps lanes
    * fine-grained enough that no window partition exceeds a task
    * (packing is order-dependent ONLY within a lane by construction,
    * so sharding changes which docs co-pack, never correctness).
    *
    * Contract: a document with n_tokens > budget cannot fit in any
    * single pack; concat-and-chunk places it at its running-total
    * position and lets it SPAN pack boundaries (pack_id is where it
    * starts).  The `oversize` flag makes those docs visible so a
    * downstream sampler can drop/truncate them instead of silently
    * training on mid-document pack seams. */
  def packAssignments(docs: DataFrame, idCol: String, streamCol: String,
                      textCol: String, budget: Int,
                      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = size(TextAnalysis.tokens(col(textCol)))
    val w = Window.partitionBy(col(streamCol), col("shard"))
      .orderBy(col(idCol))
    docs.select(col(idCol), col(streamCol),
        pmod(col(idCol), lit(shards)).cast("int").as("shard"),
        n.as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col(streamCol), col("shard"),
        col("n_tokens").cast("int").as("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / budget.toDouble)
          .cast("int").as("pack_id"),
        (col("n_tokens") > budget).as("oversize"))
  }

  /** The pack WRITER's manifest — [[packAssignments]] plus the numbers
    * the serialization step actually needs: each document's token
    * START OFFSET inside its context pack (where its tokens land in
    * the concatenated window, hence where the attention-boundary /
    * document-separator positions go) and the pack's total fill
    * (budget − fill = the padding the trainer will burn).  Same greedy
    * per-(stream, shard) packing, same windows-over-bounded-lanes
    * scale shape: every window partitions by at least (stream, shard)
    * — #streams×#shards parallel lanes, never a corpus-wide ordering.
    *
    * Output: packAssignments columns + (tok_offset, pack_fill). */
  def packOffsets(docs: DataFrame, idCol: String, streamCol: String,
                  textCol: String, budget: Int,
                  shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lane = Seq(col(streamCol), col("shard"), col("pack_id"))
    val wOff = Window.partitionBy(lane: _*).orderBy(col(idCol))
    val wFill = Window.partitionBy(lane: _*)
    packAssignments(docs, idCol, streamCol, textCol, budget, shards)
      .withColumn("tok_offset",
        (sum(col("n_tokens")).over(wOff) - col("n_tokens")).cast("int"))
      .withColumn("pack_fill",
        sum(col("n_tokens")).over(wFill).cast("int"))
  }

  /** Source mixing stats: per-source document/token volume and corpus
    * token share — the input to data-mixture weighting (DoReMi-style
    * sampling ratios start from exactly these shares, and any
    * source-balanced training run needs this table first).
    *
    * Scale shape: one map-side token count + grouped agg (partial
    * aggregation; result is #sources rows, never data-sized), then a
    * broadcast of the single-row total for the share division — no
    * unpartitioned window over the grouped table. */
  def sourceMix(docs: DataFrame, sourceCol: String,
                textCol: String): DataFrame = {
    // checkpointed: the total is derived from the grouped table, and
    // without materialization its lineage would re-scan the corpus a
    // second time.  #sources rows — KBs.
    val per = docs.select(col(sourceCol).as("source"),
        TextAnalysis.nTokens(TextAnalysis.tokens(col(textCol))).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .localCheckpoint()
    val tot = per.agg(sum(col("n_tokens")).as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("__tot")).as("tok_share"))
  }

  /** Sliding context-window chunking: split every document's token
    * sequence into windows of `size` tokens advancing by `stride`
    * (`stride < size` ⇒ overlapping windows, the usual LM training
    * shape).  Emits one row per (doc, window) with the window's token
    * offset and clipped length — the assignment table a downstream
    * tokenizer/packer materializes into actual training sequences.
    *
    * Window count per doc is `1 + ceil((n - size) / stride)` (one
    * window when `n <= size`), so every token is covered and the final
    * window clips to the document end instead of spilling past it.
    *
    * Scale shape: pure map-side — token count, `sequence()`, one
    * `posexplode`.  No shuffle, no window function, output rows ≈
    * `corpus_tokens / stride`; at 100 TB this pipelines through
    * whole-stage codegen with zero exchanges. */
  def chunkAssignments(docs: DataFrame, idCol: String, textCol: String,
                       size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"chunkAssignments needs 0 < stride <= size (got size=$size stride=$stride)")
    val n = TextAnalysis.nTokens(TextAnalysis.tokens(col(textCol)))
    docs.select(col(idCol), n.cast("long").as("__n"))
      .withColumn("__nc",
        when(col("__n") <= size, lit(1L))
          .otherwise(ceil((col("__n") - size) / stride.toDouble)
            .cast("long") + 1L))
      .select(col(idCol),
        explode(sequence(lit(0L), col("__nc") - 1L)).as("chunk_idx"),
        col("__n"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_token"),
        least(lit(size.toLong), col("__n") - col("chunk_idx") * stride)
          .as("chunk_len"))
  }

  /** Temperature-scaled source mixture weights: sampling weight
    * `w_s ∝ n_s^alpha` over per-source token counts (`alpha = 1` is
    * proportional sampling, `alpha → 0` uniform; 0.3 is the usual
    * multilingual flattening exponent), plus the expected token draw
    * from a training budget and the implied epochs over each source —
    * the over-sampling early-warning number (epochs >> 1 on a small
    * source means it will be repeated that many times).
    *
    * Scale shape: the corpus collapses to #sources rows in one
    * map-side-partial agg; the normalizer is a broadcast single-row
    * cross join.  Nothing downstream is data-sized. */
  def mixtureWeights(docs: DataFrame, sourceCol: String, textCol: String,
                     alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1] (got $alpha)")
    val per = docs.select(col(sourceCol).as("source"),
        TextAnalysis.nTokens(TextAnalysis.tokens(col(textCol))).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"))
      .withColumn("__w", pow(col("n_tokens").cast("double"), lit(alpha)))
      .localCheckpoint() // #sources rows; total derives from this table
    val tot = per.agg(sum(col("__w")).as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(col("__w") / col("__tot"), 6).as("weight"),
        round(col("__w") / col("__tot") * budgetTokens, 0)
          .cast("long").as("expected_tokens"),
        round(col("__w") / col("__tot") * budgetTokens
          / col("n_tokens"), 6).as("epochs"))
  }

  /** Deterministic stratified downsampling: balance every stratum
    * (source, language, …) down to the size of the smallest one —
    * the data-mixture rebalancing step of training-corpus assembly.
    *
    * The keep decision is content-addressed, not random: a document is
    * kept iff its md5 unit-interval coordinate falls below the
    * stratum's keep rate (`target/count`).  That makes the sample a
    * pure FUNCTION of (id, salt, stratum counts) — reproducible across
    * runs, engines (the DuckDB oracle replays it), partitionings and
    * cluster sizes, and stable under re-runs of upstream stages, which
    * a `rand()`-based sample is not.  Expected kept size per stratum is
    * `target` (binomial, not exact — the price of coordination-free
    * decisions; an exact-n variant would need a per-stratum sort).
    *
    * Scale: one grouped count (#strata rows), a broadcast of the
    * single-row min, then one narrow filter pass — the corpus is
    * never shuffled. */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
                       salt: String = "graft",
                       target: Option[Long] = None): DataFrame = {
    // #strata rows; checkpointed so the min doesn't re-scan the corpus
    val counts = docs.groupBy(col(stratumCol).as("__st"))
      .agg(count(lit(1)).as("__n")).localCheckpoint()
    // default target = the smallest stratum (full balance); an explicit
    // per-stratum budget caps oversized strata and keeps smaller ones
    // whole (rate clamps at 1)
    val targetDf = target.fold(counts.agg(min(col("__n")).as("__t")))(t =>
      counts.sparkSession.range(1).select(lit(t).as("__t")))
    val rates = counts.crossJoin(broadcast(targetDf))
    val u = conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))),
      1, 8), 16, 10).cast("double") / lit(4294967296.0)
    // broadcast is PROVABLY bounded here (one row per stratum — a
    // handful of languages/sources), unlike data-sized dimension joins
    // where the hint is left to AQE
    docs.join(broadcast(rates), col(stratumCol) === col("__st"))
      .filter(u < col("__t").cast("double") / col("__n").cast("double"))
      .drop("__st", "__n", "__t")
  }

  /** Corpus-global rare-token signal: per document, how much of its
    * DISTINCT vocabulary is hapax legomena (document frequency 1 across
    * the whole corpus).  Gibberish, OCR noise, and mangled encodings
    * score high; natural text stays low — the vocabulary-global quality
    * axis the per-document signals ([[TextAnalysis.qualityByDoc]],
    * `repetitionByDoc`) cannot see, because it needs corpus state.
    *
    * Scale shape: (doc_id, token) rows deduplicate map-side
    * (`array_distinct` before the explode), the document-frequency
    * table is one hash-partitioned count over those skinny rows, and
    * the join back is token-keyed equi-join — vocabulary-sized build
    * side, AQE picks broadcast vs shuffle.  Nothing document-sized
    * crosses the network. */
  def rareTokenRatio(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val dt = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
    val df = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    dt.join(df, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("df") === 1, 1).otherwise(0)).as("n_hapax"))
      .withColumn("hapax_ratio",
        col("n_hapax").cast("double") / col("n_distinct"))
  }

  /** Top-k word bigrams: heavy-hitter n-grams across the corpus with a
    * deterministic (count desc, bigram asc) ranking.  Bigrams assemble
    * via `Dedup.assembleNgrams` (narrow zip+slice by default — no
    * shuffle before the count agg; strategy conf-selectable); docs
    * shorter than 2 tokens contribute nothing. */
  def topBigrams(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(monotonically_increasing_id().as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    Dedup.assembleNgrams(toks, 2)
      .select(col("sh").as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)
  }

  /** Corpus-global token-frequency (Zipf) histogram: how many distinct
    * token types occur with 1-digit / 2-digit / … frequencies, and how
    * much of the corpus mass each magnitude band carries.  The shape
    * check for a healthy natural corpus (a long hapax-heavy tail) vs a
    * templated one (mass concentrated in a few high-frequency types);
    * the corpus-level complement of the per-doc [[rareTokenRatio]].
    *
    * Buckets are DECIMAL-DIGIT counts of the frequency, not log2 —
    * integer string length is exact on every engine, where
    * floor(log2(x)) flips at power-of-two boundaries under FP.
    *
    * Scale: explode → two stacked hash aggregations, both map-side
    * partial; intermediate is vocabulary-sized, output is ≤20 rows. */
  def tokenFrequencyHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .groupBy(length(col("freq").cast("string")).as("freq_digits"))
      .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("n_occurrences"))

  /** Per-source exact-duplicate share: fraction of a source's docs
    * whose normalized fingerprint ([[TextAnalysis.fingerprint]]) occurs
    * more than once ANYWHERE in the corpus (cross-source copies count —
    * that is the share dedup would touch).  Key-only hash aggregates;
    * text never shuffles. */
  def exactDupShare(docs: DataFrame, sourceCol: String,
                    textCol: String): DataFrame = {
    // round 20 (guide §2.4: remove the shuffle-join outright): the old
    // shape joined the corpus-sized fp table back to its own grouped
    // counts — the fingerprint (text normalize + md5) pass ran on BOTH
    // join sides and the join itself shuffled #docs rows.  But a doc
    // is untouched by dedup iff its fingerprint is globally UNIQUE,
    // and a unique fingerprint's group has exactly one member — so its
    // source is recoverable from the group itself (min of a 1-group)
    // and the report reduces to stacked aggregations:
    //   dups(source) = docs(source) − singleton-fp docs(source).
    //
    // Round 21 (guide §2.3 + round-20 ADVICE): ONE corpus scan total.
    // The (source, fp) combine collapses exact duplicates map-side and
    // is pinned (skinny rows: source + md5 + count — the same size
    // class as the fp exchange itself), so the singleton leg and the
    // per-source doc counts both derive from it without re-reading the
    // corpus — round 20 still paid a second (source-only) scan for the
    // volumes.  NULL-text docs are dropped from BOTH the numerator and
    // the denominator: fingerprint(text) is NULL iff text is NULL, and
    // the reference join form's inner equi-join on fp dropped NULL-fp
    // docs from both sides (NULL keys never match — the same reading
    // as the oracle's `fps JOIN fg USING (fp)`).  A source whose docs
    // are all NULL-text has no row at all, exactly like the join form;
    // ExtSpec pins both the equality and the NULL cases.
    val sf = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // two consumers; skinny (source, md5, cnt) rows
    val singles = sf.groupBy(col("fp"))
      .agg(sum(col("__c")).as("__n"), min(col("source")).as("__src"))
      .filter(col("__n") === 1)
      .groupBy(col("__src"))
      .agg(count(lit(1)).as("__singles"))
    val vols = sf.groupBy(col("source"))
      .agg(sum(col("__c")).as("__docs"))
    // null-safe join: the old form grouped NULL sources like any other
    // group, so the singleton credit must reach them too
    vols.join(singles, col("source") <=> col("__src"), "left")
      .select(col("source"),
        round((col("__docs") - coalesce(col("__singles"), lit(0L)))
          / col("__docs"), 6).as("exact_dup_share"))
  }

  /** Dataset card: the one-row-per-source curation summary — volumes
    * and token share ([[sourceMix]]), distribution drift
    * ([[sourceDivergence]]), vocabulary fit ([[vocabCoverage]]), and
    * duplication exposure ([[exactDupShare]]) in one table.  This is
    * the artifact a data-mixture decision actually reads.
    *
    * Drift and OOV share ONE checkpointed (source, token) count pass
    * ([[perSourceTokenCounts]]); the remaining passes genuinely differ
    * (per-doc token counts for volumes, fingerprints for duplication)
    * and stay separate.  Every component OUTPUT is #sources rows, so
    * the assembly itself is three broadcast joins of skinny tables. */
  def datasetCard(docs: DataFrame, sourceCol: String,
                  textCol: String, vocabSize: Int = 1000): DataFrame = {
    // drift and OOV share ONE (source, token) count pass
    val perSrc = perSourceTokenCounts(docs, sourceCol, textCol)
    // round 20 (guide §2.3/§1.2: don't recompute what a shared pass
    // already holds): the volume leg used to be sourceMix's OWN
    // tokenize pass — the card's third full text parse.  Per-source
    // token mass IS the sum of that source's (source, token) counts,
    // so the volumes derive from perSrc and the only extra scan reads
    // the SOURCE column alone (parquet-pruned, no text in the plan).
    // Bit-equal to sourceMix: the counts are the same longs, the share
    // division sees the same operands (ExtSpec pins the equality).
    // The left join + coalesce covers an all-empty-token source, which
    // has volume rows but no perSrc rows.
    val vols = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val toks = perSrc.groupBy(col("source").as("__tsrc"))
      .agg(sum(col("__c")).cast("long").as("n_tokens"))
    // null-safe (round-20 ADVICE): a NULL source groups normally in
    // sourceMix and the oracle's mix CTE, so its token mass must reach
    // its own volume row — and stay in __tot — instead of being
    // coalesced to 0 by a plain equi-join.  (The NULL-source row itself
    // is dropped later by the card's inner joins, same as the oracle's
    // `mix JOIN js ON mix.source = js.source`.)
    val per = vols.join(toks, col("source") <=> col("__tsrc"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .localCheckpoint() // #sources rows; the total derives from it
    val tot = per.agg(sum(col("n_tokens")).as("__tot"))
    val mix = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("__tot")).as("tok_share"))
    mix
      .join(sourceDivergenceFrom(perSrc)
        .select(col("source"), col("js_div")), "source")
      .join(vocabCoverageFrom(perSrc, vocabSize)
        .select(col("source"), col("oov_rate")), "source")
      .join(exactDupShare(docs, sourceCol, textCol), "source")
  }

  /** Total-order global rank WITHOUT the single-task trap: Spark's own
    * `row_number() OVER (ORDER BY …)` plans an unpartitioned window —
    * every row through ONE task — so it cannot rank a corpus.  This is
    * the distributed shape: range-repartition on the order columns
    * (parallel sort, the same machinery as `orderBy`), attach a local
    * per-partition index decoded from `monotonically_increasing_id`,
    * then add each partition's global offset, computed from the
    * #partitions-row count table via a broadcast triangular self-join
    * (no driver collect, no window).
    *
    * The sorted frame is localCheckpointed because both the offsets and
    * the final join read it — the price is one materialization of the
    * sorted corpus (the same cost class as the sort itself); without it
    * the full range-sort would run twice.  Ranks are 1-based and dense
    * iff `orderCols` is a total order — pass a unique tiebreak column
    * last, or ties land in partition-boundary-dependent order.
    *
    * This is the curriculum primitive: rank-by-quality feeds ordered
    * training schedules and top-p corpus selection at any scale. */
  def globalRank(df: DataFrame, orderCols: Seq[Column],
                 rankName: String = "rank",
                 partitions: Int = 0): DataFrame = {
    // the scratch columns and the rank column are appended to the
    // caller's schema — a collision would silently clobber caller data
    // in the final drop/withColumn
    val reserved = Set("__pid", "__idx", "__offset", rankName)
    val clash = df.columns.filter(reserved)
    require(clash.isEmpty,
      s"globalRank: input columns ${clash.mkString(", ")} collide with " +
        s"reserved names (__pid, __idx, __offset) or rankName=$rankName")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    // (pid, in-partition index) attachment: decode BOTH scratch columns
    // from ONE `monotonically_increasing_id()` — the id is
    // `partitionId << 33 | in-partition-row-index` by definition, so
    // `__pid = id >> 33` and `__idx = id & (2³³−1)` are two plain
    // bit-ops and the sorted frame never leaves whole-stage codegen
    // (ExtSpec pins it against the mapPartitions Row-encoder oracle).
    //
    // The id expression is nondeterministic-flagged, which is exactly
    // right here: nothing may reorder across it, and the immediate
    // localCheckpoint freezes the values it produced.
    val indexed = df.repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__idx", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .drop("__mid")
      .localCheckpoint()
    val counts = indexed.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__offset"))
    indexed.join(broadcast(offsets), "__pid")
      .withColumn(rankName, col("__offset") + col("__idx") + 1)
      .drop("__pid", "__idx", "__offset")
  }

  /** Global running total of `valueCol` in the total order given by
    * `orderCols` — [[globalRank]]'s machinery with a sum instead of a
    * count: range-repartition on the order, one in-partition prefix
    * pass, then a broadcast join of the #partitions-row partition-total
    * prefix table.  No corpus-wide single-task window, no driver
    * collect of data rows.
    *
    * This is the budget-selection primitive: "take documents in
    * quality order until the token budget is spent" is one filter on
    * the inclusive running total ([[globalRank]] ranks, this one
    * meters) — and the sweep-line primitive: signed ±1 boundary deltas
    * give interval concurrency ([[Behavior.sessionOccupancy]]).
    * `valueCol` must be integral (summed as long) and MAY be negative:
    * each partition's contribution to downstream offsets is the cum at
    * its LAST row in order (for non-negative values that equals the
    * max; for signed values it does not — tracked via an in-partition
    * row index so ties in `orderCols` cannot mispick).  Pass a unique
    * tiebreak in `orderCols` or boundary rows land in
    * partition-dependent order. */
  def globalCumSum(df: DataFrame, orderCols: Seq[Column], valueCol: String,
                   cumName: String = "cum", partitions: Int = 0): DataFrame = {
    val reserved = Set("__pid", "__pcum", "__ridx", "__offset", cumName)
    val clash = df.columns.filter(reserved)
    require(clash.isEmpty,
      s"globalCumSum: input columns ${clash.mkString(", ")} collide with " +
        s"reserved names (__pid, __pcum, __ridx, __offset) or " +
        s"cumName=$cumName")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    // prefix-sum attachment: the [[graft.plans.PartitionPrefixSum]]
    // whole-operator extension walks InternalRows directly — one bound
    // eval per row, one UnsafeProjection append, zero encoder
    // round-trips (ExtSpec pins it against the mapPartitions
    // Row-encoder oracle)
    val summed = graft.plans.PartitionPrefixSum.attach(
        df.repartitionByRange(n, orderCols: _*)
          .sortWithinPartitions(orderCols: _*), valueCol)
      .localCheckpoint() // totals derive from this; avoid a second sort
    val totals = summed.groupBy(col("__pid"))
      .agg(max_by(col("__pcum"), col("__ridx")).as("__t"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__t")), lit(0L)).as("__offset"))
    summed.join(broadcast(offsets), "__pid")
      .withColumn(cumName, col("__offset") + col("__pcum"))
      .drop("__pid", "__pcum", "__ridx", "__offset")
  }

  /** Vocabulary coverage: fix the vocabulary at the corpus' top
    * `vocabSize` tokens (frequency desc, token asc — deterministic at
    * the cutoff) and report each source's out-of-vocabulary token
    * rate.  This is the tokenizer-design signal: OOV/fertility by
    * source tells you which sources a vocab of a given size serves
    * badly, before any BPE training run.
    *
    * Scale shape: the same single (source, token) corpus shuffle as
    * [[sourceDivergence]] (checkpointed, reused by the vocab agg and
    * the coverage agg); vocab selection is a distributed TakeOrdered
    * over the vocabulary-sized count table (N bounded — never a
    * global-sort window); the membership join broadcasts the N-row
    * vocab. */
  /** Exact heavy hitters via a Count-Min prefilter: all tokens with
    * true frequency ≥ `minFreq`, computed WITHOUT a vocabulary-sized
    * exact aggregation.  The token stream first folds into a
    * fixed-size [[graft.plans.CountMinAgg]] sketch (depth×width longs
    * no matter how many distinct tokens exist — map-side partials,
    * elementwise-add merge); the stream is then culled inside
    * whole-stage codegen by `cms_estimate ≥ minFreq`
    * ([[graft.plans.CmsEstimate]]).  CMS never underestimates, so
    * every occurrence of a truly-heavy token survives the cull and the
    * exact `GROUP BY` runs over only the candidate sliver; the final
    * `freq ≥ minFreq` filter removes the overestimated stragglers —
    * same EXACT rows as the naive full aggregation (the oracle pins
    * it), with the exact agg's hash table bounded by the candidate
    * vocabulary instead of the whole one.  Size `width ≈ e/ε` for
    * overshoot ≤ εN; the Bloom-pair economics apply (x35).  The built
    * sketch ships to executors as a Spark broadcast (one torrent copy
    * per executor), never as a plan-literal constant re-serialized
    * into each task binary. */
  def heavyHitters(docs: DataFrame, textCol: String, minFreq: Long,
                   depth: Int = 4, width: Int = 1 << 14): DataFrame = {
    import graft.plans.{CmsEstimate, CountMinAgg}
    val toks = docs.select(
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val cms = toks
      .agg(CountMinAgg.cmsAgg(xxhash64(col("tok")), depth, width))
      .head().getAs[Array[Byte]](0)
    toks.filter(CmsEstimate.cmsEstimate(CmsEstimate.broadcastCms(cms),
        depth, width, xxhash64(col("tok"))) >= minFreq)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
  }

  /** Per-source vocabulary size, sketch next to truth: the
    * [[graft.plans.HllAgg]] HyperLogLog estimate (256 B of state per
    * source, elementwise-max merge) alongside the exact
    * `count(DISTINCT …)`.  At 100 TB the exact column is the one you
    * DROP: countDistinct builds a per-group hash table over every
    * distinct token and shuffles the full (source, token) stream,
    * while the sketch's partials are 256 bytes per source per mapper —
    * the side-by-side output exists so the error of the cheap path is
    * measured on your own data, not asserted from a formula
    * (σ ≈ 1.04/√256 ≈ 6.5%).  Every hash is md5-derived, so the
    * estimate is bit-reproducible across engines (the x48 oracle
    * replays registers and float arithmetic exactly). */
  def vocabSizeBySource(docs: DataFrame, sourceCol: String,
                        textCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"))
      .agg(round(graft.plans.HllAgg.hllAgg(col("tok")), 4).as("est_vocab"),
        countDistinct(col("tok")).as("n_exact"))

  /** PMI collocation mining: top-`topK` bigrams by pointwise mutual
    * information `ln(c12·N / (c1·c2))` with a `minCount` floor — the
    * standard multiword-expression / tokenizer-merge-candidate signal
    * (a high-PMI bigram is one BPE would fuse).  The floor matters:
    * PMI is maximal for hapax pairs, so unfloored ranking returns
    * noise.
    *
    * Scale shape: bigram assembly is the shuffle-free narrow
    * [[Dedup.assembleNgrams]] pass; the two count aggregations are
    * vocabulary-keyed (map-side partials); the bigram total attaches
    * as a single-row broadcast (bounded BNLJ, same pattern as x44's
    * doc-count); ranking is a distributed TakeOrdered over the floored
    * candidate set, never a global-sort window.  Rounds to 6 decimals
    * BEFORE ranking with a bigram tiebreak, so the cut is
    * engine-portable. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5, topK: Int = 20): DataFrame = {
    val tokDf = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val bi = Dedup.assembleNgrams(tokDf, 2).select(col("sh").as("bigram"))
    val biCounts = bi.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val uni = tokDf.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = bi.agg(count(lit(1)).as("n"))
    // get(), not getItem(): the join below makes Catalyst infer
    // isnotnull(w2) and push `split(bigram)[1]` BELOW the aggregate
    // onto raw n-gram zip rows — where concat_ws skips a null t1 and
    // the 1-element split makes ANSI getItem throw.  get() returns
    // null there and the pushed constraint filters the row instead.
    biCounts.filter(col("c12") >= minCount)
      .withColumn("w1", get(split(col("bigram"), " "), lit(0)))
      .withColumn("w2", get(split(col("bigram"), " "), lit(1)))
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi",
        round(log(col("c12") * col("n") / (col("c1") * col("c2"))), 6))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topK)
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
  }

  /** The checkpointed (source, token, count) table that
    * [[sourceDivergence]] and [[vocabCoverage]] both derive from —
    * ONE corpus-sized shuffle, shareable across analytics
    * ([[datasetCard]] computes it once for both). */
  def perSourceTokenCounts(docs: DataFrame, sourceCol: String,
                           textCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("double").as("__c"))
      .localCheckpoint()

  def vocabCoverage(docs: DataFrame, sourceCol: String, textCol: String,
                    vocabSize: Int = 1000): DataFrame =
    vocabCoverageFrom(perSourceTokenCounts(docs, sourceCol, textCol),
      vocabSize)

  /** [[vocabCoverage]] over a precomputed [[perSourceTokenCounts]]. */
  def vocabCoverageFrom(perSrc: DataFrame, vocabSize: Int): DataFrame = {
    val vocab = perSrc.groupBy(col("tok")).agg(sum(col("__c")).as("__cg"))
      .orderBy(col("__cg").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    perSrc.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(sum(col("__c")).cast("long").as("n_tokens"),
        sum(when(col("__in").isNull, col("__c")).otherwise(lit(0.0)))
          .cast("long").as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
  }

  /** Per-source Jensen-Shannon divergence between the source's token
    * distribution and the whole-corpus distribution — the drift /
    * skew measure behind source-reweighting decisions ([[sourceMix]]
    * gives the volumes; this gives how DIFFERENT each source reads).
    * JS rather than KL because it is finite even when a source misses
    * corpus tokens, symmetric, and bounded by ln 2.
    *
    * The corpus side Q is evaluated sparsely: tokens absent from a
    * source contribute `q·ln 2` to KL(Q‖M) (there `m = q/2`), so that
    * tail collapses to the closed form `(1 − Σ_covered q)·ln 2` and
    * the join only ever touches the source's own vocabulary — no
    * dense #sources × |vocab| expansion.
    *
    * Scale shape: ONE corpus-sized shuffle (the (source, token) count,
    * map-side combined); the per-source counts are localCheckpointed
    * (vocab-sized, the same derived-total idiom as [[sourceMix]]) so
    * the global distribution, per-source totals, and the divergence
    * join all reuse that one pass instead of re-scanning text; the
    * single-row grand total rides a broadcast cross join. */
  def sourceDivergence(docs: DataFrame, sourceCol: String,
                       textCol: String): DataFrame =
    sourceDivergenceFrom(perSourceTokenCounts(docs, sourceCol, textCol))

  /** [[sourceDivergence]] over a precomputed [[perSourceTokenCounts]]. */
  def sourceDivergenceFrom(perSrc: DataFrame): DataFrame = {
    val global = perSrc.groupBy(col("tok")).agg(sum(col("__c")).as("__cg"))
    val srcTot = perSrc.groupBy(col("source")).agg(sum(col("__c")).as("__ts"))
    val grand = srcTot.agg(sum(col("__ts")).as("__t"))
    val pq = perSrc.join(global, "tok").join(srcTot, "source")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("__ts"),
        (col("__c") / col("__ts")).as("p"),
        (col("__cg") / col("__t")).as("q"))
    pq.groupBy(col("source"), col("__ts"))
      .agg(
        sum(col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
          .as("__klp"),
        sum(col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
          .as("__klq_cov"),
        sum(col("q")).as("__qcov"))
      .select(col("source"), col("__ts").cast("long").as("n_tokens"),
        round(lit(0.5) * col("__klp")
          + lit(0.5) * (col("__klq_cov")
            + (lit(1.0) - col("__qcov")) * log(lit(2.0))), 6).as("js_div"))
  }

  /** Deterministic training-shard assignment — the writer side of a
    * training-data pipeline: every example gets a shard (which output
    * file/worker it belongs to) and a stable position inside that shard
    * (its serving order), both pure functions of the id, so any two
    * runs — or two engines — shard a corpus identically, shards are
    * balanced in expectation, and within-shard order is a fixed
    * pseudo-random permutation (the "global shuffle" a trainer wants,
    * without ever materializing a corpus-wide random sort).
    *
    * Hash = two LCG rounds mod the Mersenne prime 2³¹−1 — chosen over
    * xxhash64 deliberately: every intermediate stays < 2⁶³ for ids
    * < 2³², so the exact same integer algebra runs on any SQL engine
    * (the oracle replays it verbatim) and under ANSI overflow checking.
    * Ids ≥ 2³² would overflow round 1: pre-fold them (e.g.
    * `id % 2^31` + a second disambiguating sort key) or swap in
    * `xxhash64` where cross-engine replay is not required.
    *
    * Scale shape: the hash is map-side; the global position comes from
    * [[globalRank]] (range-repartition + in-partition index + broadcast
    * offsets — per-partition work is corpus/#partitions regardless of
    * #shards, so one giant shard never pins a single task, the failure
    * mode of `row_number() OVER (PARTITION BY shard)`); per-shard
    * positions subtract a broadcast #shards-row min-rank table. */
  /** Two LCG rounds mod 2³¹−1 over an id column — the engine-portable
    * integer mix behind [[shardAssignments]]/[[interleavedOrder]] (see
    * the scaladoc there for the < 2³² id bound). */
  private def lcgHash(id: Column): Column = {
    val p = 2147483647L // 2^31 - 1
    ((id * lit(2654435761L) + lit(1013904223L)) % lit(p)
      * lit(1597334677L) + lit(12345L)) % lit(p)
  }

  def shardAssignments(df: DataFrame, idCol: String,
                       nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val hashed = df.select(col(idCol).as("doc_id"))
      .withColumn("__h", lcgHash(col("doc_id")))
      .select(col("doc_id"), (col("__h") % lit(nShards.toLong))
        .cast("int").as("shard"), col("__h"))
    val ranked = globalRank(hashed,
      Seq(col("shard").asc, col("__h").asc, col("doc_id").asc), "__gr")
    val base = ranked.groupBy(col("shard"))
      .agg(min(col("__gr")).as("__base"))
    ranked.join(broadcast(base), "shard")
      .select(col("doc_id"), col("shard"),
        (col("__gr") - col("__base")).as("pos_in_shard"))
  }

  /** Source-INTERLEAVED training order — [[shardAssignments]] plus the
    * data-ORDER half a trainer wants: within every shard, one example
    * from each source in turn (source-name order inside a round,
    * pseudo-random order within each source's own stream), so
    * consecutive examples almost never share a source and no source
    * forms a correlated run — the "shuffle the mixture, not just the
    * corpus" property that per-doc hashing alone does not give once
    * sources have very different sizes.  When a source runs dry the
    * remaining sources keep rotating.  Deterministic: a pure function
    * of (id, source), identical across runs and engines.
    *
    * Scale shape: two [[globalRank]] passes (range repartition +
    * broadcast offsets — never a per-shard or per-source window) and
    * two tiny broadcast offset tables (#shards×#sources and #shards
    * rows).  `round` = the rotation index (this doc is its source's
    * round-th pick in this shard).
    *
    * Output: (doc_id, source, shard, round, pos_in_shard). */
  def interleavedOrder(df: DataFrame, idCol: String, sourceCol: String,
                       nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val hashed = df.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"))
      .withColumn("__h", lcgHash(col("doc_id")))
      .withColumn("shard", (col("__h") % lit(nShards.toLong)).cast("int"))
    // round = rank within this source's stream in this shard
    val r1 = globalRank(hashed, Seq(col("shard").asc, col("source").asc,
      col("__h").asc, col("doc_id").asc), "__gr1")
    val off1 = r1.groupBy(col("shard"), col("source"))
      .agg(min(col("__gr1")).as("__b1"))
    val rounds = r1.join(broadcast(off1), Seq("shard", "source"))
      .withColumn("round", col("__gr1") - col("__b1"))
      .select(col("doc_id"), col("source"), col("shard"),
        col("round"), col("__h"))
    // serving position = rotation order: (round, source) within shard
    val r2 = globalRank(rounds, Seq(col("shard").asc, col("round").asc,
      col("source").asc, col("doc_id").asc), "__gr2")
    val off2 = r2.groupBy(col("shard")).agg(min(col("__gr2")).as("__b2"))
    r2.join(broadcast(off2), "shard")
      .select(col("doc_id"), col("source"), col("shard"), col("round"),
        (col("__gr2") - col("__b2")).as("pos_in_shard"))
  }
}
