package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-partitioned aggregation on a 16-byte key —
  *    the only full shuffle, and it shuffles *keys*, not documents;
  *  - MinHash signatures are computed map-side (narrow); the LSH band
  *    explode multiplies rows by #bands but each row is (band_key,
  *    doc_id) — tiny — and the candidate self-join is an equi-join on
  *    band_key, so Spark hash-partitions it and only same-bucket docs
  *    ever meet.  Skewed buckets (boilerplate-heavy corpora) are handled
  *    by AQE skew-join splitting;
  *  - the verify step re-joins token sets only for candidate pairs —
  *    O(candidates), not O(n²).
  *
  * All hash functions are md5-derived so results are engine-portable
  * (same answers from Spark and the DuckDB oracle) and stable across
  * runs/partitionings.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint, keep the smallest id —
    * deterministic first-wins (reference analog: station dedup,
    * `cmu.js:143-166`). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** docs(id, text) → (id, sig array) with a k-hash signature over
    * n-gram shingles.  The custom codegen'd [[graft.plans.MinHashSig]]
    * expression computes the whole k-lane signature per document row —
    * shingle assembly, md5, per-lane min all in one JVM loop.
    * scan → project, NO explode, NO aggregate, NO shuffle: the
    * signature stage scales with mapper throughput alone.  DedupSpec
    * pins it bit-for-bit against the exploded min-aggregate oracle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 8): DataFrame = {
    import graft.plans.MinHashSig.minhashSig
    docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), minhashSig(col("toks"), n, k).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** (doc_id, sh) n-gram rows from a (doc_id, toks) frame, n >= 2; rows
    * with fewer than n tokens contribute nothing.  Per-row assembly:
    * n shifted `slice` views of the token array are `arrays_zip`ped and
    * exploded, so every operator is native/codegen'd and the stage is
    * shuffle-FREE — nothing moves on the network until the (doc_id, sh)
    * rows hit their downstream agg.  DedupSpec pins the output against
    * the posexplode + `lead` window oracle (PERF.md records the sf0.1
    * comparison). */
  private[graft] def assembleNgrams(tokDf: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"assembleNgrams needs n >= 2, got $n")
    // slice(toks, j+1, size) is the array shifted left by j; zipping
    // n shifts gives (tok_i, tok_i+1, …, tok_i+n-1) structs, null-
    // padded past the end — dropping structs whose LAST field is null
    // leaves exactly the size-n+1 full n-grams.
    val zipped = arrays_zip((0 until n).map(j =>
      slice(col("toks"), lit(j + 1), size(col("toks"))).as(s"t$j")): _*)
    tokDf.filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(zipped).as("s"))
      .filter(col(s"s.t${n - 1}").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(j => col(s"s.t$j")): _*).as("sh"))
  }

  /** (doc_id, sh) rows of word n-gram shingles via [[assembleNgrams]];
    * documents with 1..n-1 tokens collapse to one whole-text shingle.
    *
    * Every consumer is set-semantic (min-agg minhash, distinct-driven
    * decontamination joins), so for n=1 the token array deduplicates
    * MAP-SIDE (`array_distinct`, codegen'd) before exploding — on
    * repetitive corpora this cuts the downstream md5 volume by the
    * per-doc repetition factor for free, with bit-identical results
    * (the oracle hashes the full multiset; min over a set equals min
    * over its multiset). */
  private[graft] def explodedShingles(docs: DataFrame, idCol: String,
                                      textCol: String, n: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    if (n == 1) {
      toks.select(col("doc_id"), explode(array_distinct(col("toks"))).as("sh"))
    } else {
      // whole-text fallback only for 1..n-1 tokens: a ZERO-token doc
      // (the fused tokenizer yields [] for empty/punctuation-only
      // text) has an empty shingle set and no signature — matching
      // the MinHash/SimHash kernels' null-on-empty convention and the
      // n = 1 branch (explode of [] emits nothing)
      val small = toks
        .filter(size(col("toks")) > 0 && size(col("toks")) < n)
        .select(col("doc_id"), array_join(col("toks"), " ").as("sh"))
      assembleNgrams(toks, n).unionByName(small)
    }
  }

  /** LSH banding: k sigs → k/rows bands, band key = md5(band idx ||
    * joined sigs).  Returns (band_key, doc_id) — the exploded, shuffled
    * unit is this 2-column row, never the document. */
  def lshBands(sigs: DataFrame, rows: Int): DataFrame = {
    sigs.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), (size(col("sig")) / rows).cast("int") - 1),
        b => md5(concat(b.cast("string"), lit("|"),
          array_join(slice(col("sig"), b * rows + 1, lit(rows)), ","))))))
      .select(col("doc_id"), col("col").as("band_key"))
  }

  /** Exact Jaccard over distinct token sets for a pair of token arrays. */
  def jaccard(ta: Column, tb: Column): Column = {
    val da = array_distinct(ta)
    val db = array_distinct(tb)
    val inter = size(array_intersect(da, db)).cast("double")
    inter / (size(da) + size(db) - inter)
  }

  /** Jaccard for already-distinct SORTED integer arrays: merge-count
    * intersection via the custom codegen'd
    * [[graft.plans.SortedIntersectSize]] expression — allocation-free,
    * ~30× cheaper than hash-based array_intersect per pair. */
  private def jaccardDistinct(da: Column, db: Column): Column = {
    val inter = graft.plans.SortedIntersectSize
      .sortedIntersectSize(da, db).cast("double")
    inter / (size(da) + size(db) - inter)
  }

  /** Hash-encode distinct token sets to sorted int64 arrays:
    * (id, [block], toks:array<bigint>, sz).  Token ids are
    * `xxhash64(token)` — computed MAP-SIDE, entirely inside the scan
    * task: no vocabulary build, no dictionary shuffle, no global
    * coordination of any kind, so the encoding step scales with mapper
    * count alone.  Every pairwise comparison downstream moves 8-byte
    * ints instead of strings, and set intersection runs as a sorted
    * merge.  A 64-bit hash collision would merge two distinct tokens
    * (birthday bound: P ≈ v²/2⁶⁵ for vocabulary size v — negligible
    * below ~10⁸ distinct tokens and detectable by the oracle's exact
    * string-token replay, which this engine's tests compare against). */
  private[graft] def encodeTokenSets(docs: DataFrame, idCol: String,
                                     textCol: String,
                                     blockCol: Option[String]): DataFrame = {
    // hash+distinct+sort as one codegen'd kernel call (the composed
    // sort_array(array_distinct(transform(…, xxhash64))) form evaluates
    // its lambda interpreted; DedupSpec keeps it as the oracle)
    val base = Seq(col(idCol).as("id")) ++ blockCol.map(c => col(c).as("blk"))
    docs.select(base :+ graft.plans.TokenSetEncode
      .tokenSetEncode(TextAnalysis.tokens(col(textCol))).as("toks"): _*)
      .withColumn("sz", size(col("toks")))
  }

  /** Size-ratio prefilter implied by J ≥ τ: inter ≤ min(|A|,|B|) and
    * union ≥ max(|A|,|B|) force min/max ≥ τ.  Sound (never drops a
    * qualifying pair), prunes most candidates before any intersection. */
  private def sizeCompatible(sa: Column, sb: Column, tau: Double): Column =
    least(sa, sb).cast("double") / greatest(sa, sb) >= tau

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidate
    * pairs → exact-Jaccard verification at `threshold`.  Output
    * (a, b, jaccard) — only verified near-dups survive, so LSH recall
    * (not precision) is the only approximation.
    *
    * `estCull`: optional estimate-then-verify prefilter (the Bloom/CMS
    * pattern applied to pair verification).  When set, each candidate
    * pair is first scored with the O(k) signature lane-match estimate
    * (see [[minhashEstimate]]) and only pairs with estimate ≥ `estCull`
    * fetch token arrays for exact verification.  The estimate join
    * moves two k-lane signatures (~k·8 B) per pair instead of two
    * token sets (O(|doc|)), so on candidate sets dominated by
    * below-threshold pairs the verify stage shrinks to the survivors.
    * The cull is DETERMINISTIC given the signatures (no runtime
    * randomness), so an oracle replaying the same lanes reproduces the
    * output bit-for-bit.  Statistically it can drop a qualifying pair
    * whose signature under-samples its true Jaccard: conditioned on
    * sharing a band (2 lanes), a J = τ = 0.8 pair fails a 0.5 cutoff at
    * k = 8 with p = P(Bin(6, 0.8) ≤ 1) ≈ 0.0016, vanishing for J > τ —
    * DedupSpec pins subset + ≥0.999 recall vs the unculled path on real
    * documents.  When to use it: corpora where band collisions give LOW
    * candidate precision (typical at corpus scale).  The declared x3
    * leaves it off — on the self-similar test corpus candidate precision
    * is already ~98%, so the cull costs more than it saves (measured,
    * PERF.md round 8). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 8, bandRows: Int = 2,
                      threshold: Double = 0.8, salts: Int = 16,
                      estCull: Option[Double] = None): DataFrame = {
    // Shape matters here: the band self-join and candidate-distinct run
    // on skinny (band_key, id) rows — boilerplate-heavy buckets inflate
    // pair counts multiplicatively, so nothing wide may flow through
    // them.  Token arrays attach AFTER the distinct, as plain equi-joins
    // with NO broadcast hint: the encoded token table is doc-count-sized,
    // so the optimizer (AQE, with accurate post-checkpoint stats)
    // broadcasts it when it fits and falls back to a shuffled hash join
    // when it doesn't — an explicit hint would instead force driver
    // materialization and hit the 8 GB broadcast hard limit at scale.
    // Each surviving candidate is verified exactly once.
    // localCheckpoint: both self-join sides consume bands/enc; without
    // materialization each side would recompute the full
    // shingle→md5→min-agg chain (the salt columns differ per side, so
    // exchange reuse can't kick in).  Both tables are doc-count-sized —
    // KBs per partition — and the checkpoint also gives AQE real sizes
    // for its broadcast decision.
    val sigs0 = minhashSignatures(docs, idCol, textCol, n, k)
    // with the estimate cull the signature table is consumed twice
    // (banding + per-pair estimate) — materialize once
    val sigs = if (estCull.isDefined) sigs0.localCheckpoint() else sigs0
    val enc = encodeTokenSets(docs, idCol, textCol, None).localCheckpoint()
    // size-ratio prefilter runs INSIDE the band self-join (sz is one
    // extra int on the skinny band rows) so incompatible pairs never
    // reach the candidate distinct
    val szOnly = enc.select(col("id").as("doc_id"), col("sz"))
    val bands = lshBands(sigs, bandRows).join(szOnly, "doc_id")
      .localCheckpoint()
    // Salted self-join: boilerplate-heavy corpora put thousands of docs
    // in one band bucket, which would pin that bucket's O(n²) pair
    // generation on a single task.  Salting the left side and
    // replicating the right across `salts` sub-keys preserves exactly
    // the same pair set while spreading a hot bucket over `salts`
    // tasks.  Default 16 suits tens of cores; raise to O(executor
    // count) on a cluster (the right side replicates `salts`×, so don't
    // oversize it either).
    require(salts >= 1, s"salts must be >= 1, got $salts")
    // Explicit co-partitioning on the join keys, at the session's
    // shuffle parallelism, on BOTH sides: the pair join EXPLODES its
    // skinny input ~bucket²-fold, and AQE sizes stages by INPUT bytes —
    // left alone it coalesces (or local-shuffle-reads a broadcast
    // probe down to) 2-3 tasks holding the whole explosion.
    // User-specified partition counts are exempt from AQE coalescing,
    // so the explosion runs at full width; the cost is two skinny-row
    // shuffles that were happening anyway.  Measured at sf0.1: pair
    // stage 3 tasks / 2.9 s → 32 tasks / ~0.6 s (PERF.md round 8).
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val a = bands.select(col("band_key"), col("doc_id").as("a"), col("sz").as("sa"))
      .withColumn("salt", pmod(hash(col("a")), lit(salts)))
      .repartition(parts, col("band_key"), col("salt"))
    val b = bands.select(col("band_key"), col("doc_id").as("b"), col("sz").as("sb"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      .repartition(parts, col("band_key"), col("salt"))
    val cands = a.join(b, Seq("band_key", "salt"))
      .filter(col("a") < col("b") &&
        sizeCompatible(col("sa"), col("sb"), threshold))
      .select(col("a"), col("b")).distinct()
    // O(k) lane-match cull BEFORE the token arrays attach: skinny
    // (a, b, sig, sig) rows, fully codegen'd expanded sum, integer
    // cutoff ceil(estCull·k) so the oracle mirrors it exactly
    val toVerify = estCull match {
      case Some(minEst) =>
        val cut = math.ceil(minEst * k).toInt
        val sa = sigs.select(col("doc_id").as("a"), col("sig").as("__sa"))
        val sb = sigs.select(col("doc_id").as("b"), col("sig").as("__sb"))
        val laneMatches = (0 until k).map(i =>
          when(element_at(col("__sa"), i + 1) === element_at(col("__sb"), i + 1),
            1).otherwise(0)).reduce(_ + _)
        cands.join(sa, "a").join(sb, "b")
          .filter(laneMatches >= lit(cut))
          .select(col("a"), col("b"))
      case None => cands
    }
    val ea = enc.select(col("id").as("a"), col("toks").as("ta"))
    val eb = enc.select(col("id").as("b"), col("toks").as("tb"))
    toVerify.join(ea, "a").join(eb, "b")
      .withColumn("jaccard", jaccardDistinct(col("ta"), col("tb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Exact blocked n-gram-Jaccard join: all pairs within a blocking key
    * (language, length bucket, …) scored exactly.  The oracle-checkable
    * ground truth for the LSH path; quadratic only within blocks. */
  def blockedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                          blockCol: String, threshold: Double): DataFrame = {
    // materialized once — consumed by both self-join sides
    val enc = encodeTokenSets(docs, idCol, textCol, Some(blockCol))
      .localCheckpoint()
    val a = enc.select(col("blk"), col("id").as("a"), col("toks").as("ta"),
      col("sz").as("sa"))
    val b = enc.select(col("blk"), col("id").as("b"), col("toks").as("tb"),
      col("sz").as("sb"))
    a.join(b, "blk")
      .filter(col("a") < col("b") &&
        sizeCompatible(col("sa"), col("sb"), threshold))
      .withColumn("jaccard", jaccardDistinct(col("ta"), col("tb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Sketch-estimated Jaccard for candidate pairs: matching signature
    * lanes / k — the estimation half of the MinHash story (banding,
    * x3, is its retrieval half).  P(lane match) = J exactly, so the
    * estimate is an unbiased k-sample mean with σ = √(J(1−J)/k);
    * production dedup uses it to SKIP the exact token-set verify when
    * k is large enough to decide, turning the per-pair cost from
    * O(|doc|) into O(k).
    *
    * Scale shape: signatures come from the zero-shuffle
    * [[graft.plans.MinHashSig]] kernel pass; each pair then moves two
    * k-lane arrays (k·8 chars) instead of two token sets, and the
    * lane-match count is a fully codegen'd expanded sum. */
  def minhashEstimate(docs: DataFrame, idCol: String, textCol: String,
                      pairs: DataFrame, n: Int = 1,
                      k: Int = 8): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, n, k)
    val matches = (0 until k).map(i =>
      when(element_at(col("__sa"), i + 1) === element_at(col("__sb"), i + 1),
        1).otherwise(0)).reduce(_ + _)
    // LEFT joins: a token-less doc has no signature (minhashSignatures
    // drops null sigs); its pairs must surface with a null estimate
    // rather than silently vanish from the output
    pairs.select(col("a"), col("b"))
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("__sa")),
        Seq("a"), "left")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("__sb")),
        Seq("b"), "left")
      .select(col("a"), col("b"),
        when(col("__sa").isNull || col("__sb").isNull, lit(null))
          .otherwise(round(matches / lit(k.toDouble), 4))
          .as("est_jaccard"))
  }

  /** Containment near-dup pairs: score = |A∩B| / min(|A|,|B|) — the
    * SUBSET-duplication signal plain Jaccard misses.  A short document
    * quoted whole inside a long one scores containment 1.0 but Jaccard
    * ≈ |A|/|B| → such pairs never clear a Jaccard threshold; this is
    * the standard second lens for boilerplate wrapping and quote
    * inclusion.  Same blocked self-join shape as
    * [[blockedJaccardPairs]], BUT no size-ratio prefilter — asymmetric
    * pairs are precisely the target, so pruning by size would delete
    * the answer.  The merge-count intersection still runs as the
    * codegen'd [[graft.plans.SortedIntersectSize]] kernel over sorted
    * int64 token sets. */
  def blockedContainmentPairs(docs: DataFrame, idCol: String,
                              textCol: String, blockCol: String,
                              threshold: Double): DataFrame = {
    // empty-token docs would make the min-size denominator 0 → null
    // containment → the pair silently drops (and DuckDB's 0-division
    // semantics need not agree) — exclude them up front, mirroring the
    // Jaccard path's implicit sz>0 behavior
    val enc = encodeTokenSets(docs, idCol, textCol, Some(blockCol))
      .filter(col("sz") > 0)
      .localCheckpoint()
    val a = enc.select(col("blk"), col("id").as("a"), col("toks").as("ta"),
      col("sz").as("sa"))
    val b = enc.select(col("blk"), col("id").as("b"), col("toks").as("tb"),
      col("sz").as("sb"))
    a.join(b, "blk")
      .filter(col("a") < col("b"))
      .withColumn("containment",
        graft.plans.SortedIntersectSize
          .sortedIntersectSize(col("ta"), col("tb")).cast("double")
          / least(col("sa"), col("sb")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
  }

  /** Corpus-scale containment pairs: the [[blockedContainmentPairs]]
    * subset-duplication lens derived in CLOSED FORM over an
    * already-verified Jaccard pair set, instead of a fresh quadratic
    * self-join.  With distinct-token sizes |A|, |B| and J =
    * |A∩B| / |A∪B|, the intersection is recoverable exactly:
    * |A∩B| = J/(1+J)·(|A|+|B|), so containment = that / min(|A|,|B|)
    * — no token sets move, the only new work is two doc-count-sized
    * size joins onto the (a, b, jaccard) edges.  This makes
    * containment FREE wherever an LSH pair set (x3's pipeline)
    * already exists, which is the production shape: every other
    * pairwise family got its sub-linear path this way
    * (clusters→x20b, edit-dups→x55b).
    *
    * Recall caveat (stated, not hidden): a pair's retrievability is
    * the RETRIEVER's — Jaccard-banded LSH under-retrieves extremely
    * asymmetric pairs (containment 1.0 but J ≈ |A|/|B| below the
    * band threshold).  [[blockedContainmentPairs]] remains the exact
    * lens for full asymmetric recall within blocks; this is the
    * corpus-scale score surface over the retrieved edge set.  Pairs
    * referencing token-less docs cannot appear (such docs emit no
    * signature upstream), mirroring the exact path's sz > 0 guard. */
  def containmentFromJaccardPairs(docs: DataFrame, idCol: String,
                                  textCol: String, pairs: DataFrame,
                                  threshold: Double): DataFrame = {
    val sz = encodeTokenSets(docs, idCol, textCol, None)
      .filter(col("sz") > 0)
      .select(col("id"), col("sz"))
    pairs.select(col("a"), col("b"), col("jaccard"))
      .join(sz.select(col("id").as("a"), col("sz").as("sa")), "a")
      .join(sz.select(col("id").as("b"), col("sz").as("sb")), "b")
      .withColumn("containment",
        col("jaccard") / (lit(1.0) + col("jaccard"))
          * (col("sa") + col("sb")) / least(col("sa"), col("sb")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
  }

  /** Benchmark decontamination: training documents sharing ≥1 word
    * n-gram with an evaluation/benchmark set.  Both sides explode to
    * (doc, shingle) rows (`explodedShingles` — codegen'd, the
    * whole-text fallback covers sub-n docs); the benchmark shingle set
    * deduplicates and drives a semi-join.  Scale shape: the benchmark
    * side is eval-set-sized (thousands of docs → MBs of distinct
    * shingles → AQE broadcasts it); the training side streams through
    * one hash semi-join and never materializes anywhere. */
  def contaminatedDocs(train: DataFrame, bench: DataFrame, idCol: String,
                       textCol: String, n: Int): DataFrame = {
    val t = explodedShingles(train, idCol, textCol, n)
    val b = explodedShingles(bench, idCol, textCol, n)
      .select(col("sh")).distinct()
    t.join(b, Seq("sh"), "left_semi").select(col("doc_id")).distinct()
  }

  /** [[contaminatedDocs]] with a Bloom prefilter — same EXACT answer,
    * built for the scale where even the "small" benchmark shingle set
    * is too wide to hash-join against every training shingle: the
    * bench set aggregates into `numBits` of filter
    * ([[graft.plans.BloomFilterAgg]], map-side OR partials), the
    * training stream drops non-candidate shingles inside whole-stage
    * codegen ([[graft.plans.BloomMightContain]] — no shuffle, no join,
    * ~numHashes masked loads per row), and only the surviving sliver
    * reaches the verifying semi-join that removes Bloom false
    * positives.  The bench side is pinned once and reused by build and
    * verify.  Size `numBits ≈ 10–15 bits per distinct bench shingle`
    * for a ~1% candidate false-positive rate. */
  def contaminatedDocsBloom(train: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            numBits: Int = 1 << 22,
                            numHashes: Int = 5): DataFrame =
    contaminatedInBatch(
      bloomGate(bench, idCol, textCol, n, numBits, numHashes),
      train, idCol, textCol)

  /** Build-once decontamination gate: the Bloom filter bytes plus the
    * pinned distinct bench-shingle table the verify join needs.  The
    * streaming sibling of [[LshIndex]] — construct it ONCE per job,
    * probe it every micro-batch ([[contaminatedInBatch]]); the n-gram
    * width is baked in so a probe cannot silently mix shingle
    * schemes. */
  case class BloomGate(bloomBytes: Array[Byte], benchShingles: DataFrame,
                       n: Int, numBits: Int, numHashes: Int,
                       bloom: org.apache.spark.broadcast.Broadcast[Array[Long]])

  /** Aggregate the benchmark set into a [[BloomGate]]: distinct bench
    * shingles (localCheckpointed — build and every verify join reuse
    * the one materialization) and their Bloom filter
    * ([[graft.plans.BloomFilterAgg]], map-side OR partials).  Size
    * `numBits ≈ 10–15 bits per distinct bench shingle` for a ~1%
    * candidate false-positive rate. */
  def bloomGate(bench: DataFrame, idCol: String, textCol: String,
                n: Int, numBits: Int = 1 << 22,
                numHashes: Int = 5): BloomGate = {
    import graft.plans.BloomFilterAgg
    val b = explodedShingles(bench, idCol, textCol, n)
      .select(col("sh")).distinct().localCheckpoint()
    val bloomBytes = b
      .agg(BloomFilterAgg.bloomAgg(xxhash64(col("sh")), numBits, numHashes))
      .head().getAs[Array[Byte]](0)
    // broadcast ONCE at gate build: every micro-batch probe reuses the
    // per-executor copy instead of re-shipping filter bytes per batch
    BloomGate(bloomBytes, b, n, numBits, numHashes,
      graft.plans.BloomMightContain.broadcastBloom(bloomBytes))
  }

  /** Probe a [[BloomGate]] with one (micro-)batch: batch shingles drop
    * non-candidates inside whole-stage codegen
    * ([[graft.plans.BloomMightContain]] — no shuffle, no join,
    * ~numHashes masked loads per row), and only the surviving sliver
    * reaches the verifying semi-join that removes Bloom false
    * positives — same EXACT answer as [[contaminatedDocs]].  The
    * decision is per-document, so batch boundaries cannot change the
    * verdict (StreamingSpec pins stream ≡ batch). */
  def contaminatedInBatch(gate: BloomGate, batch: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    import graft.plans.BloomMightContain
    explodedShingles(batch, idCol, textCol, gate.n)
      .filter(BloomMightContain.bloomMightContain(gate.bloom, gate.numBits,
        gate.numHashes, xxhash64(col("sh"))))
      .join(gate.benchShingles, Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Ingest-time near-dup gate — the stream-static shape of
    * [[minhashLshPairs]]: flag each INCOMING document that is a
    * verified near-duplicate of the EXISTING corpus, with its best
    * match (max jaccard, min existing-id tiebreak — deterministic).
    *
    * This is how dedup runs in production ingest: the existing corpus
    * is indexed ONCE (band table + encoded token sets — at scale both
    * persist as tables bucketed by band_key / id), and each incoming
    * micro-batch computes its own bands map-side and equi-joins the
    * index.  No salting on this path: the incoming side is
    * batch-bounded, so a hot band costs candidates proportional to the
    * batch, not the corpus.  Used under `foreachBatch` for Structured
    * Streaming ingest (StreamingSpec proves batch-equivalence). */
  def lshMatchAgainst(existing: DataFrame, incoming: DataFrame,
                      idCol: String, textCol: String,
                      n: Int = 1, k: Int = 8, bandRows: Int = 2,
                      threshold: Double = 0.8): DataFrame =
    lshMatchIndexed(lshIndex(existing, idCol, textCol, n, k, bandRows),
      incoming, idCol, textCol, threshold)

  /** Materialized LSH corpus index: band table + encoded token sets,
    * with the signature parameters baked in so a match call cannot
    * silently mix incompatible band schemes.  `legs` counts the pinned
    * union legs accumulated since the last compaction (the
    * [[Indexes]] discipline). */
  case class LshIndex(bands: DataFrame, enc: DataFrame,
                      n: Int, k: Int, bandRows: Int, legs: Int = 1)

  /** Index the existing corpus ONCE for [[lshMatchIndexed]]:
    * localCheckpoint pins both tables so every subsequent micro-batch
    * joins materialized data instead of recomputing the
    * shingle→md5→min-agg chain.  At production scale these persist as
    * tables (bucketed by band_key / id) and are unioned with each
    * accepted batch's own bands. */
  def lshIndex(existing: DataFrame, idCol: String, textCol: String,
               n: Int = 1, k: Int = 8, bandRows: Int = 2): LshIndex = {
    val parts = existing.sparkSession.sessionState.conf.numShufflePartitions
    // Spread the CORPUS before any compute (round-16, the r15 verdict's
    // st4 finding): a corpus that arrives as one file runs the fused
    // scan→tokenize→md5→encode leg as ONE task — BENCH_r15's st4
    // worst-run profile recorded that exact stage at 4.2 s / 1 task
    // under load.  One round-robin shuffle of the raw text up front
    // parallelizes BOTH build legs (enc and bands) and is paid once at
    // build time, amortized over every micro-batch probe; at real
    // corpus scale the scan already carries many tasks and this
    // exchange is AQE-coalesced noise.
    val ex = existing.repartition(parts)
    // enc pins with the spread partitioning (NOT re-hashed on ex_id:
    // a round-16 A/B measured the extra enc-sized exchange at +0.27 s
    // per build vs +0.15 s for the spread alone, and the in-session
    // probe joins are batch-bounded either way — the disk-persisted
    // form gets durable ex_id locality from [[saveLshIndex]]'s
    // bucketBy, which is where month-scale probe amortization lives).
    val enc = encodeTokenSets(ex, idCol, textCol, None)
      .select(col("id").as("ex_id"), col("toks").as("te"),
        col("sz").as("se"))
      .localCheckpoint()
    // band rows carry sz (one extra int) so the size-ratio prefilter
    // can run INSIDE the band join, before the candidate distinct —
    // same placement as minhashLshPairs.
    // Repartition by band_key BEFORE pinning: every micro-batch probe
    // joins this table with the (small, broadcast) incoming bands, so
    // the probe stage's parallelism IS this checkpoint's partition
    // count — unwidened, a few input-sized blocks hold each batch's
    // full candidate explosion (measured: st4's candidate stage ran 1
    // task, PERF.md round 8).  One shuffle at BUILD time, amortized
    // over every batch; the disk-persisted form (saveLshIndex) gets
    // the same locality from bucketing by band_key.
    val bands =
      lshBands(minhashSignatures(ex, idCol, textCol, n, k), bandRows)
        .select(col("band_key"), col("doc_id").as("ex_id"))
        .join(enc.select(col("ex_id"), col("se")), "ex_id")
        .repartition(parts, col("band_key"))
        .localCheckpoint()
    LshIndex(bands, enc, n, k, bandRows)
  }

  /** Grow an [[LshIndex]] with a batch the gate just ACCEPTED — the
    * incremental half of the ingest loop.  Real ingest must flag a
    * near-dup of a document accepted five minutes ago, not just of the
    * original corpus, so after each micro-batch the accepted survivors
    * fold into the index: bands and token sets are unioned and
    * re-pinned.  Cost is O(batch), NOT O(index): only the new legs are
    * checkpointed and the union over already-materialized legs stays
    * lazy — re-checkpointing the union would copy the whole index
    * every micro-batch.  Every [[Indexes.CompactLegs]] extensions the
    * chain auto-compacts (both tables re-checkpointed as one leg,
    * re-partitioned by their probe keys), bounding probe-plan depth
    * for gates that run for months; persist
    * ([[saveLshIndex]]/[[loadLshIndex]]) for the cross-restart form. */
  def extendLshIndex(index: LshIndex, accepted: DataFrame,
                     idCol: String, textCol: String): LshIndex = {
    val enc = encodeTokenSets(accepted, idCol, textCol, None)
      .select(col("id").as("ex_id"), col("toks").as("te"),
        col("sz").as("se"))
      .localCheckpoint()
    val bands = lshBands(
      minhashSignatures(accepted, idCol, textCol, index.n, index.k),
      index.bandRows)
      .select(col("band_key"), col("doc_id").as("ex_id"))
      .join(enc.select(col("ex_id"), col("se")), "ex_id")
      .localCheckpoint()
    val gBands = index.bands.unionByName(bands)
    val gEnc = index.enc.unionByName(enc)
    if (index.legs + 1 >= Indexes.CompactLegs) {
      val parts =
        accepted.sparkSession.sessionState.conf.numShufflePartitions
      LshIndex(
        gBands.repartition(parts, col("band_key")).localCheckpoint(),
        gEnc.repartition(parts, col("ex_id")).localCheckpoint(),
        index.n, index.k, index.bandRows, legs = 1)
    } else LshIndex(gBands, gEnc, index.n, index.k, index.bandRows,
      index.legs + 1)
  }

  /** Persist an [[LshIndex]] as BUCKETED tables — the cross-job form
    * of the ingest gate's index.  `localCheckpoint` pins the index for
    * one driver's lifetime; production ingest runs for months, so the
    * index must survive restarts AND keep its join locality: bucketing
    * by the join key means every later [[lshMatchIndexed]] call reads
    * the corpus-sized side pre-partitioned — the scan provides the
    * hash partitioning, only the batch-bounded incoming side shuffles.
    * At 100 TB that is the difference between re-shuffling the corpus
    * every batch and never shuffling it again.
    *
    * Signature parameters (n, k, bandRows) are stored as table
    * properties so [[loadLshIndex]] cannot mix incompatible band
    * schemes. */
  def saveLshIndex(index: LshIndex, bandsTable: String, encTable: String,
                   buckets: Int = 16): Unit = {
    index.bands.write.mode("overwrite")
      .bucketBy(buckets, "band_key").sortBy("band_key")
      .format("parquet").saveAsTable(bandsTable)
    index.enc.write.mode("overwrite")
      .bucketBy(buckets, "ex_id").sortBy("ex_id")
      .format("parquet").saveAsTable(encTable)
    val spark = index.bands.sparkSession
    val props = s"'graft.lsh.n'='${index.n}', 'graft.lsh.k'='${index.k}', " +
      s"'graft.lsh.bandRows'='${index.bandRows}'"
    spark.sql(s"ALTER TABLE ${SqlIdent.quote(bandsTable)} SET TBLPROPERTIES ($props)")
    spark.sql(s"ALTER TABLE ${SqlIdent.quote(encTable)} SET TBLPROPERTIES ($props)")
  }

  /** Reopen a bucketed [[LshIndex]] written by [[saveLshIndex]],
    * restoring the signature parameters from the table properties. */
  def loadLshIndex(spark: org.apache.spark.sql.SparkSession,
                   bandsTable: String, encTable: String): LshIndex = {
    def prop(table: String, key: String): Int = {
      val rows = spark.sql(s"SHOW TBLPROPERTIES ${SqlIdent.quote(table)}").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      rows.getOrElse(key, sys.error(
        s"$table is not a graft LSH index table (missing $key)")).toInt
    }
    val (n, k, bandRows) = (prop(bandsTable, "graft.lsh.n"),
      prop(bandsTable, "graft.lsh.k"), prop(bandsTable, "graft.lsh.bandRows"))
    require(prop(encTable, "graft.lsh.n") == n &&
      prop(encTable, "graft.lsh.k") == k &&
      prop(encTable, "graft.lsh.bandRows") == bandRows,
      s"$bandsTable / $encTable carry different signature parameters")
    LshIndex(spark.table(bandsTable), spark.table(encTable), n, k, bandRows)
  }

  /** Match one incoming batch against a prebuilt [[LshIndex]] — the
    * per-micro-batch half of the ingest gate. */
  def lshMatchIndexed(index: LshIndex, incoming: DataFrame,
                      idCol: String, textCol: String,
                      threshold: Double = 0.8): DataFrame = {
    // Spread the BATCH first: a micro-batch often arrives as one file,
    // and with the index broadcast the whole probe pipeline — encode,
    // signatures, band join, candidate explosion — would otherwise run
    // fused on that one scan task (measured: st4's candidate stage ran
    // 1 task holding a ~1.4 M-row explosion, PERF.md round 8).  One
    // batch-sized round-robin shuffle up front parallelizes everything
    // downstream and keeps the per-stage fusion intact.
    val parts = incoming.sparkSession.sessionState.conf.numShufflePartitions
    val in = incoming.repartition(parts)
    val inEnc = encodeTokenSets(in, idCol, textCol, None)
      .select(col("id").as("in_id"), col("toks").as("ti"), col("sz").as("si"))
    val inBands = lshBands(
      minhashSignatures(in, idCol, textCol, index.n, index.k),
      index.bandRows).select(col("band_key"), col("doc_id").as("in_id"))
      .join(inEnc.select(col("in_id"), col("si")), "in_id")
    val cands = inBands.join(index.bands, "band_key")
      .filter(sizeCompatible(col("si"), col("se"), threshold))
      .select(col("in_id"), col("ex_id")).distinct()
    cands.join(inEnc, "in_id").join(index.enc, "ex_id")
      .withColumn("jaccard", jaccardDistinct(col("ti"), col("te")))
      .filter(col("jaccard") >= threshold)
      // min_by over (-jaccard, ex_id) = highest jaccard, ties → lowest
      // ex_id — WITHOUT negating the id, so non-numeric idCols work
      // (unary minus on a string id casts to double → NULL match_id)
      .groupBy(col("in_id"))
      .agg(max(col("jaccard")).as("jaccard"),
        min_by(col("ex_id"),
          struct((-col("jaccard")).as("nj"), col("ex_id"))).as("match_id"))
      .select(col("in_id").as("doc_id"), col("match_id"), col("jaccard"))
  }

  /** Contamination REPORT — the severity ranking on top of
    * [[contaminatedDocs]]' boolean: for each contaminated training
    * document, the fraction of its distinct n-grams that appear
    * anywhere in the benchmark set.  A doc sharing one boilerplate
    * 5-gram and a doc that IS a benchmark item both flag; this tells
    * them apart so the pipeline can rank, audit, or threshold drops.
    *
    * Same scale shape as [[contaminatedDocs]]: distinct benchmark
    * shingles stay eval-set-sized (AQE broadcasts them), the training
    * side streams through one left join + per-doc count agg. */
  def contaminationOverlap(train: DataFrame, bench: DataFrame,
                           idCol: String, textCol: String,
                           n: Int): DataFrame = {
    val t = explodedShingles(train, idCol, textCol, n).distinct()
    val b = explodedShingles(bench, idCol, textCol, n)
      .select(col("sh")).distinct().withColumn("__hit", lit(1))
    t.join(b, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") / col("n_shingles")).as("overlap_frac"))
  }

  /** The BENCH-side exposure rollup — the inverse lens of
    * [[contaminationOverlap]] (which scores each contaminated TRAIN
    * doc): for every benchmark item, how compromised is it — how many
    * training documents share any of its n-grams, and what fraction of
    * its distinct n-grams leaks in the worst single training doc.  An
    * eval-hygiene report reads THIS table to decide which benchmark
    * rows to retire or re-split; the train-side lenses decide what to
    * clean.  Bench items with zero leakage are included (n_train_docs
    * = 0) so the report is complete.
    *
    * Scale shape: both sides collapse to per-doc-DISTINCT (doc, hash)
    * rows; the join key is the shingle hash; aggregates are bench-sized.
    * Output: (bench_id, n_shingles, n_train_docs, max_overlap). */
  def benchExposure(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 5): DataFrame = {
    val b = explodedShingles(bench, idCol, textCol, n)
      .select(col("doc_id").as("bench_id"), col("sh")).distinct()
    val bSize = b.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val t = explodedShingles(train, idCol, textCol, n)
      .select(col("doc_id").as("train_id"), col("sh")).distinct()
    val perPair = b.join(t, "sh")
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).as("__shared"))
    val rollup = perPair.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_train_docs"),
        max(col("__shared")).as("__worst"))
    bSize.join(rollup, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        round(coalesce(col("__worst"), lit(0L)) / col("n_shingles"), 4)
          .as("max_overlap"))
  }

  /** Connected components over a near-duplicate pair set →
    * (doc_id, cluster_id) for EVERY input document; cluster_id is the
    * smallest doc_id in the component (singletons keep their own id).
    *
    * This turns pairwise near-dup evidence ([[minhashLshPairs]],
    * [[blockedJaccardPairs]],
    * [[Similarity.cosineNearDupPairsBucketed]]) into dedup DECISIONS:
    * one canonical keeper per cluster, everything else droppable — the
    * transitive-closure step every corpus-dedup pipeline needs (A≈B,
    * B≈C must collapse to ONE keeper even when A≉C directly).
    *
    * Algorithm: hash-min label propagation with DELTA iteration —
    * round r only the labels that improved in round r-1 send messages
    * (a label that didn't change was already propagated when it was
    * set), so per-round message volume collapses after the first
    * sweep instead of re-flooding the whole graph every round.  The
    * fixpoint labels each node with its component minimum in
    * O(graph diameter) rounds; near-dup graphs are dense local
    * cliques with tiny diameters, so the round count stays
    * single-digit where the O(log n)-round star-contraction family
    * pays bigger per-round constants.  Each round is one skinny
    * equi-join (edges × changed-labels) plus a min-agg — both
    * AQE-planned, nothing ever materializes on the driver.  Lineage is
    * cut per round with a LAZY localCheckpoint whose materialization
    * job is the changed-row count — so the convergence probe and the
    * checkpoint are ONE driver action per round, not two. */
  /** Delta rows at or under this broadcast to the label-propagation
    * round's edge scan instead of shuffle-joining (16-byte rows →
    * ≤ ~8 MB broadcast).  The first sweep always shuffle-joins (the
    * delta is the whole node set); `changed` then shrinks
    * geometrically on near-dup graphs, so every later round gets the
    * map-side shape. */
  val DeltaBroadcastRows: Long = 500000L

  def duplicateClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                        maxIter: Int = 25): DataFrame = {
    val nodes = docs.select(col(idCol).cast("long").as("node"))
    // repartition BEFORE the checkpoint: LogicalRDD keeps the hash
    // partitioning, so every round's edges⋈delta join reuses it and
    // only the (shrinking) delta side shuffles — the edge table, the
    // biggest relation in the loop, crosses the network once, not
    // once per round
    // One pass over pairs, not a two-leg union: explode emits both
    // directions from a single scan of the (often checkpointed) pair
    // table, halving the read side of the operator's dominant stage —
    // the one-time 2|pairs|-row materialization below.
    val edges = pairs.select(explode(array(
        struct(col("a").cast("long").as("s"), col("b").cast("long").as("d")),
        struct(col("b").cast("long").as("s"), col("a").cast("long").as("d"))
      )).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
      .repartition(col("s"))
      .localCheckpoint()
    // No fixed repartition on labels: the first round's join shuffles
    // the n-row label table once either way, and letting AQE size that
    // exchange (instead of pinning numShufflePartitions tasks) means
    // every later round — whose joined checkpoint inherits the join's
    // partitioning — runs with task counts matched to n.  At sf0.1
    // that is the difference between 32-task and 4-task round stages
    // on 5000 rows; at corpus scale AQE sizes upward identically.
    var labels = nodes.select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    var delta = labels // round 0: every initial label is news
    // Per-round checkpoint hygiene: once round r's checkpoint is
    // materialized (by its changed-row count), round r-1's blocks are
    // unreachable from any live handle — release them immediately.
    // Without this the loop pins rounds × n label rows, which at the
    // 100× corpus is exactly the GC/eviction churn the round-13 bench
    // spread traced to this operator (10 s of task GC inside a 1.4 s
    // checkpoint stage).  The finally releases the edge table and, on
    // the non-convergence throw, the last round too — the RETURNED
    // frame's own checkpoint is the one thing left pinned.
    import org.apache.spark.sql.graftbridge.ColumnBridge.unpersistPinned
    val spark = docs.sparkSession
    var prevCp = labels
    var deltaRows = -1L // unknown for round 1 (= node count, unmeasured)
    var iter = 0
    var converged = delta.isEmpty // only true here for an empty corpus
    try {
      while (iter < maxIter && !converged) {
        // Messages = edges ⋈ delta.  From round 2 on, `changed` (the
        // previous round's exact delta row count) is known — when it
        // fits a broadcast (the geometric-shrink regime every near-dup
        // graph enters after the first sweep), ship delta to the edge
        // blocks instead of shuffle-joining: the 2|E| edge table is
        // never sorted or re-shuffled, the round becomes edge-scan +
        // map-side-combined min aggregate, and the labels leg reuses
        // its checkpoint partitioning in the join below (zero shuffle
        // for the corpus-sized side — the 100 TB shape).  Round 1
        // (delta = every node) keeps the shuffle join.
        val dside =
          if (deltaRows >= 0 && deltaRows <= DeltaBroadcastRows)
            broadcast(delta)
          else delta
        val nbrMin = edges.join(dside, col("s") === col("node"))
          .groupBy(col("d")).agg(min(col("lbl")).as("nbl"))
          .withColumnRenamed("d", "node")
        // lazy checkpoint: the changed-row count below runs the round's
        // one job, materializing the checkpoint AND answering
        // convergence.  (Round-14 A/Bs, both REVERTED: path halving —
        // the measured graph converges in 4-5 rounds and the halving
        // self-join doubles the expensive edges×delta leg; and a
        // union-then-min single-aggregate round — fewer local stages,
        // but it re-shuffles the n-row labels leg every round where
        // this join reuses the labels checkpoint partitioning.)
        val joined = labels.as("l")
          .join(nbrMin.as("m"), Seq("node"), "left")
          .select(col("node"), col("l.lbl").as("old"),
            least(col("l.lbl"), coalesce(col("m.nbl"), col("l.lbl")))
              .as("lbl"))
          .localCheckpoint(eager = false)
        val changed = joined.filter(col("lbl") < col("old")).count()
        unpersistPinned(spark, prevCp)
        prevCp = joined
        labels = joined.select(col("node"), col("lbl"))
        delta = joined.filter(col("lbl") < col("old"))
          .select(col("node"), col("lbl"))
        deltaRows = changed
        converged = changed == 0
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"duplicateClusters did not converge in $maxIter rounds — the " +
            "pair graph has a longer path than expected; raise maxIter")
      labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    } finally {
      unpersistPinned(spark, edges)
      if (!converged) unpersistPinned(spark, prevCp)
    }
  }

  /** Canonical-document selection per duplicate cluster — the DECISION
    * step after [[duplicateClusters]]: within each cluster keep the
    * document with the largest `weightCol` (ties → smallest doc_id),
    * mark everything else droppable.  "Keep the longest member" is the
    * standard near-dup resolution heuristic (the longest copy is most
    * often the complete one); any numeric quality score works as the
    * weight.
    *
    * Scale: the per-cluster argmax is a `max_by` hash AGGREGATE, not a
    * window — partial aggregation collapses members map-side, so a
    * boilerplate mega-cluster (every copy of one template in the same
    * component) never pins a single task the way a partitioned-window
    * sort would.  (max weight, then lowest doc_id) is a unique key, so
    * the pick is deterministic.  The keeper table that joins back is
    * cluster-count-sized, so AQE broadcasts it.  Output one row per
    * input document: (doc_id, cluster_id, keeper_id, is_keeper). */
  def clusterKeepers(docs: DataFrame, idCol: String, pairs: DataFrame,
                     weightCol: String, maxIter: Int = 25): DataFrame =
    clusterKeepersFrom(docs, idCol,
      duplicateClusters(docs, idCol, pairs, maxIter), weightCol)

  /** [[clusterKeepers]] over an ALREADY-COMPUTED (doc_id, cluster_id)
    * table — the production shape: connected components run once (or
    * load via [[loadClusters]]) and every decision step reuses the
    * labels instead of re-running pair generation + transitive
    * closure. */
  def clusterKeepersFrom(docs: DataFrame, idCol: String,
                         clusters: DataFrame,
                         weightCol: String): DataFrame = {
    // double, not long: fractional quality scores (0.9 vs 0.2) must
    // order correctly, not both truncate to 0
    val weights = docs.select(col(idCol).cast("long").as("doc_id"),
      col(weightCol).cast("double").as("__w"))
    val members = clusters.join(weights, "doc_id")
    val keepers = members.groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("__w"), (-col("doc_id")).as("nd"))).as("keeper_id"))
    members.join(keepers, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("int").as("is_keeper"))
  }

  /** Cluster-level MinHash signatures via the
    * [[graft.plans.MinHashUnionAgg]] custom aggregate: the signature of
    * the UNION of a cluster's shingle sets is the elementwise minimum
    * of the members' signatures, so a cluster sketch costs one
    * aggregation over already-computed per-doc signatures — no
    * re-tokenization, no second text pass.  Cluster sketches let
    * cross-batch dedup compare an incoming document against whole
    * clusters (one row per cluster, not per member) and keep the
    * LSH index cluster-granular.
    *
    * Scale: per-doc signatures are narrow ([[minhashSignatures]]
    * kernel strategy), the cluster agg is a standard partial+final
    * hash aggregate on (cluster_id, k×8-byte sig) rows. */
  def clusterSignatures(docs: DataFrame, idCol: String, textCol: String,
                        pairs: DataFrame, n: Int = 1, k: Int = 8,
                        maxIter: Int = 25): DataFrame =
    clusterSignaturesFrom(docs, idCol, textCol,
      duplicateClusters(docs, idCol, pairs, maxIter), n, k)

  /** [[clusterSignatures]] over an ALREADY-COMPUTED
    * (doc_id, cluster_id) table — see [[clusterKeepersFrom]]. */
  def clusterSignaturesFrom(docs: DataFrame, idCol: String,
                            textCol: String, clusters: DataFrame,
                            n: Int = 1, k: Int = 8): DataFrame = {
    import graft.plans.MinHashUnionAgg.minhashUnion
    val sigs = minhashSignatures(docs, idCol, textCol, n, k)
    clusters.join(sigs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), minhashUnion(col("sig")).as("usig"))
  }

  /** Persist a (doc_id, cluster_id) table from [[duplicateClusters]] as
    * a BUCKETED table — the cross-job form of the dedup DECISION, same
    * pattern as [[saveLshIndex]]/[[saveIvfIndex]]: pair generation +
    * transitive closure run once per corpus snapshot, then every
    * consumer ([[clusterKeepersFrom]], [[clusterSignaturesFrom]],
    * drop-list joins, audits) reads the labels pre-partitioned on the
    * join key.  At 100 TB the CC iteration is the expensive step — it
    * must never be re-run because a second query wants the same
    * clusters. */
  def saveClusters(clusters: DataFrame, table: String,
                   buckets: Int = 16): Unit = {
    clusters.write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(table)
    clusters.sparkSession.sql(
      s"ALTER TABLE ${SqlIdent.quote(table)} SET TBLPROPERTIES ('graft.clusters'='1')")
  }

  /** Reopen a bucketed cluster table written by [[saveClusters]]. */
  def loadClusters(spark: org.apache.spark.sql.SparkSession,
                   table: String): DataFrame = {
    val props = spark.sql(s"SHOW TBLPROPERTIES ${SqlIdent.quote(table)}").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("graft.clusters").contains("1"),
      s"$table is not a graft cluster table (missing graft.clusters)")
    spark.table(table)
  }

  /** Incremental cluster maintenance: fold a batch's new pairs into
    * persisted labels WITHOUT recomputing connected components over
    * the full historical pair set — the months-long-ingest companion
    * to [[duplicateClusters]] (whose full recompute is the snapshot
    * path) and the labels analog of `extendLshIndex`.
    *
    * Exactness by reduction: `saved` is CONVERGED min-label CC output
    * (each cluster_id = min doc_id of its component — the
    * [[duplicateClusters]]/[[loadClusters]] contract), so adding Δ
    * edges can only union whole old components with each other and
    * with new docs.  Build the REDUCED graph whose nodes are touched
    * old component roots + new doc ids, with Δ's endpoints mapped
    * through saved labels, run the same delta-iterated label
    * propagation there, and the reduced min-label of a merged
    * component equals min(old component mins ∪ new ids) = the global
    * min a full recompute would assign.  `merge(saved, Δ) ≡
    * recompute(oldPairs ∪ Δ)` row for row — the x77 oracle checks
    * exactly this identity, and DedupSpec re-checks it against
    * [[duplicateClusters]] on randomized splits.
    *
    * Scale shape — every per-round structure is O(Δ), the corpus never
    * reshuffles: Δ's endpoint lookups LEFT-JOIN a `saved` table that
    * is bucketed on doc_id when loaded via [[loadClusters]] (scan, no
    * exchange on the corpus side — PlanAuditSpec asserts it); the
    * label propagation runs on the Δ-sized reduced graph; and the
    * final relabel joins the corpus-sized `saved` against a BROADCAST
    * Δ-sized root→label map, so the one full pass over saved is a
    * scan+project, not a shuffle.
    *
    * Contract: `newDocs` ids are disjoint from `saved` (an ingest
    * batch is new by definition); `newPairs` endpoints lie in
    * `saved ∪ newDocs`.  Output: (doc_id, cluster_id) for saved ∪ new
    * docs — same schema as [[duplicateClusters]], ready for
    * [[saveClusters]] compaction. */
  def mergeClusters(saved: DataFrame, newDocs: DataFrame, idCol: String,
                    newPairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val s = saved.select(col("doc_id").cast("long").as("doc_id"),
      col("cluster_id").cast("long").as("cluster_id"))
    val newIds = newDocs.select(col(idCol).cast("long").as("doc_id"))
    val dp = newPairs.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // Δ endpoints → saved component root (old docs) or self (new docs)
    val mapped = dp
      .join(s.select(col("doc_id").as("a"), col("cluster_id").as("__ca")),
        Seq("a"), "left")
      .join(s.select(col("doc_id").as("b"), col("cluster_id").as("__cb")),
        Seq("b"), "left")
      .select(coalesce(col("__ca"), col("a")).as("a"),
        coalesce(col("__cb"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // reduced node set: every new doc (keeps true singletons) + every
    // touched old root; label-propagate on this Δ-sized graph only
    val reducedNodes = newIds
      .unionByName(mapped.select(col("a").as("doc_id")))
      .unionByName(mapped.select(col("b").as("doc_id")))
      .distinct()
    val reduced =
      duplicateClusters(reducedNodes, "doc_id", mapped, maxIter)
    val relabel = reduced.select(col("doc_id").as("__root"),
      col("cluster_id").as("__nl"))
    // corpus-sized leg: one scan of saved + a broadcast lookup — the
    // only full pass, and it moves nothing on the network
    val outOld = s
      .join(broadcast(relabel), col("cluster_id") === col("__root"),
        "left")
      .select(col("doc_id"),
        coalesce(col("__nl"), col("cluster_id")).as("cluster_id"))
    val outNew = reduced.join(newIds, "doc_id")
      .select(col("doc_id"), col("cluster_id"))
    outOld.unionByName(outNew)
  }

  /** docs(id, text) → (doc_id, simhash): 16-bit SimHash from md5
    * nibbles — per bit position b, sum ±1 over tokens by whether hex
    * nibble b of md5(token) has its high bit set; fingerprint bit b =
    * (sum > 0).  One codegen'd [[graft.plans.SimHashSig]] call per
    * document: scan → project, no explode/aggregate/shuffle.  Docs
    * with no tokens get no row. */
  def simhashFingerprints(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    import graft.plans.SimHashSig.simhashSig
    docs
      .select(col(idCol).as("doc_id"),
        simhashSig(TextAnalysis.tokens(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Cross-source duplication matrix — curation analytics over a
    * near-dup pair set: for each unordered source pair, how many
    * near-duplicate document pairs cross it.  This is the table that
    * answers "which crawls/dumps duplicate each other" and drives
    * source-level dedup ordering (dedup the most-overlapping source
    * pair first) in multi-source corpus assembly.
    *
    * Scale shape: `pairs` is the skinny (a, b) edge table and the
    * doc→source map is a two-column projection of the corpus — both
    * shuffle as narrow keyed relations (AQE broadcasts the map when it
    * fits).  Source names order with least/greatest so the matrix is
    * symmetric-canonical; the output is #source² rows at most. */
  def crossSourceDupMatrix(docs: DataFrame, idCol: String,
                           sourceCol: String, pairs: DataFrame): DataFrame = {
    val srcOf = docs.select(col(idCol).cast("long").as("__id"),
      col(sourceCol).cast("string").as("__src"))
    pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .join(srcOf.select(col("__id").as("a"), col("__src").as("src_a")), "a")
      .join(srcOf.select(col("__id").as("b"), col("__src").as("src_b")), "b")
      .groupBy(least(col("src_a"), col("src_b")).as("source_1"),
        greatest(col("src_a"), col("src_b")).as("source_2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-document duplicated-n-gram fraction: for each doc, the share
    * of its DISTINCT word n-grams that also occur in at least one other
    * document (cf. the repeated-n-gram corpus filters in RefinedWeb /
    * Rae et al.'s MassiveText rules — a cheap substring-duplication
    * signal that needs no pairwise comparison at all).
    *
    * Scale shape: shingles assemble map-side (narrow `assembleNgrams`),
    * collapse to an md5 key, and deduplicate per doc BEFORE the global
    * aggregate, so the only corpus-sized shuffle carries distinct
    * (doc_id, 32-char-hash) rows — no document pair is ever formed, no
    * text rides a shuffle.  The n-gram→doc-count table is vocabulary-
    * sized; the final per-doc agg is a standard partial+final hash
    * aggregate.  Documents shorter than n collapse to one whole-text
    * shingle (the [[explodedShingles]] fallback), so every input doc gets
    * an output row. */
  def duplicatedNgramFraction(docs: DataFrame, idCol: String,
                              textCol: String, n: Int = 3): DataFrame = {
    // deliberately NOT checkpointed: the global counts and the join
    // side each recompute the shingle→md5→distinct chain (planner
    // exchange reuse does not fire across the union-of-fallback
    // subtrees), but the recompute is pure codegen'd CPU — measured at
    // sf0.1 it beats materializing the corpus-sized distinct table
    // 2.5× (0.8 s vs 2.0 s; PERF.md).  Past the point where the
    // duplicate DISTINCT SHUFFLE dominates (very wide clusters), pin
    // with .localCheckpoint() — the sourceDivergence idiom.
    val perDoc = explodedShingles(docs, idCol, textCol, n)
      .select(col("doc_id"), md5(col("sh")).as("h"))
      .distinct()
    val global = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("__n_docs"))
    perDoc.join(global, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac", round(col("n_shared") / col("n_ngrams"), 4))
  }

  /** Duplicated-SPAN localization — the surgical-removal companion to
    * [[duplicatedNgramFraction]]: where x37 *scores* cross-document
    * n-gram duplication per doc, this emits the actual offsets, so a
    * pipeline can excise shared boilerplate from a document instead of
    * dropping the whole document (cf. the exact-substring dedup run
    * alongside MinHash in public crawl-pipeline recipes, e.g. the
    * suffix-array pass of Lee et al. "Deduplicating Training Data
    * Makes Language Models Better" — re-expressed here as a
    * shingle-position inverted index + run merge, which Spark executes
    * as joins/windows instead of a monolithic suffix array).
    *
    * Output: one row per MAXIMAL run of consecutive cross-doc-shared
    * n-gram start positions —
    * (doc_id, span_start, span_end, n_ngrams, n_docs_sharing), token
    * offsets inclusive (span_end = last shared start + n − 1, the last
    * token any shared n-gram in the run covers).  `n_docs_sharing` =
    * the MINIMUM per-shingle doc count inside the run: at least 2 by
    * construction, and an upper bound on how many docs share the whole
    * run (exact when the run is one shingle).  Excising [span_start,
    * span_end] from every doc removes every cross-doc-shared n-gram in
    * the corpus (property-tested in DedupSpec): every shared n-gram's
    * start lies in some span, and a span covers its run's full extent.
    * Docs shorter than n contribute nothing — a span needs at least
    * one full n-gram (deliberately NOT the whole-text fallback of the
    * scoring lens: a sub-n doc has no excisable run).
    *
    * Scale shape (the x37 discipline plus one windowed merge): shingles
    * assemble map-side with their start position, collapse to
    * (doc_id, pos, md5) — the ONLY corpus-sized shuffle unit; the
    * shared-shingle table is vocabulary-sized and df>1-filtered before
    * the join back; the run merge is a per-document window (islands
    * grouping: pos − row_number), which partitions by doc_id — bounded
    * per-doc work, no corpus-wide ordering.  No document pair is ever
    * formed and no text rides a shuffle. */
  /** (doc_id, pos, h): every n-gram start position with its md5 — the
    * shared positioned-shingle assembly of [[duplicatedSpans]] and
    * [[exciseDuplicatedSpans]] (narrow, the assembleNgrams zip idiom);
    * pos = 0-based start token index, null-padded tails dropped. */
  private def positionedShingles(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val zipped = arrays_zip((0 until n).map(j =>
      slice(col("toks"), lit(j + 1), size(col("toks"))).as(s"t$j")): _*)
    toks
      .select(col("doc_id"), posexplode(zipped).as(Seq("pos", "s")))
      .filter(col(s"s.t${n - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", (0 until n).map(j => col(s"s.t$j")): _*))
          .as("h"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    import org.apache.spark.sql.expressions.Window
    val positioned = positionedShingles(docs, idCol, textCol, n)
    // inverted index, df > 1 only: per-doc-distinct before the global
    // count so a doc repeating its own phrase doesn't inflate df
    val shared = positioned.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    // islands: consecutive shared start positions share (pos − rank)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    positioned.join(shared, "h")
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_ngrams"),
        min(col("n_docs")).as("n_docs_sharing"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_ngrams"), col("n_docs_sharing"))
  }

  /** Span EXCISION — applies [[duplicatedSpans]]'s localization: rebuild
    * each document's text with the cross-doc duplicated runs cut out,
    * keeping each shared n-gram's text in exactly one place in the
    * corpus (the Lee et al. "Deduplicating Training Data" retention
    * rule, keep-one-occurrence, re-expressed at n-gram granularity):
    * a shared shingle's OWNER is the minimum doc_id sharing it, and
    * only non-owner occurrences are excised — so no phrase is deleted
    * from the corpus outright, it just stops being repeated.
    * `keepFirstOwner = false` switches to scrub-everywhere (every
    * shared occurrence removed from every doc — the decontamination
    * stance, and the mode whose output provably drops
    * [[duplicatedNgramFraction]]'s cross-doc dup_frac to 0 on the
    * cleaned corpus, property-tested in DedupSpec).
    *
    * Output: (doc_id, text_clean, n_tokens, n_removed) — one row per
    * input doc; text_clean = surviving tokens rejoined with single
    * spaces ('' when everything was excised), n_removed = tokens cut.
    * Docs shorter than n are untouched (no full n-gram → no run).
    *
    * Scale shape (the x75 discipline, plus one skinny doc-keyed join):
    * positioned shingles assemble map-side; the owner table is
    * vocabulary-sized (one row per shared hash); excisable starts
    * island-merge per doc into MAXIMAL spans (window partitioned by
    * doc_id — bounded per-doc work) and come back as one small span
    * array per doc via a doc_id equi-join; the final token filter is a
    * higher-order `filter` + `exists` over that merged span array —
    * per-token cost is #maximal-spans, not #covered-positions, and no
    * text ever rides more than the one doc_id-keyed shuffle. */
  def exciseDuplicatedSpans(docs: DataFrame, idCol: String,
                            textCol: String, n: Int = 3,
                            keepFirstOwner: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    import org.apache.spark.sql.expressions.Window
    val positioned = positionedShingles(docs, idCol, textCol, n)
    // owner = min doc_id per shared hash (df computed per-doc-distinct,
    // the x75 rule — a doc repeating its own phrase is not cross-doc)
    val shared = positioned.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("owner"))
      .filter(col("n_docs") >= 2)
    val excisable = positioned.join(shared, "h")
      .filter(if (keepFirstOwner) col("doc_id") =!= col("owner")
              else lit(true))
    exciseStarts(docs, idCol, textCol, n, excisable)
  }

  /** Intra-document repeat excision — the SELF-repetition companion to
    * [[exciseDuplicatedSpans]] (whose per-doc-distinct df ≥ 2 rule
    * deliberately ignores a doc repeating its own phrase): within each
    * document, every occurrence of an n-gram AFTER its first is
    * excised, keeping the first start — the keep-first counterpart of
    * the repeated-line/paragraph scrub the Gopher/RefinedWeb quality
    * recipes run before cross-doc dedup ([[TextAnalysis.repetitionByDoc]]
    * scores this axis; this operator removes it).  Overlapping repeat
    * occurrences excise greedily by start position: "a a a a" at n=2
    * keeps only the first token (positions 1..3 are all covered by some
    * repeat start) — deterministic, and the documented price of
    * n-gram-granular excision.
    *
    * Output: (doc_id, text_clean, n_tokens, n_removed), one row per doc.
    *
    * Scale shape: everything is per-document — repeat detection is a
    * min-over-(doc, hash) window, the island merge a per-doc window, so
    * partition width is one document's shingles; no cross-doc join at
    * all (the corpus never meets itself). */
  def exciseSelfRepeats(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    import org.apache.spark.sql.expressions.Window
    val positioned = positionedShingles(docs, idCol, textCol, n)
    val wf = Window.partitionBy(col("doc_id"), col("h"))
    val repeats = positioned
      .withColumn("__first", min(col("pos")).over(wf))
      .filter(col("pos") > col("__first"))
      .select(col("doc_id"), col("pos"))
    exciseStarts(docs, idCol, textCol, n, repeats)
  }

  /** Span-level DECONTAMINATION — the surgical form of
    * [[contaminatedDocs]]: instead of dropping every training document
    * that shares an n-gram with the benchmark set (x19, which discards
    * a whole document for one leaked sentence), excise exactly the
    * token spans covered by benchmark n-grams and keep the rest — the
    * remove-the-overlap treatment public eval-hygiene recipes apply
    * when dropping is too lossy.  Every ORIGINAL overlapping n-gram is
    * removed (the x78 cover guarantee; property-tested).  Caveat:
    * cutting a span joins the tokens on either side of it, and that
    * seam can in principle form a NEW benchmark n-gram that was not in
    * the original text — rare, but a strict-zero-overlap pipeline
    * should iterate this operator to a fixpoint (one extra pass almost
    * always suffices) or verify with [[contaminatedDocs]] after.
    *
    * Output: (doc_id, text_clean, n_tokens, n_removed) — one row per
    * TRAIN doc, untouched docs passed through.
    *
    * Scale shape: the benchmark shingle-hash set is df-side tiny
    * (benchmarks are small by nature) so the position join
    * broadcasts; everything else is the [[exciseStarts]] per-doc
    * machinery — train text shuffles once. */
  def exciseContaminated(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    val benchSh = positionedShingles(bench, idCol, textCol, n)
      .select(col("h")).distinct()
    val excisable = positionedShingles(train, idCol, textCol, n)
      .join(benchSh, "h")
      .select(col("doc_id"), col("pos"))
    exciseStarts(train, idCol, textCol, n, excisable)
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    * MOSS local-fingerprinting algorithm): from every window of `w`
    * consecutive k-gram hashes, keep the minimum (rightmost on ties),
    * then dedupe — the selected ~2/(w+1) fraction of positions carries
    * the GUARANTEE that any shared substring of length ≥ k + w − 1
    * yields at least one shared selected fingerprint.  This is the
    * standard index-shrinking step in front of exact-substring dedup:
    * join selected fingerprints instead of every shingle and the
    * inverted index drops ~w/2× with no recall loss above the
    * guarantee threshold.
    *
    * Tie-break and window rule are pinned for engine replay: the
    * per-window argmin key is the string `h ‖ '|' ‖ pad(10⁹−1−pos)`
    * (lexicographic = hash asc, then position DESC — the rightmost
    * minimal hash), evaluated over full windows only (first selection
    * at the w-th k-gram; docs with fewer than w k-grams select
    * nothing — winnowing is a long-document tool by construction).
    *
    * Scale shape: positioned shingles assemble map-side (the x75
    * machinery); the sliding min is a per-doc window with a bounded
    * ROWS frame — partition width is one document's shingles; the
    * dedupe is per-doc-keyed.  Output: (doc_id, pos, h) selected rows. */
  def winnowingFingerprints(docs: DataFrame, idCol: String,
                            textCol: String, k: Int = 4,
                            w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1 (got k=$k w=$w)")
    import org.apache.spark.sql.expressions.Window
    val positioned = positionedShingles(docs, idCol, textCol, k)
    val key = concat(col("h"), lit("|"),
      lpad((lit(999999999) - col("pos")).cast("string"), 9, "0"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    val rn = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    positioned
      .withColumn("__mk", min(key).over(frame))
      .withColumn("__rn", row_number().over(rn))
      .filter(col("__rn") >= w)
      .select(col("doc_id"),
        (lit(999999999) - substring_index(col("__mk"), "|", -1)
          .cast("int")).as("pos"),
        substring_index(col("__mk"), "|", 1).as("h"))
      .distinct()
  }

  /** Candidate near-dup pairs from [[winnowingFingerprints]] — the
    * application half of winnowing: join documents on SELECTED
    * fingerprints only (the ~2/(w+1) sliver instead of every shingle)
    * and count shared selections per pair.  By the winnowing guarantee
    * any pair sharing a substring of ≥ k + w − 1 tokens appears here;
    * rank by `n_shared` and verify downstream (x3's verify stage or
    * [[duplicatedSpans]] for offsets).
    *
    * Scale shape (the frameSetNearDup inverted-index idiom): the join
    * key is the selected hash; per-doc-distinct selections keep a doc
    * from matching itself through its own repeats; `dfCap` drops
    * hashes selected by more than `dfCap` docs (corpus boilerplate —
    * the stop-frame treatment) so no bucket enumerates quadratically;
    * pair rows are skinny (a, b) longs. */
  def winnowedDupCandidates(docs: DataFrame, idCol: String,
                            textCol: String, k: Int = 4, w: Int = 4,
                            minShared: Int = 2,
                            dfCap: Int = 100): DataFrame = {
    require(minShared >= 1 && dfCap >= 2,
      s"need minShared >= 1 and dfCap >= 2 (got $minShared, $dfCap)")
    val sel = winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc_id"), col("h")).distinct()
      .localCheckpoint() // both join legs + the df cap read this once
    val df = sel.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap)
    val keyed = sel.join(df, "h").select(col("h"), col("doc_id"))
    keyed.as("a").join(keyed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Materialized winnowing-fingerprint corpus index — the
    * exact-substring sibling of [[LshIndex]] (near-dup) and the media
    * fp index: selected (doc, hash) rows with the scheme parameters
    * baked in.  `dfCap` was applied at BUILD time: hashes selected by
    * more than dfCap corpus docs (boilerplate) are excluded from
    * gating, the frameSetNearDup stop-frame treatment frozen into the
    * index.  `legs` counts pinned union legs since the last compaction
    * (the [[Indexes]] discipline). */
  case class WinnowIndex(sel: DataFrame, k: Int, w: Int, dfCap: Int,
                         legs: Int = 1)

  /** Index the existing corpus ONCE for [[winnowMatchIndexed]] —
    * the st4 build discipline: repartition by the probe join key
    * BEFORE pinning so every micro-batch joins materialized,
    * pre-partitioned data ([[saveWinnowIndex]] gets the same locality
    * from bucketing). */
  def winnowIndex(existing: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 4,
                  dfCap: Int = 100): WinnowIndex = {
    require(dfCap >= 2, s"dfCap must be >= 2 (got $dfCap)")
    val parts = existing.sparkSession.sessionState.conf.numShufflePartitions
    val sel0 = winnowingFingerprints(existing, idCol, textCol, k, w)
      .select(col("doc_id").as("ex_id"), col("h")).distinct()
    val keep = sel0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select(col("h"))
    val sel = sel0.join(keep, "h")
      .repartition(parts, col("h"))
      .localCheckpoint()
    WinnowIndex(sel, k, w, dfCap)
  }

  /** Grow a [[WinnowIndex]] with an accepted batch — O(batch), the
    * extendLshIndex union-of-pinned-legs shape.  Extension legs are
    * NOT re-capped against the global df (that would re-aggregate the
    * corpus every batch); a boilerplate hash arriving via extensions
    * only costs batch-bounded candidates until the next compaction
    * ([[saveWinnowIndex]] → [[winnowIndex]] rebuild re-applies the
    * cap). */
  def extendWinnowIndex(index: WinnowIndex, accepted: DataFrame,
                        idCol: String, textCol: String): WinnowIndex = {
    val leg = winnowingFingerprints(accepted, idCol, textCol,
        index.k, index.w)
      .select(col("doc_id").as("ex_id"), col("h")).distinct()
      .localCheckpoint()
    val grown = index.sel.unionByName(leg)
    if (index.legs + 1 >= Indexes.CompactLegs) {
      val parts =
        accepted.sparkSession.sessionState.conf.numShufflePartitions
      WinnowIndex(grown.repartition(parts, col("h")).localCheckpoint(),
        index.k, index.w, index.dfCap, legs = 1)
    } else WinnowIndex(grown, index.k, index.w, index.dfCap,
      index.legs + 1)
  }

  /** Persist / reopen a [[WinnowIndex]] as a bucketed table (scheme in
    * table properties — the saveLshIndex discipline). */
  def saveWinnowIndex(index: WinnowIndex, table: String,
                      buckets: Int = 16): Unit = {
    index.sel.write.mode("overwrite")
      .bucketBy(buckets, "h").sortBy("h")
      .format("parquet").saveAsTable(table)
    index.sel.sparkSession.sql(
      s"ALTER TABLE ${SqlIdent.quote(table)} SET TBLPROPERTIES " +
        s"('graft.winnow.k'='${index.k}', 'graft.winnow.w'='${index.w}', " +
        s"'graft.winnow.dfCap'='${index.dfCap}')")
  }

  def loadWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String): WinnowIndex = {
    val props = spark.sql(s"SHOW TBLPROPERTIES ${SqlIdent.quote(table)}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def prop(key: String): Int = props.getOrElse(key, sys.error(
      s"$table is not a graft winnow index table (missing $key)")).toInt
    WinnowIndex(spark.table(table), prop("graft.winnow.k"),
      prop("graft.winnow.w"), prop("graft.winnow.dfCap"))
  }

  /** Ingest-time EXACT-SUBSTRING gate: flag each incoming document
    * sharing ≥ `minShared` selected fingerprints with the indexed
    * corpus — by the winnowing guarantee, any incoming doc that copies
    * ≥ k + w − 1 consecutive tokens from an indexed doc shares at
    * least one selection, so minShared = 1 catches every such copy and
    * higher values trade recall for precision.  The st4 probe shape:
    * batch spread first (one file must not serialize the probe), then
    * an equi-join against the pinned index.
    * Output: (in_id, ex_id, n_shared). */
  def winnowMatchIndexed(index: WinnowIndex, incoming: DataFrame,
                         idCol: String, textCol: String,
                         minShared: Int = 2): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1 (got $minShared)")
    val parts = incoming.sparkSession.sessionState.conf.numShufflePartitions
    val inSel = winnowingFingerprints(incoming.repartition(parts),
        idCol, textCol, index.k, index.w)
      .select(col("doc_id").as("in_id"), col("h")).distinct()
    inSel.join(index.sel, "h")
      .groupBy(col("in_id"), col("ex_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One-shot form: index + gate ([[winnowIndex]] /
    * [[winnowMatchIndexed]]). */
  def winnowMatchAgainst(existing: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String, k: Int = 4,
                         w: Int = 4, minShared: Int = 2,
                         dfCap: Int = 100): DataFrame =
    winnowMatchIndexed(winnowIndex(existing, idCol, textCol, k, w, dfCap),
      incoming, idCol, textCol, minShared)

  /** Shared excision tail of [[exciseDuplicatedSpans]] /
    * [[exciseSelfRepeats]]: island-merge excisable n-gram START
    * positions into maximal [lo, hi] token spans (pos − rank grouping,
    * per-doc window), ship ONE merged span array per doc via a doc_id
    * equi-join, and rebuild the text from the uncovered tokens with a
    * higher-order filter + exists — per-token cost is #maximal-spans,
    * not #covered-positions, and text never rides more than the one
    * doc_id-keyed shuffle. */
  private def exciseStarts(docs: DataFrame, idCol: String,
                           textCol: String, n: Int,
                           excisable: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = excisable
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("lo"), (max(col("pos")) + lit(n - 1)).as("hi"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("lo"), col("hi"))).as("spans"))
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("spans"),
        array().cast("array<struct<lo:int,hi:int>>")))
      .withColumn("__kept", filter(col("toks"), (t, i) =>
        !exists(col("__spans"),
          sp => i >= sp("lo") && i <= sp("hi"))))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("text_clean"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** docs(id, text) → (doc_id, array of eight 8-bit block values) —
    * the 64-bit fingerprint behind [[simhashEditPairs64]], one
    * codegen'd [[graft.plans.SimHashSig64]] kernel call per document
    * (scan → project, no explode/aggregate/shuffle). */
  def simhashFingerprints64(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    import graft.plans.SimHashSig64.simhashSig64
    docs.select(col(idCol).as("doc_id"),
        simhashSig64(TextAnalysis.tokens(col(textCol))).as("blocks"))
      .filter(col("blocks").isNotNull)
  }

  /** Edit-distance-verified near-dup pairs: SimHash-LSH blocking with a
    * guaranteed hamming radius, then an exact `levenshtein` check on
    * the candidate sliver — the character-level dup lens (template
    * boilerplate, OCR/encoding jitter, small in-place edits) that
    * token-set Jaccard can misjudge in both directions.
    *
    * Blocking is permute-and-mask over the 16-bit fingerprint:
    * `C(4, maskNibbles)` keys per doc, one per way of masking
    * `maskNibbles` of the four nibbles.  Any pair whose fingerprint
    * diffs are confined to the masked nibbles shares a key by
    * construction — the recall guarantee brute-force pairing gets
    * without the O(n²); `maskNibbles = 2` (default) catches all diffs
    * spanning <= 2 nibbles, at 6 keys/doc.  Past ~10⁶ docs the 16-bit
    * key space saturates — use [[simhashEditPairs64]], the 8-bit-block
    * widening of this exact pipeline, at corpus scale.
    *
    * Scale shape: the x3 skinny-candidate discipline — blocking join
    * carries (id, len) only, with the `|len_a - len_b| <= maxDist`
    * levenshtein lower bound applied IN-join before the distinct;
    * texts attach to surviving candidates afterwards; the verify runs
    * `levenshtein(a, b, threshold)` whose banded DP is O(len·maxDist),
    * not O(len²), and whole-stage-codegens. */
  def simhashEditPairs(docs: DataFrame, idCol: String, textCol: String,
                       maxDist: Int, maskNibbles: Int = 2,
                       salts: Int = SaltsAuto): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    require(maskNibbles >= 1 && maskNibbles <= 2,
      s"maskNibbles must be 1 or 2 (got $maskNibbles)")
    require(salts >= 1 || salts == SaltsAuto,
      s"salts must be >= 1 or SaltsAuto (got $salts)")
    val enc = simhashFingerprints(docs, idCol, textCol)
      .join(docs.select(col(idCol), length(col(textCol)).as("__len")),
        idCol)
    // one key per way of masking `maskNibbles` of the 4 nibbles: any
    // pair whose fingerprint diffs are confined to the masked nibbles
    // shares that key (wider mask = higher recall, coarser key)
    val masks = (0 until 4).combinations(maskNibbles).toSeq.map(c =>
      c.foldLeft(0xFFFF)((m, i) => m & ~(0xF << (4 * i))))
    val keys = masks.zipWithIndex.map { case (mask, idx) =>
      (col("simhash").bitwiseAND(lit(mask)) * masks.size + lit(idx))
        .cast("int")
    }
    editVerify(docs, idCol, textCol, enc, keys, maxDist, salts)
  }

  /** Measured 16-bit→64-bit switch point for [[simhashEditPairsAuto]].
    * The sf1 rehearsal (PERF.md round 9) put the wall-clock crossover
    * between 50 k and ~300 k docs depending on corpus density (the
    * denser the corpus, the earlier 16-bit key-space saturation bites;
    * on the degenerate vocab-31 corpus 64-bit already wins at 50 k,
    * on vocab-1000 16-bit still wins there).  100 k is the midpoint
    * of the measured window — past it the 16-bit candidate set grows
    * quadratically (6 masks × 2⁸ key values saturate) while the
    * 64-bit set stays prunable (32 unmasked bits per key). */
  val EditDupCrossoverDefault: Long = 100000L

  /** Conf key overriding the [[simhashEditPairsAuto]] switch point. */
  val EditDupCrossoverConf: String = "spark.graft.editdup.crossoverDocs"

  private[graft] def editDupUse64(nDocs: Long, crossover: Long): Boolean =
    nDocs >= crossover

  /** Width-dispatching edit near-dup pairs: picks the 16-bit
    * ([[simhashEditPairs]]) or 64-bit ([[simhashEditPairs64]])
    * fingerprint from the CORPUS SIZE, so callers no longer need to
    * know the saturation regime to get the right plan — the same
    * evidence-based-default pattern as `estCull`/`pinRerank`.  Below
    * the crossover the 6-key 16-bit pipeline is cheaper (the 70-key
    * 64-bit constant dominates); above it the 16-bit key space
    * saturates and its candidate set grows quadratically, so the
    * 64-bit widening wins and keeps winning.  The switch point is the
    * MEASURED crossover ([[EditDupCrossoverDefault]]), overridable
    * per-session via `spark.graft.editdup.crossoverDocs` for corpora
    * whose density is known to shift it.  Both branches return the
    * identical schema (a, b, edit_dist) and agree wherever both have
    * recall; the count() that gates the dispatch is one column-pruned
    * scan — noise against the pair join it sizes. */
  def simhashEditPairsAuto(docs: DataFrame, idCol: String, textCol: String,
                           maxDist: Int,
                           salts: Int = SaltsAuto): DataFrame = {
    val crossover = docs.sparkSession.conf
      .getOption(EditDupCrossoverConf).map(_.toLong)
      .getOrElse(EditDupCrossoverDefault)
    require(crossover > 0, s"$EditDupCrossoverConf must be > 0")
    if (editDupUse64(docs.select(col(idCol)).count(), crossover))
      simhashEditPairs64(docs, idCol, textCol, maxDist, salts = salts)
    else
      simhashEditPairs(docs, idCol, textCol, maxDist, salts = salts)
  }

  /** 64-bit-fingerprint variant of [[simhashEditPairs]] for corpus
    * scale — the widening the 16-bit scaladoc promises.  The 16-bit
    * fingerprint has at most 2¹⁶ distinct values, so past ~10⁶ docs
    * every masked key is a mega bucket and the candidate set stops
    * being prunable (measured: 545 k candidates at sf0.1, key equality
    * already implying the hamming bound).  Here the fingerprint is 64
    * bits as eight 8-bit blocks ([[graft.plans.SimHashSig64]]); keys
    * mask `maskBlocks` of the 8 blocks — `C(8, 4)` = 70 keys/doc at
    * the default — leaving 32 unmasked bits per key, so bucket
    * cardinality scales with the corpus instead of saturating.  Any
    * pair whose fingerprint diffs are confined to the masked blocks
    * shares a key by construction.  The default masks HALF the
    * fingerprint, the same guarantee breadth as the 16-bit variant's
    * 2-of-4 nibble default (measured equal recall on the corpus
    * slice; 2-of-8 covers only a quarter and drops recall to 3/7
    * there), while each key still pins 32 agreeing bits vs the 16-bit
    * variant's 8.  More keys per doc (70 vs 6) is the deliberate
    * price: at corpus scale the binding constraint is bucket size,
    * not key volume — skinny (key, id, len) rows shuffle cheaply, but
    * a saturated bucket enumerates pairs quadratically.
    * Same length banding, salting, pinning, and banded-levenshtein
    * verify — the pipeline after key construction is shared code.
    *
    * `scheme` picks the key construction (the x73 two-scheme move):
    * `"combo70"` = the C(8,4) keys above; `"halved12"` = 12
    * pigeonhole-halves keys plus an in-join [[blockDiffCount]] filter
    * that restores EXACT candidate-set equality with combo70 (both
    * compute the same predicate, "≤ maskBlocks of 8 blocks differ"),
    * 5.8× less key fanout at the price of 16-bit instead of 32-bit
    * buckets; `"auto"` (default) gates on measured corpus size
    * ([[EditDup64SchemeThresholdDefault]]).  Output is identical
    * under all three (DedupSpec pins it). */
  /** Measured scheme switch point for [[simhashEditPairs64]]'s `auto`:
    * below it the halved-12 pigeonhole keys win (5.8× less key-row
    * fanout; each key pins 16 bits, so buckets stay thin while
    * n/2¹⁶ ≪ bucket budget), above it the C(8,4)=70 combo keys win
    * (32 pinned bits keep buckets O(1) as the corpus grows while
    * halved-12's candidate-verify volume grows ~n²/2¹⁶).  Calibrated
    * from the round-14 fixed-density 100× A/B (PERF.md): at 500 k docs
    * halved12 still beat combo70, so the default sits above that
    * measured point; override per-session via
    * [[EditDup64SchemeThresholdConf]] for corpora whose density is
    * known to shift it. */
  val EditDup64SchemeThresholdDefault: Long = 1000000L

  /** Conf key overriding [[EditDup64SchemeThresholdDefault]]. */
  val EditDup64SchemeThresholdConf: String =
    "spark.graft.editdup64.halvedThresholdDocs"

  /** blocks(8 × 8-bit) → one packed 64-bit long — the skinny form a
    * fingerprint rides a candidate join in (8 bytes vs an 8-element
    * array header). */
  private def packBlocks(blocks: Column): Column =
    // shift/or, not *256+: block 0 >= 128 sets the sign bit, which is
    // fine for an opaque key but ARITHMETIC_OVERFLOW under ANSI math
    (0 until 8).foldLeft(lit(0L)) { (acc, j) =>
      shiftleft(acc, 8).bitwiseOR(blocks.getItem(j).cast("long"))
    }

  /** Number of differing 8-bit blocks between two packed fingerprints
    * — the exact candidate predicate of C(8,m) block-mask blocking
    * ("shares an m-masked key" ⟺ "≤ m blocks differ"), as a codegen'd
    * column over the xor. */
  private[graft] def blockDiffCount(fa: Column, fb: Column): Column = {
    val x = fa.bitwiseXOR(fb)
    (0 until 8).map(j =>
      when(shiftrightunsigned(x, 8 * j).bitwiseAND(lit(0xffL)) =!= lit(0L),
        lit(1)).otherwise(lit(0))).reduce(_ + _)
  }

  def simhashEditPairs64(docs: DataFrame, idCol: String, textCol: String,
                         maxDist: Int, maskBlocks: Int = 4,
                         salts: Int = SaltsAuto,
                         scheme: String = "auto"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0 (got $maxDist)")
    require(maskBlocks >= 1 && maskBlocks <= 4,
      s"maskBlocks must be 1..4 (got $maskBlocks)")
    require(salts >= 1 || salts == SaltsAuto,
      s"salts must be >= 1 or SaltsAuto (got $salts)")
    require(Set("combo70", "halved12", "auto").contains(scheme),
      s"scheme must be combo70, halved12, or auto (got $scheme)")
    val spark = docs.sparkSession
    val enc = simhashFingerprints64(docs, idCol, textCol)
      .join(docs.select(col(idCol), length(col(textCol)).as("__len")),
        idCol)
    // "auto": the x73 size-gated dispatch — halved12's 12-key economy
    // under the measured threshold, combo70's O(1)-bucket discipline
    // at unbounded scale.  The gating count is one column-pruned scan
    // (the simhashEditPairsAuto pattern).
    val schemeEff =
      if (scheme == "auto") {
        val thr = spark.conf.getOption(EditDup64SchemeThresholdConf)
          .map(_.toLong).getOrElse(EditDup64SchemeThresholdDefault)
        if (docs.select(col(idCol)).count() <= thr) "halved12" else "combo70"
      } else scheme
    if (schemeEff == "halved12") {
      // Pigeonhole halves over BLOCKS (the x73 halvedKeys argument
      // with "bits" replaced by "blocks", which only widens it): a
      // pair differing in <= 4 of the 8 blocks puts <= 2 diff blocks
      // in SOME 4-block half; one of that half's C(4,2)=6 two-block
      // masks covers them, so the pair agrees on the other two kept
      // blocks and shares that key.  12 keys/doc vs combo70's 70 —
      // but each key pins 16 bits instead of 32, so candidates are a
      // SUPERSET of combo70's; the in-join blockDiffCount filter
      // (<= maskBlocks, EXACTLY combo70's key-sharing predicate)
      // restores set equality, which is what keeps the declared query
      // equal to the 4-of-8 oracle under either scheme.
      val keys = for {
        half <- 0 to 1
        (masked, idx) <- (0 until 4).combinations(2).toSeq.zipWithIndex
      } yield {
        val kept = (0 until 4).filterNot(masked.contains(_))
          .map(_ + half * 4)
        kept.foldLeft(lit((half * 6 + idx).toLong)) { (acc, j) =>
          acc * 256L + col("blocks").getItem(j)
        }
      }
      editVerify(docs, idCol, textCol,
        enc.withColumn("__fp", packBlocks(col("blocks"))), keys, maxDist,
        salts, fpCol = Some("__fp"),
        fpFilter = Some((fa, fb) => blockDiffCount(fa, fb) <= maskBlocks))
    } else {
      // Injective packed-long keys: combo index in the high bits, the
      // kept block values byte-packed below (≤ 7 blocks × 8 bits + 7
      // combo bits ≤ 63 bits).  Same doc partition as any injective
      // encoding — a long shuffles/hashes at half the width of the
      // equivalent "idx:b:b:b:b" string key.
      val combos = (0 until 8).combinations(maskBlocks).toSeq
      val keys = combos.zipWithIndex.map { case (masked, idx) =>
        val kept = (0 until 8).filterNot(masked.contains(_))
        kept.foldLeft(lit(idx.toLong)) { (acc, j) =>
          acc * 256L + col("blocks").getItem(j)
        }
      }
      editVerify(docs, idCol, textCol, enc, keys, maxDist, salts)
    }
  }

  /** Sentinel `salts` value meaning "let the measured-skew gate
    * decide" — the default on every salted pair pipeline.  An explicit
    * `salts >= 1` is ALWAYS honored verbatim: the gate is an
    * evidence-based default, not an override of the caller (a caller
    * who measured their own corpus must not be second-guessed by a
    * heuristic on the library's '100 TB path'). */
  val SaltsAuto: Int = -1

  /** Salts applied when [[SaltsAuto]] resolves to "salt": 8 spreads a
    * mega bucket's pair enumeration over 8 tasks — the measured sweet
    * spot before probe-side replication dominates. */
  val SaltsAutoDefault: Int = 8

  /** Blocking-bucket multiplicity at which auto salting engages.
    * Salting spreads ONE mega bucket's pair enumeration across tasks,
    * but its price is replicating the probe side ×salts on EVERY
    * bucket — measured on a 50 k-doc bounded-density corpus the ×8
    * replication was 4× the whole pipeline's cost (58 s vs 14 s,
    * identical pairs) while the largest bucket held 3 docs.  The gate
    * probes `max(count) over the ACTUAL blocking keys` of the skinny
    * blocked table — the place mega buckets really form: a clone
    * family of near-identical fingerprints (diffs confined to the
    * masked blocks) collides on a shared mask key even when no two
    * fingerprints are bit-identical, which an identical-fp probe would
    * miss.  One cheap map-side-combined aggregation, the same
    * evidence-based-default pattern as `estCull`/`pinRerank`/
    * `simhashEditPairsAuto`.  1024 rows in one bucket ≈ 0.5 M
    * enumerated pairs in one task — the point where it visibly
    * outweighs its peers.  Override per-session via
    * [[SaltDupThresholdConf]] (0 forces auto-salting on). */
  val SaltDupThresholdDefault: Long = 1024L

  /** Conf key overriding [[SaltDupThresholdDefault]]. */
  val SaltDupThresholdConf: String = "spark.graft.saltDupThreshold"

  /** The measured-skew salting gate.  `salts == SaltsAuto`: probe the
    * largest blocking bucket in `blocked` (grouped by `keyCols`, the
    * join's real bucket key) and return [[SaltsAutoDefault]] if it
    * reaches the threshold, else 1.  Any explicit `salts >= 1` is
    * returned verbatim — the caller's measurement wins. */
  private[graft] def adaptiveSalts(blocked: DataFrame, keyCols: Seq[Column],
                                   salts: Int): Int =
    if (salts != SaltsAuto) salts
    else {
      val threshold = blocked.sparkSession.conf
        .getOption(SaltDupThresholdConf).map(_.toLong)
        .getOrElse(SaltDupThresholdDefault)
      val maxBucket = Option(
        blocked.groupBy(keyCols: _*).agg(count(lit(1)).as("__n"))
          .agg(max(col("__n"))).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (maxBucket >= threshold) SaltsAutoDefault else 1
    }

  /** Shared tail of the SimHash edit-pair pipelines: length banding,
    * salted candidate join, distinct, pinned banded-levenshtein
    * verify.  `enc` = (idCol, fingerprint cols..., __len); `keys` =
    * the per-doc blocking keys.  Salting is gated on MEASURED
    * blocking-key skew ([[adaptiveSalts]]): on corpora without a mega
    * bucket the probe-side ×salts replication is pure cost. */
  private def editVerify(docs: DataFrame, idCol: String, textCol: String,
                         enc: DataFrame, keys: Seq[Column], maxDist: Int,
                         salts: Int,
                         fpCol: Option[String] = None,
                         fpFilter: Option[(Column, Column) => Column] =
                           None): DataFrame = {
    require(fpCol.isDefined == fpFilter.isDefined,
      "fpCol and fpFilter come together (carry the fingerprint only " +
        "when a pair predicate consumes it)")
    // Pin the fingerprint+length rows (the nearDupPairs fps pin): the
    // skew probe below is an eager job, and without the pin it would
    // compute the SimHash-kernel + length join once for the probe and
    // again for each join leg.  n skinny rows — cheap to materialize.
    val encP = enc.localCheckpoint()
    // Length banding folds the `|la - lb| <= maxDist` levenshtein lower
    // bound INTO the join key (band width = maxDist; the probe side
    // explodes to bands ±1, so every in-range pair still meets exactly
    // once) — identical output, bucket enumeration cut by the corpus'
    // length spread instead of filtered after the fact.
    val bw = math.max(maxDist, 1)
    val carry = fpCol.toSeq.map(col)
    val blocked = encP.select(Seq(col(idCol), col("__len"),
      floor(col("__len") / bw).as("__band"),
      explode(array(keys: _*)).as("bk")) ++ carry: _*)
    // Pin the exploding join's width (the x3 discipline): AQE sizes
    // stages by INPUT bytes, and these key rows are skinny — left
    // alone the pair enumeration + verify coalesced onto 4 tasks for
    // 6.9 s at sf0.1.  User repartition counts are AQE-coalesce-exempt.
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // Salting (the x3 pattern): a boilerplate-heavy corpus puts
    // thousands of near-identical fingerprints in ONE (bk, band)
    // bucket; hashing `a` over `salts` sub-keys and replicating the
    // probe side spreads that bucket's pair enumeration over `salts`
    // tasks with the identical pair set (each pair still meets exactly
    // once per shared mask key).  Skew-test-pinned alongside the LSH
    // join — and auto-gated on MEASURED skew of the ACTUAL join
    // bucket key (bk, band): without a mega bucket the probe-side
    // replication is the dominant pipeline cost (58 → 14 s at 50 k
    // docs, identical output).
    val saltsEff =
      adaptiveSalts(blocked, Seq(col("bk"), col("__band")), salts)
    val fpA = fpCol.toSeq.map(c => col(c).as("__fpa"))
    val fpB = fpCol.toSeq.map(c => col(c).as("__fpb"))
    val a = blocked.select(Seq(col("bk"), col("__band"),
        col(idCol).as("a"), col("__len").as("la")) ++ fpA: _*)
      .withColumn("__salt", pmod(hash(col("a")), lit(saltsEff)))
      .repartition(parts, col("bk"), col("__band"), col("__salt"))
    val b = blocked.select(Seq(col("bk"), col(idCol).as("b"),
        col("__len").as("lb"),
        explode(array(col("__band") - 1, col("__band"),
          col("__band") + 1)).as("__band")) ++ fpB: _*)
      .withColumn("__salt", explode(sequence(lit(0), lit(saltsEff - 1))))
      .repartition(parts, col("bk"), col("__band"), col("__salt"))
    val cand = a.join(b, Seq("bk", "__band", "__salt"))
      .filter(col("a") < col("b") &&
        abs(col("la") - col("lb")) <= maxDist &&
        // the coarse-scheme equality restore: IN-join, before the
        // distinct, so superset candidates never reach the verify
        fpFilter.map(f => f(col("__fpa"), col("__fpb")))
          .getOrElse(lit(true)))
      .select(col("a"), col("b")).distinct()
      // candidates are 16-byte rows: AQE would coalesce the verify to a
      // handful of tasks.  Round-robin re-pin — a (a, b)-hash pin would
      // collapse into the distinct's own exchange and change nothing.
      .repartition(parts)
    val t = docs.select(col(idCol), col(textCol))
    cand
      .join(t.select(col(idCol).as("a"), col(textCol).as("__ta")), "a")
      .join(t.select(col(idCol).as("b"), col(textCol).as("__tb")), "b")
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("a"), col("b"), col("edit_dist"))
  }

  /** Structural-unit dedup signal: per-document DUPLICATE-PARAGRAPH
    * fraction (the MassiveText/Gopher repetition rule operating on
    * paragraphs instead of n-grams — a paragraph is "duplicated" when
    * its exact text occurs in more than one distinct document, the
    * signature of injected boilerplate: cookie banners, subscribe
    * blocks, copyright footers).  Documents whose duplicated fraction
    * exceeds `maxDupFrac` are flagged for drop.
    *
    * Scale shape: paragraphs explode map-side and immediately reduce
    * to (md5, doc_id) — the TEXT never rides a shuffle.  One groupBy
    * on the 16-byte hash builds the document-frequency table, one
    * hash-join back (both partial-aggregated / AQE-planned), one
    * groupBy on doc_id for the verdict.  No pairwise comparison
    * anywhere — cost is O(paragraphs), not O(docs²).  The join-back is
    * the one skewed stage on a real crawl (a boilerplate paragraph's
    * hash joins back to a large fraction of the corpus): the build
    * side is ONE row per hash, so AQE skew-join splitting shreds the
    * hot stream partition across tasks — the same discipline the LSH
    * band join documents above. */
  def paragraphDupStats(docs: DataFrame, idCol: String, textCol: String,
                        sep: String = "\n\n",
                        maxDupFrac: Double = 0.5): DataFrame = {
    val paras = docs
      .select(col(idCol),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as("__p"))
      .filter(length(trim(col("__p"))) > 0)
      .select(col(idCol), md5(col("__p").cast("binary")).as("__h"))
    // Aggregating on the hash SPLIT IN HALVES (re-concatenated after)
    // is what makes the join-back's AQE skew handling REAL, not just
    // documented: OptimizeSkewedJoin fires only when both join legs
    // end in plain EnsureRequirements shuffles, and aggregating on
    // `__h` directly leaves the aggregate between the df leg's
    // exchange and the join — a boilerplate paragraph's partition
    // (one hash in 30 %+ of docs) then rides ONE reducer no matter
    // what the skew confs say.  Grouping by (half1, half2) produces
    // the IDENTICAL groups but an output partitioning the join cannot
    // reuse, so EnsureRequirements adds its own (splittable) exchange
    // on the df leg and the hot paras partition splits at runtime —
    // measured in SkewStressSpec (13.9 k-row serial task → ≤ 4.2 k
    // with the split; a user `repartition` instead is NOT splittable:
    // AQE must honor REPARTITION_BY_COL verbatim).  Cost: one extra
    // shuffle of the 40-byte-row distinct-hash table — the cheapest
    // leg of the query, bought deliberately for the split.
    val df = paras
      .groupBy(substring(col("__h"), 1, 16).as("__h1"),
        substring(col("__h"), 17, 16).as("__h2"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .select(concat(col("__h1"), col("__h2")).as("__h"), col("__df"))
    paras.join(df, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup_paras"))
      .withColumn("dup_frac",
        round(col("n_dup_paras").cast("double") / col("n_paras"), 6))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
  }
}
