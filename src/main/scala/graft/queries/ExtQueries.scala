package graft.queries

import graft.{Q, Tables}
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Large-scale training-data-pipeline operators (builder-prompt
  * extension goals): dedup family, similarity search, text analysis,
  * multimodal plumbing — over the `documents` / `embeddings` tables.
  *
  * Hashing is md5-based throughout so the DuckDB oracle reproduces the
  * exact same numbers (engine-portable, partitioning-independent).
  * Approximate operators (LSH candidate generation) are declared
  * rows-only and are instead ground-truthed against their exact
  * counterparts in the test suite.
  */
object ExtQueries {

  /** Central registry of every module-level (session, dataset)-keyed
    * cache: harness slate wipes (`clearSessionSlate`) unpersist EVERY
    * RDD block in the context, which poisons any cache handle they do
    * not also drop (a truncated-lineage checkpoint cannot recompute).
    * The two moves stay one invariant by CONSTRUCTION: caches can only
    * be created through [[sessionCache]], which registers their
    * clear() here — CacheRegistrySpec reflects over this object and
    * fails if a TrieMap field ever bypasses the factory. */
  private[graft] val cacheRegistry =
    new java.util.concurrent.CopyOnWriteArrayList[
      scala.collection.concurrent.TrieMap[_, _]]()

  private def sessionCache[V]()
      : scala.collection.concurrent.TrieMap[
        (org.apache.spark.sql.SparkSession, String), V] = {
    val m = scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.SparkSession, String), V]
    cacheRegistry.add(m)
    m
  }

  /** The cluster family (x20/x25/x27) shares ONE pair-generation +
    * connected-components computation per (session, dataset): the edge
    * set and its transitive closure are the expensive common prefix of
    * all three queries, and recomputing them per query triple-pays the
    * dominant cost.  Within a driver session the labels are pinned with
    * `localCheckpoint`; across jobs the same role is played by
    * [[Dedup.saveClusters]]/[[Dedup.loadClusters]] (the bench/verify
    * mains are single-session, so the in-session pin is the right
    * form here). */
  private val clusterCache = sessionCache[org.apache.spark.sql.DataFrame]()
  private val pairCache = sessionCache[org.apache.spark.sql.DataFrame]()

  /** The exact near-dup edge set, pinned once per (session, dataset) —
    * shared by the cluster family AND the cross-source matrix. */
  private def sharedPairs(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    pairCache.getOrElseUpdate((s, d),
      Dedup.blockedJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          "lang", threshold = 0.8)
        .select(col("a"), col("b")).localCheckpoint())

  private def sharedClusters(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    clusterCache.getOrElseUpdate((s, d),
      Dedup.duplicateClusters(Tables.documents(s, d), "doc_id",
        sharedPairs(s, d)).localCheckpoint())

  private val lshPairCache = sessionCache[org.apache.spark.sql.DataFrame]()

  /** The trained quality model (x95) is also the x96 apply-side input —
    * train once per (session, dataset); the model is 64 rows. */
  private val qmCache = sessionCache[org.apache.spark.sql.DataFrame]()
  private def sharedTrainedQm(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    qmCache.getOrElseUpdate((s, d),
      graft.ext.QualityModel.trainQualityModel(Tables.documents(s, d),
        "doc_id", "text", col("lang") === "en").localCheckpoint())

  /** The LSH-retrieved near-dup edge set (x3's pipeline), pinned once —
    * the corpus-scale alternative to [[sharedPairs]]' exact quadratic-
    * within-blocks ground truth.  Keeps the verified `jaccard` score:
    * x20b ignores it; x45b derives containment from it in closed form. */
  private def sharedLshPairs(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    lshPairCache.getOrElseUpdate((s, d),
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 1, k = 8, bandRows = 2, threshold = 0.8)
        .localCheckpoint())

  /** Test hook: drop pinned cluster tables (e.g. between conf A/B runs). */
  /** x77's "previously persisted" label table: in production these are
    * saved labels loaded from a table (the mergeClusters contract), so
    * re-deriving them per bench run would time cluster-building, not
    * the merge.  Pinned once per (session, dataset), like the labels
    * they stand in for. */
  private val savedClusterCache = sessionCache[org.apache.spark.sql.DataFrame]()

  /** st10's corpus IVF index — the build-once artifact the gate exists
    * to amortize (production persists it via saveIvfIndex); pinned per
    * (session, dataset) so the gate query times gating, not index
    * construction. */
  private val ivfIndexCache = sessionCache[graft.ext.Similarity.IvfIndex]()

  /** x97's train-split model + its train-corpus centered threshold. */
  private val holdoutQmCache = sessionCache[(org.apache.spark.sql.DataFrame, Double)]()

  /** st14's k-means codebook — the route gate's build-once artifact
    * (x100's training), cached per (session, dataset) so the gate
    * query times routing, not training.  A k-row LocalRelation of
    * driver rows, so slate wipes of RDD blocks cannot poison it —
    * cleared here anyway so every measurement starts cold. */
  private val kmeansCentCache = sessionCache[org.apache.spark.sql.DataFrame]()

  /** Drop every registered cache — ONE choke point over
    * [[cacheRegistry]], so a cache added tomorrow is covered the day
    * it is created instead of depending on someone remembering to
    * extend a hand-written clear list (the round-13 advice's residual
    * concern). */
  private[graft] def clearClusterCache(): Unit = {
    cacheRegistry.forEach(_.clear())
  }

  /** Session-slate reset for measurement harnesses (Rehearsal, Bench):
    * clears every registered cache AND unpersists every RDD block in
    * the context.  The two moves are one invariant and MUST stay
    * together: unpersisting a localCheckpointed DataFrame's blocks
    * without dropping the cache entry that references it leaves a
    * poisoned handle (truncated lineage cannot recompute).  The
    * [[sessionCache]] factory makes the pairing structural; caches
    * outside this object are rejected by CacheRegistrySpec.
    *
    * `blocking = true` makes the block removal SYNCHRONOUS: a timing
    * harness that clears between queries must charge the cleanup to
    * the untimed gap, not let async removals race the next query's
    * timed runs (the block-manager removal pool contends with task
    * execution — a candidate mechanism for the r14 driver-box spread
    * on the checkpoint-heavy lshPairs family). */
  private[graft] def clearSessionSlate(
      spark: org.apache.spark.sql.SparkSession,
      blocking: Boolean = false): Unit = {
    clearClusterCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
  }

  /** Deterministic messy-URL injection for the web-provenance family
    * (x102–x104): the synthetic corpus has no URL column, so — the x30
    * PII pattern — each doc gets a URL derived from `doc_id` that
    * exercises every canonicalization rule: mixed-case scheme/host,
    * `www.` labels, default (`:80`/`:443`) and non-default (`:8080`)
    * ports, trailing slashes, `utm_*` tracking params in first and
    * last position, and fragments.  The path/query id is doc_id % 50,
    * so canonical URLs COLLIDE (≈10 docs per URL at sf0.01) and the
    * keep-best dedup has real families to resolve.  [[duckUrl]] is the
    * same expression in DuckDB SQL — the two must stay in lockstep. */
  private def synthUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      when(id % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Site"), (id % 5).cast("string"), lit(".Example.COM"),
      when(id % 2 === 0, lit(":80"))
        .when(id % 11 === 0, lit(":8080"))
        .when(id % 7 === 0, lit(":443"))
        .otherwise(lit("")),
      lit("/Articles/"), (id % 50).cast("string"),
      when(id % 6 === 0, lit("/")).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit("?utm_source=feed&id="), (id % 50).cast("string")))
        .when(id % 3 === 1,
          concat(lit("?id="), (id % 50).cast("string"),
            lit("&utm_campaign=x")))
        .otherwise(lit("")),
      when(id % 5 === 0, lit("#section2")).otherwise(lit("")))
  }

  val qs: Map[String, Q] = Map(
    // URL canonicalization: scheme/host lowering, www + default-port
    // strip, tracking-param drop, fragment drop — the provenance
    // hygiene pass of a crawl pipeline, pure map-side regexp algebra
    "x102_url_canon" -> ((s, d) =>
      graft.ext.Web.urlReport(
        Tables.documents(s, d).withColumn("url", synthUrl),
        "doc_id", "url")),

    // URL-level keep-best dedup: one keeper per canonical URL (longest
    // capture, ties to lowest id) — the dedup crawls run BEFORE any
    // content pass, one partial-aggregated groupBy on the canonical key
    "x103_url_dedup" -> ((s, d) =>
      graft.ext.Web.urlDedupKeepBest(
        Tables.documents(s, d).withColumn("url", synthUrl),
        "doc_id", "url", "n_chars")),

    // per-domain rollup behind a broadcast anti-join blocklist: doc
    // count / char mass / source spread per canonical host
    "x104_domain_stats" -> ((s, d) =>
      graft.ext.Web.domainReport(
        Tables.documents(s, d).withColumn("url", synthUrl),
        "url", col("n_chars"), "source",
        Seq("site0.example.com", "site3.example.com"))),

    // duplicate-paragraph fraction (MassiveText repetition rule at the
    // paragraph grain): boilerplate paragraphs injected on id-mod
    // lattices so cross-doc duplicated units genuinely exist; text
    // never rides a shuffle — only 16-byte paragraph hashes do
    "x105_paragraph_dedup" -> ((s, d) => {
      val injected = Tables.documents(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\n\nsubscribe to our newsletter for weekly updates"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            lit("\n\nall rights reserved copyright notice"))
            .otherwise(lit(""))))
      Dedup.paragraphDupStats(injected, "doc_id", "text")
    }),

    // C4 line-level cleanup: junk lines (no terminal punctuation,
    // under 5 words, javascript/cookie boilerplate) dropped per doc;
    // docs left empty are flagged.  id % 13 docs are ALL junk so the
    // drop verdict is exercised, not just the line filter
    "x106_c4_lines" -> ((s, d) => {
      val injected = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 13 === 0,
          lit("Enable JavaScript to view this site.\nclick here"))
        .otherwise(concat(col("text"), lit("."),
          when(col("doc_id") % 2 === 0,
            lit("\nEnable JavaScript to view this site."))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("\nclick here"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nWe use cookies to improve your experience on our site."))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nThis additional paragraph provides genuinely useful " +
              "information for readers."))
            .otherwise(lit("")))))
      graft.ext.TextClean.c4LineFilter(injected, "doc_id", "text")
    }),

    // metadata-filtered ANN (pre-filter semantics): the label
    // predicate culls the corpus BEFORE index build and probe, so the
    // index contains only eligible vectors — the filtered-vector-
    // search contract (post-filtering top-k instead would under-fill
    // k); same deterministic IVF algebra as x17
    "x107_filtered_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 8),
        e.filter(col("vec_id") >= 8 && col("label") % 3 === 0),
        k = 10, dim = 64, nlist = 16, nprobe = 4)
    }),

    // robots-style (host, path-prefix) disallow rules: per-doc blocked
    // verdict via a broadcast rule join — crawl-compliance filtering
    "x108_robots_rules" -> ((s, d) =>
      graft.ext.Web.robotsReport(
        Tables.documents(s, d).withColumn("url", synthUrl),
        "doc_id", "url",
        Seq(("site1.example.com", "/Articles/1"),
          ("site2.example.com", "/Articles/2"),
          ("site4.example.com", "/Articles/4")))),

    // operating-point selection for the held-out trained classifier:
    // confusion cells + precision/recall/F1 at a 9-point threshold
    // grid around the train-corpus mean score, one corpus pass (the
    // x97 model/tau cache reused — training happens once per session)
    "x109_threshold_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val split = graft.ext.CorpusStats.splitColumn(col("doc_id"))
      val (model, tau) = holdoutQmCache.getOrElseUpdate((s, d), {
        val train = docs.filter(split === "train")
        val m = graft.ext.QualityModel.trainQualityModel(train,
          "doc_id", "text", col("lang") === "en").localCheckpoint()
        (m, graft.ext.QualityModel.corpusMeanScore(train, "text", m, 64))
      })
      graft.ext.QualityModel.thresholdSweep(docs.filter(split =!= "train"),
        "doc_id", "text", col("lang") === "en", model, dim = 64,
        center = tau)
    }),

    // URL-keyword spam filter (RefinedWeb/UT1 family): weighted soft
    // terms + hard-block terms over the canonical host+path; spammy
    // hosts/segments injected on id-mod lattices
    "x110_url_spam" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 17 === 0, lit("free-casino.example.net"))
          .otherwise(concat(lit("site"), (id % 5).cast("string"),
            lit(".example.com"))),
        lit("/page/"), (id % 50).cast("string"),
        when(id % 13 === 0, lit("/free-download-click"))
          .otherwise(lit("")),
        when(id % 29 === 0, lit("/download")).otherwise(lit("")),
        when(id % 23 === 0, lit("/adult-content")).otherwise(lit("")))
      val w = graft.ext.Web.urlSpamScore(col("url"),
        softTerms = Seq("free" -> 0.5, "download" -> 0.4,
          "click" -> 0.3, "casino" -> 0.8),
        hardTerms = Seq("adult"), threshold = 1.0)
      Tables.documents(s, d).withColumn("url", url)
        .select(col("doc_id"), w.getField("score").as("spam_score"),
          w.getField("blocked").as("blocked"))
    }),

    // compressed-media triage: deterministic MP3 frame streams built
    // from the doc_id lattice (the x30 injection pattern, binary
    // grain), probed back through the codec SPI's header walk — the
    // oracle recomputes every reported field closed-form from doc_id,
    // so the parser must invert the constructor exactly
    "x112_media_probe" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val payload = graft.ext.Mp3FrameCodec.syntheticStream(
            (10 + id % 5).toInt, (id % 3).toInt, (3 + id % 4).toInt,
            id % 2 == 0)
          (id, "audio", payload, 0, 0, 0)
        }).toDF("media_id", "modality", "payload", "width", "height",
          "sample_rate")
      graft.ext.Multimodal.probeMedia(s, media)
    }),

    // compressed-audio PCM decode (FLAC, lossless): deterministic FLAC
    // streams built from the doc_id lattice — waveform, rate, length,
    // and subframe strategy all closed-form in doc_id — decoded back
    // through the codec SPI to exact integer PCM statistics.  The
    // oracle recomputes sum/min/max of the ENCODER'S INPUT signal:
    // lossless means the decoded stats must match to the last sample
    "x113_flac_audio" -> ((s, d) => {
      import s.implicits._
      // repartition BEFORE synthesis/decode: the id column arrives in
      // 1-2 parquet splits, and FLAC encode+decode is the rare
      // genuinely compute-bound stage — without the spread it
      // serializes on the file count instead of the cores (2.4 s → and
      // the 32-way spread is exactly what a many-file 100 TB corpus
      // provides for free)
      val parts = s.sessionState.conf.numShufflePartitions
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(parts)
        .mapPartitions(_.map { id =>
          val n = (1024 + 512 * (id % 4)).toInt
          val a = (2 + id % 5).toInt
          val b = (id % 7).toInt
          val sr = Seq(32000, 44100, 48000)((id % 3).toInt)
          val wave = Array.tabulate(n)(t => ((t * a + b) % 2001) - 1000)
          val payload = graft.ext.FlacCodec.syntheticStream(sr,
            Array(wave), blockSize = 1024,
            fixedOrder = (id % 3).toInt,
            partitionOrder = if (id % 2 == 0) 0 else 2)
          (id, "audio", payload, 0, 0, 0)
        }).toDF("media_id", "modality", "payload", "width", "height",
          "sample_rate")
      graft.ext.Multimodal.audioStats(s, media)
    }),

    // WARC crawl-container parsing (ISO 28500): deterministic WARC
    // files built from the doc_id lattice — record count, types, URIs,
    // payloads, and per-record gzip membership all closed-form in
    // doc_id — walked back to one row per record.  The oracle
    // recomputes every field including the payload md5, so the parser
    // must invert the writer byte-for-byte through both layouts
    "x114_warc_records" -> ((s, d) => {
      import s.implicits._
      // repartition before synthesis/parse: compute-bound per file,
      // and the id column arrives in O(parquet-splits) partitions (the
      // x113 lesson — a many-file real crawl spreads for free)
      val parts = s.sessionState.conf.numShufflePartitions
      val files = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(parts)
        .mapPartitions(_.map { id =>
          val recs = (0 until (1 + id % 3).toInt).map { j =>
            (Seq("response", "request", "metadata")(j % 3),
              s"http://site${id % 5}.example.com/doc/$id/$j",
              s"2026-08-0${1 + j}T00:00:00Z",
              (s"content-$id-$j-" + "x" * ((id + j) % 50).toInt)
                .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          }
          (id, graft.ext.Warc.syntheticWarc(recs, gzip = id % 2 == 0))
        }).toDF("file_id", "payload")
      graft.ext.Warc.records(s, files, "file_id", "payload")
        .select(col("file_id"), col("rec_index"), col("warc_type"),
          col("target_uri"), col("warc_date"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
    }),

    // end-to-end crawl ingestion: raw WARC bytes → response records →
    // HTML boilerplate strip → canonical URL, composed entirely from
    // library operators (Warc.records ∘ stripHtml ∘ canonicalUrl) in
    // ONE narrow plan — no shuffle until a downstream dedup wants one.
    // The oracle states the EXPECTED canonical URL and cleaned text in
    // closed form (not a regex-twin replay), so the whole composition
    // is checked against an independent derivation
    "x115_crawl_ingest" -> ((s, d) => {
      import s.implicits._
      val parts = s.sessionState.conf.numShufflePartitions
      val files = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(parts) // the x113/x114 synthesis spread
        .mapPartitions(_.map { id =>
          val recs = (0 until (1 + id % 3).toInt).map { j =>
            val html = s"<html><head><title>Doc $id/$j</title>" +
              "<script>var x = 1 < 2;</script></head><body><p>" +
              s"crawl body $id $j " + "w" * ((id + j) % 20).toInt +
              " &amp; tail</p><a href=\"/next\">more</a></body></html>"
            (if (j == 0) "response" else "request",
              s"HTTP://WWW.Site${id % 5}.Example.COM:80/Doc/$id/$j" +
                s"?utm_source=crawl&ref=$j#frag",
              s"2026-08-0${1 + j}T00:00:00Z",
              html.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          }
          (id, graft.ext.Warc.syntheticWarc(recs, gzip = id % 2 == 1))
        }).toDF("file_id", "payload")
      graft.ext.Warc.records(s, files, "file_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("file_id"), col("rec_index"),
          graft.ext.Web.canonicalUrl(col("target_uri")).as("url_canon"),
          graft.ext.TextClean.stripHtml(col("payload").cast("string"))
            .as("text_clean"))
        .withColumn("n_chars_clean", length(col("text_clean")))
    }),

    // MP4/ISOBMFF triage: deterministic minimal MP4s (ftyp/moov box
    // trees with audio + optional video tracks and an mdat) probed
    // back through the codec SPI's box walk — the video-container
    // counterpart of x112, every reported field closed-form in doc_id
    "x116_mp4_probe" -> ((s, d) => {
      import s.implicits._
      val parts = s.sessionState.conf.numShufflePartitions
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(parts) // the x113/x114 synthesis spread
        .mapPartitions(_.map { id =>
          val sr = Seq(8000, 16000, 32000)((id % 3).toInt)
          val nAudio = sr.toLong * (1 + id % 3) / 4
          val payload = graft.ext.Mp4Codec.syntheticMp4(sr, nAudio,
            3 + id % 5, if (id % 2 == 0) Some(10 + id % 7) else None,
            (200 + id % 100).toInt)
          (id, "video", payload, 0, 0, 0)
        }).toDF("media_id", "modality", "payload", "width", "height",
          "sample_rate")
      graft.ext.Multimodal.probeMedia(s, media)
    }),

    // streaming crawl-frontier gate: WARC files stream in, response
    // records' canonical URLs probe the pinned seen-set — fetch only
    // what the frontier has not seen (Warc.records ∘ urlNoveltyGate,
    // the st15 discipline fed by the container reader instead of a
    // URL column).  URIs collide on an (id%5, id%40) lattice so both
    // verdicts are exercised; batch replay declared here, the
    // foreachBatch micro-batch==batch lifecycle proven in WarcSpec
    "st16_warc_frontier_gate" -> ((s, d) => {
      import s.implicits._
      val parts = s.sessionState.conf.numShufflePartitions
      val files = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(parts)
        .mapPartitions(_.map { id =>
          val recs = Seq(
            ("response",
              s"HTTP://WWW.Site${id % 5}.Example.COM/p/${id % 40}" +
                "?utm_source=warc",
              "2026-08-01T00:00:00Z",
              s"body $id".getBytes(
                java.nio.charset.StandardCharsets.US_ASCII)),
            ("metadata", "", "2026-08-01T00:00:00Z",
              "meta".getBytes(
                java.nio.charset.StandardCharsets.US_ASCII)))
          (id, graft.ext.Warc.syntheticWarc(recs, gzip = id % 2 == 0))
        }).toDF("file_id", "payload")
      val docs = graft.ext.Warc.records(s, files, "file_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("file_id").as("doc_id"), col("target_uri").as("url"))
      graft.ext.Web.urlNoveltyGate(
        graft.ext.Web.urlIndex(
          docs.filter(col("doc_id") % 7 =!= 0), "url"),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "url")
    }),

    // §2.9 crawl-frontier FETCH DECISION gate: novelty (seen-set
    // probe) ∧ robots-allowed (RFC 9309 longest-match over parsed
    // rules) — the full per-candidate verdict a frontier consults
    // before spending a fetch.  Hosts/paths ride the x119 precedence
    // lattice (rescue/anchor/tie/no-group branches — here every URL
    // carries a ?query, so the anchored /*.zip$ leg exercises "$ stops
    // at end of raw TARGET incl. query": it matches nothing) and a
    // (h, p, q) collision lattice leaves a handful of genuinely novel
    // candidates; batch replay declared here, the foreachBatch
    // micro-batch ≡ batch lifecycle proven in WebSpec
    "st17_frontier_policy_gate" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("http://site"), (id % 3).cast("string"),
        lit(".example.com"),
        when(id % 5 === 0, lit("/a/x"))
          .when(id % 5 === 1, lit("/a/pub/x"))
          .when(id % 5 === 2, lit("/b/file.zip"))
          .when(id % 5 === 3, lit("/tt/z"))
          .otherwise(lit("/ok")),
        lit("?id="), (id % 40).cast("string"))
      val docs = Tables.documents(s, d).select(col("doc_id"),
        url.as("url"))
      val policy =
        "User-agent: *\nDisallow: /a\nAllow: /a/pub\n" +
          "Disallow: /*.zip$\nDisallow: /tt\nAllow: /tt\n"
      val robots = Tables.documents(s, d)
        .select((id % 3).as("h")).distinct()
        .select(concat(lit("site"), col("h").cast("string"),
          lit(".example.com")).as("host"),
          when(col("h") === 2,
            lit("User-agent: evilbot\nDisallow: /\n"))
            .otherwise(lit(policy)).as("txt"))
      graft.ext.Web.frontierGate(
        graft.ext.Web.urlIndex(
          docs.filter(col("doc_id") % 7 =!= 0), "url"),
        graft.ext.Web.robotsRules(robots, "host", "txt"),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "url")
    }),

    // the DISCOVERY→FRONTIER composition end-to-end (round-17):
    // robots.txt Sitemap: directives seed resolveSitemaps, whose
    // bounded driver loop (the S10 pagination shape) fetches index
    // documents through a deterministic fetch seam — even hosts
    // publish a depth-1 index (with a depth-2 sub-index on the id%3
    // leg and a self-CYCLE on the id%5 leg, fetched exactly once),
    // odd hosts a direct urlset — and the resolved page entries gate
    // through frontierGate (novelty from an id%7 seen lattice, robots
    // Disallow /private/).  The oracle regenerates the reachable page
    // set closed-form; a duplicate fetch (cycle bug) or a lost branch
    // (depth bug) changes the row set
    "st18_sitemap_resolve" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val hostOf = concat(lit("h"), id.cast("string"), lit(".example.com"))
      val robots = docs.select(hostOf.as("host"),
        concat(lit("User-agent: *\nDisallow: /private/\nSitemap: http://"),
          hostOf,
          when(id % 2 === 0, lit("/idx.xml")).otherwise(lit("/set.xml")),
          lit("\n")).as("txt"))
      val seeds = graft.ext.Web.robotsSitemaps(robots, "host", "txt")
        .select(col("sitemap_url"))
      val fetchFn: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = { f =>
        val u = col("sitemap_url")
        val hid = regexp_extract(u, "^http://h([0-9]+)\\.", 1).cast("long")
        val base = concat(lit("http://h"), hid.cast("string"),
          lit(".example.com"))
        val xml = when(u.endsWith("/idx.xml"), concat(
            lit("<sitemapindex><sitemap><loc>"), base,
            lit("/set.xml</loc></sitemap>"),
            when(hid % 5 === 0, concat(lit("<sitemap><loc>"), base,
              lit("/idx.xml</loc></sitemap>"))).otherwise(lit("")),
            when(hid % 3 === 0, concat(lit("<sitemap><loc>"), base,
              lit("/idx2.xml</loc></sitemap>"))).otherwise(lit("")),
            lit("</sitemapindex>")))
          .when(u.endsWith("/idx2.xml"), concat(
            lit("<sitemapindex><sitemap><loc>"), base,
            lit("/set2.xml</loc></sitemap></sitemapindex>")))
          .when(u.endsWith("/set2.xml"), concat(
            lit("<urlset><url><loc>"), base,
            lit("/deep</loc><lastmod>2026-04-01</lastmod></url></urlset>")))
          .otherwise(concat(
            lit("<urlset><url><loc>"), base, lit("/p/0</loc></url>"),
            when(hid % 3 === 0, concat(lit("<url><loc>"), base,
              lit("/private/x</loc></url>"))).otherwise(lit("")),
            lit("</urlset>")))
        f.select(u, xml.as("xml"))
      }
      val resolved = graft.ext.Web.resolveSitemaps(seeds, "sitemap_url",
        fetchFn, maxDepth = 4)
      val candidates = resolved.filter(col("kind") === "urlset")
        .select(col("loc").as("url")).distinct()
      val seen = docs.filter(id % 7 === 0)
        .select(concat(lit("http://"), hostOf, lit("/p/0")).as("url"))
      graft.ext.Web.frontierGate(
        graft.ext.Web.urlIndex(seen, "url"),
        graft.ext.Web.robotsRules(robots, "host", "txt"),
        candidates, "url", "url")
    }),

    // DISCOVERY-FRESHNESS composition (round-17): sitemapEntries'
    // lastmod column feeds the recrawl gate — the reference's
    // watermark discipline (meta.js) applied end-to-end: a publisher's
    // declared lastmod decides the refetch, not just novelty.  Page
    // urls collide on (id%11, id%5); candidate lastmods ride an id%27
    // date lattice with an id%4 missing-lastmod leg; the seen index
    // carries an id%13 date lattice over even ids on hosts 0..7 (hosts
    // 8..10 stay novel).  The oracle mirrors the construction with a
    // group-max CTE, never re-parsing the XML
    "st20_sitemap_recrawl" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val pageUrl = concat(lit("http://h"), (id % 11).cast("string"),
        lit(".example.com/p/"), (id % 5).cast("string"))
      val xml = concat(lit("<urlset><url><loc>"), pageUrl, lit("</loc>"),
        when(id % 4 =!= 1, concat(lit("<lastmod>2026-02-"),
          lpad(((id % 27) + 1).cast("string"), 2, "0"),
          lit("</lastmod>"))).otherwise(lit("")),
        lit("</url></urlset>"))
      val entries = graft.ext.Web.sitemapEntries(
        docs.select(concat(lit("http://h"), id.cast("string"),
          lit(".example.com/sitemap.xml")).as("sitemap_url"),
          xml.as("xml")),
        "sitemap_url", "xml")
      val candidates = entries.filter(col("kind") === "urlset")
        .select(col("sitemap_url"), col("loc").as("url"), col("lastmod"))
      val seen = docs.filter(id % 2 === 0 && id % 11 < 8)
        .select(pageUrl.as("url"),
          concat(lit("2026-02-"),
            lpad(((id % 13) + 1).cast("string"), 2, "0")).as("mod"))
      graft.ext.Web.recrawlGate(
        graft.ext.Web.urlModIndex(seen, "url", "mod"),
        candidates, "sitemap_url", "url", "lastmod")
    }),

    // lastmod-aware RECRAWL gate (round-17): the st15 novelty lattice
    // extended with freshness — urls collide on (id%3, id%5, id%40),
    // mods ride an id%27 date lattice with an id%9 NULL leg, the index
    // takes max(mod) per group; fetch = novel ∨ strictly-newer.  The
    // oracle re-derives the per-group max and the NULL-conservative
    // verdict closed-form
    "st19_recrawl_gate" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("http://h"), (id % 3).cast("string"),
        lit(".example.com/p/"), (id % 5).cast("string"),
        lit("?v="), (id % 40).cast("string"))
      val mod = when(id % 9 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("2026-01-"),
          lpad(((id % 27) + 1).cast("string"), 2, "0")))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"), mod.as("mod"))
      graft.ext.Web.recrawlGate(
        graft.ext.Web.urlModIndex(
          docs.filter(col("doc_id") % 7 =!= 0), "url", "mod"),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "url", "mod")
    }),

    // out-link extraction (round-17): per-page <a href> rows resolved
    // against the page URL — absolute passes through, scheme-relative
    // takes the base scheme, root-relative takes scheme://host,
    // path-relative joins the base directory with ../ resolution,
    // fragments strip, &amp; unescapes, javascript: drops, anchor text
    // loses inner markup.  The oracle regenerates every expected link
    // closed-form from the injection lattice — never re-parses HTML
    "x126_link_extract" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://h"), (id % 7).cast("string"),
        lit(".example.com/dir"), (id % 3).cast("string"),
        lit("/page"), id.cast("string"), lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"http://ext"), (id % 5).cast("string"),
        lit(".example.com/abs\">Ext</a>\n<a href='/r/"),
        (id % 4).cast("string"), lit("'>Root</a>\n"),
        when(id % 2 === 0, concat(lit("<a class=\"x\" href=\"../up/"),
          (id % 6).cast("string"),
          lit("#frag\">Up <b>bold</b></a>\n"))).otherwise(lit("")),
        when(id % 3 === 0,
          lit("<a href=\"//cdn.example.com/c?a=1&amp;b=2\">CDN</a>\n"))
          .otherwise(lit("")),
        when(id % 5 === 0,
          lit("<a href=\"javascript:void(0)\">js</a>\n")).otherwise(lit("")),
        lit("<a href=\"next"), (id % 9).cast("string"),
        lit(".html\"></a></body></html>"))
      graft.ext.Web.extractLinks(
        Tables.documents(s, d).select(col("doc_id"), base.as("url"),
          html.as("html")),
        "doc_id", "url", "html")
    }),

    // the ORGANIC discovery→frontier composition (round-17): pages'
    // out-links (x126's extraction — an absolute external link with a
    // query and a root-relative internal link per page) become frontier
    // candidates, gated on novelty (links already discovered by the
    // id%13≠0 crawl slice) ∧ robots (external hosts block /abs/3,
    // internal hosts block /r/1) — sitemaps (st18), lastmod (st20),
    // and links (here) all feed the same gate
    "st21_link_frontier" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val base = concat(lit("http://h"), (id % 7).cast("string"),
        lit(".example.com/d/p"), id.cast("string"), lit(".html"))
      val html = concat(
        lit("<a href=\"http://ext"), (id % 5).cast("string"),
        lit(".example.com/abs/"), (id % 11).cast("string"),
        lit("?q="), (id % 40).cast("string"), lit("\">E</a>"),
        lit("<a href=\"/r/"), (id % 4).cast("string"), lit("\">R</a>"))
      // URL-only extraction: the frontier feed discards anchors, and
      // the two-group zip pays a second full-document regex walk for
      // them (same-harness A/B at sf0.1 in the comment on
      // Web.extractLinkUrls)
      def links(p: org.apache.spark.sql.DataFrame) =
        graft.ext.Web.extractLinkUrls(p, "url", "html")
          .select(col("link_url").as("url"))
      val pages = docs.select(col("doc_id"), base.as("url"),
        html.as("html"))
      val candidates = links(pages.filter(id % 13 === 0)).distinct()
      val hostsTxt = docs
        .select((id % 5).as("e"), (id % 7).as("h")).distinct()
      val robots = hostsTxt
        .select(concat(lit("ext"), col("e").cast("string"),
          lit(".example.com")).as("host"),
          lit("User-agent: *\nDisallow: /abs/3\n").as("txt"))
        .unionByName(hostsTxt
          .select(concat(lit("h"), col("h").cast("string"),
            lit(".example.com")).as("host"),
            lit("User-agent: *\nDisallow: /r/1\n").as("txt")))
        .distinct()
      graft.ext.Web.frontierGate(
        graft.ext.Web.urlIndex(
          links(pages.filter(id % 13 =!= 0)), "url"),
        graft.ext.Web.robotsRules(robots, "host", "txt"),
        candidates, "url", "url")
    }),

    // politeness ACROSS cycles (round-17): batch 1 (even ids)
    // schedules, its state (per-host max eta + delay) seeds batch 2
    // (odd ids), whose etas must start where batch 1's promises end —
    // the x121 slot algebra continued over a micro-batch boundary.
    // Output is batch 2's schedule; the oracle replays both cycles
    // with ranking windows and a per-host offset join
    "x125_politeness_cycles" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val url = concat(lit("http://site"), (id % 5).cast("string"),
        lit(".example.com/p/"), id.cast("string"))
      val delays = docs.select((id % 5).as("h")).distinct()
        .select(concat(lit("site"), col("h").cast("string"),
          lit(".example.com")).as("host"),
          (col("h").cast("double") / 2 + 0.5).as("delay_sec"))
      val b1 = docs.filter(id % 2 === 0).select(col("doc_id"), url.as("url"))
      val b2 = docs.filter(id % 2 === 1).select(col("doc_id"), url.as("url"))
      val s1 = graft.ext.Web.politenessSchedule(b1, delays, "doc_id", "url")
      graft.ext.Web.politenessScheduleResume(b2, delays,
        graft.ext.Web.politenessStateAfter(s1), "doc_id", "url")
    }),

    // host-level link graph (round-17): x126's extraction joined back
    // to its pages on id (co-keyed) rolls up to (src_host, dst_host,
    // cnt) — the root-relative leg lands on the page's own host and
    // must DROP as a self-loop, so only the absolute-external and
    // scheme-relative CDN legs survive.  The oracle regenerates the
    // surviving edge multiplicities from the lattice, never from HTML
    "x127_host_graph" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://h"), (id % 7).cast("string"),
        lit(".example.com/dir/page"), id.cast("string"), lit(".html"))
      val html = concat(
        lit("<a href=\"http://ext"), (id % 5).cast("string"),
        lit(".example.com/a\">E</a><a href=\"/self\">S</a>"),
        when(id % 3 === 0,
          lit("<a href=\"//cdn.example.com/c\">C</a>")).otherwise(lit("")))
      // fused form: the page row carries its own URL, so the host
      // pair derives in-row — no id-keyed join-back shuffle
      // (same-harness A/B at sf0.1: 3.11 → 2.61 s warm min; the rest
      // is the per-page regex extraction itself)
      graft.ext.Graph.hostEdgesFromPages(
        Tables.documents(s, d)
          .select(col("doc_id"), base.as("url"), html.as("html")),
        "url", "html")
    }),

    // fixed-point PageRank (round-17): 4 synchronous sweeps over a
    // 12-node host lattice with irregular out-degrees (the (i+j)%3
    // hole pattern) and two genuinely dangling hosts (ext1/ext3 emit
    // nothing — their mass redistributes uniformly).  BIGINT
    // micro-units with floor division make the walk bit-reproducible,
    // so the oracle unrolls the exact recurrence as 4 chained CTEs
    "x128_pagerank" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      graft.ext.Graph.pageRankMicro(
        legA.unionByName(legB).unionByName(legC), "src", "dst",
        iterations = 4)
    }),

    // anchor-text rollup (round-17): top-2 anchors per link target by
    // (count DESC, anchor ASC) — label0..2 tie on near-equal counts
    // (broken lexically), the id%5 'extra' leg loses on count, and the
    // empty-anchor leg (image link) must never rank.  TopKPerKey heaps
    // on the engine side, a row_number window replay in the oracle
    "x129_anchor_topk" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://h"), (id % 7).cast("string"),
        lit(".example.com/p"), id.cast("string"), lit(".html"))
      val html = concat(
        lit("<a href=\"http://t"), (id % 4).cast("string"),
        lit(".example.com/x\">label"), (id % 3).cast("string"),
        lit("</a>"),
        when(id % 5 === 0, concat(lit("<a href=\"http://t"),
          (id % 4).cast("string"),
          lit(".example.com/x\">extra</a>"))).otherwise(lit("")),
        lit("<a href=\"http://t"), (id % 4).cast("string"),
        lit(".example.com/x\"></a>"))
      val pages = Tables.documents(s, d)
        .select(col("doc_id"), base.as("url"), html.as("html"))
      graft.ext.Graph.anchorTopK(
        graft.ext.Web.extractLinks(pages, "doc_id", "url", "html"),
        "link_url", "anchor", k = 2)
    }),

    // spider-trap detection (round-17): the /cal/<id> leg is the trap
    // (one template, per-doc distinct paths), /pageK and /about are
    // benign, the md5 session legs exercise the hex→H fold in BOTH
    // cases (uppercase GUIDs must fold too), the /n/ leg mixes 10-digit
    // and short digit runs that must land in ONE template (digit runs
    // never fold to H regardless of length), and host t (4 static
    // paths) must come out trap=false; threshold 100
    "x131_url_traps" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val sHost = concat(lit("http://s"), (id % 3).cast("string"),
        lit(".example.com"))
      val l1 = docs.select(
        concat(sHost, lit("/cal/"), id.cast("string")).as("url"))
      val l2 = docs.select(
        concat(sHost, lit("/page"), (id % 5).cast("string")).as("url"))
      val l3 = docs.filter(id % 2 === 0)
        .select(concat(sHost, lit("/about")).as("url"))
      val l4 = docs.filter(id % 7 === 0)
        .select(concat(sHost, lit("/s/"),
          substring(md5(id.cast("string")), 1, 12)).as("url"))
      val l4b = docs.filter(id % 11 === 0)
        .select(concat(sHost, lit("/S/"),
          upper(substring(md5(id.cast("string")), 1, 12))).as("url"))
      val l4c = docs.select(concat(sHost, lit("/n/"),
        when(id % 2 === 0, lpad(id.cast("string"), 10, "0"))
          .otherwise((id % 50).cast("string"))).as("url"))
      val l5 = docs.select(concat(lit("http://t.example.com/static/"),
        (id % 4).cast("string")).as("url"))
      graft.ext.Web.urlTrapScore(
        l1.unionByName(l2).unionByName(l3).unionByName(l4)
          .unionByName(l4b).unionByName(l4c).unionByName(l5),
        "url", threshold = 100)
    }),

    // redirect-chain resolution (round-17): blocks of 4 form chains
    // u_i→u_{i+1} (hops 3/2/1 to the block's terminal), the id%4==0
    // sources also carry a CONFLICTING edge to /x (min-dst keeps the
    // chain — deterministic), and the a↔b 2-cycle must come out
    // unresolved with hops pinned at maxHops=4
    "x132_redirects" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("http://r.example.com/u/"), c.cast("string"))
      val chain = docs.filter(id % 4 =!= 3)
        .select(u(id).as("src"), u(id + 1).as("dst"))
      val conflict = docs.filter(id % 4 === 0)
        .select(u(id).as("src"), lit("http://r.example.com/x").as("dst"))
      val cyc = docs.filter(id % 31 === 0)
      val cycle = cyc
        .select(lit("http://c.example.com/a").as("src"),
          lit("http://c.example.com/b").as("dst"))
        .unionByName(cyc.select(lit("http://c.example.com/b").as("src"),
          lit("http://c.example.com/a").as("dst")))
      graft.ext.Web.resolveRedirects(
        chain.unionByName(conflict).unionByName(cycle), "src", "dst",
        maxHops = 4)
    }),

    // anchor→document training pairs (round-17): the web tier feeding
    // retrieval training — anchors are human-written queries for their
    // targets.  Chain links give each page one single-count anchor;
    // hub links concentrate two anchor variants on each 5-block hub,
    // so the top-2 keeps the hub anchors and drops the chain label;
    // targets resolve to in-corpus doc_ids by URL join
    "st27_anchor_pairs" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val base = concat(lit("http://t.example.com/p"), id.cast("string"))
      val html = concat(
        lit("<a href=\"http://t.example.com/p"), (id + 1).cast("string"),
        lit("\">label"), (id % 3).cast("string"), lit("</a>"),
        lit("<a href=\"http://t.example.com/p"),
        (id - id % 5).cast("string"),
        lit("\">hub"), (id % 2).cast("string"), lit("</a>"))
      val pages = docs.select(col("doc_id"), base.as("url"),
        html.as("html"))
      val top = graft.ext.Graph.anchorTopK(
        graft.ext.Web.extractLinks(pages, "doc_id", "url", "html"),
        "link_url", "anchor", k = 2)
      top.join(pages.select(col("doc_id").as("target_doc_id"),
          col("url").as("link_url")), Seq("link_url"))
        .select(col("target_doc_id"), col("anchor"), col("cnt"))
    }),

    // the HOST SCORECARD (round-17): the tiering decision a crawl
    // operator actually makes, composed from library operators —
    // authority (pageRankMicro over the s→v lattice), trap verdict
    // (v0 is a calendar trap), spam rate (v1 is all-casino), and the
    // deny tier = trap ∨ spam ≥ 0.5; rank orders what survives
    "st26_host_scorecard" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def v(c: org.apache.spark.sql.Column) =
        concat(lit("v"), c.cast("string"), lit(".example.com"))
      def sh(c: org.apache.spark.sql.Column) =
        concat(lit("s"), c.cast("string"), lit(".example.com"))
      val urls = docs.select(concat(lit("http://"), v(id % 6),
        when(id % 6 === 0, concat(lit("/cal/"), id.cast("string")))
          .when(id % 6 === 1,
            concat(lit("/casino/"), (id % 13).cast("string")))
          .otherwise(concat(lit("/p"), (id % 13).cast("string"))))
        .as("url")).distinct()
      val traps = graft.ext.Web.urlTrapScore(urls, "url", threshold = 50)
      val spam = urls.select(
        graft.ext.Web.urlHost(col("url")).as("host"),
        graft.ext.Web.urlSpamScore(col("url"),
          Seq("promo" -> 0.5), Seq("casino"), 1.0)
          .getField("blocked").as("blocked"))
        .groupBy(col("host"))
        .agg(round(avg(col("blocked").cast("double")), 6).as("spam_frac"))
      // forward s→v endorsements plus a reverse v→s leg on even s
      // hosts: the link-exchange shape linkReciprocity exists to
      // catch — v2's out-edges are BOTH reciprocated (farm), v0/v4
      // sit at 0.5, odd v hosts have no out-edges (reciprocity 0)
      val fwd = docs.filter((id % 4 + id % 6) % 3 =!= 0)
        .select(sh(id % 4).as("src"), v(id % 6).as("dst"))
      val rev = docs.filter(id % 4 % 2 === 0)
        .select(v(id % 6).as("src"), sh(id % 4).as("dst"))
      val edges = fwd.unionByName(rev)
      val ranks = graft.ext.Graph.pageRankMicro(edges, "src", "dst",
        iterations = 4)
      val rec = graft.ext.Graph.linkReciprocity(edges, "src", "dst")
      traps.join(spam, Seq("host"))
        .join(ranks.select(col("node").as("host"), col("rank_micro")),
          Seq("host"), "left")
        .join(rec.select(col("host"), col("reciprocity")),
          Seq("host"), "left")
        .select(col("host"),
          coalesce(col("rank_micro"), lit(0L)).as("rank_micro"),
          col("n_urls"), col("worst_expansion"), col("trap"),
          col("spam_frac"),
          coalesce(col("reciprocity"), lit(0.0)).as("reciprocity"),
          (col("trap") || col("spam_frac") >= 0.5 ||
            coalesce(col("reciprocity"), lit(0.0)) >= 0.75).as("deny"))
    }),

    // the PRODUCTION crawl cycle composed END-TO-END (round-18): all
    // FOUR discovery feeds — lastmod sitemaps (st20's shape), the
    // resolved sitemap-index tree (st18's driver loop), out-links
    // (st21), redirect landings (st23) — union into one candidate set
    // with per-URL max(lastmod), gate on freshness-aware novelty
    // (recrawlGate over the prior cycle's UrlModIndex), schedule under
    // CROSS-CYCLE politeness (politenessScheduleResume seeded by the
    // prior cycle's state), and annotate with host authority
    // (rankFrontier — the slot algebra is rank-independent, host-grain
    // authority vs URL-grain slots, so annotating the scheduled queue
    // is the same lattice with one fewer join) AND the per-host fetch
    // bill (crawlBudget over the gated set, round-19: gated → budget →
    // schedule, so the cycle knows its capacity/deferral cost BEFORE
    // spending wall clock — x133's planning half wired into the
    // production loop).  The oracle re-derives the whole cycle
    // closed-form: feed urls, group-max lastmod, gate verdicts, the
    // 2-sweep rank walk, the slot + prior-offset algebra, and the
    // window-capacity min/remainder bill
    "st28_crawl_cycle" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def ch(c: org.apache.spark.sql.Column) =
        concat(lit("c"), c.cast("string"), lit(".example.com"))
      def purl(ac: org.apache.spark.sql.Column,
               kc: org.apache.spark.sql.Column) =
        concat(lit("http://"), ch(ac), lit("/p/"), kc.cast("string"))
      val a = id % 5
      val k = id % 9
      // feed 1 — published urlsets with lastmod (id%3==1 omits it)
      val xml = concat(lit("<urlset><url><loc>"), purl(a, k),
        lit("</loc>"),
        when(id % 3 =!= 1, concat(lit("<lastmod>2026-03-"),
          lpad(((id % 27) + 1).cast("string"), 2, "0"),
          lit("</lastmod>"))).otherwise(lit("")),
        lit("</url></urlset>"))
      val f1 = graft.ext.Web.sitemapEntries(
        docs.filter(id % 4 === 0).select(
          concat(lit("http://"), ch(a), lit("/sm"), id.cast("string"),
            lit(".xml")).as("sitemap_url"), xml.as("xml")),
        "sitemap_url", "xml")
        .filter(col("kind") === "urlset")
        .select(col("loc").as("url"), col("lastmod").as("lm"))
      // feed 2 — the index tree resolved by the bounded driver loop:
      // idx.xml → set.xml → one /s/<a> page per host
      val seeds = docs.select(a.as("a")).distinct()
        .select(concat(lit("http://"), ch(col("a")),
          lit("/idx.xml")).as("sitemap_url"))
      val fetchFn: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = { f =>
        val u = col("sitemap_url")
        val ha = regexp_extract(u, "^http://c([0-9]+)\\.", 1)
        val base = concat(lit("http://c"), ha, lit(".example.com"))
        val x = when(u.endsWith("/idx.xml"),
          concat(lit("<sitemapindex><sitemap><loc>"), base,
            lit("/set.xml</loc></sitemap></sitemapindex>")))
          .otherwise(concat(lit("<urlset><url><loc>"), base,
            lit("/s/"), ha, lit("</loc></url></urlset>")))
        f.select(u, x.as("xml"))
      }
      val f2 = graft.ext.Web.resolveSitemaps(seeds, "sitemap_url",
        fetchFn, maxDepth = 3)
        .filter(col("kind") === "urlset")
        .select(col("loc").as("url"), col("lastmod").as("lm"))
      // feed 3 — out-links from the fetched slice: an absolute /p
      // link plus a root-relative /l link on the page's own host
      val html3 = concat(
        lit("<a href=\""), purl(a, k), lit("\">P</a>"),
        lit("<a href=\"/l/"), (id % 7).cast("string"), lit("\">L</a>"))
      val f3 = graft.ext.Web.extractLinkUrls(
        docs.filter(id % 4 === 1).select(
          concat(lit("http://"), ch((id + 2) % 5), lit("/d/"),
            id.cast("string"), lit(".html")).as("url"),
          html3.as("html")), "url", "html")
        .select(col("link_url").as("url"),
          lit(null).cast("string").as("lm"))
      // feed 4 — redirect landings (single-hop chains, all resolve)
      val f4 = graft.ext.Web.resolveRedirects(
        docs.filter(id % 4 === 2).select(
          concat(lit("http://"), ch(a), lit("/r/"),
            id.cast("string")).as("src"),
          purl(a, (id + 1) % 9).as("dst")), "src", "dst", maxHops = 2)
        .filter(col("resolved"))
        .select(col("final_url").as("url"),
          lit(null).cast("string").as("lm"))
      // pin the unioned candidate set at the cycle boundary: the four
      // feed branches fuse into one generated method past the JVM's
      // 64 KB codegen limit, and WITHOUT the cut every downstream
      // stage re-inherits the mega-expression and re-pays the failed
      // compile + interpreted fallback (measured: 16.4 s wall with
      // 3.2 s of stage time and 8 codegen failures → the checkpoint
      // removes them; a production cycle materializes its frontier at
      // exactly this seam anyway)
      val cands = f1.unionByName(f2).unionByName(f3).unionByName(f4)
        .groupBy(col("url")).agg(max(col("lm")).as("lm"))
        .localCheckpoint()
      // the prior cycle's fetches with their observed mods = the
      // freshness seen-set AND the politeness history
      val seen = docs.filter(id % 2 === 0)
        .select(purl(a, k).as("url"),
          concat(lit("2026-03-"),
            lpad(((id % 13) + 1).cast("string"), 2, "0")).as("mod"))
      val gated = graft.ext.Web.recrawlGate(
        graft.ext.Web.urlModIndex(seen, "url", "mod"),
        cands, "url", "url", "lm")
        .filter(col("fetch"))
      // authority: 2 sweeps over the c-host graph (step-2 ring plus
      // the even-host step-1 leg — irregular out-degrees)
      val e1 = docs.filter((a + id % 7) % 3 =!= 0)
        .select(ch(a).as("src"), ch((a + 2) % 5).as("dst"))
      val e2 = docs.filter(a % 2 === 0)
        .select(ch(a).as("src"), ch((a + 1) % 5).as("dst"))
      val ranks = graft.ext.Graph.pageRankMicro(e1.unionByName(e2),
        "src", "dst", iterations = 2)
      val delays = docs.filter(a < 4).select(a.as("h")).distinct()
        .select(ch(col("h")).as("host"),
          (col("h").cast("double") / 2 + 0.5).as("delay_sec"))
      // prior-cycle schedule → cross-cycle state
      val s1 = graft.ext.Web.politenessSchedule(
        seen.select(col("url")).distinct()
          .select(col("url"), col("url").as("u2")),
        delays, "url", "u2")
      val state = graft.ext.Web.politenessStateAfter(s1)
      val sched = graft.ext.Web.politenessScheduleResume(
        gated.select(col("url_canon").as("url"),
          col("url_canon").as("u2")),
        delays, state, "url", "u2")
      // the fetch bill for the SAME gated set the schedule consumes —
      // host-sized, broadcast under the queue (no candidate shuffle).
      // The cycle window is parameterized via session conf (round-19
      // missing #2), defaulting to the 10 s the oracle replays
      val windowSec = s.conf.getOption("spark.graft.crawlWindowSec")
        .map(_.toDouble).getOrElse(10.0)
      val budget = graft.ext.Web.crawlBudget(
        gated.select(col("url_canon").as("url")), delays, "url",
        windowSec = windowSec)
      // applyBudget makes the bill a BRAKE: slots past each host's
      // allocation lose their ETA and come out deferred_next = true —
      // the carry the next cycle re-schedules
      graft.ext.Web.applyBudget(
        graft.ext.Graph.rankFrontier(sched, ranks, "url_canon"), budget)
        .select(col("url_canon"), col("host"), col("rank_micro"),
          col("slot"), col("delay_sec"), col("eta_sec"),
          col("queue"), col("capacity"), col("allocated"),
          col("deferred"), col("deferred_next"))
    }),

    // politeness audit (round-17): the events log replayed as a fetch
    // log (host = user_id%7 lattice), microsecond gaps per host
    // against the per-host delay — hosts 5/6 publish no delay and
    // ride the 1.0 default
    "x137_politeness_audit" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val uid = col("user_id")
      val fetches = ev.select(concat(lit("site"),
        (uid % 7).cast("string"), lit(".example.com")).as("host"),
        col("event_id"), col("ts"))
      val delays = ev.filter(uid % 7 < 5).select((uid % 7).as("g"))
        .distinct()
        .select(concat(lit("site"), col("g").cast("string"),
          lit(".example.com")).as("host"),
          (col("g").cast("double") / 2 + 0.5).as("delay_sec"))
      graft.ext.Web.politenessAudit(fetches, delays,
        "event_id", "host", "ts")
    }),

    // recrawl backoff (round-17): content hash = the fetch's UTC day
    // bucket (integer µs division — engine-exact), so a URL's streak
    // is its fetch count within its latest observed day and the next
    // interval doubles per unchanged revisit, capped at 2^6
    "x138_recrawl_backoff" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val url = concat(lit("http://e.example.com/"),
        (col("user_id") % 50).cast("string"))
      val h = expr("unix_micros(ts) DIV 86400000000").cast("string")
      graft.ext.Web.recrawlBackoff(
        ev.select(url.as("url"), col("ts"), h.as("h")),
        "url", "ts", "h", baseSec = 3600L, maxExp = 6)
    }),

    // page-level crawl directives (round-17): meta robots parsed for
    // noindex/nofollow with TOKEN boundaries (the id%5 'nofollowme'
    // leg must NOT match), a viewport decoy meta, a SECOND robots meta
    // on id%6==3 pages (separate noindex tag — directives must OR
    // across all robots metas, not stop at the first), and
    // rel=canonical resolved root-relative and absolute — NULL when
    // undeclared
    "x134_page_directives" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://h"), (id % 7).cast("string"),
        lit(".example.com/d/p"), id.cast("string"), lit(".html"))
      val content = when(id % 2 === 0, lit("noindex, nofollow"))
        .when(id % 5 === 0, lit("nofollowme"))
        .otherwise(lit("nofollow"))
      val html = concat(
        lit("<meta name=\"viewport\" content=\"width=device-width\">"),
        when(id % 3 === 0, concat(lit("<meta name=\"robots\" content=\""),
          content, lit("\">"))).otherwise(lit("")),
        when(id % 6 === 3,
          lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit("")),
        when(id % 4 === 0, concat(lit("<link rel=\"canonical\" href=\"/canon/"),
          (id % 9).cast("string"), lit("\">"))).otherwise(lit("")),
        when(id % 4 === 2,
          concat(lit("<link href=\"http://canon.example.com/c"),
            (id % 5).cast("string"),
            lit("\" rel=\"canonical\">"))).otherwise(lit("")),
        lit("<body>x</body>"))
      graft.ext.Web.pageDirectives(
        Tables.documents(s, d).select(col("doc_id"), base.as("url"),
          html.as("html")),
        "doc_id", "url", "html")
    }),

    // per-link rel policy (round-17): rel after href, rel BEFORE href,
    // no rel, and the token-boundary trap ('nofollower' must stay
    // false) — the link-graph feed that respects publisher opt-outs
    "x135_links_policy" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://h"), (id % 7).cast("string"),
        lit(".example.com/d/p"), id.cast("string"), lit(".html"))
      val html = concat(
        lit("<a href=\"/r/"), (id % 4).cast("string"),
        lit("\" rel=\"nofollow\">R</a>"),
        lit("<a rel=\"ugc nofollow\" href=\"http://ext"),
        (id % 5).cast("string"), lit(".example.com/u\">U</a>"),
        lit("<a href=\"/ok/"), (id % 3).cast("string"), lit("\">OK</a>"),
        when(id % 2 === 0,
          lit("<a href=\"/f\" rel=\"noreferrer nofollower\">F</a>"))
          .otherwise(lit("")))
      graft.ext.Web.extractLinksPolicy(
        Tables.documents(s, d).select(col("doc_id"), base.as("url"),
          html.as("html")),
        "doc_id", "url", "html")
    }),

    // the POLICY-AWARE link frontier (round-17): page-level meta
    // nofollow (id%9 pages contribute NOTHING) and link-level rel
    // nofollow both gate the feed BEFORE novelty ∧ robots; the /deny
    // leg survives policy but robots blocks it
    "st25_policy_frontier" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val base = concat(lit("http://p"), (id % 6).cast("string"),
        lit(".example.com/a/b"), id.cast("string"), lit(".html"))
      val html = concat(
        when(id % 9 === 0,
          lit("<meta name=\"robots\" content=\"nofollow\">"))
          .otherwise(lit("")),
        lit("<a href=\"http://q"), (id % 5).cast("string"),
        lit(".example.com/l/"), (id % 11).cast("string"), lit("\">L</a>"),
        lit("<a href=\"http://q"), (id % 5).cast("string"),
        lit(".example.com/n/"), (id % 7).cast("string"),
        lit("\" rel=\"nofollow\">N</a>"),
        lit("<a href=\"/deny\">D</a>"))
      val pages = docs.select(col("doc_id"), base.as("url"),
        html.as("html"))
      // anchor-free policy extraction: the feed needs (url, nofollow)
      // only, so the third regex walk and the anchor cleanup drop
      def feed(p: org.apache.spark.sql.DataFrame) = {
        val dirs = graft.ext.Web.pageDirectives(p, "doc_id", "url", "html")
          .select(col("doc_id"), col("nofollow").as("page_nofollow"))
        graft.ext.Web.extractLinkUrlsPolicy(p, "doc_id", "url", "html")
          .join(dirs, Seq("doc_id"))
          .filter(!col("nofollow") && !col("page_nofollow"))
          .select(col("link_url").as("url"))
      }
      val candidates = feed(pages.filter(id % 13 === 0)).distinct()
      val hostsTxt = docs
        .select((id % 5).as("q"), (id % 6).as("p")).distinct()
      val robots = hostsTxt
        .select(concat(lit("q"), col("q").cast("string"),
          lit(".example.com")).as("host"),
          lit("User-agent: *\nDisallow: /deny\n").as("txt"))
        .unionByName(hostsTxt
          .select(concat(lit("p"), col("p").cast("string"),
            lit(".example.com")).as("host"),
            lit("User-agent: *\nDisallow: /deny\n").as("txt")))
        .distinct()
      graft.ext.Web.frontierGate(
        graft.ext.Web.urlIndex(
          feed(pages.filter(id % 13 =!= 0)), "url"),
        graft.ext.Web.robotsRules(robots, "host", "txt"),
        candidates, "url", "url")
    }),

    // canonical-directed dedup (round-17): the publisher names the
    // keeper — id%2 pages declare rel=canonical /master/<id%8> (the
    // dedup key; id%4==0 pages declare it as a www/default-port/
    // tracking-param VARIANT of the same target, which must group with
    // the root-relative declarers — the key is the canonical FORM of
    // the target), the rest key on their own canonical URL (tracking
    // params stripped); keeper = (max n_chars, min id) per key
    "x136_canonical_keepers" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://w.example.com/v"),
        (id % 40).cast("string"), lit("?utm_source=z&n="),
        (id % 3).cast("string"))
      val html = concat(
        when(id % 4 === 0,
          concat(lit("<link rel=\"canonical\" href=" +
            "\"http://www.w.example.com:80/master/"),
            (id % 8).cast("string"), lit("?utm_source=t\">")))
          .when(id % 2 === 0,
            concat(lit("<link rel=\"canonical\" href=\"/master/"),
              (id % 8).cast("string"), lit("\">"))).otherwise(lit("")),
        lit("<body>y</body>"))
      graft.ext.Web.canonicalKeepers(
        Tables.documents(s, d).select(col("doc_id"), base.as("url"),
          html.as("html"), col("n_chars")),
        "doc_id", "url", "html", "n_chars")
    }),

    // warm-started PageRank (round-17): cycle 2 extends the x128
    // lattice with the full ext ring (the dangling ext hosts grew
    // out-links) and re-converges in 2 sweeps FROM the prior walk's
    // ranks — the "index once, serve batches" discipline applied to
    // authority; new-node defaults and the changed dangling set both
    // exercise the resume path
    "st24_rank_resume" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      val eA = legA.unionByName(legB).unionByName(legC)
      val legD = docs.filter(id % 2 === 1)
        .select(ext(id % 5).as("src"), ext((id % 5 + 1) % 5).as("dst"))
      val prior = graft.ext.Graph.pageRankMicro(eA, "src", "dst",
        iterations = 4)
      graft.ext.Graph.pageRankMicroFrom(eA.unionByName(legD),
        "src", "dst", prior, iterations = 2)
    }),

    // warm-started host components (round-18): day 1's ring splits
    // into the even and odd m-families plus the a↔b pair; day 2's
    // delta adds step-5 edges (odd step — merges the two ring
    // families into ONE) and a brand-new c↔d pair.  The warm fixpoint
    // seeds from day 1's labels as star edges, and under the
    // append-only contract equals a cold run over the full history —
    // which is exactly what the oracle computes (recursive
    // reachability over day1 ∪ delta, rep via arg_min md5)
    "st29_component_resume" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def m(c: org.apache.spark.sql.Column) =
        concat(lit("m"), c.cast("string"), lit(".example.com"))
      val ring = docs.select(m(id % 10).as("src"),
        m((id + 2) % 10).as("dst"))
      val pair = docs.filter(id % 17 === 0)
        .select(lit("a.example.com").as("src"),
          lit("b.example.com").as("dst"))
      val prior = graft.ext.Graph.hostComponents(
        ring.unionByName(pair), "src", "dst")
      val delta = docs.filter(id % 3 === 0)
        .select(m(id % 10).as("src"), m((id + 5) % 10).as("dst"))
        .unionByName(docs.filter(id % 19 === 0)
          .select(lit("c.example.com").as("src"),
            lit("d.example.com").as("dst")))
      graft.ext.Graph.hostComponentsFrom(delta, "src", "dst", prior)
    }),

    // per-host crawl budget (round-17): site0's short path modulus
    // keeps it under capacity (deferred 0), the rest overflow; site4
    // publishes no Crawl-delay and rides the 1.0 default — the fetch
    // bill is known BEFORE the cycle spends wall clock
    "x133_crawl_budget" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val hh = id % 5
      val p = when(hh === 0, id % 7).otherwise(id % 97)
      val frontier = docs.select(concat(lit("http://site"),
        hh.cast("string"), lit(".example.com/p/"),
        p.cast("string")).as("url")).distinct()
      val delays = docs.filter(hh < 4).select(hh.as("g")).distinct()
        .select(concat(lit("site"), col("g").cast("string"),
          lit(".example.com")).as("host"),
          (col("g").cast("double") / 2 + 0.5).as("delay_sec"))
      graft.ext.Web.crawlBudget(frontier, delays, "url",
        windowSec = 10.0)
    }),

    // redirects feed the frontier (round-17): the FOURTH discovery
    // feed into the same gate (sitemaps st18, lastmod st20, links
    // st21, redirect landings here) — resolved finals become
    // candidates; the id%20 conflict redirects its block to /q
    // ('q' < 'u' wins the min-dst tie-break), which robots blocks;
    // seen = the j%8==7 terminals already crawled
    "st23_redirect_frontier" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("http://r.example.com/u/"), c.cast("string"))
      val chain = docs.filter(id % 4 =!= 3)
        .select(u(id).as("src"), u(id + 1).as("dst"))
      val conflict = docs.filter(id % 4 === 0)
        .select(u(id).as("src"),
          when(id % 20 === 0, lit("http://r.example.com/q"))
            .otherwise(lit("http://r.example.com/x")).as("dst"))
      val fin = graft.ext.Web.resolveRedirects(
        chain.unionByName(conflict), "src", "dst", maxHops = 4)
        .filter(col("resolved"))
        .select(col("final_url").as("url")).distinct()
      val seen = docs.filter(id % 8 === 7).select(u(id).as("url"))
      val robots = docs.select(lit("r.example.com").as("host"),
        lit("User-agent: *\nDisallow: /q\n").as("txt")).distinct()
      graft.ext.Web.frontierGate(graft.ext.Web.urlIndex(seen, "url"),
        graft.ext.Web.robotsRules(robots, "host", "txt"),
        fin, "url", "url")
    }),

    // link reciprocity (round-17): over the x128 lattice, an h→ext
    // edge is mutual iff the even-ext return leg exists — h hosts get
    // partial reciprocity, even ext hosts high, odd ext hosts none
    "x139_link_reciprocity" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      graft.ext.Graph.linkReciprocity(
        legA.unionByName(legB).unionByName(legC), "src", "dst")
    }),

    // HyperBall harmonic centrality (round-18): the x128 lattice
    // walked 3 sketch sweeps — h(v) = Σ (|ball_r|−|ball_{r-1}|)/r with
    // 256-byte md5 HLL in-balls.  Every register and the estimate's
    // bucket-ordered float Σ are engine-reproducible, so the oracle
    // computes exact bounded reachability and rebuilds the SAME
    // registers per (node, radius)
    "x140_harmonic_centrality" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      graft.ext.Graph.harmonicCentrality(
        legA.unionByName(legB).unionByName(legC), "src", "dst",
        maxRadius = 3)
    }),

    // warm-started HyperBall (round-19): day 1 = the x128 lattice
    // (legs A/B/C) walked to per-radius ball state; day 2's delta adds
    // the ext ring (st24's leg D — the dangling ext hosts grew
    // out-links).  The warm walk seeds from day 1's balls and gates
    // each sweep's edge work to delta edges + changed neighborhoods;
    // under the append-only contract its registers — hence every
    // estimate and the clamped harmonic sum — are BIT-EQUAL to a cold
    // walk over the full history, which is exactly what the oracle
    // replays (exact bounded reachability over A∪B∪C∪D, the same 256
    // registers per (node, radius), the clamped truncated sum)
    "st30_hyperball_resume" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      val day1 = legA.unionByName(legB).unionByName(legC)
      val legD = docs.filter(id % 2 === 1)
        .select(ext(id % 5).as("src"), ext((id % 5 + 1) % 5).as("dst"))
      val prior = graft.ext.Graph.harmonicBalls(day1, "src", "dst",
        maxRadius = 3)
      graft.ext.Graph.harmonicFromBalls(
        graft.ext.Graph.harmonicBallsFrom(prior, day1, legD,
          "src", "dst", maxRadius = 3),
        maxRadius = 3)
    }),

    // the URL-grain degraded PageRank walk DECLARED (round-19, the
    // round-18 verdict's growth gate for the co-located-shuffle
    // plan): a 499-node URL ring with irregular out-degree (step-7
    // ring + a 2id+1 chord on the id%3 slice) is persisted bucketed
    // by src (saveEdges — the corpus-linear half: one distinct
    // rollup + bucketed write) and walked 4 sweeps WITHOUT broadcast
    // hints (pageRankMicroBucketed — each sweep's contrib join is a
    // co-located shuffle against the bucketed scan; only |V|-sized
    // tables move).  Ranks are bit-equal to the broadcast walk
    // (GraphSpec pins it); the oracle unrolls the same integer
    // recurrence over the residue lattice
    "x141_pagerank_bucketed" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("http://g.example.com/u/"), c.cast("string"))
      val e1 = docs.select(u(id % 499).as("src"),
        u((id + 7) % 499).as("dst"))
      val e2 = docs.filter(id % 3 === 0)
        .select(u(id % 499).as("src"), u((id * 2 + 1) % 499).as("dst"))
      graft.ext.Graph.saveEdges(e1.unionByName(e2), "src", "dst",
        "x141_edges_bkt", buckets = 16)
      graft.ext.Graph.pageRankMicroBucketed(s, "x141_edges_bkt",
        iterations = 4)
    }),

    // the URL-grain degraded HyperBall READ-OUT declared (round-20,
    // round-19 verdict #5: the bucketed sweep had spec equality but
    // no growth row of its own — the x141 precedent): the x140
    // lattice persisted bucketed by src (the corpus-linear half),
    // then harmonicCentralityBucketed walks it with NO broadcast
    // hints — each sweep's two |V|-sized joins plan as co-located
    // shuffles against the bucketed scan.  Bit-equal to x140's
    // broadcast walk by contract, so the oracle is shared verbatim
    "x142_harmonic_bucketed" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      graft.ext.Graph.saveEdges(
        legA.unionByName(legB).unionByName(legC), "src", "dst",
        "x142_edges_bkt", buckets = 16)
      graft.ext.Graph.harmonicCentralityBucketed(s, "x142_edges_bkt",
        maxRadius = 3)
    }),

    // the degraded WARM HyperBall resume declared (round-20, the
    // round-19 verdict's #1 in full): day 1 = the x128 lattice
    // persisted as a bucketed edge table AND walked to bucketed
    // per-radius ball state by the non-broadcast state walk; day 2's
    // ext-ring delta is then walked by harmonicBallsFromBucketed
    // with NO broadcast hints — the changed-set gate and the ball
    // join are co-located shuffles against the bucketed scan, so the
    // resume survives the URL grain where the st30 broadcast form
    // dies.  warm ≡ cold under the append-only contract, so the
    // oracle is st30's full-history register replay verbatim
    "st31_hyperball_bucketed" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      val day1 = legA.unionByName(legB).unionByName(legC)
      val legD = docs.filter(id % 2 === 1)
        .select(ext(id % 5).as("src"), ext((id % 5 + 1) % 5).as("dst"))
      graft.ext.Graph.saveEdges(day1, "src", "dst",
        "st31_edges_bkt", buckets = 16)
      graft.ext.Graph.saveBalls(
        graft.ext.Graph.harmonicBallsBucketed(s, "st31_edges_bkt",
          maxRadius = 3), "st31_balls_bkt")
      graft.ext.Graph.harmonicFromBalls(
        graft.ext.Graph.harmonicBallsFromBucketed(s, "st31_balls_bkt",
          "st31_edges_bkt", legD, "src", "dst", maxRadius = 3),
        maxRadius = 3)
    }),

    // host components (round-17): the +2 ring over m0..m9 splits into
    // the even and odd families, plus an isolated a↔b pair — mirror
    // domains / link farms surface as components; the rep is the
    // component's min-md5 member (engine-portable), replayed by the
    // oracle's recursive reachability + arg_min
    "x130_host_components" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      def m(c: org.apache.spark.sql.Column) =
        concat(lit("m"), c.cast("string"), lit(".example.com"))
      val ring = docs.select(m(id % 10).as("src"), m((id + 2) % 10).as("dst"))
      val pair = docs.filter(id % 17 === 0)
        .select(lit("a.example.com").as("src"),
          lit("b.example.com").as("dst"))
      graft.ext.Graph.hostComponents(ring.unionByName(pair), "src", "dst")
    }),

    // the PRIORITIZED frontier (round-17): st21's gate verdicts
    // (novelty ∧ robots) annotated with the target host's PageRank
    // from the x128 lattice graph — the fetch queue pops allowed URLs
    // in authority order, and a host the rank table has never seen
    // rides along at rank 0 (fetch-last, never dropped)
    "st22_ranked_frontier" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d)
      val url = concat(lit("http://ext"), (id % 5).cast("string"),
        lit(".example.com/abs/"), (id % 11).cast("string"))
      val cand = docs.filter(id % 13 === 0).select(url.as("url")).distinct()
      val seen = docs.filter(id % 13 =!= 0 && id % 3 === 0)
        .select(url.as("url"))
      val robots = docs.select((id % 5).as("e")).distinct()
        .select(concat(lit("ext"), col("e").cast("string"),
          lit(".example.com")).as("host"),
          lit("User-agent: *\nDisallow: /abs/3\n").as("txt"))
      val gated = graft.ext.Web.frontierGate(
        graft.ext.Web.urlIndex(seen, "url"),
        graft.ext.Web.robotsRules(robots, "host", "txt"),
        cand, "url", "url")
      def h(c: org.apache.spark.sql.Column) =
        concat(lit("h"), c.cast("string"), lit(".example.com"))
      def ext(c: org.apache.spark.sql.Column) =
        concat(lit("ext"), c.cast("string"), lit(".example.com"))
      val legA = docs.filter((id % 7 + id % 5) % 3 =!= 0)
        .select(h(id % 7).as("src"), ext(id % 5).as("dst"))
      val legB = docs.select(h(id % 7).as("src"), h((id + 3) % 7).as("dst"))
      val legC = docs.filter(id % 5 % 2 === 0)
        .select(ext(id % 5).as("src"), h(id % 7).as("dst"))
      val ranks = graft.ext.Graph.pageRankMicro(
        legA.unionByName(legB).unionByName(legC), "src", "dst",
        iterations = 4)
      graft.ext.Graph.rankFrontier(gated, ranks, "url_canon")
    }),

    // robots.txt parsing (RFC 9309 subset): per-host policy texts —
    // multi-agent groups, comments, CRLF, empty-Disallow idiom, a
    // non-matching bot group, Allow overrides, a wildcard/anchored
    // pattern, a Crawl-delay line (surfaced by robotsIgnored, not
    // a rule), and the §2.2.1 EXCLUSIVITY lattice (round-17): id%4==0
    // hosts put graftbot in the SAME run as * (one group — selected
    // exactly, same rules), id%4==1 hosts publish a STANDALONE
    // graftbot group whose rules apply ALONE (the * group drops) —
    // parsed to the (host, pattern, allow) rules x108/x119 consume.
    // The oracle derives the expected rule set independently from the
    // injection lattice
    "x117_robots_parse" -> ((s, d) => {
      val id = col("doc_id")
      val txt = concat(
        lit("# crawl policy\r\nUser-agent: evilbot\nDisallow: /\n\n"),
        when(id % 4 === 1,
          lit("User-agent: graftbot\nDisallow: /gbot-only\n\n"))
          .otherwise(lit("")),
        when(id % 4 === 0, lit("User-agent: graftbot\n"))
          .otherwise(lit("")),
        lit("User-agent: *\nDISALLOW: /private/"), (id % 7).cast("string"),
        lit("\n"),
        lit("Allow: /private/"), (id % 7).cast("string"), lit("/pub\n"),
        when(id % 3 === 0, lit("Disallow: /tmp\n")).otherwise(lit("")),
        when(id % 5 === 0, lit("Disallow: /*.zip$\n")).otherwise(lit("")),
        lit("Crawl-delay: 5\n"),
        lit("Disallow:\nAllow:\n"))
      graft.ext.Web.robotsRules(
        Tables.documents(s, d)
          .select(concat(lit("h"), id.cast("string"),
            lit(".example.com")).as("host"), txt.as("txt")),
        "host", "txt", agent = "graftbot")
    }),

    // parse → resolve composition: robots.txt texts with Allow
    // overrides, a wildcard+anchored Disallow, an equal-length
    // Allow/Disallow tie, and a host with NO matching group, resolved
    // over real doc paths by RFC 9309 longest-match — the full
    // crawl-compliance verdict a fetch frontier consults.  Every leg
    // of the lattice exercises one precedence branch; the oracle
    // recomputes the verdicts closed-form
    "x119_robots_verdict" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("http://site"), (id % 3).cast("string"),
          lit(".example.com"),
          when(id % 5 === 0, lit("/a/x"))
            .when(id % 5 === 1, lit("/a/pub/x"))
            .when(id % 5 === 2, lit("/b/file.zip"))
            .when(id % 5 === 3, lit("/tt/z"))
            .otherwise(lit("/ok"))).as("url"))
      val policy =
        "User-agent: *\nDisallow: /a\nAllow: /a/pub\n" +
          "Disallow: /*.zip$\nDisallow: /tt\nAllow: /tt\n"
      val robots = Tables.documents(s, d)
        .select((id % 3).as("h")).distinct()
        .select(concat(lit("site"), col("h").cast("string"),
          lit(".example.com")).as("host"),
          // site2 publishes a policy with no matching group — every
          // path on it must verdict allowed
          when(col("h") === 2,
            lit("User-agent: evilbot\nDisallow: /\n"))
            .otherwise(lit(policy)).as("txt"))
      graft.ext.Web.robotsReport(docs, "doc_id", "url",
        graft.ext.Web.robotsRules(robots, "host", "txt"))
    }),

    // Crawl-delay parsing under robots group semantics: per-host
    // policy texts with a non-matching bot group's delay (ignored), a
    // matched fractional delay, a lattice-conditional second delay
    // (max wins — the conservative read), a lattice-conditional
    // unparseable value (dropped, still visible via robotsIgnored),
    // and (round-17) a §2.2.1-exclusive leg: id%7==0 hosts publish a
    // standalone graftbot group whose delay applies ALONE — the *
    // group's larger delays drop for the named agent
    "x120_crawl_delay" -> ((s, d) => {
      val id = col("doc_id")
      val txt = concat(
        lit("User-agent: evilbot\nCrawl-delay: 99\n\n"),
        when(id % 7 === 0,
          lit("User-agent: graftbot\nCrawl-delay: 2.25\n\n"))
          .otherwise(lit("")),
        lit("User-agent: *\nCrawl-delay: "),
        (id % 4).cast("string"), lit(".5\n"),
        when(id % 3 === 0, lit("Crawl-delay: 10\n")).otherwise(lit("")),
        when(id % 5 === 0, lit("Crawl-delay: soon\n")).otherwise(lit("")))
      graft.ext.Web.robotsCrawlDelay(
        Tables.documents(s, d)
          .select(concat(lit("h"), id.cast("string"),
            lit(".example.com")).as("host"), txt.as("txt")),
        "host", "txt", agent = "graftbot")
    }),

    // per-host politeness schedule — the step after the frontier gate:
    // 5 hosts × ~N/5 candidates each, capped at 7 per host through the
    // TopKPerKey heap operator, dense slots by ascending id, delays
    // from parsed Crawl-delay (one host has none → default, one has an
    // unparseable value → default), eta = slot × delay
    "x121_politeness" -> ((s, d) => {
      val id = col("doc_id")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("http://site"), (id % 5).cast("string"),
          lit(".example.com/p/"), id.cast("string")).as("url"))
      val robots = Tables.documents(s, d)
        .select((id % 5).as("h")).distinct()
        .select(concat(lit("site"), col("h").cast("string"),
          lit(".example.com")).as("host"),
          when(col("h") < 3, concat(lit("User-agent: *\nCrawl-delay: "),
            (col("h") * 2).cast("string"), lit("\n")))
            .when(col("h") === 3, lit("User-agent: *\nDisallow: /x\n"))
            .otherwise(lit("User-agent: *\nCrawl-delay: soon\n"))
            .as("txt"))
      graft.ext.Web.politenessSchedule(docs,
        graft.ext.Web.robotsCrawlDelay(robots, "host", "txt"),
        "doc_id", "url", maxPerHost = 7, defaultDelaySec = 1.5)
    }),

    // semantic eval-set decontamination: train docs whose EMBEDDING
    // sits within cosine >= tau of any benchmark embedding — the
    // paraphrase-leak complement of the 5-gram family (x19/x24); the
    // train side indexes once (IVF), the small bench side probes it,
    // one skinny agg ranks each contaminated train doc by its best
    // bench match
    "x124_semantic_decontam" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.semanticContamination(
        e.filter(pmod(col("vec_id"), lit(97)) =!= 0),
        e.filter(pmod(col("vec_id"), lit(97)) === 0),
        // tau 0.3: the synthetic embeddings' probed-score ceiling is
        // 0.364 at sf0.001 / 0.467 at sf0.01 (measured) — 0.4 would
        // return zero rows on the smoke corpus
        tau = 0.3, dim = 64, nlist = 16, nprobe = 4, k = 10)
    }),

    // sitemap discovery from robots.txt: Sitemap: directives are
    // GLOBAL per the sitemaps protocol (group structure deliberately
    // ignored — unlike rules/crawl-delay), case-insensitive key,
    // duplicates collapse, empty values drop
    "x122_sitemap_discovery" -> ((s, d) => {
      val id = col("doc_id")
      val base = concat(lit("http://h"), id.cast("string"),
        lit(".example.com"))
      val txt = concat(
        lit("User-agent: *\nDisallow: /x\nSitemap: "), base,
        lit("/sitemap.xml\n"),
        when(id % 3 === 0,
          concat(lit("SITEMAP: "), base, lit("/sitemap-news.xml\n")))
          .otherwise(lit("")),
        when(id % 4 === 0,
          concat(lit("Sitemap: "), base, lit("/sitemap.xml\n")))
          .otherwise(lit("")),
        lit("Sitemap:\n"))
      graft.ext.Web.robotsSitemaps(
        Tables.documents(s, d)
          .select(concat(lit("h"), id.cast("string"),
            lit(".example.com")).as("host"), txt.as("txt")),
        "host", "txt")
    }),

    // sitemap XML parsing, both protocol document kinds: urlset files
    // (1-4 <url> entries, optional <lastmod>, XML-escaped & in some
    // locs, whitespace inside <loc>) and sitemapindex files (2 child
    // sitemaps each), plus (round-17) an id%11==3 leg that fetches an
    // HTML error page instead — surfaced as ONE kind='unknown' row
    // (NULL loc/lastmod), never silently dropped — the oracle
    // regenerates every expected row closed-form from the lattice, it
    // never re-parses the XML
    "x123_sitemap_entries" -> ((s, d) => {
      val id = col("doc_id")
      val h = (id % 5).cast("string")
      def pageLoc(k: Int) = concat(lit("http://site"), h,
        lit(".example.com/p/"), id.cast("string"), lit(s"/$k"),
        when(id % 7 === 0, lit("?a=1&amp;b=2")).otherwise(lit("")))
      def urlBlock(k: Int) = when(id % 3 >= k,
        concat(lit("<url><loc> "), pageLoc(k), lit(" </loc>"),
          when((id + k) % 2 === 0,
            lit(s"<lastmod>2026-01-0${k + 1}</lastmod>"))
            .otherwise(lit("")),
          lit("</url>\n"))).otherwise(lit(""))
      def smBlock(k: Int) = concat(
        lit("<sitemap><loc>http://site"), h, lit(".example.com/sitemap"),
        id.cast("string"),
        lit(s"-$k.xml</loc><lastmod>2026-02-01</lastmod></sitemap>\n"))
      val xml = when(id % 11 === 3,
        lit("<html><body>404 not found</body></html>"))
        .when(id % 2 === 0, concat(
          lit("<?xml version=\"1.0\"?>\n<urlset " +
            "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          urlBlock(0), urlBlock(1), urlBlock(2), urlBlock(3),
          lit("</urlset>")))
        .otherwise(concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n"),
          smBlock(0), smBlock(1), lit("</sitemapindex>")))
      graft.ext.Web.sitemapEntries(
        Tables.documents(s, d).select(
          concat(lit("http://site"), h, lit(".example.com/sitemap"),
            id.cast("string"), lit(".xml")).as("sitemap_url"),
          xml.as("xml")),
        "sitemap_url", "xml")
    }),

    // decode-budget router — what the triage probes EXIST for: a
    // mixed-media corpus (MP3 / FLAC / MP4 by id lattice) probes
    // structurally, each payload routes decode/defer/skip on its
    // sample count, and the per-(codec, verdict) rollup is the decode
    // budget a pipeline commits to BEFORE spending a decode cycle
    "x118_decode_budget" -> ((s, d) => {
      import s.implicits._
      val parts = s.sessionState.conf.numShufflePartitions
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(parts)
        .mapPartitions(_.map { id =>
          val payload = (id % 3) match {
            case 0 =>
              graft.ext.Mp3FrameCodec.syntheticStream(
                (10 + id % 5).toInt, (id % 2).toInt, (3 + id % 4).toInt,
                id3 = false)
            case 1 =>
              val n = (1024 + 512 * (id % 4)).toInt
              graft.ext.FlacCodec.syntheticStream(44100,
                Array(Array.tabulate(n)(t => (t * 3 % 1601) - 800)),
                blockSize = 1024)
            case _ =>
              val sr = Seq(8000, 16000, 32000)(((id % 9) / 3).toInt)
              graft.ext.Mp4Codec.syntheticMp4(sr,
                sr.toLong * (1 + id % 4) / 4, 3 + id % 5,
                if (id % 2 == 0) Some(10 + id % 7) else None,
                (200 + id % 100).toInt)
          }
          (id, "media", payload, 0, 0, 0)
        }).toDF("media_id", "modality", "payload", "width", "height",
          "sample_rate")
      graft.ext.Multimodal.probeMedia(s, media)
        .withColumn("verdict",
          when(col("n_samples") <= 4000, lit("decode"))
            .when(col("n_samples") <= 8000, lit("defer"))
            .otherwise(lit("skip")))
        .groupBy(col("codec"), col("verdict"))
        .agg(count(lit(1)).as("n_payloads"),
          sum(col("n_samples")).as("total_samples"))
    }),

    // hard-negative mining (contrastive-training data op): for each
    // anchor, the 10 most-similar corpus vectors of a DIFFERENT label
    "x111_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        k = 10)
    }),

    // streaming URL-dedup gate (the st4 ingest discipline at the URL
    // grain): incoming docs probe their canonical URL against the
    // pinned seen-set; unseen -> fetch, seen -> skip.  Batch replay
    // declared here; micro-batch==batch + extend/persist lifecycle
    // proven in WebSpec
    "st15_url_novelty_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("url", synthUrl)
      graft.ext.Web.urlNoveltyGate(
        graft.ext.Web.urlIndex(
          docs.filter(col("doc_id") % 7 =!= 0), "url"),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "url")
    }),

    // exact dedup: content-fingerprint groups, first-wins keeper
    "x1_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")),

    // MinHash signatures (k=4 shown; engine supports any k)
    "x2_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text",
          n = 3, k = 4)
        .select(col("doc_id"), col("sig")(0).as("s0"), col("sig")(1).as("s1"),
          col("sig")(2).as("s2"), col("sig")(3).as("s3"))),

    // MinHash + LSH banding + exact-Jaccard verification (approximate
    // recall → rows-only; ground-truthed vs x4 in DedupSpec).  n=1 so
    // the hashed feature set (tokens) matches the verified one.
    // estCull deliberately OFF: measured at sf0.1 the size-ratio
    // prefilter already leaves ~98% candidate precision (2.95M of ~3M
    // candidates verify above τ), so the O(k) cull removes ~1.7% of
    // verify volume while paying two candidate-sized joins — net +0.2 s
    // and a 0.1% recall cost (PERF.md round 8).  On low-precision real
    // corpora pass estCull=Some(τ−ε); the oracle pattern for mirroring
    // the deterministic lane-match filter is pinned in DedupSpec.
    "x3_minhash_lsh_pairs" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        n = 1, k = 8, bandRows = 2, threshold = 0.8)),

    // exact n-gram-Jaccard near-dup join, blocked by language
    "x4_jaccard_pairs" -> ((s, d) =>
      Dedup.blockedJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        "lang", threshold = 0.8)),

    // 16-bit SimHash fingerprints (explode + codegen-sum plan)
    "x5_simhash" -> ((s, d) =>
      Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text")),

    // SimHash-bucket near-dup clusters: docs sharing a fingerprint,
    // deterministic keeper (the fingerprint-level exact-bucket variant
    // of LSH dedup; hamming-radius expansion tested in DedupSpec)
    "x5b_simhash_buckets" -> ((s, d) => {
      val fp = Dedup.simhashFingerprints(Tables.documents(s, d),
        "doc_id", "text")
      fp.groupBy(col("simhash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
    }),

    // brute-force cosine top-k (query set = vec_id < 8)
    "x6_ann_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8), k = 10)
    }),

    // LSH-bucketed ANN (approximate → rows-only; recall vs x6 in tests)
    "x7_ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        k = 10, dim = 64, planes = 4)
    }),

    // IVF ANN: coarse-quantizer cells + nprobe probing (the inverted-
    // file counterpart to x7's LSH; deterministic centroids → oracle
    // replays cell assignment exactly)
    "x17_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        k = 10, dim = 64, nlist = 16, nprobe = 4)
    }),

    // streaming embedding ingest gate (the st4/st9 shape for vectors):
    // incoming = ×2-scaled copies of every 9th corpus vector (cosine
    // is scale-invariant and ×2 is exact in both float and double, so
    // the oracle replays the perturbation bit-for-bit); each probes
    // its nprobe IVF cells against the pinned index and reports its
    // best match at or above the threshold
    "st10_embedding_ingest_gate" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // a production ingest gate sees FIXED-size micro-batches no
      // matter how big the corpus grows — the deterministic first-200
      // keeps the declared query shaped like the real workload (the
      // round-13 rehearsal caught the old form growing 80x at 10x
      // data: incoming scaled WITH the corpus against fixed-16 cells)
      val incoming = e
        .filter(pmod(col("vec_id"), lit(9)) === 2)
        .orderBy(col("vec_id").asc).limit(200)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(2.0f)))
        .withColumn("vec_id", col("vec_id") + lit(40000000L))
      // the index is the gate's build-once artifact (saveIvfIndex in
      // production) — pin it so the query times gating, not the build.
      // nlist ~ sqrt(n): probe cost per query stays ~ nprobe * sqrt(n)
      // instead of n/16 (the standard IVF sizing; cell size and cell
      // count grow together)
      val ix = ivfIndexCache.getOrElseUpdate((s, d), {
        val nlist = math.max(16L,
          math.ceil(math.sqrt(e.count().toDouble)).toLong).toInt
        Similarity.ivfIndex(e, dim = 64, nlist = nlist)
      })
      Similarity.ivfGate(ix, incoming, threshold = 0.9, nprobe = 4)
    }),

    // embedding-cosine near-duplicate pairs, LSH-bucket-blocked (no
    // driver collect / broadcast; deterministic buckets → oracle
    // replays them; recall vs exact measured in SimilaritySpec)
    "x8_cosine_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairsBucketed(Tables.embeddings(s, d),
        threshold = 0.4, dim = 64, planes = 4)),

    // int8 scalar-quantization audit: per-dim min-max spans (one skinny
    // pass, broadcast row), per-vector reconstruction error map-side
    "x85_quantization_audit" -> ((s, d) =>
      Similarity.quantizationStats(Tables.embeddings(s, d))),

    // embedding snapshot drift: per-label centroid cosine between the
    // old (even vec_id) and new (odd) halves — the re-embedding /
    // upstream-model-change monitoring number
    "x92_embedding_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    }),

    // language-ID heuristic (explode + codegen conditional sums)
    "x9_langid" -> ((s, d) =>
      TextAnalysis.langIdByDoc(Tables.documents(s, d), "doc_id", "text")),

    // language-ID confidence: win margin + mixed-language flag (the
    // code-switching signal the hard x9 label cannot carry)
    "x87_langid_margin" -> ((s, d) =>
      TextAnalysis.langIdMargin(Tables.documents(s, d), "doc_id", "text")),

    // quality scoring (explode + codegen conditional sums)
    "x10_quality" -> ((s, d) =>
      TextAnalysis.qualityByDoc(Tables.documents(s, d), "doc_id", "text",
        minTokens = 10, maxTokens = 100000, minStopRatio = 0.01)),

    // token counting: whitespace + BPE-ish regex
    "x11_token_counts" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.nTokens(TextAnalysis.tokens(col("text"))).as("ws_tokens"),
        TextAnalysis.bpeishCount(col("text")).as("bpeish_tokens"))),

    // exact token counts under a frozen subword vocab (the x11 regex
    // proxy's real-denominator companion): greedy longest-match
    // VocabEncode kernel, UNK = chars outside the toy vocab
    "x76_vocab_tokens" -> ((s, d) =>
      graft.ext.TextAnalysis.vocabTokenStats(Tables.documents(s, d),
        "doc_id", "text", graft.ext.TextAnalysis.toyVocab)),

    // BPE merge TRAINING (the learning half x76 applies): 8 rounds of
    // highest-frequency pair merge over the word-count-collapsed
    // corpus, deterministic tie-break — corpus is scanned exactly once
    "x81_bpe_train" -> ((s, d) =>
      graft.ext.Bpe.bpeTrain(Tables.documents(s, d), "text", merges = 8)),

    // learned-BPE token meter: apply x81's merges (distinct-word encode
    // via the codegen'd replace chain, broadcast word→count dim)
    "x82_bpe_encode" -> ((s, d) =>
      graft.ext.Bpe.bpeEncodeCounts(Tables.documents(s, d),
        "doc_id", "text", merges = 8)),

    // DSIR importance weights: every doc scored by how target-like
    // (target = the en slice) its hashed-unigram profile is — the
    // importance-resampling data-selection signal
    "x83_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.QualityModel.dsirWeights(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text")
    }),

    // streaming domain-selection gate: DSIR model trained ONCE and
    // pinned, incoming micro-batches scored against the broadcast
    // model (three simulated batches — StreamingSpec drives the same
    // gate under real foreachBatch); keep = target-like (weight above
    // the tuning threshold)
    "st11_dsir_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.ext.QualityModel
        .dsirModel(docs, docs.filter(col("lang") === "en"), "text")
        .localCheckpoint()
      (0 until 3).map { b =>
        graft.ext.QualityModel.dsirScoreWith(model,
            docs.filter(pmod(col("doc_id"), lit(3)) === b),
            "doc_id", "text")
          .withColumn("batch_id", lit(b))
      }.reduce(_ unionByName _)
        .filter(col("weight") > -2.0)
        .select(col("batch_id"), col("doc_id"), col("weight"))
    }),

    // TRAINED quality classifier weights: hard-sigmoid logistic GD on
    // hashed bag-of-words vs the lang='en' label — every arithmetic
    // step dyadic-exact, so the learned model itself hash-matches the
    // oracle's unrolled replay (the x81 discipline for real-valued
    // learning)
    "x95_quality_train" -> ((s, d) => sharedTrainedQm(s, d)),

    // the trained model APPLIED through the unchanged scoreWith path —
    // the train→apply bridge (mergeVocab idiom): mean trained-bucket
    // weight per doc + keep decision
    "x96_trained_quality" -> ((s, d) =>
      graft.ext.QualityModel.scoreWith(Tables.documents(s, d),
        "doc_id", "text", sharedTrainedQm(s, d), dim = 64)),

    // streaming quality gate over the TRAINED classifier (the st11
    // pattern for the learned model): train once → pin → score each
    // micro-batch through scoreWith → keep docs above the CORPUS MEAN
    // score under the model (class imbalance centers raw mean-weight
    // scores off zero on the shared-vocabulary corpus, so an absolute
    // 0 cut gates everything; the token-weighted mean is the centered
    // threshold, exact in both engines — corpusMeanScore scaladoc)
    "st13_trained_qm_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = sharedTrainedQm(s, d)
      val tau = graft.ext.QualityModel.corpusMeanScore(
        docs, "text", model, dim = 64)
      (0 until 3).map { b =>
        graft.ext.QualityModel.scoreWith(
            docs.filter(pmod(col("doc_id"), lit(3)) === b),
            "doc_id", "text", model, dim = 64, threshold = tau)
          .withColumn("batch_id", lit(b))
      }.reduce(_ unionByName _)
        .filter(col("keep"))
        .select(col("batch_id"), col("doc_id"), col("score"))
    }),

    // HELD-OUT classification report: the evaluate closer of the
    // train→persist→apply lifecycle done honestly — the model trains
    // on the md5 'train' split (x15's content-addressed split), the
    // centered threshold comes from the train corpus, and the
    // confusion matrix is measured on the held-out 20%
    "x97_model_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val split = graft.ext.CorpusStats.splitColumn(col("doc_id"))
      val (model, tau) = holdoutQmCache.getOrElseUpdate((s, d), {
        val train = docs.filter(split === "train")
        val m = graft.ext.QualityModel.trainQualityModel(train,
          "doc_id", "text", col("lang") === "en").localCheckpoint()
        (m, graft.ext.QualityModel.corpusMeanScore(train, "text", m, 64))
      })
      graft.ext.QualityModel.evaluateModel(docs.filter(split =!= "train"),
        "doc_id", "text", col("lang") === "en", model, dim = 64,
        threshold = tau)
    }),

    // document fingerprint (normalized md5)
    "x12_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // corpus length-distribution stats (exact interpolated quantiles)
    "x14_length_stats" -> ((s, d) =>
      graft.ext.CorpusStats.lengthStats(Tables.documents(s, d),
        "lang", "n_chars")),

    // deterministic content-addressed train/val/test split
    "x15_split_counts" -> ((s, d) =>
      graft.ext.CorpusStats.splitCounts(Tables.documents(s, d),
        "doc_id", "lang")),

    // heavy-hitter bigrams (top-20, deterministic ranking)
    "x16_top_bigrams" -> ((s, d) =>
      graft.ext.CorpusStats.topBigrams(Tables.documents(s, d),
        "text", k = 20)),

    // greedy sequence packing into fixed-token-budget context packs
    "x18_pack_assignments" -> ((s, d) =>
      graft.ext.CorpusStats.packAssignments(Tables.documents(s, d),
        "doc_id", "lang", "text", budget = 2048, shards = 8)),

    // the pack writer's manifest: x18 + within-pack token offsets
    // (attention-boundary positions) and pack fill (padding waste)
    "x86_pack_offsets" -> ((s, d) =>
      graft.ext.CorpusStats.packOffsets(Tables.documents(s, d),
        "doc_id", "lang", "text", budget = 2048, shards = 8)),

    // benchmark decontamination: train docs sharing a 5-gram with the
    // (deterministic) benchmark subset
    "x19_contaminated" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminatedDocs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    }),

    // near-dup clusters: connected components over the exact blocked-
    // Jaccard pairs (x4's edge set) — the transitive-closure step that
    // turns pairwise evidence into one keeper per cluster
    "x20_dup_clusters" -> ((s, d) => sharedClusters(s, d)),

    // corpus-scale cluster path: same hash-min label propagation over
    // the LSH-RETRIEVED pair set instead of the exact ground truth —
    // x20's exact pair stage is quadratic within blocks by contract
    // (it IS the oracle ground truth); this is what a 100 TB dedup
    // actually runs, and the sf1 rehearsal measures it linear
    "x20b_dup_clusters_lsh" -> ((s, d) =>
      Dedup.duplicateClusters(Tables.documents(s, d), "doc_id",
        sharedLshPairs(s, d))),

    // incremental cluster merge: labels computed on the OLD 4/5 of the
    // corpus, then one batch (doc_id % 5 = 0) folded in via
    // mergeClusters over only the delta pairs — the oracle is the
    // FULL recompute over all pairs (x20b's SQL verbatim), so the
    // hash-match IS the merge ≡ recompute identity
    "x77_cluster_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val all = sharedLshPairs(s, d)
      val delta = all.filter(
        pmod(col("a"), lit(5)) === 0 || pmod(col("b"), lit(5)) === 0)
      // the saved labels are a PERSISTED input in the operator's real
      // shape — pin them so the query times the merge, not the rebuild
      val saved = savedClusterCache.getOrElseUpdate((s, d), {
        val oldPairs = all.filter(
          pmod(col("a"), lit(5)) =!= 0 && pmod(col("b"), lit(5)) =!= 0)
        Dedup.duplicateClusters(docs.filter(!isNew), "doc_id", oldPairs)
          .localCheckpoint()
      })
      Dedup.mergeClusters(saved, docs.filter(isNew), "doc_id", delta)
    }),

    // Gopher-style repetition signals: top-token / top-bigram fractions
    // and vocabulary diversity per document
    "x21_repetition" -> ((s, d) =>
      TextAnalysis.repetitionByDoc(Tables.documents(s, d),
        "doc_id", "text")),

    // SemDeDup-style semantic prune: IVF-cell-scoped keep/drop
    // decisions over embeddings (keep-lowest-id rule, deterministic)
    "x22_semantic_prune" -> ((s, d) =>
      Similarity.semanticPrune(Tables.embeddings(s, d),
        tau = 0.4, dim = 64, nlist = 16)),

    // per-source volume + token share (data-mixture weighting input)
    "x23_source_mix" -> ((s, d) =>
      graft.ext.CorpusStats.sourceMix(Tables.documents(s, d),
        "source", "text")),

    // contamination severity: shared-distinct-5-gram fraction per
    // contaminated training doc (x19's boolean, ranked)
    "x24_contamination_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    }),

    // §2.9 ingest-time near-dup gate (stream-static LSH; run per
    // micro-batch under foreachBatch — batch-equivalent declared here,
    // streaming execution proven in StreamingSpec)
    "st4_ingest_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.lshMatchAgainst(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 1, k = 8, bandRows = 2, threshold = 0.8)
    }),

    // multimodal metadata plumbing over opaque binary payloads
    "x13_multimodal_meta" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text")).as("content_md5"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"),
        substring(col("text"), 1, 4).as("header_tag"))),

    // canonical-doc selection per near-dup cluster: keep the longest
    // member (doc_id tiebreak), mark the rest droppable — the decision
    // step after x20's transitive closure
    "x25_cluster_keepers" -> ((s, d) =>
      Dedup.clusterKeepersFrom(Tables.documents(s, d), "doc_id",
        sharedClusters(s, d), "n_chars")),

    // deterministic stratified downsampling: balance every language
    // stratum to the smallest one, content-addressed keep decision
    "x26_stratified_sample" -> ((s, d) =>
      graft.ext.CorpusStats.stratifiedSample(Tables.documents(s, d),
          "doc_id", "lang")
        .select(col("doc_id"), col("lang"))),

    // end-to-end curation pipeline COMPOSED from the library's own
    // operators: quality gate → exact-dedup keepers → stratified
    // balance → deterministic split → per-(lang, split) budget summary.
    // One declaration, one optimized plan — Catalyst fuses the narrow
    // stages; nothing materializes between steps.
    "x28_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = TextAnalysis.tokens(col("text"))
      val q = docs.filter(TextAnalysis.qualityOk(toks, minTokens = 10,
        maxTokens = 100000, minStopRatio = 0.01))
      val keepers = Dedup.exactGroups(q, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val kept = q.join(keepers, "doc_id")
      val bal = graft.ext.CorpusStats.stratifiedSample(kept, "doc_id", "lang")
      bal.withColumn("split",
          graft.ext.CorpusStats.splitColumn(col("doc_id")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.nTokens(toks)).as("n_tokens"))
    }),

    // corpus-global rare-token (hapax) ratio per document — the
    // vocabulary-wide quality axis per-doc signals can't see
    "x29_rare_tokens" -> ((s, d) =>
      graft.ext.CorpusStats.rareTokenRatio(Tables.documents(s, d),
        "doc_id", "text")),

    // cluster-level union sketches via the MinHashUnionAgg custom
    // aggregate: elementwise-min of member signatures == signature of
    // the cluster's union shingle set
    "x27_cluster_sigs" -> ((s, d) =>
      Dedup.clusterSignaturesFrom(Tables.documents(s, d), "doc_id",
          "text", sharedClusters(s, d), n = 1, k = 8)
        .select(col("cluster_id") +: col("n_docs") +:
          (0 until 8).map(i => col("usig")(i).as(s"u$i")): _*)),

    // privacy pass: C4-style regex PII scrub.  The synthetic corpus
    // carries no PII, so the query injects emails/IPs/SSNs/phones
    // deterministically (same expression on the oracle side) — the
    // detection AND redaction paths are genuinely exercised.
    "x30_pii_redact" -> ((s, d) => {
      val injected = Tables.documents(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com from 10.0."),
              pmod(col("doc_id"), lit(256)).cast("string"), lit(".1")))
          .when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-123-4567 ssn 123-45-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      graft.ext.Pii.piiByDoc(injected, "doc_id", "text")
    }),

    // model-based quality scoring: md5-hashed token features averaged
    // against a broadcast (bucket, weight) linear model
    "x31_quality_model" -> ((s, d) =>
      graft.ext.QualityModel.scoreDocs(Tables.documents(s, d),
        "doc_id", "text")),

    // which sources duplicate each other: near-dup pairs (shared edge
    // set) mapped to unordered source pairs
    "x32_cross_source_dups" -> ((s, d) =>
      Dedup.crossSourceDupMatrix(Tables.documents(s, d), "doc_id",
        "source", sharedPairs(s, d))),

    // corpus-global Zipf histogram: token types and corpus mass per
    // frequency magnitude (decimal-digit buckets — engine-exact)
    "x33_token_zipf" -> ((s, d) =>
      graft.ext.CorpusStats.tokenFrequencyHistogram(
        Tables.documents(s, d), "text")),

    // bigram-LM quality scoring: per-doc mean log P(w2|w1) under the
    // corpus-trained bigram model (KenLM/CCNet-family filter)
    "x34_lm_score" -> ((s, d) =>
      graft.ext.QualityModel.lmScoreDocs(Tables.documents(s, d),
        "doc_id", "text")),

    // decontamination via Bloom prefilter + exact verify join: same
    // rows as x19, corpus side culled inside whole-stage codegen
    "x35_contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminatedDocsBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    }),

    // HTML/boilerplate scrub: markup injected deterministically (the
    // synthetic corpus has none), stripped by the C4-style chain
    "x36_html_clean" -> ((s, d) => {
      val injected = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(
            lit("<div class=\"w\"><script type=\"text/js\">var a = 1 < 2;" +
              "</script><!-- c --><p>"),
            col("text"), lit(" &amp; tail&nbsp;bits</p></div>")))
        .otherwise(col("text")))
      graft.ext.TextClean.cleanByDoc(injected, "doc_id", "text")
    }),

    // per-doc duplicated-n-gram fraction (RefinedWeb-style repeated-
    // substring signal: no pairwise comparison, one vocab-keyed agg)
    // duplicated-span localization: maximal cross-doc duplicated
    // 3-gram runs with inclusive token offsets — the excision
    // companion to x37 (drop the span, keep the document)
    "x75_dup_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d),
        "doc_id", "text", n = 3)),

    // span EXCISION: apply x75's localization — cut every non-owner
    // occurrence of a cross-doc duplicated run out of the text, keeping
    // each shared phrase in exactly one doc (min doc_id owner)
    "x78_span_excision" -> ((s, d) =>
      Dedup.exciseDuplicatedSpans(Tables.documents(s, d),
        "doc_id", "text", n = 3)),

    // intra-doc repeat excision: keep each 3-gram's first occurrence
    // within a doc, cut the later ones (the self-repetition lens x75's
    // cross-doc df rule deliberately ignores)
    "x80_self_repeat_excision" -> ((s, d) =>
      Dedup.exciseSelfRepeats(Tables.documents(s, d),
        "doc_id", "text", n = 3)),

    // winnowing fingerprint selection (MOSS): per-window rightmost-min
    // 4-gram hashes — the ~2/(w+1)-density index for substring dedup
    "x89_winnowing" -> ((s, d) =>
      Dedup.winnowingFingerprints(Tables.documents(s, d),
        "doc_id", "text", k = 4, w = 4)),

    // winnowed candidate pairs: docs joined on SELECTED fingerprints
    // only, df-capped inverted index, ranked by shared selections
    "x90_winnow_pairs" -> ((s, d) =>
      Dedup.winnowedDupCandidates(Tables.documents(s, d),
        "doc_id", "text", k = 4, w = 4, minShared = 2, dfCap = 100)),

    // streaming exact-substring gate: winnowing index built once from
    // the existing corpus (df-capped at build), incoming batch probed
    // on selected fingerprints — minShared=1 catches every >= k+w-1
    // token copy by the winnowing guarantee
    "st12_winnow_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.winnowMatchAgainst(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", k = 4, w = 4, minShared = 1, dfCap = 100)
    }),

    // bench-side exposure report: per benchmark item, how many train
    // docs leak its 5-grams and the worst single-doc overlap fraction
    "x91_bench_exposure" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.benchExposure(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    }),

    // span-level decontamination: cut benchmark 5-grams out of train
    // docs instead of dropping the whole doc (x19's surgical form)
    "x88_decontam_excision" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.exciseContaminated(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    }),

    "x37_dup_ngram_frac" -> ((s, d) =>
      Dedup.duplicatedNgramFraction(Tables.documents(s, d),
        "doc_id", "text", n = 3)),

    // per-source token-distribution JS divergence vs the corpus (the
    // drift measure behind source-reweighting; x23 gives the volumes)
    "x38_source_divergence" -> ((s, d) =>
      graft.ext.CorpusStats.sourceDivergence(Tables.documents(s, d),
        "source", "text")),

    // curriculum ordering: distributed total-order rank (range
    // repartition + local index + broadcast offsets — NOT the
    // single-task unpartitioned window Spark would plan for this)
    "x39_curriculum_rank" -> ((s, d) =>
      graft.ext.CorpusStats.globalRank(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc))),

    // deterministic training-shard writer assignment: LCG-hash shard +
    // stable pseudo-random within-shard position (global shuffle
    // without a corpus-wide random sort; engine-portable integer hash)
    "x79_shard_assign" -> ((s, d) =>
      graft.ext.CorpusStats.shardAssignments(
        Tables.documents(s, d), "doc_id", nShards = 8)),

    // source-interleaved serving order: within each shard, sources
    // rotate round-robin (one pick per source per round) so no source
    // forms a correlated run in the training stream
    "x84_interleaved_order" -> ((s, d) =>
      graft.ext.CorpusStats.interleavedOrder(
        Tables.documents(s, d), "doc_id", "source", nShards = 8)),

    // compress-then-rerank ANN: JL sign-random-projection candidates
    // (16-dim), exact full-dim cosine rerank of the top-30 per query
    "x40_rp_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.rpTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        k = 10, dim = 64, rDim = 16, cand = 30)
    }),

    // streaming decontamination gate: Bloom filter built ONCE from the
    // bench set, probed per micro-batch (three simulated batches here;
    // decisions are per-doc, so the union replays the streaming loop —
    // StreamingSpec drives the same gate under real foreachBatch)
    "st5_bloom_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gate = Dedup.bloomGate(
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      (0 until 3).map { b =>
        Dedup.contaminatedInBatch(gate,
            train.filter(pmod(col("doc_id"), lit(3)) === b),
            "doc_id", "text")
          .withColumn("batch_id", lit(b))
      }.reduce(_ unionByName _)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_contaminated"))
    }),

    // vocabulary coverage: per-source OOV rate against the corpus'
    // top-1000 vocab (tokenizer-sizing signal; deterministic cutoff)
    "x42_vocab_coverage" -> ((s, d) =>
      graft.ext.CorpusStats.vocabCoverage(Tables.documents(s, d),
        "source", "text", vocabSize = 1000)),

    // dataset card: the one-row-per-source mixture-decision summary
    // (volumes + drift + vocab fit + duplication exposure, assembled
    // from skinny per-source aggregates by broadcast joins)
    "x43_dataset_card" -> ((s, d) =>
      graft.ext.CorpusStats.datasetCard(Tables.documents(s, d),
        "source", "text", vocabSize = 1000)),

    // per-doc top-3 TF-IDF keywords (deterministic rounded-score cut)
    "x44_tfidf_keywords" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, d),
        "doc_id", "text", k = 3)),

    // containment near-dups (|A∩B|/min) — the subset-duplication lens
    // Jaccard misses (quote inclusion / boilerplate wrapping)
    "x45_containment_pairs" -> ((s, d) =>
      Dedup.blockedContainmentPairs(Tables.documents(s, d), "doc_id",
        "text", "lang", threshold = 0.9)),

    // corpus-scale containment: closed-form |A∩B| = J/(1+J)·(|A|+|B|)
    // over the shared LSH-retrieved pair set — the sub-linear sibling
    // of x45 (the x20b/x55b pattern applied to the last quadratic-only
    // pairwise family); x45 stays the exact asymmetric-recall lens
    "x45b_containment_lsh" -> ((s, d) =>
      Dedup.containmentFromJaccardPairs(Tables.documents(s, d), "doc_id",
        "text", sharedLshPairs(s, d), threshold = 0.9)),

    // exact heavy hitters via Count-Min prefilter (fixed-memory sketch
    // culls the stream in codegen; exact agg sees only candidates)
    "x46_heavy_hitters" -> ((s, d) =>
      graft.ext.CorpusStats.heavyHitters(Tables.documents(s, d),
        "text", minFreq = 500L)),

    // sketch-estimated Jaccard over the shared near-dup edge set (the
    // O(k) estimation that replaces O(|doc|) verification at scale)
    "x47_minhash_estimate" -> ((s, d) =>
      Dedup.minhashEstimate(Tables.documents(s, d), "doc_id", "text",
        sharedPairs(s, d), n = 1, k = 8)),

    // product-quantization ANN: 8×16 deterministic subspace codebook,
    // nibble codes, asymmetric-distance (ADC) top-k — the 64×-
    // compressed serving path (codes + LUT join; vectors never move)
    "x41_pq_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        topK = 10, dim = 64, m = 8, k = 16)
    }),

    // HyperLogLog per-source vocabulary (third sketch family:
    // membership=Bloom, frequency=CMS, cardinality=HLL) — estimate
    // side-by-side with the exact count it replaces at scale
    "x48_hll_vocab" -> ((s, d) =>
      graft.ext.CorpusStats.vocabSizeBySource(Tables.documents(s, d),
        "source", "text")),

    // PMI collocations: top bigrams by pointwise mutual information
    // with a min-count floor (multiword-expression / BPE-merge signal)
    "x49_pmi_collocations" -> ((s, d) =>
      graft.ext.CorpusStats.pmiCollocations(Tables.documents(s, d),
        "doc_id", "text", minCount = 5, topK = 20)),

    // character-distribution Shannon entropy per doc (encoding-garbage
    // and key-mash detector; the char-level quality axis)
    "x50_char_entropy" -> ((s, d) =>
      graft.ext.TextAnalysis.charEntropy(Tables.documents(s, d),
        "doc_id", "text")),

    // per-key top-k through the custom PHYSICAL operator (bounded heaps
    // after one hash exchange — no per-group full sort, nothing spills;
    // plans/TopKPerKey.scala): 3 longest docs per language
    "x51_topk_per_key" -> ((s, d) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), length(col("text")).as("len")),
        keys = Seq(col("lang")),
        order = Seq(col("len").desc, col("doc_id").asc), k = 3)),

    // backward as-of join (union+window, zero join nodes): each
    // purchase picks up the most recent click at-or-before it by the
    // same user; ties on ts resolve to the greatest click id.  The
    // DuckDB oracle replays it with a genuine ASOF LEFT JOIN, so the
    // operator's semantics are pinned against a reference
    // implementation, not just our own formula.
    "x52_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.transform.Temporal.asOfJoin(
        purchases, clicks, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ts",
        payload = Seq("click_id", "click_value"),
        tiebreak = Some("click_id"), matchedTsAs = "click_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("click_id"), col("click_value"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
    }),

    // tolerance-bounded as-of via the BANDED formulation: same lookup
    // as x52 but matches older than 1 hour come back null, and the
    // plan is a (user, time-band) equi-join + per-purchase rank — the
    // monster-key-safe shape (one key's history spreads over its
    // bands instead of serializing into one window task)
    "x71_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.transform.Temporal.asOfJoinBanded(
        purchases, clicks, keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ts",
        payload = Seq("click_id", "click_value"),
        toleranceSeconds = 3600L, tiebreak = Some("click_id"),
        matchedTsAs = "click_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("click_id"), col("click_value"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
    }),

    // bounded range join via bucket banding (equi-join the optimizer
    // can shuffle/skew-split — the inequality-join formulation would
    // plan as BNLJ): error events within one hour AFTER a purchase
    // by the same user
    "x53_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val r = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("e_ts"))
      graft.transform.Temporal.rangeJoinBanded(
        p, r, keys = Seq("user_id"),
        leftTs = "p_ts", rightTs = "e_ts", maxGapSeconds = 3600L)
        .select(col("purchase_id"), col("error_id"), col("user_id"),
          (unix_micros(col("e_ts")) - unix_micros(col("p_ts")))
            .as("gap_us"))
    }),

    // sliding context-window chunking (64-token windows, stride 32):
    // the doc → training-sequence assignment table, all map-side
    "x54_chunk_windows" -> ((s, d) =>
      graft.ext.CorpusStats.chunkAssignments(Tables.documents(s, d),
        "doc_id", "text", size = 64, stride = 32)),

    // temperature-scaled mixture weights (alpha=0.3, 10M-token budget):
    // per-source sampling shares + implied epochs
    "x56_mixture_weights" -> ((s, d) =>
      graft.ext.CorpusStats.mixtureWeights(Tables.documents(s, d),
        "source", "text", alpha = 0.3, budgetTokens = 10000000L)),

    // character-level near-dups: SimHash permute-and-mask blocking +
    // exact banded-levenshtein verify on the candidate sliver
    "x55_edit_neardup" -> ((s, d) =>
      Dedup.simhashEditPairs(Tables.documents(s, d),
        "doc_id", "text", maxDist = 40)),

    // same lens at corpus scale: 64-bit fingerprint (8×8-bit blocks),
    // 4-of-8 block-mask candidate predicate.  Blocking scheme is the
    // size-gated auto dispatch (halved-12 pigeonhole keys + exact
    // block-diff restore under the threshold, C(8,4)=70 combo keys at
    // unbounded scale) — identical output either way, so the 4-of-8
    // oracle below replays both
    "x55b_edit_neardup64" -> ((s, d) =>
      Dedup.simhashEditPairs64(Tables.documents(s, d),
        "doc_id", "text", maxDist = 40,
        scheme = "auto")),

    // perceptual (dHash) fingerprint per media payload — real 9×8
    // box-downsample dHash when the payload decodes as an image, the
    // SQL-expressible byte-grid form on the passthrough — surfaced as
    // two 32-bit halves so the 64-bit value stays oracle-comparable
    // (DuckDB BIGINT can't shift into bit 63)
    "x72_media_fingerprint" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      Multimodal.fingerprints(s, media)
        .select(col("media_id"),
          shiftrightunsigned(col("fp"), 32).as("fp_hi"),
          col("fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
    }),

    // image near-dup lens: plant three classes of single-char-edit
    // copies (ids +10M), then dHash → C(8,4) hamming-LSH → exact
    // bit_count verify finds them; recall is GUARANTEED for hamming
    // <= 4 by the block-masking construction, so the banded plan's
    // output equals the oracle's all-pairs scan exactly
    "x73_image_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val m = pmod(col("doc_id"), lit(40))
      val pert = docs.filter(m.isin(1, 2, 3))
        .withColumn("text",
          when(m === 1,
            concat(upper(substring(col("text"), 1, 1)),
              expr("substring(text, 2)")))
          .when(m === 2, expr(
            """CASE WHEN instr(text, 'e') > 0
              |THEN concat(substring(text, 1, instr(text, 'e') - 1), 'o',
              |            substring(text, instr(text, 'e') + 1))
              |ELSE text END""".stripMargin))
          .otherwise(expr(
            """CASE WHEN instr(text, ' ') > 0
              |THEN concat(substring(text, 1, instr(text, ' ') - 1), '-',
              |            substring(text, instr(text, ' ') + 1))
              |ELSE text END""".stripMargin)))
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
      val media = Multimodal.mediaFromDocuments(docs.unionByName(pert))
      // auto blocking (PERF.md A/B): halved12 below the saturation
      // threshold, combo8 above — identical output
      Multimodal.nearDupPairs(s, media, maxDist = 4, scheme = "auto")
    }),

    // §2.9 ingest-time perceptual near-dup gate (stream-static dHash
    // hamming LSH; run per micro-batch under foreachBatch against a
    // fingerprint index built once — streaming execution proven in
    // StreamingSpec, batch-equivalent declared here): planted
    // single-edit uploads (ids +30M) come back with their best
    // existing match
    "st9_media_ingest_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(35)) === 1)
        .withColumn("text",
          concat(upper(substring(col("text"), 1, 1)),
            expr("substring(text, 2)")))
        .withColumn("doc_id", col("doc_id") + lit(30000000L))
      Multimodal.matchAgainst(s,
        Multimodal.mediaFromDocuments(docs),
        Multimodal.mediaFromDocuments(incoming), maxDist = 4)
    }),

    // frame-set near-dup (the video/audio lens): plant truncated
    // copies (ids +20M, first 4/5 of the payload) — their full frames
    // all land in the original's frame set, so trimmed media surface
    // with high Jaccard while unrelated media share nothing
    "x74_frameset_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pert = docs.filter(pmod(col("doc_id"), lit(30)) === 7)
        .withColumn("text",
          expr("substring(text, 1, CAST((4 * length(text)) DIV 5 AS INT))"))
        .withColumn("doc_id", col("doc_id") + lit(20000000L))
      val media = Multimodal.mediaFromDocuments(docs.unionByName(pert))
      Multimodal.frameSetNearDup(s, media, everyN = 64, minJaccard = 0.4)
    }),

    // curriculum decile table: total-order rank by entropy via the
    // distributed globalRank primitive (no corpus-wide window), decile
    // assignment from a broadcast single-row count, per-decile stats —
    // the schedule table a curriculum sampler consumes
    "x57_curriculum_deciles" -> ((s, d) => {
      val ent = graft.ext.TextAnalysis.charEntropy(
        Tables.documents(s, d), "doc_id", "text")
      val ranked = graft.ext.CorpusStats.globalRank(ent,
        Seq(col("entropy").desc, col("doc_id").asc))
      val n = ranked.agg(count(lit(1)).as("__n"))
      ranked.crossJoin(broadcast(n))
        .withColumn("decile",
          floor((col("rank") - 1) * 10 / col("__n")).cast("int"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("entropy")), 6).as("min_entropy"),
          round(max(col("entropy")), 6).as("max_entropy"),
          round(avg(col("entropy")), 6).as("avg_entropy"))
    }),

    // deterministic k-per-group sample: content-addressed md5 order
    // through the TopKPerKey physical operator (bounded heaps, no
    // per-group sort) — reproducible "5 random-looking docs per source"
    "x58_group_sample" -> ((s, d) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          md5(concat(lit("smp:"), col("doc_id"))).as("h")),
        keys = Seq(col("source")),
        order = Seq(col("h").asc, col("doc_id").asc), k = 5)),

    // snapshot novelty: incoming docs (the st4 split) with NO near-dup
    // in the accepted snapshot, as a per-source rate — the
    // "how much of this crawl is actually new" number that decides
    // whether a source is worth re-fetching
    "x61_snapshot_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val incoming = docs.filter(col("doc_id") % 7 === 0)
      val matches = Dedup.lshMatchAgainst(
        docs.filter(col("doc_id") % 7 =!= 0), incoming,
        "doc_id", "text", n = 1, k = 8, bandRows = 2, threshold = 0.8)
      incoming
        .join(matches.select(col("doc_id"), lit(1).as("__m")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(col("__m").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_rate",
          round(col("n_novel") / col("n_incoming"), 6))
    }),

    // per-source percentile length trim audit (C4 tail-drop rule):
    // interdecile cutoffs + survivor counts BEFORE committing a trim
    "x62_percentile_trim" -> ((s, d) =>
      graft.ext.CorpusStats.lengthTrimStats(Tables.documents(s, d),
        "source", "n_chars", pLo = 0.1, pHi = 0.9)),

    // click→purchase attribution: each purchase takes its most recent
    // prior click (as-of), attributed if within the 1h window; daily
    // conversion ledger — the funnel composition of x52
    "x65_click_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.transform.Temporal.asOfJoin(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id"), tiebreak = Some("click_id"),
          matchedTsAs = "click_ts")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
          .as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("click_ts").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("click_ts"))
              <= 3600000000L, 1L).otherwise(0L)).as("n_attributed"))
        .withColumn("rate",
          round(col("n_attributed") / col("n_purchases"), 6))
    }),

    // weekly retention: users active in week w who are also active in
    // w+1 — distinct (user, week) grid + a shifted self equi-join
    "x66_weekly_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val weeks = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("wk")).distinct()
      val next = weeks.select(col("user_id"),
        (col("wk") - expr("INTERVAL 7 DAYS")).as("wk"), lit(1).as("__r"))
      weeks.join(next, Seq("user_id", "wk"), "left")
        .groupBy(date_format(col("wk"), "yyyy-MM-dd").as("week"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("__r").isNotNull, 1L).otherwise(0L))
            .as("n_retained"))
        .withColumn("retention",
          round(col("n_retained") / col("n_active"), 6))
    }),

    // strict-ordered funnel: stage k at the earliest step-k event
    // strictly after a stage-(k-1) completion; one shuffle by user,
    // all cumulative windows share the sort (Behavior scaladoc)
    "x93_funnel_steps" -> ((s, d) =>
      graft.ext.Behavior.funnelSteps(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id",
        Seq("signup", "view", "click", "purchase"))),

    // first-order Markov transition matrix of per-user event streams:
    // lag over one (user, ts, id) sort, |types|^2-row aggregate
    "x94_event_transitions" -> ((s, d) =>
      graft.ext.Behavior.transitionMatrix(Tables.events(s, d),
        "user_id", "ts", "event_type", "event_id")),

    // sweep-line session occupancy: sessions → ±1 boundaries → ONE
    // globalCumSum (no corpus-wide window, no interval self-join) →
    // per-hour max concurrency
    "x98_session_occupancy" -> ((s, d) =>
      graft.ext.Behavior.sessionOccupancy(Tables.events(s, d),
        "user_id", "ts")),

    // the NAIVE bounded time-range join, no keys, no manual banding —
    // written the way a user would; the BandTimeRangeJoin optimizer
    // rule turns it into a banded equi-join (the plan audit proves no
    // BNLJ survives, and BandRangeJoinSpec pins identical answers)
    "x64_range_join_auto" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      val r = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("ts").as("e_ts"))
      p.join(r,
          col("e_ts") > col("p_ts") &&
            col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTE"))
        .select(col("p_id"), col("e_id"),
          (unix_micros(col("e_ts")) - unix_micros(col("p_ts")))
            .as("gap_us"))
    }),

    // embedding-table QA: per-label vector counts, zero/degenerate
    // vectors (they poison cosine math downstream), and mean L2 norm —
    // the sanity gate before any ANN/semantic-dedup stage.  Per-row
    // norms are sequential folds (deterministic); the per-label mean
    // rounds at 6 (sum-of-doubles idiom).
    "x69_embedding_quality" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      e.select(col("label"), norm.as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("nrm") === 0.0d, 1L).otherwise(0L)).as("n_zero"),
          round(avg(col("nrm")), 6).as("mean_norm"))
    }),

    // energy-envelope fingerprint (the audio aHash kernel in its
    // declarative form) over the embedding table: 9 windows → 8 delta
    // bits per vector, plus the envelope-duplicate family size.  Pure
    // higher-order array functions — zero shuffle until the (tiny)
    // family-count agg, so the fingerprint pass is map-only at 100 TB
    "x99_envelope_fp" -> ((s, d) => {
      // >= 9 dims keeps every one of the 9 windows non-empty (an empty
      // window would 0/0 under ANSI); the driver's vectors are dim-64
      val fps = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 9)
        .select(col("vec_id"),
          graft.ext.WavAudioCodec.envelopeFp(col("embedding"))
            .as("envelope_fp"))
      val fams = fps.groupBy(col("envelope_fp"))
        .agg(count(lit(1)).as("family_n"))
      fps.join(broadcast(fams), Seq("envelope_fp"))
        .select(col("vec_id"), col("envelope_fp"), col("family_n"))
    }),

    // deterministic Lloyd's k-means over the embedding corpus: k=8
    // lowest-id seeds, 2 iterations, dyadic-exact centroid sums
    // (VectorLongSumAgg) so the oracle replays every centroid
    // bit-for-bit; per-cluster size, exact micro-unit inertia,
    // majority label + purity — the SemDeDup-style curation
    // clustering report as a first-class operator
    "x100_kmeans" -> ((s, d) =>
      graft.ext.Clustering.kmeans(Tables.embeddings(s, d),
        k = 8, dim = 64, iters = 2)),

    // per-cluster prototype selection: the 10 most central members of
    // each k-means cell (TopKPerKey bounded heaps — no corpus window),
    // the keep-the-representatives half of cluster-then-thin curation
    "x101_cluster_prototypes" -> ((s, d) =>
      graft.ext.Clustering.clusterPrototypes(Tables.embeddings(s, d),
        k = 8, dim = 64, iters = 2, perCell = 10)),

    // streaming cluster-route gate (the st10 fixed-batch discipline
    // applied to the x100 codebook): a deterministic first-200
    // incoming micro-batch, x2-scaled — cosine-invariant and exact in
    // both float and double, so the oracle replays it bit-for-bit —
    // routes to its nearest pinned centroid; csim under tau flags the
    // vector as novel (out-of-distribution) before ingest.  O(batch)
    // against a broadcast k-row codebook, never O(corpus)
    "st14_cluster_route_gate" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cent = kmeansCentCache.getOrElseUpdate((s, d),
        graft.ext.Clustering.kmeansCentroids(e, k = 8, dim = 64,
          iters = 2))
      val incoming = e
        .filter(pmod(col("vec_id"), lit(9)) === 2)
        .orderBy(col("vec_id").asc).limit(200)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(2.0f)))
        .withColumn("vec_id", col("vec_id") + lit(40000000L))
      graft.ext.Clustering.kmeansAssign(incoming, cent)
        .withColumn("novel", col("csim") < 0.15)
    }),

    // mixture-diversity one-liner: HHI over source token shares +
    // effective source count — the before/after metric for balancing
    "x68_source_concentration" -> ((s, d) =>
      graft.ext.CorpusStats.sourceConcentration(Tables.documents(s, d),
        "source", "text")),

    // Efraimidis–Spirakis weighted sample: 5 docs per source with
    // inclusion ∝ n_chars, content-addressed uniforms (reproducible,
    // oracle-replayed), TopKPerKey bounded heaps
    "x63_weighted_sample" -> ((s, d) =>
      graft.ext.CorpusStats.weightedSample(Tables.documents(s, d),
        "doc_id", "source", "n_chars", k = 5)),

    // token-budget corpus selection: docs in entropy-quality order
    // until a 10k-token budget is spent — the globalCumSum metering
    // primitive (a doc is in iff the budget wasn't exhausted when it
    // starts); reported per source
    "x59_budget_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ent = graft.ext.TextAnalysis.charEntropy(docs, "doc_id", "text")
      val t = docs.select(col("doc_id"), col("source"),
          TextAnalysis.nTokens(TextAnalysis.tokens(col("text")))
            .cast("long").as("n"))
        .join(ent, "doc_id")
      graft.ext.CorpusStats.globalCumSum(t,
          Seq(col("entropy").desc, col("doc_id").asc), "n")
        .filter(col("cum") - col("n") < 10000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    }))

  // ---- oracle SQL ---------------------------------------------------------

  /** The x76 vocab as a SQL VALUES list — generated from the single
    * source of truth so kernel and oracle can never disagree. */
  private val toyVocabValues: String =
    graft.ext.TextAnalysis.toyVocab.map(t => s"('$t')").mkString(", ")

  private val toksCte =
    "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)"

  /** Mirrors [[Multimodal.byteGridDHash64]] over a `media(media_id,
    * text)` CTE: UTF-8 byte k extracted from `hex(encode(text))` (DuckDB
    * blobs aren't byte-indexable), byte i → cell `i·72/n`, row-major 8×9
    * grid, bit = cross-multiplied mean comparison of adjacent cells
    * (`s₂·c₁ > s₁·c₂` — exact integer math on both engines), packed into
    * two 32-bit halves since BIGINT can't shift into bit 63.  A LEFT
    * JOIN against all 72 cells keeps sub-72-byte payloads well-defined
    * (absent cells count 0, matching the Scala arrays' zeros). */
  private val dhashCte: String =
    """bt AS (
      |  SELECT media_id, octet_length(encode(text)) AS n,
      |         hex(encode(text)) AS h
      |  FROM media),
      |bytes AS (
      |  SELECT media_id, n, i,
      |    16 * (strpos('0123456789ABCDEF', substr(h, 2 * i + 1, 1)) - 1)
      |       + (strpos('0123456789ABCDEF', substr(h, 2 * i + 2, 1)) - 1)
      |      AS v
      |  FROM (SELECT media_id, n, h, unnest(range(n)) AS i FROM bt)),
      |cells AS (
      |  SELECT media_id, (i * 72) // n AS cell,
      |         sum(v) AS s, count(*) AS c
      |  FROM bytes GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.media_id, g.cell,
      |         coalesce(cells.s, 0) AS s, coalesce(cells.c, 0) AS c
      |  FROM (SELECT media_id, unnest(range(72)) AS cell
      |        FROM (SELECT DISTINCT media_id FROM media)) g
      |  LEFT JOIN cells
      |    ON cells.media_id = g.media_id AND cells.cell = g.cell),
      |bits AS (
      |  SELECT a.media_id, (a.cell // 9) * 8 + (a.cell % 9) AS idx,
      |         CASE WHEN b2.s * a.c > a.s * b2.c THEN 1 ELSE 0 END AS bit
      |  FROM grid a JOIN grid b2
      |    ON b2.media_id = a.media_id AND b2.cell = a.cell + 1
      |  WHERE a.cell % 9 < 8),
      |fp AS (
      |  SELECT media_id,
      |    CAST(sum(CASE WHEN idx >= 32
      |      THEN bit * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END)
      |      AS BIGINT) AS fp_hi,
      |    CAST(sum(CASE WHEN idx < 32
      |      THEN bit * (CAST(1 AS BIGINT) << idx) ELSE 0 END)
      |      AS BIGINT) AS fp_lo
      |  FROM bits GROUP BY 1)""".stripMargin

  private val shinglesCte =
    s"""$toksCte,
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |       ELSE list_transform(generate_series(1, len(toks) - 2),
       |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |  END AS sh FROM t)""".stripMargin

  /** Mirrors [[graft.plans.MinHashSig]] lane i: 8-hex chunk (i%4) of
    * md5((i/4) ':' x). */
  private def duckMinhash(i: Int): String =
    s"list_min(list_transform(sh, x -> substr(md5('${i / 4}:' || x), ${(i % 4) * 8 + 1}, 8)))"

  private val simhashBits: String = (0 until 16).map { b =>
    s"""CASE WHEN list_sum(list_transform(toks,
       |  t -> CASE WHEN substr(md5(t), ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0
       |  THEN ${1 << b} ELSE 0 END""".stripMargin
  }.mkString(" + ")

  /** Mirrors [[graft.plans.SimHashKernel.sig64]]: bit b votes +1 iff
    * bit b%4 of hex digit b/4 of md5(token) is set; block j packs bits
    * 8j..8j+7.  Emitted as a DuckDB list literal of 8 block values. */
  private val simhash64Blocks: String = {
    def vote(b: Int) =
      s"CASE WHEN ((strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END"
    def block(j: Int) = (8 * j until 8 * j + 8).map { b =>
      s"CASE WHEN list_sum(list_transform(hs, h -> ${vote(b)})) > 0 THEN ${1 << (b - 8 * j)} ELSE 0 END"
    }.mkString(" + ")
    (0 until 8).map(block).mkString("[", ",\n ", "]")
  }

  /** Mirrors [[Dedup.simhashEditPairs64]]'s 70 mask keys: combo idx,
    * then the 4 KEPT block values, ':'-joined (concat_ws parity). */
  private val simhash64Keys: String =
    (0 until 8).combinations(4).toSeq.zipWithIndex.map {
      case (masked, idx) =>
        val kept = (0 until 8).filterNot(masked.contains(_))
        s"'$idx' || ':' || " +
          kept.map(j => s"blocks[${j + 1}]").mkString(" || ':' || ")
    }.mkString("[", ",\n ", "]")

  private val duckDot =
    "list_sum(list_transform(generate_series(1, 64), i -> q[i]::DOUBLE * c[i]::DOUBLE))"
  private def duckNorm(v: String): String =
    s"sqrt(list_sum(list_transform(generate_series(1, 64), i -> $v[i]::DOUBLE * $v[i]::DOUBLE)))"

  private val langHits: String = TextAnalysis.langMarkers.map { case (l, m) =>
    val set = m.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> x IN ($set))) AS h_$l"
  }.mkString(",\n       ")

  private val langCase: String = {
    val best = TextAnalysis.langMarkers.map { case (l, _) => s"h_$l" }
      .mkString("greatest(", ", ", ")")
    TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN $best > 0 AND h_$l = $best THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
  }

  private val stopSet = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** Full MinHash-LSH oracle: the pipeline is deterministic end-to-end
    * (md5 minhashes, md5 band keys, exact verification), so the DuckDB
    * oracle replays it exactly — n=1, k=8, bandRows=2, τ=0.8 matching
    * the x3 declaration. */
  /** The x3 LSH-pair replay as a reusable CTE chain ending in
    * `vp(a, b, jaccard)` — shared by x3 and the x20b cluster oracle.
    * Must be the FIRST fragment after WITH RECURSIVE/WITH. */
  private val x3PairsCte: String = {
    val sigCols = (0 until 8).map(i => s"${duckMinhash(i)} AS s$i").mkString(",\n         ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, md5('$b' || '|' || s${2 * b} || ',' || s${2 * b + 1}) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh AS (SELECT doc_id, string_split(text, ' ') AS sh FROM documents),
       |sig AS (SELECT doc_id,
       |         $sigCols
       |        FROM sh),
       |enc AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
       |               len(list_distinct(string_split(text, ' '))) AS sz
       |        FROM documents),
       |bands AS (
       |  $bandSelects
       |),
       |bsz AS (SELECT b.doc_id, b.band_key, e.sz FROM bands b
       |        JOIN enc e ON b.doc_id = e.doc_id),
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bsz x JOIN bsz y ON x.band_key = y.band_key
       |  WHERE x.doc_id < y.doc_id
       |    AND least(x.sz, y.sz) / greatest(x.sz, y.sz) >= 0.8),
       |vp AS (SELECT a, b, jaccard FROM (
       |  SELECT a, b,
       |         len(list_filter(ea.toks, x -> list_contains(eb.toks, x)))
       |         / (ea.sz + eb.sz
       |            - len(list_filter(ea.toks, x -> list_contains(eb.toks, x))))
       |           AS jaccard
       |  FROM cands JOIN enc ea ON cands.a = ea.doc_id
       |             JOIN enc eb ON cands.b = eb.doc_id)
       |  WHERE jaccard >= 0.8)""".stripMargin
  }

  private val x3Sql: String =
    s"WITH $x3PairsCte\nSELECT a, b, jaccard FROM vp"

  /** x20b: connected components over the LSH-retrieved pair set (the
    * corpus-scale cluster path; x20 clusters the exact ground-truth
    * pairs, quadratic within blocks by contract). */
  private val x20bSql: String =
    s"""WITH RECURSIVE $x3PairsCte,
       |e2 AS (SELECT a AS s, b AS d FROM vp
       |       UNION ALL SELECT b AS s, a AS d FROM vp),
       |reach2(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e2.d, reach2.r FROM e2 JOIN reach2 ON e2.s = reach2.node),
       |c2 AS (SELECT node AS doc_id, min(r) AS cluster_id
       |       FROM reach2 GROUP BY 1)
       |SELECT doc_id, cluster_id FROM c2""".stripMargin

  /** Random-hyperplane bucket signature in DuckDB: md5-derived plane
    * signs baked in as ±1.0 literal multipliers in the same left-fold
    * order as the Spark expression (shared by the x7 and x8 oracles). */
  private def duckBucket(v: String, planes: Int = 4): String =
    (0 until planes).map { h =>
      val proj = (0 until 64).map { i =>
        s"$v[${i + 1}]::DOUBLE * ${graft.ext.Similarity.planeSign(h, i)}"
      }.mkString(" + ")
      s"CASE WHEN ($proj) >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** RP compress-then-rerank oracle (rDim=16, cand=30, k=10, seed=101
    * matching x40): reduced vectors as list_value literals in the same
    * left-fold order as [[Similarity.rpReduce]], candidate cut on the
    * ROUNDED reduced cosine with c_id tiebreak, exact rerank. */
  private val x40Sql: String = {
    def rlist(v: String): String =
      (0 until 16).map { r =>
        (0 until 64).map { i =>
          s"$v[${i + 1}]::DOUBLE * ${graft.ext.Similarity.planeSign(101 + r, i)}"
        }.mkString("(", " + ", ")")
      }.mkString("list_value(", ", ", ")")
    val rdot =
      "list_sum(list_transform(generate_series(1, 16), i -> rq[i] * rc[i]))"
    def rnorm(v: String): String =
      s"sqrt(list_sum(list_transform(generate_series(1, 16), i -> $v[i] * $v[i])))"
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings
       |           WHERE vec_id < 8),
       |cs AS (SELECT vec_id AS c_id, embedding AS c FROM embeddings
       |       WHERE vec_id >= 8),
       |qr AS (SELECT q_id, q, ${rlist("q")} AS rq FROM q),
       |cr AS (SELECT c_id, c, ${rlist("c")} AS rc FROM cs),
       |cand AS (SELECT q_id, c_id, q, c FROM (
       |  SELECT qr.q_id, cr.c_id, qr.q, cr.c,
       |         row_number() OVER (PARTITION BY qr.q_id ORDER BY
       |           round($rdot / (${rnorm("rq")} * ${rnorm("rc")}), 6) DESC,
       |           cr.c_id ASC) AS crank
       |  FROM qr CROSS JOIN cr) WHERE crank <= 30),
       |scored AS (SELECT q_id, c_id,
       |    round($duckDot / (${duckNorm("q")} * ${duckNorm("c")}), 6) AS score
       |  FROM cand)
       |SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY score DESC, c_id ASC) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }

  /** PQ ADC oracle (m=8, k=16, topK=10 matching x41): codebook = 16
    * lowest-id corpus vectors (codes carry the source vec_id), encode
    * argmin on the ROUNDED subspace distance with lowest-j tiebreak,
    * ADC sums rounded before ranking. */
  private val x41Sql: String = {
    def sv(v: String): String =
      s"list_transform(generate_series(1, 8), i -> $v[s * 8 + i]::DOUBLE)"
    def l2(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1, 8), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |           WHERE vec_id < 8),
       |cs AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
       |       WHERE vec_id >= 8),
       |cbsrc AS (SELECT vec_id AS j, embedding AS v FROM embeddings
       |          WHERE vec_id >= 8 ORDER BY vec_id ASC LIMIT 16),
       |cb AS (SELECT j, s, ${sv("v")} AS cbv
       |       FROM cbsrc CROSS JOIN generate_series(0, 7) t(s)),
       |csub AS (SELECT c_id, s, ${sv("cv")} AS csv
       |         FROM cs CROSS JOIN generate_series(0, 7) t(s)),
       |enc AS (SELECT c_id, s, j AS code FROM (
       |  SELECT c_id, cb.s, cb.j,
       |         row_number() OVER (PARTITION BY c_id, cb.s ORDER BY
       |           round(${l2("csv", "cbv")}, 6) ASC, cb.j ASC) AS rk
       |  FROM csub JOIN cb ON csub.s = cb.s) WHERE rk = 1),
       |lut AS (SELECT q_id, cb.s, cb.j AS code, ${l2("qsv", "cbv")} AS d
       |        FROM (SELECT q_id, s, ${sv("qv")} AS qsv
       |              FROM q CROSS JOIN generate_series(0, 7) t(s)) qs
       |        JOIN cb ON qs.s = cb.s),
       |scored AS (SELECT q_id, c_id, round(sum(d), 6) AS adist
       |           FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
       |           GROUP BY 1, 2)
       |SELECT q_id, c_id, adist, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY adist ASC, c_id ASC) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }

  /** LSH ANN oracle (planes=4, k=10 matching x7). */
  private val x7Sql: String = {
    def bucket(v: String): String = duckBucket(v)
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings
       |           WHERE vec_id < 8),
       |cs AS (SELECT vec_id AS c_id, embedding AS c FROM embeddings
       |       WHERE vec_id >= 8),
       |qb AS (SELECT q_id, q, ${bucket("q")} AS bucket FROM q),
       |cb AS (SELECT c_id, c, ${bucket("c")} AS bucket FROM cs),
       |scored AS (
       |  SELECT q_id, c_id,
       |         round($duckDot / (${duckNorm("q")} * ${duckNorm("c")}), 6)
       |           AS score
       |  FROM qb JOIN cb USING (bucket))
       |SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY score DESC, c_id ASC) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }

  /** IVF oracle: replays centroid selection (lowest-id LIMIT),
    * cell assignment argmax, nprobe probing, and in-cell re-rank with
    * the same rounding/tiebreak keys (nlist=16, nprobe=4, k=10). */
  private val x17Sql: String = ivfSql("vec_id >= 8")

  /** The deterministic-IVF oracle (lowest-id codebook, nprobe=4),
    * parametrized by the candidate-set predicate so the filtered-ANN
    * variant (x107) replays the exact same algebra over a culled
    * corpus — pre-filter semantics: the predicate applies BEFORE
    * centroid selection and assignment, exactly like the Spark side
    * builds its index from the filtered DataFrame. */
  private def ivfSql(candWhere: String): String = {
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    def cos(a: String, b: String): String =
      s"round(${dot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}), 6)"
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings
       |           WHERE vec_id < 8),
       |cs AS (SELECT vec_id AS c_id, embedding AS c FROM embeddings
       |       WHERE $candWhere),
       |cent AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings
       |         WHERE $candWhere ORDER BY vec_id ASC LIMIT 16),
       |asg AS (SELECT cell, c_id, c FROM (
       |  SELECT cent.cell, cs.c_id, cs.c,
       |         row_number() OVER (PARTITION BY cs.c_id
       |           ORDER BY ${cos("cs.c", "cent.cv")} DESC, cent.cell ASC) AS rk
       |  FROM cs CROSS JOIN cent) WHERE rk = 1),
       |pr AS (SELECT q_id, q, cell FROM (
       |  SELECT q.q_id, q.q, cent.cell,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY ${cos("q.q", "cent.cv")} DESC, cent.cell ASC) AS rk
       |  FROM q CROSS JOIN cent) WHERE rk <= 4),
       |scored AS (SELECT q_id, c_id, ${cos("q", "c")} AS score
       |           FROM pr JOIN asg USING (cell))
       |SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY score DESC, c_id ASC) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }

  /** st10 replay: same IVF algebra as x17 (deterministic lowest-id
    * codebook, nprobe=4), corpus = all embeddings, incoming = ×2-scaled
    * copies (exact in float AND double — scaling by a power of two
    * commutes with every FP op in the cosine), best match per incoming
    * at threshold 0.9. */
  private val st10Sql: String = {
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    def cos(a: String, b: String): String =
      s"round(${dot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}), 6)"
    s"""WITH cs AS (SELECT vec_id AS c_id, embedding AS c FROM embeddings),
       |cent AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings
       |         ORDER BY vec_id ASC
       |         LIMIT (SELECT greatest(16,
       |                  CAST(ceil(sqrt(count(*))) AS BIGINT))
       |                FROM embeddings)),
       |q AS (SELECT vec_id + 40000000 AS q_id,
       |        list_transform(embedding, x -> x::DOUBLE * 2.0) AS q
       |      FROM (SELECT vec_id, embedding FROM embeddings
       |            WHERE vec_id % 9 = 2
       |            ORDER BY vec_id ASC LIMIT 200)),
       |asg AS (SELECT cell, c_id, c FROM (
       |  SELECT cent.cell, cs.c_id, cs.c,
       |         row_number() OVER (PARTITION BY cs.c_id
       |           ORDER BY ${cos("cs.c", "cent.cv")} DESC, cent.cell ASC) AS rk
       |  FROM cs CROSS JOIN cent) WHERE rk = 1),
       |pr AS (SELECT q_id, q, cell FROM (
       |  SELECT q.q_id, q.q, cent.cell,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY ${cos("q.q", "cent.cv")} DESC, cent.cell ASC) AS rk
       |  FROM q CROSS JOIN cent) WHERE rk <= 4),
       |scored AS (SELECT q_id, c_id, ${cos("q", "c")} AS score
       |           FROM pr JOIN asg USING (cell))
       |SELECT q_id AS vec_id, c_id AS match_id, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, c_id ASC) AS rk FROM scored)
       |WHERE rk = 1 AND score >= 0.9""".stripMargin
  }

  /** Shared x81/x82 CTE chain: word counts, char streams, and 8
    * unrolled BPE rounds, each ending in its argmax pair `b{r}`.
    * Symbol streams use the engine's doubled-space string encoding, so
    * each round is one `replace` (identical left-to-right non-overlap
    * semantics in both engines — see [[graft.ext.Bpe]] scaladoc); the
    * per-round argmax is ORDER BY (count desc, a, b) LIMIT 1. */
  private val bpeRounds = 8
  private val bpeCtes: String = {
    val rounds = bpeRounds
    val sb = new StringBuilder
    sb ++=
      """WITH wc AS (SELECT tok AS word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY 1),
        |w0 AS (SELECT ' ' || array_to_string(
        |         list_transform(generate_series(1, length(word)),
        |           i -> word[i]), '  ') || ' ' AS s, cnt
        |       FROM wc)""".stripMargin
    for (r <- 0 until rounds) {
      sb ++= s""",
        |p$r AS (SELECT l[i] AS a, l[i+1] AS b, sum(cnt) AS c FROM (
        |  SELECT l, cnt, unnest(generate_series(1, len(l) - 1)) AS i
        |  FROM (SELECT string_split(trim(s), '  ') AS l, cnt FROM w$r))
        |  GROUP BY 1, 2),
        |b$r AS (SELECT a, b, c FROM p$r
        |        ORDER BY c DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      if (r < rounds - 1) sb ++= s""",
        |w${r + 1} AS (SELECT replace(w.s, ' ' || b.a || '  ' || b.b || ' ',
        |           ' ' || b.a || b.b || ' ') AS s, w.cnt
        |         FROM w$r w CROSS JOIN b$r b)""".stripMargin
    }
    sb.result()
  }

  private val x81Sql: String =
    bpeCtes + "\n" + (0 until bpeRounds).map { r =>
      s"SELECT CAST($r AS INT) AS round, a AS sym_a, b AS sym_b, " +
        s"a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM b$r"
    }.mkString("", "\nUNION ALL\n", "")

  /** x82 replay: encode every DISTINCT word through the learned merge
    * chain (nested replace in round order over the b0..b7 singletons),
    * then sum encoded-symbol counts per document. */
  private val x82Sql: String = {
    val start = "' ' || array_to_string(list_transform(" +
      "generate_series(1, length(word)), i -> word[i]), '  ') || ' '"
    val encoded = (0 until bpeRounds).foldLeft(start) { (e, r) =>
      s"replace($e, ' ' || m$r.a || '  ' || m$r.b || ' ',\n" +
        s"        ' ' || m$r.a || m$r.b || ' ')"
    }
    val joins = (0 until bpeRounds)
      .map(r => s"CROSS JOIN b$r m$r").mkString(" ")
    s"""$bpeCtes,
       |enc AS (SELECT word, $encoded AS es FROM wc $joins),
       |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(string_split(trim(e.es), '  '))) AS BIGINT)
       |         AS bpe_tokens
       |FROM tk JOIN enc e USING (word) GROUP BY 1""".stripMargin
  }

  /** Shared x83/st11 DSIR replay: hashed-bucket counts for target (the
    * en slice) and raw (all docs), add-1-smoothed log-ratio model `m`,
    * and the per-(doc, token) bucket stream `dk`. */
  private val dsirCtes: String =
    """WITH tb AS (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
      |         % 1024 AS bucket, count(*) AS ct
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE lang = 'en') GROUP BY 1),
      |rb AS (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
      |         % 1024 AS bucket, count(*) AS cr
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
      |        FROM documents) GROUP BY 1),
      |nt AS (SELECT sum(ct) AS nt FROM tb),
      |nr AS (SELECT sum(cr) AS nr FROM rb),
      |m AS (SELECT g AS bucket,
      |        ln((coalesce(tb.ct, 0) + 1) / (nt.nt + 1024))
      |          - ln((coalesce(rb.cr, 0) + 1) / (nr.nr + 1024)) AS lr
      |      FROM generate_series(0, 1023) t(g)
      |      LEFT JOIN tb ON tb.bucket = g
      |      LEFT JOIN rb ON rb.bucket = g
      |      CROSS JOIN nt CROSS JOIN nr),
      |dk AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
      |         % 1024 AS bucket
      |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents))""".stripMargin

  /** x95/x96/st13/x97 shared replay: unrolled hard-sigmoid logistic-GD
    * rounds (the bpeCtes idiom for real-valued training — every step is
    * dyadic-exact, see [[graft.ext.QualityModel.trainQualityModel]]'s
    * scaladoc, so the weight tables hash-match bit-for-bit).  `where`
    * restricts the TRAINING corpus (x97 trains on the md5 train split
    * and evaluates held-out). */
  private val qtrainRounds = 4
  private def qtrainCtes(where: String): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents $where),
        |xc AS (SELECT doc_id,
        |         CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) % 64
        |           AS bucket,
        |         count(*)::DOUBLE AS x
        |       FROM tk GROUP BY 1, 2),
        |yy AS (SELECT doc_id,
        |         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        |       FROM documents $where),
        |w0 AS (SELECT g AS bucket, 0.0 AS w
        |       FROM generate_series(0, 63) t(g))""".stripMargin
    for (r <- 0 until qtrainRounds) {
      sb ++= s""",
        |z$r AS (SELECT xc.doc_id, sum(w.w * xc.x) AS z
        |        FROM xc JOIN w$r w USING (bucket) GROUP BY 1),
        |p$r AS (SELECT doc_id,
        |          greatest(0.0, least(1.0, z * 0.25 + 0.5)) AS p
        |        FROM z$r),
        |g$r AS (SELECT xc.bucket, sum((p.p - y.y) * xc.x) AS g
        |        FROM xc JOIN p$r p USING (doc_id)
        |        JOIN yy y USING (doc_id) GROUP BY 1),
        |w${r + 1} AS (SELECT w.bucket,
        |          greatest(-8.0, least(8.0,
        |            floor((w.w - coalesce(g.g, 0.0) / 32768)
        |                  * 1048576 + 0.5) / 1048576)) AS w
        |        FROM w$r w LEFT JOIN g$r g USING (bucket))""".stripMargin
    }
    sb.result()
  }

  private val x95Sql: String = qtrainCtes("") +
    s"\nSELECT CAST(bucket AS BIGINT) AS bucket, w FROM w$qtrainRounds"

  /** The md5 train-split membership test (x15's split algebra). */
  private val qSplitBucket = "CAST(CAST('0x' || substr(md5(" +
    "CAST(doc_id AS VARCHAR) || 'graft'), 1, 8) AS UBIGINT) % 100 AS INT)"

  /** x109: the x97 replay chain, but the confusion matrix sweeps a
    * 9-point threshold grid `round(tau + k·0.005, 6), k ∈ [-4, 4]`
    * instead of the single tau cut.  Grid values are exact: the model
    * weights live on the 2⁻²⁰ dyadic grid so tau (a dyadic sum over a
    * long count) is order-independent and engine-identical. */
  private val x109Sql: String =
    qtrainCtes(s"WHERE $qSplitBucket < 80") + s""",
    |tau AS (SELECT sum(w.w) / count(*) AS t
    |        FROM (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
    |                % 64 AS bucket FROM tk) s
    |        JOIN w$qtrainRounds w USING (bucket)),
    |hk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    |       FROM documents WHERE $qSplitBucket >= 80),
    |sch AS (SELECT doc_id,
    |          CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) % 64
    |            AS bucket
    |        FROM hk),
    |scored AS (SELECT s.doc_id, round(sum(w.w) / count(*), 4) AS score
    |           FROM sch s JOIN w$qtrainRounds w USING (bucket)
    |           GROUP BY 1),
    |g AS (SELECT round(tau.t + k * 0.005::DOUBLE, 6) AS threshold
    |      FROM tau CROSS JOIN
    |        (SELECT unnest(generate_series(-4, 4)) AS k) ks),
    |j AS (SELECT s.score, d.lang = 'en' AS y
    |      FROM scored s JOIN documents d USING (doc_id)),
    |cm AS (SELECT threshold,
    |  sum(CASE WHEN score > threshold AND y THEN 1 ELSE 0 END) AS tp,
    |  sum(CASE WHEN score > threshold AND NOT y THEN 1 ELSE 0 END) AS fp,
    |  sum(CASE WHEN NOT (score > threshold) AND NOT y THEN 1 ELSE 0 END)
    |    AS tn,
    |  sum(CASE WHEN NOT (score > threshold) AND y THEN 1 ELSE 0 END)
    |    AS fn
    |  FROM j CROSS JOIN g GROUP BY 1)
    |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
    |       CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
    |       CASE WHEN tp + fp > 0
    |            THEN round(tp / (tp + fp)::DOUBLE, 4) END AS precision,
    |       CASE WHEN tp + fn > 0
    |            THEN round(tp / (tp + fn)::DOUBLE, 4) END AS recall,
    |       CASE WHEN tp * 2 + fp + fn > 0
    |            THEN round(tp * 2 / (tp * 2 + fp + fn)::DOUBLE, 4)
    |       END AS f1
    |FROM cm""".stripMargin

  private val x97Sql: String = qtrainCtes(s"WHERE $qSplitBucket < 80") +
    s""",
    |tau AS (SELECT sum(w.w) / count(*) AS t
    |        FROM (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT)
    |                % 64 AS bucket FROM tk) s
    |        JOIN w$qtrainRounds w USING (bucket)),
    |hk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    |       FROM documents WHERE $qSplitBucket >= 80),
    |sch AS (SELECT doc_id,
    |          CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) % 64
    |            AS bucket
    |        FROM hk),
    |scored AS (SELECT s.doc_id, round(sum(w.w) / count(*), 4) AS score
    |           FROM sch s JOIN w$qtrainRounds w USING (bucket)
    |           GROUP BY 1),
    |j AS (SELECT s.score > tau.t AS keep, d.lang = 'en' AS y
    |      FROM scored s JOIN documents d USING (doc_id) CROSS JOIN tau),
    |cm AS (SELECT
    |  sum(CASE WHEN keep AND y THEN 1 ELSE 0 END) AS tp,
    |  sum(CASE WHEN keep AND NOT y THEN 1 ELSE 0 END) AS fp,
    |  sum(CASE WHEN NOT keep AND NOT y THEN 1 ELSE 0 END) AS tn,
    |  sum(CASE WHEN NOT keep AND y THEN 1 ELSE 0 END) AS fn
    |  FROM j)
    |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
    |       CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
    |       CASE WHEN tp + fp + tn + fn > 0
    |            THEN round((tp + tn) / (tp + fp + tn + fn)::DOUBLE, 4)
    |       END AS accuracy,
    |       CASE WHEN tp + fp > 0
    |            THEN round(tp / (tp + fp)::DOUBLE, 4) END AS precision,
    |       CASE WHEN tp + fn > 0
    |            THEN round(tp / (tp + fn)::DOUBLE, 4) END AS recall
    |FROM cm""".stripMargin

  private val x96Sql: String = qtrainCtes("") + s""",
    |sc AS (SELECT doc_id,
    |         CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) % 64
    |           AS bucket
    |       FROM tk),
    |scored AS (SELECT s.doc_id,
    |             round(sum(w.w) / count(*), 4) AS score
    |           FROM sc s JOIN w$qtrainRounds w USING (bucket)
    |           GROUP BY 1)
    |SELECT doc_id, score, score > 0.0 AS keep FROM scored""".stripMargin

  /** Rounded cosine between two DuckDB list expressions — mirrors the
    * engine's 6-decimal HALF_UP scoring keys (shared by x22). */
  private def duckCos(a: String, b: String): String =
    s"round(list_sum(list_transform(generate_series(1, 64), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) / " +
      s"(${duckNorm(a)} * ${duckNorm(b)}), 6)"

  /** Connected-components oracle: min label reachable from each node,
    * via a recursive reachability CTE over the x4 edge set (mirrors
    * [[Dedup.duplicateClusters]]' hash-min fixpoint). */
  /** Shared connected-components CTE chain (x20/x25/x27): exact
    * lang-blocked Jaccard pairs → recursive reachability → min-label
    * clusters as `c(doc_id, cluster_id)`. */
  private val ccPrefix: String =
    """WITH RECURSIVE t AS (SELECT doc_id, lang,
      |             list_distinct(string_split(text, ' ')) AS toks
      |           FROM documents),
      |p AS (SELECT a, b FROM (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |         len(list_filter(a.toks, x -> list_contains(b.toks, x)))
      |         / (len(a.toks) + len(b.toks)
      |            - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
      |           AS jaccard
      |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.8),
      |e AS (SELECT a AS s, b AS d FROM p
      |      UNION ALL SELECT b AS s, a AS d FROM p),
      |reach(node, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.d, reach.r FROM e JOIN reach ON e.s = reach.node),
      |c AS (SELECT node AS doc_id, min(r) AS cluster_id
      |      FROM reach GROUP BY 1)""".stripMargin

  private val x20Sql: String =
    s"$ccPrefix\nSELECT doc_id, cluster_id FROM c"

  private val x25Sql: String =
    s"""$ccPrefix,
       |j AS (SELECT c.doc_id, c.cluster_id, d.n_chars
       |      FROM c JOIN documents d ON d.doc_id = c.doc_id),
       |k AS (SELECT cluster_id, doc_id AS keeper_id FROM (
       |  SELECT cluster_id, doc_id,
       |         row_number() OVER (PARTITION BY cluster_id
       |           ORDER BY n_chars DESC, doc_id ASC) AS rk FROM j)
       |  WHERE rk = 1)
       |SELECT j.doc_id, j.cluster_id, k.keeper_id,
       |       CAST(j.doc_id = k.keeper_id AS INT) AS is_keeper
       |FROM j JOIN k ON j.cluster_id = k.cluster_id""".stripMargin

  private val x27Sql: String = {
    val laneMins = (0 until 8).map(i => s"min(s$i) AS u$i").mkString(", ")
    val sigCols = (0 until 8).map(i => s"${duckMinhash(i)} AS s$i")
      .mkString(",\n         ")
    s"""$ccPrefix,
       |shn AS (SELECT doc_id, string_split(text, ' ') AS sh FROM documents),
       |sg AS (SELECT doc_id,
       |         $sigCols
       |        FROM shn)
       |SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_docs, $laneMins
       |FROM c JOIN sg ON sg.doc_id = c.doc_id
       |GROUP BY 1""".stripMargin
  }

  private val x28Sql: String =
    s"""WITH q AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |    AND len(list_filter(string_split(text, ' '), x -> x IN ($stopSet)))
       |        / len(string_split(text, ' ')) >= 0.01),
       |k AS (SELECT min(doc_id) AS doc_id FROM q
       |      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
       |kept AS (SELECT q.* FROM q JOIN k USING (doc_id)),
       |cnt AS (SELECT lang AS st, count(*) AS n FROM kept GROUP BY 1),
       |tgt AS (SELECT min(n) AS t FROM cnt),
       |bal AS (SELECT kept.* FROM kept
       |        JOIN cnt ON kept.lang = cnt.st CROSS JOIN tgt
       |        WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)
       |                     AS UBIGINT) AS DOUBLE) / 4294967296.0
       |              < CAST(tgt.t AS DOUBLE) / CAST(cnt.n AS DOUBLE))
       |SELECT lang,
       |       CASE WHEN b < 80 THEN 'train'
       |            WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens
       |FROM (SELECT *,
       |        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)
       |                  AS UBIGINT) % 100 AS INT) AS b
       |      FROM bal)
       |GROUP BY 1, 2""".stripMargin

  private val x26Sql: String =
    """WITH cnt AS (SELECT lang AS st, count(*) AS n
      |             FROM documents GROUP BY 1),
      |tgt AS (SELECT min(n) AS t FROM cnt)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN cnt ON d.lang = cnt.st CROSS JOIN tgt
      |WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'graft'), 1, 8)
      |             AS UBIGINT) AS DOUBLE) / 4294967296.0
      |      < CAST(tgt.t AS DOUBLE) / CAST(cnt.n AS DOUBLE)""".stripMargin

  /** x100 oracle: Lloyd's k-means unrolled — every step is on the
    * shared deterministic grid (cosines rounded to 6, centroid sums as
    * dyadic-quantized BIGINTs), so both engines walk the exact same
    * centroid sequence.  `iter` emits one assignment + quantized
    * centroid-update CTE pair; zero-norm centroids drop like empty
    * cells (the Spark side's filter). */
  private val x100Cte: String = {
    def iter(n: Int): String =
      s"""a$n AS (SELECT vec_id, cell FROM (
         |  SELECT v.vec_id, c.cell,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${duckCos("v.v", "c.cv")} DESC, c.cell ASC)
         |           AS rk
         |  FROM vn v CROSS JOIN c${n - 1} c) WHERE rk = 1),
         |u$n AS (SELECT a.cell, d.i AS dim,
         |               sum(v.vq[d.i]) AS s, count(*) AS n
         |        FROM a$n a JOIN vn v USING (vec_id),
         |             generate_series(1, 64) AS d(i)
         |        GROUP BY 1, 2),
         |c$n AS (SELECT cell, cv FROM (
         |  SELECT cell,
         |         list((CAST(s AS DOUBLE) / n) / 1048576 ORDER BY dim)
         |           AS cv
         |  FROM u$n GROUP BY cell)
         |  WHERE sqrt(list_sum(list_transform(cv, x -> x * x))) > 0)"""
        .stripMargin
    s"""WITH vn AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> x::DOUBLE) AS v,
       |         list_transform(embedding,
       |           x -> CAST(floor(x::DOUBLE * 1048576 + 0.5) AS BIGINT))
       |           AS vq
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, v AS cv FROM vn
       |       ORDER BY vec_id ASC LIMIT 8),
       |${iter(1)},
       |${iter(2)},
       |af AS (SELECT vec_id, cell, csim FROM (
       |  SELECT v.vec_id, c.cell, ${duckCos("v.v", "c.cv")} AS csim,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${duckCos("v.v", "c.cv")} DESC, c.cell ASC)
       |           AS rk
       |  FROM vn v CROSS JOIN c2 c) WHERE rk = 1)""".stripMargin
  }

  private val x100Sql: String =
    s"""$x100Cte,
       |bl AS (SELECT a.cell, v.label, count(*) AS cnt,
       |              sum(1000000 - CAST(round(a.csim * 1000000) AS BIGINT))
       |                AS im
       |       FROM af a JOIN vn v USING (vec_id) GROUP BY 1, 2),
       |tl AS (SELECT cell, label AS top_label, cnt AS top_cnt FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell
       |            ORDER BY cnt DESC, label ASC) AS rk
       |  FROM bl) WHERE rk = 1),
       |agg AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_vecs,
       |               CAST(sum(im) AS BIGINT) AS inertia_micro
       |        FROM bl GROUP BY 1)
       |SELECT agg.cell, agg.n_vecs, agg.inertia_micro, tl.top_label,
       |       round(tl.top_cnt::DOUBLE / agg.n_vecs, 6) AS purity
       |FROM agg JOIN tl USING (cell)""".stripMargin

  private val x101Sql: String =
    s"""$x100Cte
       |SELECT vec_id, cell, csim FROM (
       |  SELECT af.*, row_number() OVER (PARTITION BY cell
       |            ORDER BY csim DESC, vec_id ASC) AS pk
       |  FROM af) WHERE pk <= 10""".stripMargin

  /** st14 oracle: the x100 centroid walk (c2 = trained codebook), then
    * a fresh assignment of the scaled fixed batch — ×2 is exact in
    * float and double and cosine is scale-invariant, so csim matches
    * the unscaled corpus values bit-for-bit. */
  private val st14Sql: String =
    s"""$x100Cte,
       |inc AS (SELECT vec_id + 40000000 AS vec_id,
       |               list_transform(embedding, x -> (x * 2)::DOUBLE)
       |                 AS v
       |        FROM (SELECT vec_id, embedding FROM embeddings
       |              WHERE vec_id % 9 = 2
       |              ORDER BY vec_id ASC LIMIT 200))
       |SELECT vec_id, cell, csim, csim < 0.15 AS novel FROM (
       |  SELECT i.vec_id, c.cell, ${duckCos("i.v", "c.cv")} AS csim,
       |         row_number() OVER (PARTITION BY i.vec_id
       |           ORDER BY ${duckCos("i.v", "c.cv")} DESC, c.cell ASC)
       |           AS rk
       |  FROM inc i CROSS JOIN c2 c) WHERE rk = 1""".stripMargin

  private val x22Sql: String =
    s"""WITH v AS (SELECT vec_id, embedding AS ev FROM embeddings),
       |cent AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings
       |         ORDER BY vec_id ASC LIMIT 16),
       |asg AS (SELECT cell, vec_id, ev FROM (
       |  SELECT cent.cell, v.vec_id, v.ev,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${duckCos("v.ev", "cent.cv")} DESC,
       |                    cent.cell ASC) AS rk
       |  FROM v CROSS JOIN cent) WHERE rk = 1),
       |dr AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dropped_by
       |       FROM asg a JOIN asg b ON a.cell = b.cell
       |                            AND a.vec_id < b.vec_id
       |       WHERE ${duckCos("a.ev", "b.ev")} >= 0.4
       |       GROUP BY 1)
       |SELECT asg.vec_id, asg.cell,
       |       dr.dropped_by IS NOT NULL AS dropped, dr.dropped_by
       |FROM asg LEFT JOIN dr ON asg.vec_id = dr.vec_id""".stripMargin

  /** Stream-static ingest-gate oracle: same sig/band/verify replay as
    * [[x3Sql]], asymmetric sides (incoming = doc_id %% 7 == 0), best
    * match per incoming doc by (jaccard DESC, ex_id ASC). */
  /** The stream-static LSH match CTE chain (incoming = doc_id % 7 == 0
    * probing the rest), shared by st4 (best match per incoming doc) and
    * x61 (novelty = incoming docs with NO match). */
  private val st4Cte: String = {
    val sigCols = (0 until 8).map(i => s"${duckMinhash(i)} AS s$i")
      .mkString(",\n         ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, md5('$b' || '|' || s${2 * b} || ',' || s${2 * b + 1}) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sh AS (SELECT doc_id, string_split(text, ' ') AS sh FROM documents),
       |sig AS (SELECT doc_id,
       |         $sigCols
       |        FROM sh),
       |bands AS (
       |  $bandSelects
       |),
       |enc AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
       |               len(list_distinct(string_split(text, ' '))) AS sz
       |        FROM documents),
       |cands AS (
       |  SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
       |  FROM bands i JOIN bands e ON i.band_key = e.band_key
       |  WHERE i.doc_id % 7 = 0 AND e.doc_id % 7 <> 0),
       |ver AS (
       |  SELECT in_id, ex_id,
       |         len(list_filter(ei.toks, x -> list_contains(ee.toks, x)))
       |         / (ei.sz + ee.sz
       |            - len(list_filter(ei.toks, x -> list_contains(ee.toks, x))))
       |           AS jaccard
       |  FROM cands JOIN enc ei ON cands.in_id = ei.doc_id
       |             JOIN enc ee ON cands.ex_id = ee.doc_id
       |  WHERE least(ei.sz, ee.sz) / greatest(ei.sz, ee.sz) >= 0.8)""".stripMargin
  }

  private val st4Sql: String =
    s"""$st4Cte
       |SELECT in_id AS doc_id, ex_id AS match_id, jaccard FROM (
       |  SELECT *, row_number() OVER (PARTITION BY in_id
       |            ORDER BY jaccard DESC, ex_id ASC) AS rk
       |  FROM ver WHERE jaccard >= 0.8) WHERE rk = 1""".stripMargin

  private val contaminationSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |              ELSE list_transform(generate_series(1, len(toks) - 4),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                     || ' ' || toks[i+3] || ' ' || toks[i+4])
      |         END AS sh FROM t),
      |tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0),
      |be AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0)
      |SELECT DISTINCT tr.doc_id FROM tr JOIN be ON tr.s = be.s""".stripMargin

  /** [[synthUrl]] in DuckDB SQL — must stay in lockstep with the
    * Spark-side injection. */
  private val duckUrl: String =
    """CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END
      | || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
      | || 'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
      | || CASE WHEN doc_id % 2 = 0 THEN ':80'
      |         WHEN doc_id % 11 = 0 THEN ':8080'
      |         WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      | || '/Articles/' || CAST(doc_id % 50 AS VARCHAR)
      | || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
      | || CASE WHEN doc_id % 3 = 0
      |         THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
      |         WHEN doc_id % 3 = 1
      |         THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
      |         ELSE '' END
      | || CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END"""
      .stripMargin.replace("\n", "")

  /** Mirrors [[graft.ext.Web]]'s canonicalization rules 1–6 as a CTE
    * chain ending in `uc(doc_id, n_chars, source, url, host,
    * url_canon)`, shared by the x102/x103/x104 oracles. */
  private val duckUrlCanonCte: String =
    s"""WITH inj AS (SELECT doc_id, n_chars, source, $duckUrl AS url
       |             FROM documents),
       |c AS (SELECT doc_id, n_chars, source, url,
       |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |    AS scheme,
       |  regexp_replace(
       |    lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)),
       |    '^www\\.', '') AS hp,
       |  regexp_replace(
       |    regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
       |    '/+$$', '') AS p,
       |  regexp_replace(regexp_replace(
       |    regexp_extract(url, '\\?([^#]*)', 1),
       |    '(^|&)(?i:utm_[a-z]+|fbclid|gclid)=[^&]*', '', 'g'),
       |    '^&', '') AS q
       |  FROM inj),
       |h AS (SELECT doc_id, n_chars, source, url, scheme, q,
       |  CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$$', '')
       |       WHEN scheme = 'https' THEN regexp_replace(hp, ':443$$', '')
       |       ELSE hp END AS host,
       |  CASE WHEN p = '' THEN '/' ELSE p END AS pathc
       |  FROM c),
       |uc AS (SELECT doc_id, n_chars, source, url, host, pathc,
       |  CASE WHEN scheme = '' THEN NULL
       |       ELSE scheme || '://' || host || pathc ||
       |         CASE WHEN q = '' THEN '' ELSE '?' || q END
       |  END AS url_canon
       |  FROM h)""".stripMargin

  /** One synchronous PageRank sweep in DuckDB SQL — the EXACT integer
    * recurrence of [[graft.ext.Graph.pageRankMicro]] (floor division
    * `//` everywhere, damping 850000 micro, PER-NODE scale: uniform
    * rank == 1e6): shares = r // outdeg over the live nodes, contribs
    * grouped on dst, dangling mass summed and spread // n, base
    * 150000.  Chained 4 deep by [[prCte]]. */
  private def prIter(prev: String, cur: String, eN: String = "e",
                     nnN: String = "nn"): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT p.node, p.outdeg,
       |    CAST(150000 +
       |      (850000 * (coalesce(c.contrib, 0) +
       |                 (d.dang // (SELECT n FROM $nnN)))) // 1000000
       |      AS BIGINT) AS r
       |  FROM $prev p
       |  LEFT JOIN (SELECT $eN.dst AS node,
       |                    CAST(sum(q.r // q.outdeg) AS BIGINT) AS contrib
       |             FROM $eN JOIN $prev q ON $eN.src = q.node
       |             WHERE q.outdeg > 0 GROUP BY 1) c ON p.node = c.node
       |  CROSS JOIN (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
       |              FROM $prev WHERE outdeg = 0) d)""".stripMargin

  /** The x128/st22 host-graph lattice edge CTE (legs A/B/C —
    * irregular out-degrees, ext1/ext3 dangling), shared by the walk
    * ([[prCte]]) and the reciprocity rollup (x139). */
  private val prEdges: String =
    s"""e AS MATERIALIZED (
       |  SELECT DISTINCT * FROM (
       |    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
       |             AS src,
       |           'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
       |             AS dst
       |    FROM documents
       |    WHERE ((doc_id % 7) + (doc_id % 5)) % 3 <> 0
       |    UNION ALL
       |    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com',
       |           'h' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.example.com'
       |    FROM documents
       |    UNION ALL
       |    SELECT 'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
       |           'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
       |    FROM documents WHERE (doc_id % 5) % 2 = 0
       |  )
       |)""".stripMargin

  /** The x128 lattice EXTENDED by st24's leg D (the ext ring) — the
    * full-history edge set st30's warm HyperBall walk must equal a
    * cold walk over. */
  private val st30Edges: String =
    s"""e AS MATERIALIZED (
       |  SELECT DISTINCT * FROM (
       |    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
       |             AS src,
       |           'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
       |             AS dst
       |    FROM documents
       |    WHERE ((doc_id % 7) + (doc_id % 5)) % 3 <> 0
       |    UNION ALL
       |    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com',
       |           'h' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.example.com'
       |    FROM documents
       |    UNION ALL
       |    SELECT 'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
       |           'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
       |    FROM documents WHERE (doc_id % 5) % 2 = 0
       |    UNION ALL
       |    SELECT 'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
       |           'ext' || CAST((doc_id % 5 + 1) % 5 AS VARCHAR) ||
       |             '.example.com'
       |    FROM documents WHERE doc_id % 2 = 1
       |  )
       |)""".stripMargin

  /** The x141 URL-ring recurrence unrolled 4 sweeps — the residue
    * lattice (step-7 ring + the 2·id+1 chord on the id%3 slice,
    * self-loops dropped) walked by the same integer [[prIter]]
    * algebra the broadcast walk's oracle uses (the degraded walk is
    * bit-equal by contract, so it shares the recurrence). */
  private val x141Sql: String = {
    val u = "'http://g.example.com/u/'"
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT * FROM (
       |    SELECT $u || CAST(doc_id % 499 AS VARCHAR) AS src,
       |           $u || CAST((doc_id + 7) % 499 AS VARCHAR) AS dst
       |    FROM documents
       |    UNION ALL
       |    SELECT $u || CAST(doc_id % 499 AS VARCHAR),
       |           $u || CAST((doc_id * 2 + 1) % 499 AS VARCHAR)
       |    FROM documents WHERE doc_id % 3 = 0)
       |  WHERE src <> dst),
       |od AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg
       |     FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT n.node, coalesce(od.outdeg, 0) AS outdeg
       |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
       |  LEFT JOIN od ON n.node = od.node),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT node, outdeg,
       |     CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${prIter("r0", "r1")},
       |${prIter("r1", "r2")},
       |${prIter("r2", "r3")},
       |${prIter("r3", "r4")}
       |SELECT node, r AS rank_micro FROM r4""".stripMargin
  }

  /** One HyperBall radius-`r` estimate block in DuckDB SQL — rebuilds
    * the EXACT 256 registers of [[graft.plans.HllKernel]] for every
    * node's in-ball at radius `r` (members from the bounded min-dist
    * CTE `md`, hex-digit bucket/rho, bucket-ordered float Σ, the
    * linear-counting fallback) and ends at CTE `he$r`(node, est) —
    * the st7 register-replay idiom parameterized by radius for
    * x140. */
  private def hbEst(r: Int): String =
    s"""hp$r AS (SELECT node, md5(member) AS h FROM md WHERE d <= $r),
       |hz$r AS (SELECT node, h,
       |         len(regexp_extract(substr(h, 3, 12), '^0*')) AS z
       |       FROM hp$r),
       |hr$r AS (SELECT node,
       |         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
       |           + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
       |           AS bucket,
       |         max(4 * z
       |           + CASE WHEN z = 12 THEN 0
       |                  WHEN substr(h, 3 + z, 1) = '1' THEN 3
       |                  WHEN substr(h, 3 + z, 1) IN ('2', '3') THEN 2
       |                  WHEN substr(h, 3 + z, 1) IN ('4', '5', '6', '7')
       |                    THEN 1
       |                  ELSE 0 END + 1) AS rho
       |       FROM hz$r GROUP BY 1, 2),
       |hf$r AS (SELECT g.node, g.bucket, coalesce(hr$r.rho, 0) AS rho
       |         FROM gridh g LEFT JOIN hr$r
       |           ON g.node = hr$r.node AND g.bucket = hr$r.bucket),
       |ha$r AS (SELECT node,
       |           list_sum(list_transform(list(rho ORDER BY bucket),
       |             x -> power(2::DOUBLE, -x))) AS s,
       |           len(list_filter(list(rho ORDER BY bucket),
       |             x -> x = 0)) AS v
       |         FROM hf$r GROUP BY 1),
       |he$r AS (SELECT node,
       |           CASE WHEN 0.7213::DOUBLE / (1::DOUBLE + 1.079::DOUBLE / 256)
       |                    * 256 * 256 / s <= 2.5::DOUBLE * 256 AND v > 0
       |                THEN 256 * ln(256::DOUBLE / v)
       |                ELSE 0.7213::DOUBLE / (1::DOUBLE + 1.079::DOUBLE / 256)
       |                     * 256 * 256 / s END AS est
       |         FROM ha$r)""".stripMargin

  /** Exact bounded min-dist reachability + per-(node, radius 0..3)
    * register replay + the clamped truncated harmonic sum, over the
    * edge CTE `edges` — the shared body of the HyperBall oracles
    * (x140/x142 over the x128 lattice; st30/st31 over the
    * delta-extended history: the bucketed walks are bit-equal to the
    * broadcast walks by contract, so each pair shares one replay). */
  private def hbSql(edges: String): String =
    s"""WITH RECURSIVE $edges,
       |hnode AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |walk(member, node, d) AS (
       |  SELECT node, node, 0 FROM hnode
       |  UNION
       |  SELECT walk.member, e.dst, walk.d + 1
       |  FROM walk JOIN e ON walk.node = e.src
       |  WHERE walk.d < 3),
       |md AS (SELECT member, node, min(d) AS d FROM walk
       |       GROUP BY 1, 2),
       |gridh AS (SELECT n.node, gs.j AS bucket
       |          FROM hnode n CROSS JOIN
       |            (SELECT unnest(generate_series(0, 255)) AS j) gs),
       |${hbEst(0)},
       |${hbEst(1)},
       |${hbEst(2)},
       |${hbEst(3)}
       |SELECT he3.node, round(he3.est, 4) AS est_reach,
       |  round(greatest(he1.est - he0.est, 0.0) / 1
       |        + greatest(he2.est - he1.est, 0.0) / 2
       |        + greatest(he3.est - he2.est, 0.0) / 3, 4) AS harmonic
       |FROM he3 JOIN he2 ON he3.node = he2.node
       |JOIN he1 ON he3.node = he1.node
       |JOIN he0 ON he3.node = he0.node""".stripMargin

  private val x140Sql: String = hbSql(prEdges)
  private val st30Sql: String = hbSql(st30Edges)

  /** The lattice walked 4 PageRank sweeps; ends at CTE `r4`
    * (node, outdeg, r). */
  private val prCte: String =
    s"""WITH $prEdges,
       |od AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT n.node, coalesce(od.outdeg, 0) AS outdeg
       |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
       |  LEFT JOIN od ON n.node = od.node),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT node, outdeg,
       |              CAST(1000000 AS BIGINT) AS r
       |       FROM nodes),
       |${prIter("r0", "r1")},
       |${prIter("r1", "r2")},
       |${prIter("r2", "r3")},
       |${prIter("r3", "r4")}""".stripMargin

  val sql: Map[String, String] = Map(
    // NOTE: the shared CTE is already stripMargin'd — concatenate the
    // tail instead of re-stripping (a second stripMargin would eat the
    // leading `|` of any continuation line starting with `||`)
    "x102_url_canon" -> (duckUrlCanonCte +
      "\nSELECT doc_id, url AS url_raw, url_canon, host FROM uc"),
    "x103_url_dedup" -> (duckUrlCanonCte + "," +
      """
        |r AS (SELECT url_canon, doc_id,
        |        row_number() OVER (PARTITION BY url_canon
        |          ORDER BY n_chars DESC, doc_id ASC) AS rk,
        |        max(n_chars) OVER (PARTITION BY url_canon) AS mx,
        |        count(*) OVER (PARTITION BY url_canon) AS cnt
        |      FROM uc)
        |SELECT url_canon, doc_id AS keeper_id,
        |       CAST(mx AS BIGINT) AS keeper_chars,
        |       CAST(cnt AS BIGINT) AS n_dups
        |FROM r WHERE rk = 1""".stripMargin),
    "x104_domain_stats" -> (duckUrlCanonCte +
      """
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM uc
        |WHERE host NOT IN ('site0.example.com', 'site3.example.com')
        |GROUP BY 1""".stripMargin),
    "x105_paragraph_dedup" ->
      """WITH inj AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10)
        |       || 'subscribe to our newsletter for weekly updates'
        |     ELSE '' END
        |  || CASE WHEN doc_id % 4 = 0 THEN chr(10) || chr(10)
        |       || 'all rights reserved copyright notice'
        |     ELSE '' END AS text FROM documents),
        |p AS (SELECT doc_id,
        |        unnest(string_split(text, chr(10) || chr(10))) AS para
        |      FROM inj),
        |pc AS (SELECT doc_id, md5(para) AS h FROM p
        |       WHERE length(trim(para)) > 0),
        |df AS (SELECT h, count(DISTINCT doc_id) AS df FROM pc GROUP BY 1),
        |agg AS (SELECT doc_id, count(*) AS n_paras,
        |          sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup
        |        FROM pc JOIN df USING (h) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_paras AS BIGINT) AS n_paras,
        |  CAST(n_dup AS BIGINT) AS n_dup_paras,
        |  round(CAST(n_dup AS DOUBLE) / n_paras, 6) AS dup_frac,
        |  round(CAST(n_dup AS DOUBLE) / n_paras, 6) <= 0.5 AS keep
        |FROM agg""".stripMargin,
    "x106_c4_lines" ->
      """WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |    THEN 'Enable JavaScript to view this site.' || chr(10)
        |         || 'click here'
        |    ELSE text || '.'
        |      || CASE WHEN doc_id % 2 = 0 THEN chr(10)
        |           || 'Enable JavaScript to view this site.' ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN chr(10)
        |           || 'click here' ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN chr(10)
        |           || 'We use cookies to improve your experience on our site.'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0 THEN chr(10)
        |           || 'This additional paragraph provides genuinely useful information for readers.'
        |         ELSE '' END
        |    END AS text FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM inj),
        |k AS (SELECT doc_id, lines,
        |        list_filter(lines, x ->
        |          len(string_split_regex(trim(x), ' +')) >= 5
        |          AND regexp_matches(trim(x), '[.!?"]$')
        |          AND NOT contains(lower(trim(x)), 'javascript')
        |          AND NOT contains(lower(trim(x)), 'cookie')
        |          AND NOT contains(lower(trim(x)), 'lorem ipsum')) AS kept
        |      FROM l)
        |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(kept) AS INT) AS n_lines_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
        |  len(kept) >= 1 AS keep_doc
        |FROM k""".stripMargin,
    "x107_filtered_ann" -> ivfSql("vec_id >= 8 AND label % 3 = 0"),
    // the verdict targets the RAW path+query (robotsMatchTarget —
    // round-17): re-extract both raw pieces from the URL instead of
    // reusing the canonical pathc
    "x108_robots_rules" -> (duckUrlCanonCte + "," +
      """
        |r AS (SELECT * FROM (VALUES
        |        ('site1.example.com', '/Articles/1'),
        |        ('site2.example.com', '/Articles/2'),
        |        ('site4.example.com', '/Articles/4'))
        |      AS t(host, path_prefix)),
        |t2 AS (SELECT doc_id, host,
        |        (CASE WHEN regexp_extract(url,
        |             '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = '' THEN '/'
        |          ELSE regexp_extract(url,
        |             '^[^:/?#]+://[^/?#]*([^?#]*)', 1) END)
        |        || regexp_extract(url, '^[^#]*?(\?[^#]*)', 1) AS tgt
        |       FROM uc),
        |j AS (SELECT t2.doc_id, t2.host, t2.tgt AS path,
        |        CASE WHEN r.path_prefix IS NULL THEN false
        |             ELSE starts_with(t2.tgt, r.path_prefix) END AS hit
        |      FROM t2 LEFT JOIN r USING (host))
        |SELECT doc_id, host, path, max(hit) AS blocked
        |FROM j GROUP BY 1, 2, 3""".stripMargin),
    "x109_threshold_sweep" -> x109Sql,
    "st15_url_novelty_gate" -> (duckUrlCanonCte + "," +
      """
        |seen AS (SELECT DISTINCT url_canon FROM uc WHERE doc_id % 7 <> 0)
        |SELECT uc.doc_id, uc.url_canon, seen.url_canon IS NULL AS novel
        |FROM uc LEFT JOIN seen ON uc.url_canon = seen.url_canon
        |WHERE uc.doc_id % 7 = 0""".stripMargin),
    "x110_url_spam" ->
      """WITH inj AS (SELECT doc_id, 'https://'
        |  || CASE WHEN doc_id % 17 = 0 THEN 'free-casino.example.net'
        |     ELSE 'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
        |     END
        |  || '/page/' || CAST(doc_id % 50 AS VARCHAR)
        |  || CASE WHEN doc_id % 13 = 0 THEN '/free-download-click'
        |     ELSE '' END
        |  || CASE WHEN doc_id % 29 = 0 THEN '/download' ELSE '' END
        |  || CASE WHEN doc_id % 23 = 0 THEN '/adult-content' ELSE '' END
        |    AS url FROM documents),
        |hp AS (SELECT doc_id, lower(
        |    regexp_replace(
        |      lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)),
        |      '^www\.', '')
        |    || CASE WHEN regexp_replace(regexp_extract(url,
        |           '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$', '') = ''
        |         THEN '/'
        |         ELSE regexp_replace(regexp_extract(url,
        |           '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$', '') END)
        |    AS hp FROM inj),
        |sc AS (SELECT doc_id, hp, round(
        |    CASE WHEN contains(hp, 'free') THEN 0.5::DOUBLE
        |         ELSE 0.0::DOUBLE END
        |    + CASE WHEN contains(hp, 'download') THEN 0.4::DOUBLE
        |        ELSE 0.0::DOUBLE END
        |    + CASE WHEN contains(hp, 'click') THEN 0.3::DOUBLE
        |        ELSE 0.0::DOUBLE END
        |    + CASE WHEN contains(hp, 'casino') THEN 0.8::DOUBLE
        |        ELSE 0.0::DOUBLE END,
        |    6) AS spam_score FROM hp)
        |SELECT doc_id, spam_score,
        |       contains(hp, 'adult') OR spam_score >= 1.0 AS blocked
        |FROM sc""".stripMargin,
    "x30_pii_redact" ->
      """WITH inj AS (SELECT doc_id, text || CASE
        |    WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
        |    WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 ssn 123-45-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phone
        |  FROM inj)
        |SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS text_redacted,
        |  (n_email > 0 OR n_ipv4 > 0 OR n_ssn > 0 OR n_phone > 0) AS has_pii
        |FROM c""".stripMargin,
    "x36_html_clean" ->
      """WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN '<div class="w"><script type="text/js">var a = 1 < 2;'
        |         || '</script><!-- c --><p>' || text
        |         || ' &amp; tail&nbsp;bits</p></div>'
        |    ELSE text END AS text FROM documents),
        |c AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(text,
        |              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?s)<[^>]+>', ' ', 'g'),
        |      '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', ''''),
        |    '\s+', ' ', 'g')) AS text_clean
        |  FROM inj)
        |SELECT doc_id, text_clean, CAST(length(text) AS INT) AS n_chars_raw,
        |       CAST(length(text_clean) AS INT) AS n_chars_clean,
        |       CAST(length(text) - length(text_clean) AS DOUBLE)
        |         / length(text) AS removed_frac
        |FROM c""".stripMargin,
    // positioned-shingle replay: pos = 0-based 3-gram start; islands
    // run-merge via pos - row_number, min doc-count per run — the
    // exact position algebra the Scala side executes
    "x75_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM t)),
        |g AS (SELECT h, count(*) AS n_docs
        |      FROM (SELECT DISTINCT doc_id, h FROM p) GROUP BY 1
        |      HAVING count(*) >= 2),
        |r AS (SELECT p.doc_id, p.pos, g.n_docs,
        |        p.pos - row_number()
        |          OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS grp
        |      FROM p JOIN g USING (h))
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |       CAST(max(pos) + 2 AS INT) AS span_end,
        |       CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(min(n_docs) AS BIGINT) AS n_docs_sharing
        |FROM r GROUP BY doc_id, grp""".stripMargin,
    // excision replay: owner = min doc_id per shared hash; covered
    // positions = excisable starts fanned out over the n-gram width;
    // kept tokens anti-join the cover and re-join ordered by position
    "x78_span_excision" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM t)),
        |g AS (SELECT h, count(*) AS n_docs, min(doc_id) AS owner
        |      FROM (SELECT DISTINCT doc_id, h FROM p) GROUP BY 1
        |      HAVING count(*) >= 2),
        |e AS (SELECT p.doc_id, p.pos FROM p JOIN g USING (h)
        |      WHERE p.doc_id <> g.owner),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS cp
        |        FROM (SELECT doc_id, pos,
        |                unnest(generate_series(0, 2)) AS j
        |              FROM e)),
        |tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |       FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS i
        |             FROM t)),
        |k AS (SELECT tk.doc_id, tk.pos, tk.tok
        |      FROM tk LEFT JOIN cov
        |        ON tk.doc_id = cov.doc_id AND tk.pos = cov.cp
        |      WHERE cov.cp IS NULL),
        |agg AS (SELECT doc_id,
        |          string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |          count(*) AS n_kept
        |        FROM k GROUP BY 1)
        |SELECT t.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT)
        |         AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    // intra-doc replay: repeat = any start after the per-(doc, hash)
    // minimum; same cover/anti-join/rebuild tail as x78
    "x80_self_repeat_excision" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM t)),
        |r AS (SELECT doc_id, pos FROM (
        |        SELECT doc_id, pos,
        |               min(pos) OVER (PARTITION BY doc_id, h) AS f
        |        FROM p) WHERE pos > f),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS cp
        |        FROM (SELECT doc_id, pos,
        |                unnest(generate_series(0, 2)) AS j
        |              FROM r)),
        |tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |       FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS i
        |             FROM t)),
        |k AS (SELECT tk.doc_id, tk.pos, tk.tok
        |      FROM tk LEFT JOIN cov
        |        ON tk.doc_id = cov.doc_id AND tk.pos = cov.cp
        |      WHERE cov.cp IS NULL),
        |agg AS (SELECT doc_id,
        |          string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |          count(*) AS n_kept
        |        FROM k GROUP BY 1)
        |SELECT t.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT)
        |         AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,

    "x37_dup_ngram_frac" ->
      s"""$shinglesCte,
        |d AS (SELECT DISTINCT doc_id, md5(s) AS h
        |      FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
        |g AS (SELECT h, count(*) AS n_docs FROM d GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared,
        |       round(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*), 4) AS dup_frac
        |FROM d JOIN g USING (h) GROUP BY 1""".stripMargin,
    "x38_source_divergence" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |ps AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
        |       FROM tok GROUP BY 1, 2),
        |g AS (SELECT tok, sum(c) AS cg FROM ps GROUP BY 1),
        |st AS (SELECT source, sum(c) AS ts FROM ps GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM ps),
        |pq AS (SELECT ps.source, st.ts, ps.c / st.ts AS p, g.cg / tot.t AS q
        |       FROM ps JOIN g USING (tok) JOIN st USING (source)
        |            CROSS JOIN tot)
        |SELECT source, CAST(ts AS BIGINT) AS n_tokens,
        |       round(0.5 * sum(p * ln(2 * p / (p + q)))
        |           + 0.5 * (sum(q * ln(2 * q / (p + q)))
        |                    + (1 - sum(q)) * ln(2)), 6) AS js_div
        |FROM pq GROUP BY source, ts""".stripMargin,
    "x43_dataset_card" ->
      """WITH t AS (SELECT source, len(string_split(text, ' ')) AS n
        |           FROM documents),
        |mix AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(n) AS BIGINT) AS n_tokens
        |        FROM t GROUP BY 1),
        |tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |ps AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
        |       FROM tok GROUP BY 1, 2),
        |g AS (SELECT tok, sum(c) AS cg FROM ps GROUP BY 1),
        |st AS (SELECT source, sum(c) AS ts FROM ps GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM ps),
        |pq AS (SELECT ps.source, ps.c / st.ts AS p, g.cg / tot.t AS q
        |       FROM ps JOIN g USING (tok) JOIN st USING (source)
        |            CROSS JOIN tot),
        |js AS (SELECT source,
        |         round(0.5 * sum(p * ln(2 * p / (p + q)))
        |             + 0.5 * (sum(q * ln(2 * q / (p + q)))
        |                      + (1 - sum(q)) * ln(2)), 6) AS js_div
        |       FROM pq GROUP BY 1),
        |psl AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |v AS (SELECT tok FROM (SELECT tok, sum(c) AS cg FROM psl GROUP BY 1)
        |      ORDER BY cg DESC, tok ASC LIMIT 1000),
        |oov AS (SELECT source,
        |          round(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END)::DOUBLE
        |                / sum(c), 6) AS oov_rate
        |        FROM psl LEFT JOIN v ON psl.tok = v.tok GROUP BY 1),
        |fps AS (SELECT source,
        |          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |        FROM documents),
        |fg AS (SELECT fp, count(*) AS n FROM fps GROUP BY 1),
        |dup AS (SELECT source,
        |          round(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE
        |                / count(*), 6) AS exact_dup_share
        |        FROM fps JOIN fg USING (fp) GROUP BY 1)
        |SELECT mix.source, n_docs, n_tokens,
        |       n_tokens / CAST((SELECT sum(n_tokens) FROM mix) AS BIGINT)
        |         AS tok_share,
        |       js_div, oov_rate, exact_dup_share
        |FROM mix JOIN js ON mix.source = js.source
        |         JOIN oov ON mix.source = oov.source
        |         JOIN dup ON mix.source = dup.source""".stripMargin,
    "x44_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, tok AS term,
        |         round(tf * ln(n.n::DOUBLE / df), 6) AS score
        |       FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
        |SELECT doc_id, term, score, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, term ASC) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin,
    "x42_vocab_coverage" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |ps AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |v AS (SELECT tok FROM (SELECT tok, sum(c) AS cg FROM ps GROUP BY 1)
        |      ORDER BY cg DESC, tok ASC LIMIT 1000)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       round(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END)::DOUBLE
        |             / sum(c), 6) AS oov_rate
        |FROM ps LEFT JOIN v ON ps.tok = v.tok GROUP BY 1""".stripMargin,
    "x39_curriculum_rank" ->
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC)
        |            AS BIGINT) AS rank
        |FROM documents""".stripMargin,
    // same two-round LCG mod 2^31-1; the oracle's window-per-shard is
    // the semantic spec the globalRank + broadcast-offset plan equals
    "x79_shard_assign" ->
      """WITH h AS (SELECT doc_id,
        |        (doc_id * 2654435761 + 1013904223) % 2147483647 AS h1
        |      FROM documents),
        |s AS (SELECT doc_id,
        |        (h1 * 1597334677 + 12345) % 2147483647 AS hv
        |      FROM h)
        |SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY hv % 8
        |              ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos_in_shard
        |FROM s""".stripMargin,
    // same hash; round = rank within (shard, source), serving order =
    // (round, source) rotation within the shard
    "x84_interleaved_order" ->
      """WITH h AS (SELECT doc_id, source,
        |        (doc_id * 2654435761 + 1013904223) % 2147483647 AS h1
        |      FROM documents),
        |s AS (SELECT doc_id, source,
        |        (h1 * 1597334677 + 12345) % 2147483647 AS hv
        |      FROM h),
        |r AS (SELECT doc_id, source, CAST(hv % 8 AS INT) AS shard, hv,
        |        row_number() OVER (PARTITION BY hv % 8, source
        |          ORDER BY hv, doc_id) - 1 AS rnd
        |      FROM s)
        |SELECT doc_id, source, shard, CAST(rnd AS BIGINT) AS round,
        |       CAST(row_number() OVER (PARTITION BY shard
        |              ORDER BY rnd, source, doc_id) - 1 AS BIGINT)
        |         AS pos_in_shard
        |FROM r""".stripMargin,
    "x31_quality_model" ->
      """WITH w AS (SELECT g AS bucket,
        |    CAST(CAST('0x' || substr(md5(CAST(g AS VARCHAR) || 'graft-qm'), 1, 8)
        |           AS UBIGINT) AS DOUBLE) / 2147483648.0 - 1.0 AS w
        |  FROM generate_series(0, 1023) t(g)),
        |b AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) % 1024 AS bucket
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |s AS (SELECT doc_id, round(sum(w.w) / count(*), 4) AS score
        |      FROM b JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT doc_id, score, score > 0 AS keep FROM s""".stripMargin,
    "x32_cross_source_dups" ->
      """WITH t AS (SELECT doc_id, lang,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents),
        |p AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         len(list_filter(a.toks, x -> list_contains(b.toks, x)))
        |         / (len(a.toks) + len(b.toks)
        |            - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
        |           AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.8)
        |SELECT least(da.source, db.source) AS source_1,
        |       greatest(da.source, db.source) AS source_2,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p JOIN documents da ON p.a = da.doc_id
        |       JOIN documents db ON p.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "x33_token_zipf" ->
      """WITH tf AS (SELECT tok, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1)
        |SELECT CAST(length(CAST(freq AS VARCHAR)) AS INT) AS freq_digits,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(freq) AS BIGINT) AS n_occurrences
        |FROM tf GROUP BY 1""".stripMargin,
    "x34_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |uni AS (SELECT tok, count(*) AS c1 FROM (
        |          SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bi
        |       FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bi, count(*) AS c2 FROM bg GROUP BY 1),
        |m AS (SELECT bi, ln(CAST(c2 AS DOUBLE) / c1) AS log_p
        |      FROM bc JOIN uni ON string_split(bi, ' ')[1] = uni.tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(sum(log_p) / count(*), 4) AS lm_score
        |FROM bg JOIN m USING (bi) GROUP BY 1""".stripMargin,
    "st4_ingest_neardup" -> st4Sql,
    "x20_dup_clusters" -> x20Sql,
    "x20b_dup_clusters_lsh" -> x20bSql,
    // merge(saved, Δ) must equal recompute over ALL pairs — the
    // equivalence is the point, so the oracle is x20b's full-recompute
    // SQL verbatim
    "x77_cluster_merge" -> x20bSql,
    "x25_cluster_keepers" -> x25Sql,
    "x26_stratified_sample" -> x26Sql,
    "x27_cluster_sigs" -> x27Sql,
    "x28_curation_pipeline" -> x28Sql,
    "x29_rare_tokens" ->
      """WITH dt AS (SELECT doc_id,
        |              unnest(list_distinct(string_split(text, ' '))) AS tok
        |            FROM documents),
        |df AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hapax,
        |       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / count(*)
        |         AS hapax_ratio
        |FROM dt JOIN df USING (tok) GROUP BY 1""".stripMargin,
    "x22_semantic_prune" -> x22Sql,
    "x100_kmeans" -> x100Sql,
    "x101_cluster_prototypes" -> x101Sql,
    "st14_cluster_route_gate" -> st14Sql,
    "x21_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(max(c) AS BIGINT) AS top_c,
        |              CAST(count(*) AS BIGINT) AS n_distinct
        |       FROM tc GROUP BY 1),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1])) AS bi
        |       FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bi, count(*) AS c FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |              CAST(max(c) AS BIGINT) AS top_bc FROM bc GROUP BY 1)
        |SELECT ts.doc_id, n_tokens,
        |       top_c / n_tokens AS top_token_frac,
        |       n_distinct / n_tokens AS distinct_ratio,
        |       coalesce(top_bc / n_bigrams, 0.0) AS top_bigram_frac
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id""".stripMargin,
    "x23_source_mix" ->
      """WITH t AS (SELECT source, len(string_split(text, ' ')) AS n
        |           FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n) AS BIGINT) AS n_tokens
        |      FROM t GROUP BY 1)
        |SELECT source, n_docs, n_tokens,
        |       n_tokens / CAST((SELECT sum(n_tokens) FROM g) AS BIGINT)
        |         AS tok_share
        |FROM g""".stripMargin,
    "x24_contamination_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |              ELSE list_transform(generate_series(1, len(toks) - 4),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                     || ' ' || toks[i+3] || ' ' || toks[i+4])
        |         END AS sh FROM t),
        |tr AS (SELECT DISTINCT doc_id, s FROM (
        |         SELECT doc_id, unnest(sh) AS s FROM sh
        |         WHERE doc_id % 97 <> 0)),
        |be AS (SELECT DISTINCT s FROM (
        |         SELECT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0)),
        |j AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |             CAST(sum(CASE WHEN be.s IS NOT NULL THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS n_shared
        |      FROM tr LEFT JOIN be ON tr.s = be.s GROUP BY 1)
        |SELECT doc_id, n_shingles, n_shared,
        |       n_shared / n_shingles AS overlap_frac
        |FROM j WHERE n_shared > 0""".stripMargin,
    "x3_minhash_lsh_pairs" -> x3Sql,
    "x7_ann_lsh" -> x7Sql,
    "x40_rp_ann" -> x40Sql,
    "x41_pq_ann" -> x41Sql,
    "x17_ann_ivf" -> x17Sql,
    "st10_embedding_ingest_gate" -> st10Sql,
    "x81_bpe_train" -> x81Sql,
    "x82_bpe_encode" -> x82Sql,
    // per-(label, dim) mean sums each side, packed centroid lists,
    // sequential-fold cosine (the x69 list_sum parity)
    "x92_embedding_drift" ->
      """WITH o AS (SELECT label, i AS pos,
        |             sum(embedding[i]::DOUBLE) AS s, count(*) AS c
        |           FROM (SELECT label, embedding,
        |                   unnest(generate_series(1, 64)) AS i
        |                 FROM embeddings WHERE vec_id % 2 = 0)
        |           GROUP BY 1, 2),
        |oc AS (SELECT label, max(c) AS n_old,
        |              list(s / c ORDER BY pos) AS cv FROM o GROUP BY 1),
        |n AS (SELECT label, i AS pos,
        |             sum(embedding[i]::DOUBLE) AS s, count(*) AS c
        |           FROM (SELECT label, embedding,
        |                   unnest(generate_series(1, 64)) AS i
        |                 FROM embeddings WHERE vec_id % 2 = 1)
        |           GROUP BY 1, 2),
        |nc AS (SELECT label, max(c) AS n_new,
        |              list(s / c ORDER BY pos) AS cv FROM n GROUP BY 1)
        |SELECT oc.label, CAST(oc.n_old AS BIGINT) AS n_old,
        |       CAST(nc.n_new AS BIGINT) AS n_new,
        |       round(list_sum(list_transform(generate_series(1, 64),
        |               i -> oc.cv[i] * nc.cv[i]))
        |         / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |               i -> oc.cv[i] * oc.cv[i])))
        |            * sqrt(list_sum(list_transform(generate_series(1, 64),
        |               i -> nc.cv[i] * nc.cv[i])))), 6) AS centroid_cos
        |FROM oc JOIN nc USING (label)""".stripMargin,
    // sequential-fold list_sum parity (the x69 idiom); round() on
    // non-negative scaled values is half-up in both engines
    "x85_quantization_audit" ->
      """WITH d AS (SELECT i AS pos, min(embedding[i]::DOUBLE) AS mn,
        |                  max(embedding[i]::DOUBLE) AS mx
        |  FROM (SELECT embedding, unnest(generate_series(1, 64)) AS i
        |        FROM embeddings) GROUP BY 1),
        |a AS (SELECT list(mn ORDER BY pos) AS mns,
        |             list(mx ORDER BY pos) AS mxs FROM d),
        |e AS (SELECT vec_id,
        |  list_transform(generate_series(1, 64), i ->
        |    embedding[i]::DOUBLE - (CASE WHEN mxs[i] = mns[i] THEN mns[i]
        |      ELSE mns[i] + round((embedding[i]::DOUBLE - mns[i]) * 255
        |             / (mxs[i] - mns[i])) * (mxs[i] - mns[i]) / 255
        |      END)) AS errs
        |  FROM embeddings CROSS JOIN a)
        |SELECT vec_id,
        |  round(list_sum(list_transform(errs, x -> x * x)) / 64, 6) AS mse,
        |  round(list_max(list_transform(errs, x -> abs(x))), 6)
        |    AS max_abs_err
        |FROM e""".stripMargin,
    // same md5-bucket algebra as x31; add-1 smoothing over 1024 buckets
    "x83_dsir_weights" ->
      s"""$dsirCtes
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(sum(m.lr), 6) AS weight
        |FROM dk JOIN m USING (bucket) GROUP BY 1""".stripMargin,
    "x95_quality_train" -> x95Sql,
    "x96_trained_quality" -> x96Sql,
    // batch replay of the gate: same per-doc scores, partitioned by
    // doc_id % 3, kept above the x96 threshold
    "st13_trained_qm_gate" -> (qtrainCtes("") + s""",
      |sc AS (SELECT doc_id,
      |         CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) % 64
      |           AS bucket
      |       FROM tk),
      |scored AS (SELECT s.doc_id,
      |             round(sum(w.w) / count(*), 4) AS score
      |           FROM sc s JOIN w$qtrainRounds w USING (bucket)
      |           GROUP BY 1)
      |SELECT CAST(doc_id % 3 AS INT) AS batch_id, doc_id, score
      |FROM scored
      |WHERE score > (SELECT sum(w.w) / count(*)
      |               FROM sc s JOIN w$qtrainRounds w USING (bucket))"""
      .stripMargin),
    "x97_model_eval" -> x97Sql,
    // the three-batch gate replay partitions the same per-doc scores by
    // doc_id % 3 and keeps the target-like slice (threshold -2.0: the
    // synthetic corpus shares one vocabulary across langs, so weights
    // sit near -2.5 with the en slice highest — the cut keeps the
    // deterministic top slice rather than an empty gate)
    "st11_dsir_gate" ->
      s"""$dsirCtes
        |SELECT CAST(doc_id % 3 AS INT) AS batch_id, doc_id,
        |       round(sum(m.lr), 6) AS weight
        |FROM dk JOIN m USING (bucket) GROUP BY doc_id
        |HAVING round(sum(m.lr), 6) > -2.0""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |       min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "x2_minhash_sig" ->
      s"""$shinglesCte
         |SELECT doc_id, ${duckMinhash(0)} AS s0, ${duckMinhash(1)} AS s1,
         |       ${duckMinhash(2)} AS s2, ${duckMinhash(3)} AS s3
         |FROM sh""".stripMargin,
    "x4_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, lang,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT a, b, jaccard FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         len(list_filter(a.toks, x -> list_contains(b.toks, x)))
        |         / (len(a.toks) + len(b.toks)
        |            - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
        |           AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    // estimated jaccard = matching md5-minhash lanes / 8 over the
    // exact-verified pair set (pairs replayed by the x4 predicate)
    "x47_minhash_estimate" -> {
      val sigCols = (0 until 8).map(i => s"${duckMinhash(i)} AS s$i")
        .mkString(",\n        |       ").stripMargin
      val match8 = (0 until 8)
        .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, lang,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents),
        |p AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         len(list_filter(a.toks, x -> list_contains(b.toks, x)))
        |         / (len(a.toks) + len(b.toks)
        |            - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
        |           AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.8),
        |sh AS (SELECT doc_id, string_split(text, ' ') AS sh FROM documents),
        |sig AS (SELECT doc_id,
        |       $sigCols
        |        FROM sh)
        |SELECT p.a, p.b, round(($match8) / 8.0, 4) AS est_jaccard
        |FROM p JOIN sig sa ON p.a = sa.doc_id
        |       JOIN sig sb ON p.b = sb.doc_id""".stripMargin
    },
    // md5-deterministic HyperLogLog: the oracle replays bucket, rho,
    // register max AND the estimate float arithmetic (Σ in bucket
    // order, 2^-r exact in a double) — bit-identical to HllKernel
    "x48_hll_vocab" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dt AS (SELECT DISTINCT source, tok FROM tok),
        |p AS (SELECT source, md5(tok) AS h,
        |        len(regexp_extract(substr(md5(tok), 3, 12), '^0*')) AS z
        |      FROM dt),
        |r AS (SELECT source,
        |        (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
        |        max(4 * z
        |          + CASE WHEN z = 12 THEN 0
        |                 WHEN substr(h, 3 + z, 1) = '1' THEN 3
        |                 WHEN substr(h, 3 + z, 1) IN ('2', '3') THEN 2
        |                 WHEN substr(h, 3 + z, 1) IN ('4', '5', '6', '7') THEN 1
        |                 ELSE 0 END + 1) AS rho
        |      FROM p GROUP BY 1, 2),
        |grid AS (SELECT s.source, gs.j AS bucket
        |         FROM (SELECT DISTINCT source FROM documents) s
        |         CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS j) gs),
        |fullr AS (SELECT g.source, g.bucket, coalesce(r.rho, 0) AS rho
        |          FROM grid g
        |          LEFT JOIN r ON g.source = r.source AND g.bucket = r.bucket),
        |agg AS (SELECT source,
        |          list_sum(list_transform(list(rho ORDER BY bucket),
        |            x -> power(2::DOUBLE, -x))) AS s,
        |          len(list_filter(list(rho ORDER BY bucket),
        |            x -> x = 0)) AS v
        |        FROM fullr GROUP BY 1),
        |est AS (SELECT source,
        |          0.7213::DOUBLE / (1::DOUBLE + 1.079::DOUBLE / 256)
        |            * 256 * 256 / s AS raw, v
        |        FROM agg),
        |ex AS (SELECT source, count(DISTINCT tok) AS n_exact
        |       FROM tok GROUP BY 1)
        |SELECT est.source,
        |       round(CASE WHEN raw <= 2.5::DOUBLE * 256 AND v > 0
        |                  THEN 256 * ln(256::DOUBLE / v) ELSE raw END, 4)
        |         AS est_vocab,
        |       ex.n_exact
        |FROM est JOIN ex ON est.source = ex.source""".stripMargin,
    // round-6 BEFORE the rank cut + bigram tiebreak → the top-20 set
    // is engine-portable despite the ln
    "x49_pmi_collocations" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |bi AS (SELECT unnest(list_transform(
        |                generate_series(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |       FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bigram, count(*) AS c12 FROM bi GROUP BY 1),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM bi)
        |SELECT split_part(bigram, ' ', 1) AS w1,
        |       split_part(bigram, ' ', 2) AS w2,
        |       CAST(c12 AS BIGINT) AS c12,
        |       round(ln((c12 * n) / (u1.c * u2.c)), 6) AS pmi
        |FROM bc
        |JOIN uc u1 ON split_part(bigram, ' ', 1) = u1.tok
        |JOIN uc u2 ON split_part(bigram, ' ', 2) = u2.tok
        |CROSS JOIN tot
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, bigram ASC
        |LIMIT 20""".stripMargin,
    "x50_char_entropy" ->
      """SELECT doc_id,
        |       round(-sum((c / n) * ln(c / n)), 6) AS entropy
        |FROM (SELECT doc_id, n, ch, count(*) AS c
        |      FROM (SELECT doc_id, len(text) AS n,
        |              unnest(string_split_regex(text, '')) AS ch
        |            FROM documents)
        |      GROUP BY 1, 2, 3)
        |GROUP BY doc_id, n""".stripMargin,
    // the oracle replays the heap operator's contract as the window
    // form it replaces (total order via the doc_id tiebreak)
    "x51_topk_per_key" ->
      """SELECT doc_id, lang, CAST(len AS INT) AS len FROM (
        |  SELECT doc_id, lang, length(text) AS len,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY length(text) DESC, doc_id ASC)
        |           AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin,
    // CMS prefilter never underestimates → same exact rows as the
    // naive aggregation (the Bloom-pair exactness pattern, x35)
    "x46_heavy_hitters" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY 1 HAVING count(*) >= 500""".stripMargin,
    "x45_containment_pairs" ->
      """WITH t AS (SELECT doc_id, lang,
        |             list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents)
        |SELECT a, b, containment FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         len(list_filter(a.toks, x -> list_contains(b.toks, x)))
        |         / least(len(a.toks), len(b.toks)) AS containment
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |WHERE containment >= 0.9""".stripMargin,
    // containment via the |A∩B| = J/(1+J)·(|A|+|B|) identity over the
    // x3 pair CTE — arithmetic mirrored operation-for-operation so the
    // IEEE doubles agree bit-for-bit with the Spark expression
    "x45b_containment_lsh" ->
      s"""WITH $x3PairsCte,
         |cp AS (SELECT a, b,
         |         jaccard / (1.0 + jaccard) * (ea.sz + eb.sz)
         |           / least(ea.sz, eb.sz) AS containment
         |       FROM vp JOIN enc ea ON vp.a = ea.doc_id
         |               JOIN enc eb ON vp.b = eb.doc_id)
         |SELECT a, b, containment FROM cp
         |WHERE containment >= 0.9""".stripMargin,
    "x5_simhash" ->
      s"""$toksCte
         |SELECT doc_id, CAST($simhashBits AS INT) AS simhash FROM t""".stripMargin,
    "x5b_simhash_buckets" ->
      s"""$toksCte,
         |fp AS (SELECT doc_id, CAST($simhashBits AS INT) AS simhash FROM t)
         |SELECT simhash, min(doc_id) AS keep_id,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM fp GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "x6_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings
         |           WHERE vec_id < 8),
         |cs AS (SELECT vec_id AS c_id, embedding AS c FROM embeddings
         |       WHERE vec_id >= 8),
         |scored AS (
         |  SELECT q_id, c_id,
         |         round($duckDot / (${duckNorm("q")} * ${duckNorm("c")}), 6)
         |           AS score
         |  FROM q CROSS JOIN cs)
         |SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY score DESC, c_id ASC) AS rank
         |  FROM scored) WHERE rank <= 10""".stripMargin,
    "x112_media_probe" ->
      """SELECT doc_id AS media_id, 'mp3-frames' AS codec,
        |  CAST(3 + doc_id % 4 AS BIGINT) AS n_frames,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |       ELSE 32000 END AS INT) AS sample_rate,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 160 WHEN 1 THEN 192
        |       WHEN 2 THEN 224 WHEN 3 THEN 256 ELSE 320 END AS INT)
        |    AS bitrate_kbps,
        |  CAST((3 + doc_id % 4) * 1152 AS BIGINT) AS n_samples
        |FROM documents""".stripMargin,
    // the decoded-PCM stats must equal the closed form of the signal
    // the FLAC encoder was fed — the lossless contract as an oracle
    // row (range join replays t = 0..n-1 per doc; 2560 = max n)
    "x113_flac_audio" ->
      """WITH params AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 32000 WHEN 1 THEN 44100
        |         ELSE 48000 END AS sr,
        |    1024 + 512 * (doc_id % 4) AS n,
        |    2 + (doc_id % 5) AS a,
        |    doc_id % 7 AS b
        |  FROM documents),
        |g AS (SELECT t FROM range(0, 2560) r(t)),
        |v AS (SELECT p.doc_id, p.sr, p.n,
        |        ((g.t * p.a + p.b) % 2001) - 1000 AS v
        |      FROM params p JOIN g ON g.t < p.n)
        |SELECT doc_id AS media_id, CAST(sr AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS pcm_sum,
        |  CAST(min(v) AS INT) AS pcm_min, CAST(max(v) AS INT) AS pcm_max
        |FROM v GROUP BY 1, 2, 3""".stripMargin,
    // every field recomputed closed-form from doc_id, payload included
    // (md5 over the identical ASCII string) — the WARC walk must
    // invert the writer exactly, through plain AND gzip layouts
    "x114_warc_records" ->
      """WITH recs AS (SELECT doc_id, t AS j
        |  FROM documents, range(0, 3) r(t)
        |  WHERE t < 1 + doc_id % 3)
        |SELECT doc_id AS file_id, CAST(j AS INT) AS rec_index,
        |  CASE j % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |       ELSE 'metadata' END AS warc_type,
        |  'http://site' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.example.com/doc/' || CAST(doc_id AS VARCHAR) || '/'
        |    || CAST(j AS VARCHAR) AS target_uri,
        |  '2026-08-0' || CAST(1 + j AS VARCHAR) || 'T00:00:00Z'
        |    AS warc_date,
        |  CAST(length('content-' || CAST(doc_id AS VARCHAR) || '-'
        |    || CAST(j AS VARCHAR) || '-'
        |    || repeat('x', CAST((doc_id + j) % 50 AS INT))) AS BIGINT)
        |    AS content_length,
        |  md5('content-' || CAST(doc_id AS VARCHAR) || '-'
        |    || CAST(j AS VARCHAR) || '-'
        |    || repeat('x', CAST((doc_id + j) % 50 AS INT)))
        |    AS payload_md5
        |FROM recs""".stripMargin,
    // the whole WARC → strip → canonicalize composition checked
    // against an INDEPENDENT closed-form derivation of what the
    // canonical URL and cleaned text must come out as (only j = 0
    // records are responses; requests are chaff proving the filter)
    "x115_crawl_ingest" ->
      """WITH expect AS (SELECT doc_id,
        |  'http://site' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.example.com/Doc/' || CAST(doc_id AS VARCHAR)
        |    || '/0?ref=0' AS url_canon,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || '/0 crawl body '
        |    || CAST(doc_id AS VARCHAR) || ' 0 '
        |    || CASE WHEN doc_id % 20 = 0 THEN ''
        |            ELSE repeat('w', CAST(doc_id % 20 AS INT)) || ' '
        |       END
        |    || '& tail more' AS text_clean
        |  FROM documents)
        |SELECT doc_id AS file_id, CAST(0 AS INT) AS rec_index,
        |  url_canon, text_clean,
        |  CAST(length(text_clean) AS INT) AS n_chars_clean
        |FROM expect""".stripMargin,
    // mdat×8 over the audio duration: the sr term cancels
    // (nAudio = sr·(1+id%3)/4), leaving mdat·32/(1+id%3)/1000 — no
    // half-way rounding ties exist in the lattice (parity argument)
    "x116_mp4_probe" ->
      """SELECT doc_id AS media_id, 'mp4-boxes' AS codec,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 10 + doc_id % 7
        |       ELSE 3 + doc_id % 5 END AS BIGINT) AS n_frames,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       ELSE 32000 END AS INT) AS sample_rate,
        |  CAST(round((200 + doc_id % 100) * 32.0
        |    / (1 + doc_id % 3) / 1000.0) AS INT) AS bitrate_kbps,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 2000 WHEN 1 THEN 8000
        |       ELSE 24000 END AS BIGINT) AS n_samples
        |FROM documents""".stripMargin,
    // the canonical URL is closed-form ((id%5, id%40) lattice after
    // scheme/host lowering + www/utm drops), so the whole
    // WARC→canonicalize→novelty composition checks against an
    // independent derivation
    "st16_warc_frontier_gate" ->
      """WITH d AS (SELECT doc_id, doc_id % 5 AS s, doc_id % 40 AS m
        |           FROM documents),
        |seen AS (SELECT DISTINCT s, m FROM d WHERE doc_id % 7 <> 0)
        |SELECT d.doc_id,
        |  'http://site' || CAST(d.s AS VARCHAR) || '.example.com/p/'
        |    || CAST(d.m AS VARCHAR) AS url_canon,
        |  seen.s IS NULL AS novel
        |FROM d LEFT JOIN seen ON d.s = seen.s AND d.m = seen.m
        |WHERE d.doc_id % 7 = 0""".stripMargin,
    // expected rules derived independently: exclusive §2.2.1 group
    // selection — id%4=1 hosts have a STANDALONE graftbot group, so
    // ONLY its rule applies (the * group drops); id%4=0 hosts put
    // graftbot in the same RUN as * (one group — same rules as the
    // plain-* hosts); the evilbot group, the empty Disallow/Allow,
    // and the Crawl-delay line never contribute
    "x117_robots_parse" ->
      """SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
        |       '/gbot-only' AS path_prefix, FALSE AS allow
        |FROM documents WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com',
        |       '/private/' || CAST(doc_id % 7 AS VARCHAR),
        |       FALSE
        |FROM documents WHERE doc_id % 4 <> 1
        |UNION ALL
        |SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com',
        |       '/private/' || CAST(doc_id % 7 AS VARCHAR) || '/pub',
        |       TRUE
        |FROM documents WHERE doc_id % 4 <> 1
        |UNION ALL
        |SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com',
        |       '/tmp', FALSE
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 4 <> 1
        |UNION ALL
        |SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com',
        |       '/*.zip$', FALSE
        |FROM documents WHERE doc_id % 5 = 0 AND doc_id % 4 <> 1""".stripMargin,
    // the IVF probe algebra replayed (x17's oracle with bench/train
    // WHEREs), then the same tau filter and per-train best-match rank
    "x124_semantic_decontam" -> {
      def dot(a: String, b: String): String =
        s"list_sum(list_transform(generate_series(1, 64), " +
          s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
      def cos(a: String, b: String): String =
        s"round(${dot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}), 6)"
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings
         |           WHERE vec_id % 97 = 0),
         |cs AS (SELECT vec_id AS c_id, embedding AS c FROM embeddings
         |       WHERE vec_id % 97 <> 0),
         |cent AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings
         |         WHERE vec_id % 97 <> 0 ORDER BY vec_id ASC LIMIT 16),
         |asg AS (SELECT cell, c_id, c FROM (
         |  SELECT cent.cell, cs.c_id, cs.c,
         |         row_number() OVER (PARTITION BY cs.c_id
         |           ORDER BY ${cos("cs.c", "cent.cv")} DESC,
         |             cent.cell ASC) AS rk
         |  FROM cs CROSS JOIN cent) WHERE rk = 1),
         |pr AS (SELECT q_id, q, cell FROM (
         |  SELECT q.q_id, q.q, cent.cell,
         |         row_number() OVER (PARTITION BY q.q_id
         |           ORDER BY ${cos("q.q", "cent.cv")} DESC,
         |             cent.cell ASC) AS rk
         |  FROM q CROSS JOIN cent) WHERE rk <= 4),
         |scored AS (SELECT q_id, c_id, ${cos("q", "c")} AS score
         |           FROM pr JOIN asg USING (cell)),
         |hits AS (SELECT q_id, c_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, c_id ASC) AS rank FROM scored)
         |  WHERE rank <= 10 AND score >= 0.3)
         |SELECT c_id AS train_id, q_id AS bench_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c_id
         |    ORDER BY score DESC, q_id ASC) AS rk2 FROM hits)
         |WHERE rk2 = 1""".stripMargin
    },
    // expected discovery closed-form: every host declares its main
    // sitemap (the id%4 duplicate collapses), the id%3 leg adds a
    // news sitemap, the empty directive contributes nothing
    "x122_sitemap_discovery" ->
      """SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
        |  'http://h' || CAST(doc_id AS VARCHAR) ||
        |    '.example.com/sitemap.xml' AS sitemap_url
        |FROM documents
        |UNION ALL
        |SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com',
        |  'http://h' || CAST(doc_id AS VARCHAR) ||
        |    '.example.com/sitemap-news.xml'
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,
    // every expected entry row regenerated from the lattice: urlset
    // docs emit k = 0..(id%3) page locs (decoded &, trimmed, lastmod
    // only when (id+k) is even), index docs emit 2 child sitemaps,
    // id%11=3 docs (HTML error pages) emit one kind='unknown' row
    "x123_sitemap_entries" ->
      """WITH t(k) AS (VALUES (0), (1), (2), (3))
        |SELECT
        |  'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.example.com/sitemap' || CAST(doc_id AS VARCHAR) || '.xml'
        |    AS sitemap_url,
        |  CASE WHEN doc_id % 2 = 0 THEN 'urlset' ELSE 'index' END AS kind,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id AS VARCHAR) || '/' ||
        |      CAST(k AS VARCHAR) ||
        |      CASE WHEN doc_id % 7 = 0 THEN '?a=1&b=2' ELSE '' END
        |    ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.example.com/sitemap' || CAST(doc_id AS VARCHAR) || '-' ||
        |      CAST(k AS VARCHAR) || '.xml' END AS loc,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN (CASE WHEN (doc_id + k) % 2 = 0
        |          THEN '2026-01-0' || CAST(k + 1 AS VARCHAR) END)
        |    ELSE '2026-02-01' END AS lastmod
        |FROM documents CROSS JOIN t
        |WHERE doc_id % 11 <> 3
        |  AND ((doc_id % 2 = 0 AND k <= doc_id % 3)
        |    OR (doc_id % 2 = 1 AND k <= 1))
        |UNION ALL
        |SELECT
        |  'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.example.com/sitemap' || CAST(doc_id AS VARCHAR) || '.xml',
        |  'unknown', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |FROM documents WHERE doc_id % 11 = 3""".stripMargin,
    // expected delays closed-form: the evilbot group's 99 never
    // matches; id%7=0 hosts have an exclusive graftbot group → 2.25
    // alone (the * group drops); otherwise max(matched) = 10 when the
    // id%3 leg injects it, else the fractional (id%4).5; the
    // unparseable leg contributes nothing
    "x120_crawl_delay" ->
      """SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 2.25
        |       WHEN doc_id % 3 = 0 THEN 10.0
        |       ELSE (doc_id % 4) + 0.5 END AS DOUBLE) AS delay_sec
        |FROM documents""".stripMargin,
    // the cap + slot assignment re-derived with a plain ranking window
    // (the engine uses the TopKPerKey heap operator, same rows by the
    // total-order contract); delays closed-form from the host lattice
    "x121_politeness" ->
      """WITH c AS (SELECT doc_id, doc_id % 5 AS h FROM documents),
        |r AS (SELECT doc_id, h,
        |        row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |      FROM c)
        |SELECT doc_id,
        |  'http://site' || CAST(h AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) AS url_canon,
        |  'site' || CAST(h AS VARCHAR) || '.example.com' AS host,
        |  CAST(rn - 1 AS INT) AS slot,
        |  CAST(CASE WHEN h < 3 THEN h * 2 ELSE 1.5 END AS DOUBLE)
        |    AS delay_sec,
        |  ROUND((rn - 1) * CAST(CASE WHEN h < 3 THEN h * 2 ELSE 1.5 END
        |    AS DOUBLE), 6) AS eta_sec
        |FROM r WHERE rn <= 7""".stripMargin,
    // novelty re-derived via the same seen-CTE reduction as st16 (a
    // candidate is novel iff NO non-incoming doc shares its (host,
    // path, query) canonical combo); blocked re-derived closed-form
    // from the x119 precedence lattice over the RAW path+query match
    // target (round-17): every candidate carries '?id=', so the
    // anchored /*.zip$ rule matches NOTHING here — $ stops at the end
    // of the target, which includes the query (the no-query positive
    // anchor case lives in x119); fetch = novel AND NOT blocked
    "st17_frontier_policy_gate" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS h, doc_id % 5 AS p,
        |                  doc_id % 40 AS q
        |           FROM documents),
        |seen AS (SELECT DISTINCT h, p, q FROM d WHERE doc_id % 7 <> 0),
        |inc AS (SELECT * FROM d WHERE doc_id % 7 = 0)
        |SELECT inc.doc_id,
        |  'http://site' || CAST(inc.h AS VARCHAR) || '.example.com' ||
        |  CASE inc.p WHEN 0 THEN '/a/x' WHEN 1 THEN '/a/pub/x'
        |       WHEN 2 THEN '/b/file.zip' WHEN 3 THEN '/tt/z'
        |       ELSE '/ok' END || '?id=' || CAST(inc.q AS VARCHAR)
        |    AS url_canon,
        |  seen.h IS NULL AS novel,
        |  (inc.h <> 2 AND inc.p = 0) AS blocked,
        |  (seen.h IS NULL AND NOT (inc.h <> 2 AND inc.p = 0))
        |    AS fetch
        |FROM inc LEFT JOIN seen
        |  ON inc.h = seen.h AND inc.p = seen.p AND inc.q = seen.q""".stripMargin,
    // the reachable page set regenerated closed-form from the sitemap
    // tree lattice: every host reaches /p/0 (via its index or its
    // direct urlset), id%3 hosts add /private/x (robots-blocked),
    // id%6 hosts (even AND id%3 — idx2 is only reachable from idx)
    // add /deep; the id%5 self-cycle and the depth bound add NO rows —
    // a duplicate fetch or a lost branch breaks the compare
    "st18_sitemap_resolve" ->
      """WITH h AS (SELECT doc_id AS hid FROM documents),
        |p AS (SELECT hid, '/p/0' AS path, FALSE AS blocked FROM h
        |      UNION ALL
        |      SELECT hid, '/private/x', TRUE FROM h WHERE hid % 3 = 0
        |      UNION ALL
        |      SELECT hid, '/deep', FALSE FROM h WHERE hid % 6 = 0)
        |SELECT
        |  'http://h' || CAST(hid AS VARCHAR) || '.example.com' || path
        |    AS url,
        |  'http://h' || CAST(hid AS VARCHAR) || '.example.com' || path
        |    AS url_canon,
        |  NOT (hid % 7 = 0 AND path = '/p/0') AS novel,
        |  blocked,
        |  NOT (hid % 7 = 0 AND path = '/p/0') AND NOT blocked AS fetch
        |FROM p""".stripMargin,
    // the discovery→freshness composition mirrored: candidate lastmod
    // and the seen side's group-max both regenerated from the lattice
    "st20_sitemap_recrawl" ->
      """WITH d AS (SELECT doc_id, doc_id % 11 AS a, doc_id % 5 AS b,
        |  CASE WHEN doc_id % 4 <> 1 THEN '2026-02-' ||
        |    lpad(CAST((doc_id % 27) + 1 AS VARCHAR), 2, '0') END AS lm,
        |  '2026-02-' ||
        |    lpad(CAST((doc_id % 13) + 1 AS VARCHAR), 2, '0') AS sm
        |  FROM documents),
        |seen AS (SELECT a, b, max(sm) AS m FROM d
        |         WHERE doc_id % 2 = 0 AND a < 8 GROUP BY 1, 2)
        |SELECT
        |  'http://h' || CAST(d.doc_id AS VARCHAR) ||
        |    '.example.com/sitemap.xml' AS sitemap_url,
        |  'http://h' || CAST(d.a AS VARCHAR) || '.example.com/p/' ||
        |    CAST(d.b AS VARCHAR) AS url_canon,
        |  seen.a IS NULL AS novel,
        |  (seen.a IS NOT NULL AND d.lm IS NOT NULL AND d.lm > seen.m)
        |    AS updated,
        |  (seen.a IS NULL OR (d.lm IS NOT NULL AND d.lm > seen.m))
        |    AS fetch
        |FROM d LEFT JOIN seen ON d.a = seen.a AND d.b = seen.b""".stripMargin,
    // per-group freshness re-derived: the seen side's max(mod) per
    // (h,p,q) group (max ignores NULLs, like the index); updated =
    // seen ∧ candidate mod non-NULL ∧ (no known mod ∨ strictly newer)
    "st19_recrawl_gate" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS h, doc_id % 5 AS p,
        |                  doc_id % 40 AS q,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE '2026-01-' ||
        |         lpad(CAST((doc_id % 27) + 1 AS VARCHAR), 2, '0')
        |  END AS mod
        |  FROM documents),
        |seen AS (SELECT h, p, q, max(mod) AS m
        |         FROM d WHERE doc_id % 7 <> 0 GROUP BY 1, 2, 3)
        |SELECT inc.doc_id,
        |  'http://h' || CAST(inc.h AS VARCHAR) || '.example.com/p/' ||
        |    CAST(inc.p AS VARCHAR) || '?v=' || CAST(inc.q AS VARCHAR)
        |    AS url_canon,
        |  seen.h IS NULL AS novel,
        |  (seen.h IS NOT NULL AND inc.mod IS NOT NULL
        |    AND (seen.m IS NULL OR inc.mod > seen.m)) AS updated,
        |  (seen.h IS NULL OR (inc.mod IS NOT NULL
        |    AND (seen.m IS NULL OR inc.mod > seen.m))) AS fetch
        |FROM d inc LEFT JOIN seen
        |  ON inc.h = seen.h AND inc.p = seen.p AND inc.q = seen.q
        |WHERE inc.doc_id % 7 = 0""".stripMargin,
    // both link legs regenerated per doc, the seen slice and verdicts
    // re-derived: novelty via the id%13 crawl-slice CTE, blocked
    // closed-form from the path lattice (/abs/3 external, /r/1
    // internal)
    "st21_link_frontier" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'http://ext' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.example.com/abs/' || CAST(doc_id % 11 AS VARCHAR) ||
        |    '?q=' || CAST(doc_id % 40 AS VARCHAR) AS url,
        |    doc_id % 11 = 3 AS blocked
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.com/r/' || CAST(doc_id % 4 AS VARCHAR),
        |    doc_id % 4 = 1
        |  FROM documents),
        |seen AS (SELECT DISTINCT url FROM d WHERE doc_id % 13 <> 0),
        |inc AS (SELECT DISTINCT url, blocked FROM d WHERE doc_id % 13 = 0)
        |SELECT inc.url, inc.url AS url_canon,
        |  seen.url IS NULL AS novel, inc.blocked,
        |  (seen.url IS NULL AND NOT inc.blocked) AS fetch
        |FROM inc LEFT JOIN seen ON inc.url = seen.url""".stripMargin,
    // every expected link regenerated from the lattice: the absolute
    // and root-relative legs always, the ../ leg on even ids (resolved
    // to /up/k, fragment gone, inner markup stripped from the anchor),
    // the scheme-relative leg on id%3 (entity decoded), the
    // javascript: leg NEVER (dropped scheme), the empty-anchor
    // relative leg always (joined on the base directory)
    "x126_link_extract" ->
      """SELECT doc_id,
        |  'http://ext' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.example.com/abs' AS link_url, 'Ext' AS anchor
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/r/' || CAST(doc_id % 4 AS VARCHAR), 'Root'
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/up/' || CAST(doc_id % 6 AS VARCHAR), 'Up bold'
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'http://cdn.example.com/c?a=1&b=2', 'CDN'
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/dir' || CAST(doc_id % 3 AS VARCHAR) ||
        |  '/next' || CAST(doc_id % 9 AS VARCHAR) || '.html', ''
        |FROM documents""".stripMargin,
    // both cycles replayed with ranking windows: batch 1's per-host
    // fetch count × delay is batch 2's starting offset
    "x125_politeness_cycles" ->
      """WITH c AS (SELECT doc_id, doc_id % 5 AS h FROM documents),
        |dl AS (SELECT h, h / 2.0 + 0.5 AS delay_sec
        |       FROM (SELECT DISTINCT doc_id % 5 AS h FROM documents)),
        |b1 AS (SELECT doc_id, h,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |       FROM c WHERE doc_id % 2 = 0),
        |off AS (SELECT b1.h, max(rn) * delay_sec AS next_eta
        |        FROM b1 JOIN dl ON b1.h = dl.h GROUP BY b1.h, delay_sec),
        |b2 AS (SELECT doc_id, h,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id) - 1
        |           AS slot
        |       FROM c WHERE doc_id % 2 = 1)
        |SELECT b2.doc_id,
        |  'http://site' || CAST(b2.h AS VARCHAR) || '.example.com/p/' ||
        |    CAST(b2.doc_id AS VARCHAR) AS url_canon,
        |  'site' || CAST(b2.h AS VARCHAR) || '.example.com' AS host,
        |  CAST(slot AS INT) AS slot,
        |  delay_sec,
        |  round(coalesce(off.next_eta, 0) + slot * delay_sec, 6)
        |    AS eta_sec
        |FROM b2 JOIN dl ON b2.h = dl.h
        |LEFT JOIN off ON b2.h = off.h""".stripMargin,
    // the two surviving legs' multiplicities regenerated from the
    // lattice (the root-relative self-link never produces an edge):
    // every doc emits one h→ext link, the id%3 slice adds one h→cdn
    "x127_host_graph" ->
      """SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |         AS src_host,
        |       'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
        |         AS dst_host,
        |       count(*) AS cnt
        |FROM documents GROUP BY 1, 2
        |UNION ALL
        |SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com',
        |       'cdn.example.com', count(*)
        |FROM documents WHERE doc_id % 3 = 0 GROUP BY 1, 2""".stripMargin,
    // the exact integer recurrence unrolled 4 sweeps (prCte): floor
    // division everywhere, dangling mass spread uniformly — BIGINT
    // fixed-point, so the hash compare is exact by construction
    "x128_pagerank" ->
      (prCte + "\nSELECT node, r AS rank_micro FROM r4"),
    // anchor multiplicities regenerated from the lattice (the
    // empty-anchor leg never counts), then the same
    // (cnt DESC, anchor ASC) top-2 as a ranking window
    "x129_anchor_topk" ->
      """WITH l AS (
        |  SELECT 'http://t' || CAST(doc_id % 4 AS VARCHAR) ||
        |           '.example.com/x' AS link_url,
        |         'label' || CAST(doc_id % 3 AS VARCHAR) AS anchor
        |  FROM documents
        |  UNION ALL
        |  SELECT 'http://t' || CAST(doc_id % 4 AS VARCHAR) ||
        |           '.example.com/x', 'extra'
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT link_url, anchor, count(*) AS cnt
        |      FROM l GROUP BY 1, 2)
        |SELECT link_url, anchor, cnt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY link_url
        |            ORDER BY cnt DESC, anchor ASC) AS rk FROM c)
        |WHERE rk <= 2""".stripMargin,
    // the same hex-then-digit template fold over the regenerated path
    // lattice, then the two-level (host,template) → host rollup —
    // hexRunPat verbatim (RE2-compatible on purpose)
    "x131_url_traps" ->
      s"""WITH u AS (
        |  SELECT DISTINCT host, p,
        |    regexp_replace(regexp_replace(p,
        |        '${graft.ext.Web.hexRunPat}', 'H', 'g'),
        |      '[0-9]+', 'N', 'g') AS t
        |  FROM (
        |    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.example.com'
        |             AS host,
        |           '/cal/' || CAST(doc_id AS VARCHAR) AS p
        |    FROM documents
        |    UNION ALL
        |    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.example.com',
        |           '/page' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        |    UNION ALL
        |    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.example.com',
        |           '/about'
        |    FROM documents WHERE doc_id % 2 = 0
        |    UNION ALL
        |    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.example.com',
        |           '/s/' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |    FROM documents WHERE doc_id % 7 = 0
        |    UNION ALL
        |    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.example.com',
        |           '/S/' || upper(substr(md5(CAST(doc_id AS VARCHAR)), 1,
        |             12))
        |    FROM documents WHERE doc_id % 11 = 0
        |    UNION ALL
        |    SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.example.com',
        |           '/n/' || CASE WHEN doc_id % 2 = 0
        |             THEN lpad(CAST(doc_id AS VARCHAR), 10, '0')
        |             ELSE CAST(doc_id % 50 AS VARCHAR) END
        |    FROM documents
        |    UNION ALL
        |    SELECT 't.example.com',
        |           '/static/' || CAST(doc_id % 4 AS VARCHAR)
        |    FROM documents
        |  )
        |),
        |g AS (SELECT host, t, count(*) AS n FROM u GROUP BY 1, 2)
        |SELECT host, CAST(sum(n) AS BIGINT) AS n_urls,
        |       count(*) AS n_templates,
        |       CAST(max(n) AS BIGINT) AS worst_expansion,
        |       max(n) >= 100 AS trap
        |FROM g GROUP BY 1""".stripMargin,
    // the bounded hop walk unrolled: min-dst edge per source, three
    // chained left joins, resolved = the landing URL has no out-edge
    "x132_redirects" ->
      """WITH e0 AS (
        |  SELECT 'http://r.example.com/u/' || CAST(doc_id AS VARCHAR)
        |           AS src,
        |         'http://r.example.com/u/' || CAST(doc_id + 1 AS VARCHAR)
        |           AS dst
        |  FROM documents WHERE doc_id % 4 <> 3
        |  UNION ALL
        |  SELECT 'http://r.example.com/u/' || CAST(doc_id AS VARCHAR),
        |         'http://r.example.com/x'
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'http://c.example.com/a', 'http://c.example.com/b'
        |  FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT 'http://c.example.com/b', 'http://c.example.com/a'
        |  FROM documents WHERE doc_id % 31 = 0),
        |e AS (SELECT src, min(dst) AS dst FROM e0 GROUP BY 1),
        |s1 AS (SELECT src AS url, dst AS cur, 1 AS hops FROM e),
        |s2 AS (SELECT s1.url, coalesce(e.dst, s1.cur) AS cur,
        |         s1.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM s1 LEFT JOIN e ON s1.cur = e.src),
        |s3 AS (SELECT s2.url, coalesce(e.dst, s2.cur) AS cur,
        |         s2.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM s2 LEFT JOIN e ON s2.cur = e.src),
        |s4 AS (SELECT s3.url, coalesce(e.dst, s3.cur) AS cur,
        |         s3.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END
        |           AS hops
        |       FROM s3 LEFT JOIN e ON s3.cur = e.src)
        |SELECT s4.url, s4.cur AS final_url, s4.hops,
        |       e.src IS NULL AS resolved
        |FROM s4 LEFT JOIN e ON s4.cur = e.src""".stripMargin,
    // both link legs regenerated, the same (cnt DESC, anchor ASC)
    // top-2 window, then the URL→doc_id resolution join
    "st27_anchor_pairs" ->
      """WITH l AS (
        |  SELECT 'http://t.example.com/p' || CAST(doc_id + 1 AS VARCHAR)
        |           AS link_url,
        |         'label' || CAST(doc_id % 3 AS VARCHAR) AS anchor
        |  FROM documents
        |  UNION ALL
        |  SELECT 'http://t.example.com/p' ||
        |           CAST(doc_id - (doc_id % 5) AS VARCHAR),
        |         'hub' || CAST(doc_id % 2 AS VARCHAR)
        |  FROM documents),
        |c AS (SELECT link_url, anchor, count(*) AS cnt
        |      FROM l GROUP BY 1, 2),
        |t AS (SELECT link_url, anchor, cnt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY link_url
        |            ORDER BY cnt DESC, anchor ASC) AS rk FROM c)
        |  WHERE rk <= 2)
        |SELECT d.doc_id AS target_doc_id, t.anchor, t.cnt
        |FROM t JOIN documents d
        |  ON t.link_url = 'http://t.example.com/p' ||
        |     CAST(d.doc_id AS VARCHAR)""".stripMargin,
    // trap rollup + closed-form spam verdicts (only v1 carries the
    // hard term) + a second materialized PR walk over the s→v lattice
    "st26_host_scorecard" ->
      (s"""WITH u AS MATERIALIZED (SELECT DISTINCT
          |    'v' || CAST(doc_id % 6 AS VARCHAR) || '.example.com'
          |      AS host,
          |    CASE WHEN doc_id % 6 = 0
          |           THEN '/cal/' || CAST(doc_id AS VARCHAR)
          |         WHEN doc_id % 6 = 1
          |           THEN '/casino/' || CAST(doc_id % 13 AS VARCHAR)
          |         ELSE '/p' || CAST(doc_id % 13 AS VARCHAR) END AS p
          |  FROM documents),
          |tt AS (SELECT host, t2, count(*) AS n FROM (
          |    SELECT host,
          |      regexp_replace(regexp_replace(p,
          |          '${graft.ext.Web.hexRunPat}', 'H', 'g'),
          |        '[0-9]+', 'N', 'g') AS t2
          |    FROM u)
          |  GROUP BY 1, 2),
          |tr AS (SELECT host, CAST(sum(n) AS BIGINT) AS n_urls,
          |         CAST(max(n) AS BIGINT) AS worst_expansion,
          |         max(n) >= 50 AS trap
          |       FROM tt GROUP BY 1),
          |sp AS (SELECT host,
          |         CASE WHEN host = 'v1.example.com' THEN 1.0
          |              ELSE 0.0 END AS spam_frac
          |       FROM (SELECT DISTINCT host FROM u)),
          |e3 AS MATERIALIZED (SELECT DISTINCT * FROM (
          |  SELECT
          |    's' || CAST(doc_id % 4 AS VARCHAR) || '.example.com'
          |      AS src,
          |    'v' || CAST(doc_id % 6 AS VARCHAR) || '.example.com'
          |      AS dst
          |  FROM documents
          |  WHERE ((doc_id % 4) + (doc_id % 6)) % 3 <> 0
          |  UNION ALL
          |  SELECT
          |    'v' || CAST(doc_id % 6 AS VARCHAR) || '.example.com',
          |    's' || CAST(doc_id % 4 AS VARCHAR) || '.example.com'
          |  FROM documents WHERE doc_id % 4 % 2 = 0)),
          |rc AS (SELECT e.src AS host,
          |         round(CAST(sum(CASE WHEN r.src IS NOT NULL
          |                 THEN 1 ELSE 0 END) AS DOUBLE)
          |           / count(*), 6) AS reciprocity
          |       FROM e3 e LEFT JOIN
          |         (SELECT DISTINCT dst AS src, src AS dst FROM e3) r
          |         ON e.src = r.src AND e.dst = r.dst
          |       GROUP BY 1),
          |od3 AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg
          |       FROM e3 GROUP BY 1),
          |nodes3 AS MATERIALIZED (
          |  SELECT n.node, coalesce(od3.outdeg, 0) AS outdeg
          |  FROM (SELECT src AS node FROM e3 UNION SELECT dst FROM e3) n
          |  LEFT JOIN od3 ON n.node = od3.node),
          |nn3 AS MATERIALIZED (SELECT count(*) AS n FROM nodes3),
          |p0 AS MATERIALIZED (SELECT node, outdeg,
          |       CAST(1000000 AS BIGINT) AS r
          |     FROM nodes3),
          |${prIter("p0", "p1", "e3", "nn3")},
          |${prIter("p1", "p2", "e3", "nn3")},
          |${prIter("p2", "p3", "e3", "nn3")},
          |${prIter("p3", "p4", "e3", "nn3")}
          |SELECT tr.host,
          |  CAST(coalesce(p4.r, 0) AS BIGINT) AS rank_micro,
          |  tr.n_urls, tr.worst_expansion, tr.trap, sp.spam_frac,
          |  coalesce(rc.reciprocity, 0.0) AS reciprocity,
          |  (tr.trap OR sp.spam_frac >= 0.5
          |    OR coalesce(rc.reciprocity, 0.0) >= 0.75) AS deny
          |FROM tr JOIN sp ON tr.host = sp.host
          |LEFT JOIN p4 ON p4.node = tr.host
          |LEFT JOIN rc ON rc.host = tr.host""".stripMargin),
    // the whole crawl cycle re-derived closed-form: the four feed
    // lattices, per-URL max(lastmod), the freshness gate, a 2-sweep
    // walk over the c-host graph, and the slot + prior-offset algebra
    "st28_crawl_cycle" ->
      (s"""WITH dd AS (SELECT doc_id, doc_id % 5 AS a, doc_id % 9 AS k,
          |    doc_id % 7 AS j FROM documents),
          |f1 AS (SELECT 'http://c' || CAST(a AS VARCHAR) ||
          |    '.example.com/p/' || CAST(k AS VARCHAR) AS url,
          |    CASE WHEN doc_id % 3 <> 1 THEN '2026-03-' ||
          |      lpad(CAST((doc_id % 27) + 1 AS VARCHAR), 2, '0')
          |    END AS lm
          |  FROM dd WHERE doc_id % 4 = 0),
          |f2 AS (SELECT DISTINCT 'http://c' || CAST(a AS VARCHAR) ||
          |    '.example.com/s/' || CAST(a AS VARCHAR) AS url,
          |    CAST(NULL AS VARCHAR) AS lm
          |  FROM dd),
          |f3 AS (SELECT url, CAST(NULL AS VARCHAR) AS lm FROM (
          |    SELECT 'http://c' || CAST(a AS VARCHAR) ||
          |      '.example.com/p/' || CAST(k AS VARCHAR) AS url
          |    FROM dd WHERE doc_id % 4 = 1
          |    UNION ALL
          |    SELECT 'http://c' || CAST((a + 2) % 5 AS VARCHAR) ||
          |      '.example.com/l/' || CAST(j AS VARCHAR)
          |    FROM dd WHERE doc_id % 4 = 1)),
          |f4 AS (SELECT 'http://c' || CAST(a AS VARCHAR) ||
          |    '.example.com/p/' || CAST((doc_id + 1) % 9 AS VARCHAR)
          |      AS url,
          |    CAST(NULL AS VARCHAR) AS lm
          |  FROM dd WHERE doc_id % 4 = 2),
          |cand AS (SELECT url, max(lm) AS lm FROM (
          |    SELECT * FROM f1 UNION ALL SELECT * FROM f2
          |    UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
          |  GROUP BY 1),
          |seen AS (SELECT 'http://c' || CAST(a AS VARCHAR) ||
          |    '.example.com/p/' || CAST(k AS VARCHAR) AS url,
          |    max('2026-03-' ||
          |      lpad(CAST((doc_id % 13) + 1 AS VARCHAR), 2, '0')) AS m
          |  FROM dd WHERE doc_id % 2 = 0 GROUP BY 1),
          |f AS (SELECT cand.url FROM cand LEFT JOIN seen
          |        ON cand.url = seen.url
          |      WHERE seen.url IS NULL OR
          |        (cand.lm IS NOT NULL AND cand.lm > seen.m)),
          |e5 AS MATERIALIZED (SELECT DISTINCT * FROM (
          |  SELECT 'c' || CAST(a AS VARCHAR) || '.example.com' AS src,
          |         'c' || CAST((a + 2) % 5 AS VARCHAR) || '.example.com'
          |           AS dst
          |  FROM dd WHERE (a + j) % 3 <> 0
          |  UNION ALL
          |  SELECT 'c' || CAST(a AS VARCHAR) || '.example.com',
          |         'c' || CAST((a + 1) % 5 AS VARCHAR) || '.example.com'
          |  FROM dd WHERE a % 2 = 0)),
          |od5 AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg
          |       FROM e5 GROUP BY 1),
          |nodes5 AS MATERIALIZED (
          |  SELECT n.node, coalesce(od5.outdeg, 0) AS outdeg
          |  FROM (SELECT src AS node FROM e5 UNION SELECT dst FROM e5) n
          |  LEFT JOIN od5 ON n.node = od5.node),
          |nn5 AS MATERIALIZED (SELECT count(*) AS n FROM nodes5),
          |g0 AS MATERIALIZED (SELECT node, outdeg,
          |       CAST(1000000 AS BIGINT) AS r
          |     FROM nodes5),
          |${prIter("g0", "g1", "e5", "nn5")},
          |${prIter("g1", "g2", "e5", "nn5")},
          |dl AS (SELECT 'c' || CAST(h AS VARCHAR) || '.example.com'
          |         AS host, h / 2.0 + 0.5 AS delay_sec
          |       FROM (SELECT DISTINCT a AS h FROM dd WHERE a < 4)),
          |b1 AS (SELECT DISTINCT 'http://c' || CAST(a AS VARCHAR) ||
          |    '.example.com/p/' || CAST(k AS VARCHAR) AS url,
          |    'c' || CAST(a AS VARCHAR) || '.example.com' AS host
          |  FROM dd WHERE doc_id % 2 = 0),
          |off AS (SELECT b1.host,
          |          count(*) * coalesce(min(dl.delay_sec), 1.0)
          |            AS next_eta
          |        FROM b1 LEFT JOIN dl ON b1.host = dl.host
          |        GROUP BY 1),
          |sc AS (SELECT url,
          |         regexp_extract(url, '^http://([^/]+)/', 1) AS host,
          |         row_number() OVER (
          |           PARTITION BY regexp_extract(url, '^http://([^/]+)/', 1)
          |           ORDER BY url) - 1 AS slot
          |       FROM f),
          |bud AS (SELECT host, count(*) AS queue FROM sc GROUP BY 1),
          |alloc AS (SELECT bud.host, bud.queue,
          |    CAST(floor(10.0 / coalesce(dl.delay_sec, 1.0)) AS BIGINT)
          |      + 1 AS capacity,
          |    least(bud.queue,
          |      CAST(floor(10.0 / coalesce(dl.delay_sec, 1.0)) AS BIGINT)
          |        + 1) AS allocated,
          |    bud.queue - least(bud.queue,
          |      CAST(floor(10.0 / coalesce(dl.delay_sec, 1.0)) AS BIGINT)
          |        + 1) AS deferred
          |  FROM bud LEFT JOIN dl ON bud.host = dl.host)
          |SELECT sc.url AS url_canon, sc.host,
          |  CAST(coalesce(g2.r, 0) AS BIGINT) AS rank_micro,
          |  CAST(slot AS INT) AS slot,
          |  coalesce(dl.delay_sec, 1.0) AS delay_sec,
          |  CASE WHEN slot >= alloc.allocated THEN NULL
          |    ELSE round(slot * coalesce(dl.delay_sec, 1.0) +
          |      coalesce(off.next_eta, 0), 6) END AS eta_sec,
          |  alloc.queue, alloc.capacity, alloc.allocated, alloc.deferred,
          |  slot >= alloc.allocated AS deferred_next
          |FROM sc LEFT JOIN dl ON sc.host = dl.host
          |LEFT JOIN off ON sc.host = off.host
          |LEFT JOIN g2 ON g2.node = sc.host
          |LEFT JOIN alloc ON sc.host = alloc.host""".stripMargin),
    // the same (ts, event_id)-ordered lag window per host, µs gaps vs
    // the µs delay, rollup per (host, delay)
    "x137_politeness_audit" ->
      """WITH f AS (SELECT 'site' || CAST(user_id % 7 AS VARCHAR) ||
        |    '.example.com' AS host, event_id, epoch_us(ts) AS us
        |  FROM events),
        |g AS (SELECT host,
        |        us - lag(us) OVER (PARTITION BY host
        |          ORDER BY us, event_id) AS gap
        |      FROM f),
        |dl AS (SELECT 'site' || CAST(h AS VARCHAR) || '.example.com'
        |         AS host, h / 2.0 + 0.5 AS delay_sec
        |       FROM (SELECT DISTINCT user_id % 7 AS h FROM events
        |             WHERE user_id % 7 < 5))
        |SELECT g.host, coalesce(dl.delay_sec, 1.0) AS delay_sec,
        |  count(*) AS n_fetches,
        |  CAST(sum(CASE WHEN gap <
        |    CAST(coalesce(dl.delay_sec, 1.0) * 1000000 AS BIGINT)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  min(gap) AS min_gap_us
        |FROM g LEFT JOIN dl ON g.host = dl.host
        |GROUP BY 1, 2""".stripMargin,
    // latest hash = (max ts, max h); t_change = last differing fetch;
    // streak = fetches after it; interval = 3600 · 2^min(streak−1, 6)
    "x138_recrawl_backoff" ->
      """WITH f AS (SELECT 'http://e.example.com/' ||
        |    CAST(user_id % 50 AS VARCHAR) AS url, ts,
        |    CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS h
        |  FROM events),
        |lat AS (SELECT url, max(ts) AS last_ts FROM f GROUP BY 1),
        |lh AS (SELECT f.url, max(f.h) AS latest_hash
        |       FROM f JOIN lat ON f.url = lat.url AND f.ts = lat.last_ts
        |       GROUP BY 1),
        |tc AS (SELECT f.url, max(f.ts) AS t_change
        |       FROM f JOIN lh ON f.url = lh.url
        |       WHERE f.h <> lh.latest_hash GROUP BY 1),
        |st AS (SELECT f.url, count(*) AS streak
        |       FROM f LEFT JOIN tc ON f.url = tc.url
        |       WHERE tc.t_change IS NULL OR f.ts > tc.t_change
        |       GROUP BY 1)
        |SELECT url, streak,
        |  3600 * CAST(power(2, LEAST(streak - 1, 6)) AS BIGINT)
        |    AS next_interval_sec
        |FROM st""".stripMargin,
    // directive truth table closed-form: noindex only on the even
    // id%3 slice, nofollow everywhere the meta carries the real token
    // ('nofollowme' fails the boundary), canonical per the %4 lattice
    "x134_page_directives" ->
      """SELECT doc_id,
        |  ((doc_id % 3 = 0 AND doc_id % 2 = 0) OR doc_id % 6 = 3)
        |    AS noindex,
        |  (doc_id % 3 = 0 AND (doc_id % 2 = 0 OR doc_id % 5 <> 0))
        |    AS nofollow,
        |  CASE WHEN doc_id % 4 = 0
        |         THEN 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |              '.example.com/canon/' || CAST(doc_id % 9 AS VARCHAR)
        |       WHEN doc_id % 4 = 2
        |         THEN 'http://canon.example.com/c' ||
        |              CAST(doc_id % 5 AS VARCHAR)
        |  END AS canonical_url
        |FROM documents""".stripMargin,
    // every link leg regenerated with its rel verdict: rel-after-href
    // true, rel-before-href true, no rel false, 'nofollower' false
    "x135_links_policy" ->
      """SELECT doc_id, 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/r/' || CAST(doc_id % 4 AS VARCHAR) AS link_url,
        |  'R' AS anchor, TRUE AS nofollow
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'http://ext' || CAST(doc_id % 5 AS VARCHAR) ||
        |  '.example.com/u', 'U', TRUE
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/ok/' || CAST(doc_id % 3 AS VARCHAR), 'OK', FALSE
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.com/f', 'F', FALSE
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    // the policy-filtered feed replayed (nofollow links and the id%9
    // meta-nofollow pages' links never enter), then the gate verdicts
    "st25_policy_frontier" ->
      """WITH lk AS (
        |  SELECT doc_id,
        |    'http://q' || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.example.com/l/' || CAST(doc_id % 11 AS VARCHAR) AS url
        |  FROM documents WHERE doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT doc_id,
        |    'http://p' || CAST(doc_id % 6 AS VARCHAR) ||
        |      '.example.com/deny'
        |  FROM documents WHERE doc_id % 9 <> 0),
        |cand AS (SELECT DISTINCT url FROM lk WHERE doc_id % 13 = 0),
        |sn AS (SELECT DISTINCT url FROM lk WHERE doc_id % 13 <> 0)
        |SELECT cand.url, cand.url AS url_canon,
        |  sn.url IS NULL AS novel,
        |  cand.url LIKE '%/deny' AS blocked,
        |  (sn.url IS NULL AND cand.url NOT LIKE '%/deny') AS fetch
        |FROM cand LEFT JOIN sn ON cand.url = sn.url""".stripMargin,
    // dedup keys closed-form (declared canonical on even ids, own
    // canonical URL otherwise), keeper via the ranking window
    "x136_canonical_keepers" ->
      """WITH p AS (SELECT doc_id, n_chars,
        |    'http://w.example.com/v' || CAST(doc_id % 40 AS VARCHAR) ||
        |      '?n=' || CAST(doc_id % 3 AS VARCHAR) AS url_canon,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'http://w.example.com/master/' ||
        |           CAST(doc_id % 8 AS VARCHAR)
        |      ELSE 'http://w.example.com/v' ||
        |           CAST(doc_id % 40 AS VARCHAR) || '?n=' ||
        |           CAST(doc_id % 3 AS VARCHAR) END AS dedup_key
        |  FROM documents),
        |k AS (SELECT dedup_key, doc_id AS keeper_id FROM (
        |  SELECT dedup_key, doc_id,
        |         row_number() OVER (PARTITION BY dedup_key
        |           ORDER BY n_chars DESC, doc_id ASC) AS rk FROM p)
        |  WHERE rk = 1)
        |SELECT p.doc_id, p.url_canon, p.dedup_key, k.keeper_id,
        |  p.doc_id = k.keeper_id AS is_keeper
        |FROM p JOIN k ON p.dedup_key = k.dedup_key""".stripMargin,
    // the prior walk (prCte → r4) seeds a second 2-sweep walk over the
    // ring-extended edge set — the exact warm-start recurrence
    "st24_rank_resume" ->
      (prCte + "," +
        s"""
           |e2 AS MATERIALIZED (SELECT DISTINCT * FROM (
           |  SELECT src, dst FROM e
           |  UNION ALL
           |  SELECT 'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
           |         'ext' || CAST((doc_id % 5 + 1) % 5 AS VARCHAR) ||
           |           '.example.com'
           |  FROM documents WHERE doc_id % 2 = 1)),
           |od2 AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg
           |        FROM e2 GROUP BY 1),
           |nodes2 AS MATERIALIZED (
           |  SELECT n.node, coalesce(od2.outdeg, 0) AS outdeg
           |  FROM (SELECT src AS node FROM e2 UNION SELECT dst FROM e2) n
           |  LEFT JOIN od2 ON n.node = od2.node),
           |nn2 AS MATERIALIZED (SELECT count(*) AS n FROM nodes2),
           |q0 AS MATERIALIZED (SELECT nodes2.node, nodes2.outdeg,
           |         CAST(coalesce(r4.r, 1000000) AS BIGINT) AS r
           |       FROM nodes2 LEFT JOIN r4 ON nodes2.node = r4.node),
           |${prIter("q0", "q1", "e2", "nn2")},
           |${prIter("q1", "q2", "e2", "nn2")}
           |SELECT node, r AS rank_micro FROM q2""".stripMargin),
    // queue counts, window capacity, and the min/remainder algebra
    // replayed per host; site4 has no delay row → the 1.0 default
    "x133_crawl_budget" ->
      """WITH f AS (SELECT DISTINCT doc_id % 5 AS h,
        |    CASE WHEN doc_id % 5 = 0 THEN doc_id % 7
        |         ELSE doc_id % 97 END AS p
        |  FROM documents),
        |q AS (SELECT 'site' || CAST(h AS VARCHAR) || '.example.com'
        |         AS host, h, count(*) AS queue
        |      FROM f GROUP BY 1, 2),
        |dl AS (SELECT h, h / 2.0 + 0.5 AS delay_sec
        |       FROM (SELECT DISTINCT doc_id % 5 AS h FROM documents
        |             WHERE doc_id % 5 < 4))
        |SELECT q.host, q.queue,
        |  coalesce(dl.delay_sec, 1.0) AS delay_sec,
        |  CAST(floor(10.0 / coalesce(dl.delay_sec, 1.0)) AS BIGINT) + 1
        |    AS capacity,
        |  least(q.queue,
        |    CAST(floor(10.0 / coalesce(dl.delay_sec, 1.0)) AS BIGINT) + 1)
        |    AS allocated,
        |  q.queue - least(q.queue,
        |    CAST(floor(10.0 / coalesce(dl.delay_sec, 1.0)) AS BIGINT) + 1)
        |    AS deferred
        |FROM q LEFT JOIN dl ON q.h = dl.h""".stripMargin,
    // resolved finals closed-form (the %20 blocks land on /q, every
    // other source lands on its block terminal), verdicts re-derived
    "st23_redirect_frontier" ->
      """WITH f AS (SELECT DISTINCT CASE WHEN doc_id % 20 = 0
        |      THEN 'http://r.example.com/q'
        |      ELSE 'http://r.example.com/u/' ||
        |           CAST(doc_id - (doc_id % 4) + 3 AS VARCHAR) END AS url
        |    FROM documents WHERE doc_id % 4 <> 3),
        |sn AS (SELECT DISTINCT 'http://r.example.com/u/' ||
        |         CAST(doc_id AS VARCHAR) AS url
        |       FROM documents WHERE doc_id % 8 = 7)
        |SELECT f.url, f.url AS url_canon, sn.url IS NULL AS novel,
        |       f.url = 'http://r.example.com/q' AS blocked,
        |       (sn.url IS NULL AND f.url <> 'http://r.example.com/q')
        |         AS fetch
        |FROM f LEFT JOIN sn ON f.url = sn.url""".stripMargin,
    // the same semi-join against the reversed edge set over the
    // shared lattice CTE, then the per-source rollup
    "x139_link_reciprocity" ->
      (s"""WITH $prEdges,
          |rv AS (SELECT e.src, e.dst FROM e
          |       JOIN e r ON e.src = r.dst AND e.dst = r.src),
          |mu AS (SELECT src AS host, count(*) AS mutual_edges
          |       FROM rv GROUP BY 1),
          |oe AS (SELECT src AS host, count(*) AS out_edges
          |       FROM e GROUP BY 1)
          |SELECT oe.host, oe.out_edges,
          |  CAST(coalesce(mu.mutual_edges, 0) AS BIGINT) AS mutual_edges,
          |  round(CAST(coalesce(mu.mutual_edges, 0) AS DOUBLE)
          |        / oe.out_edges, 6) AS reciprocity
          |FROM oe LEFT JOIN mu ON oe.host = mu.host""".stripMargin),
    // exact bounded min-dist reachability over the shared lattice,
    // then the SAME HLL registers rebuilt per (node, radius 0..3) and
    // the truncated harmonic sum in the engine's add order
    "x140_harmonic_centrality" -> x140Sql,
    // the degraded (bucketed, no-broadcast) read-out walk is
    // bit-equal to the broadcast walk by contract — the oracle is
    // x140's register replay verbatim
    "x142_harmonic_bucketed" -> x140Sql,
    // warm ≡ cold under the append-only contract, so the oracle is
    // x140's register replay over the FULL history (legs A/B/C ∪ the
    // ext-ring delta): exact bounded reachability, the same 256
    // registers per (node, radius), the clamped truncated sum
    "st30_hyperball_resume" -> st30Sql,
    // the degraded (bucketed-state, no-broadcast) resume is bit-equal
    // to the broadcast resume by contract — the oracle is st30's
    // full-history register replay verbatim
    "st31_hyperball_bucketed" -> st30Sql,
    // the degraded walk is bit-equal to the broadcast walk by
    // contract, so its oracle is the same unrolled integer recurrence
    // over the URL-ring residue lattice
    "x141_pagerank_bucketed" -> x141Sql,
    // reachability over the symmetrized ring+pair lattice, component
    // rep = arg_min by the same md5-prefix id the engine uses
    // the warm fixpoint ≡ cold over the full history (append-only
    // contract), so the oracle is x130's reachability over
    // day1 ∪ delta
    "st29_component_resume" ->
      """WITH RECURSIVE he AS (
        |  SELECT DISTINCT * FROM (
        |    SELECT 'm' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
        |             AS src,
        |           'm' || CAST((doc_id + 2) % 10 AS VARCHAR) ||
        |             '.example.com' AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT 'a.example.com', 'b.example.com'
        |    FROM documents WHERE doc_id % 17 = 0
        |    UNION ALL
        |    SELECT 'm' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |           'm' || CAST((doc_id + 5) % 10 AS VARCHAR) ||
        |             '.example.com'
        |    FROM documents WHERE doc_id % 3 = 0
        |    UNION ALL
        |    SELECT 'c.example.com', 'd.example.com'
        |    FROM documents WHERE doc_id % 19 = 0
        |  )
        |),
        |hn AS (SELECT src AS host FROM he UNION SELECT dst FROM he),
        |sym AS (SELECT src AS s, dst AS d FROM he
        |        UNION SELECT dst, src FROM he),
        |reach(node, r) AS (
        |  SELECT host, host FROM hn
        |  UNION
        |  SELECT sym.d, reach.r FROM sym JOIN reach ON sym.s = reach.node)
        |SELECT node AS host,
        |       arg_min(r, CAST('0x' || substr(md5(r), 1, 15) AS BIGINT))
        |         AS component_rep
        |FROM reach GROUP BY 1""".stripMargin,
    "x130_host_components" ->
      """WITH RECURSIVE he AS (
        |  SELECT DISTINCT * FROM (
        |    SELECT 'm' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
        |             AS src,
        |           'm' || CAST((doc_id + 2) % 10 AS VARCHAR) ||
        |             '.example.com' AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT 'a.example.com', 'b.example.com'
        |    FROM documents WHERE doc_id % 17 = 0
        |  )
        |),
        |hn AS (SELECT src AS host FROM he UNION SELECT dst FROM he),
        |sym AS (SELECT src AS s, dst AS d FROM he
        |        UNION SELECT dst, src FROM he),
        |reach(node, r) AS (
        |  SELECT host, host FROM hn
        |  UNION
        |  SELECT sym.d, reach.r FROM sym JOIN reach ON sym.s = reach.node)
        |SELECT node AS host,
        |       arg_min(r, CAST('0x' || substr(md5(r), 1, 15) AS BIGINT))
        |         AS component_rep
        |FROM reach GROUP BY 1""".stripMargin,
    // st21's gate verdicts replayed over the /abs lattice, then the
    // prCte rank joined by host — absent hosts coalesce to rank 0
    "st22_ranked_frontier" ->
      (prCte + "," +
        """
          |d22 AS (SELECT DISTINCT
          |    'http://ext' || CAST(doc_id % 5 AS VARCHAR) ||
          |      '.example.com/abs/' || CAST(doc_id % 11 AS VARCHAR)
          |      AS url,
          |    'ext' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
          |      AS host,
          |    doc_id % 11 = 3 AS blocked
          |  FROM documents WHERE doc_id % 13 = 0),
          |seen22 AS (SELECT DISTINCT
          |    'http://ext' || CAST(doc_id % 5 AS VARCHAR) ||
          |      '.example.com/abs/' || CAST(doc_id % 11 AS VARCHAR)
          |      AS url
          |  FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 3 = 0)
          |SELECT d22.host, d22.url, d22.url AS url_canon,
          |  seen22.url IS NULL AS novel, d22.blocked,
          |  (seen22.url IS NULL AND NOT d22.blocked) AS fetch,
          |  CAST(coalesce(r4.r, 0) AS BIGINT) AS rank_micro
          |FROM d22 LEFT JOIN seen22 ON d22.url = seen22.url
          |LEFT JOIN r4 ON r4.node = d22.host""".stripMargin),
    // verdicts recomputed closed-form from the path/policy lattice:
    // /a/x → Disallow /a (longest match, blocked); /a/pub/x → the
    // len-6 Allow outranks the len-2 Disallow (rescued); /b/file.zip →
    // the anchored wildcard /*.zip$ (blocked); /tt/z → equal-length
    // Allow/Disallow tie resolves least-restrictive (allowed); /ok →
    // no rule matches (allowed); site2's policy has no '*' group so
    // every path on it is allowed
    "x119_robots_verdict" ->
      """SELECT doc_id,
        |  'site' || CAST(doc_id % 3 AS VARCHAR) || '.example.com' AS host,
        |  CASE doc_id % 5 WHEN 0 THEN '/a/x' WHEN 1 THEN '/a/pub/x'
        |       WHEN 2 THEN '/b/file.zip' WHEN 3 THEN '/tt/z'
        |       ELSE '/ok' END AS path,
        |  (doc_id % 3 <> 2 AND doc_id % 5 IN (0, 2)) AS blocked
        |FROM documents""".stripMargin,
    // each family's sample count recomputed closed-form (MP3
    // frames×1152, FLAC streaminfo total, MP4 audio mdhd duration),
    // then the same threshold router and rollup
    "x118_decode_budget" ->
      """WITH probe AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'mp3-frames'
        |         WHEN 1 THEN 'flac' ELSE 'mp4-boxes' END AS codec,
        |    CASE doc_id % 3
        |      WHEN 0 THEN (3 + doc_id % 4) * 1152
        |      WHEN 1 THEN 1024 + 512 * (doc_id % 4)
        |      ELSE (CASE (doc_id % 9) // 3 WHEN 0 THEN 2000
        |            WHEN 1 THEN 4000 ELSE 8000 END) * (1 + doc_id % 4)
        |    END AS n_samples
        |  FROM documents),
        |v AS (SELECT codec,
        |        CASE WHEN n_samples <= 4000 THEN 'decode'
        |             WHEN n_samples <= 8000 THEN 'defer'
        |             ELSE 'skip' END AS verdict, n_samples
        |      FROM probe)
        |SELECT codec, verdict, CAST(count(*) AS BIGINT) AS n_payloads,
        |       CAST(sum(n_samples) AS BIGINT) AS total_samples
        |FROM v GROUP BY 1, 2""".stripMargin,
    "x111_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS ql, embedding AS q
         |           FROM embeddings WHERE vec_id < 8),
         |cs AS (SELECT vec_id AS c_id, label AS cl, embedding AS c
         |       FROM embeddings WHERE vec_id >= 8),
         |scored AS (
         |  SELECT q_id, c_id,
         |         round($duckDot / (${duckNorm("q")} * ${duckNorm("c")}), 6)
         |           AS score
         |  FROM q CROSS JOIN cs WHERE ql <> cl)
         |SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY score DESC, c_id ASC) AS rank
         |  FROM scored) WHERE rank <= 10""".stripMargin,
    "x8_cosine_neardup" ->
      s"""WITH v AS (SELECT vec_id, embedding,
         |                  ${duckBucket("embedding")} AS bucket
         |           FROM embeddings)
         |SELECT a, b, score FROM (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |         round(list_sum(list_transform(generate_series(1, 64),
         |                 i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |               / (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}), 6)
         |           AS score
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE score >= 0.4""".stripMargin,
    "x9_langid" ->
      s"""$toksCte,
         |h AS (SELECT doc_id, $langHits FROM t)
         |SELECT doc_id, $langCase AS lang_pred FROM h""".stripMargin,
    "x87_langid_margin" -> {
      val hl = TextAnalysis.langMarkers.map { case (l, _) => s"h_$l" }
        .mkString("list_sort([", ", ", "])")
      val n = TextAnalysis.langMarkers.size
      s"""$toksCte,
         |h AS (SELECT doc_id, $langHits FROM t)
         |SELECT doc_id, $langCase AS lang_pred,
         |       CAST($hl[$n] AS BIGINT) AS top_hits,
         |       CAST($hl[${n - 1}] AS BIGINT) AS second_hits,
         |       CAST($hl[$n] - $hl[${n - 1}] AS BIGINT) AS margin,
         |       $hl[${n - 1}] > 0 AS mixed
         |FROM h""".stripMargin
    },
    "x10_quality" ->
      s"""$toksCte
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |       len(list_filter(toks, x -> x IN ($stopSet)))
         |         / len(toks) AS stop_ratio,
         |       (length(text) - (len(toks) - 1)) / len(toks) AS mean_token_len,
         |       len(toks) BETWEEN 10 AND 100000
         |         AND len(list_filter(toks, x -> x IN ($stopSet)))
         |             / len(toks) >= 0.01 AS quality_ok
         |FROM t JOIN documents USING (doc_id)""".stripMargin,
    "x11_token_counts" ->
      s"""$toksCte
         |SELECT doc_id, CAST(len(toks) AS INT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text,
         |         '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpeish_tokens
         |FROM t JOIN documents USING (doc_id)""".stripMargin,
    "x12_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    // greedy longest-match vocab apply, replayed as a recursive CTE:
    // match lengths precompute per (distinct word, pos) against the
    // SAME vocab literal the Scala kernel holds (generated from
    // TextAnalysis.toyVocab — the two sides cannot drift), then the
    // recursion walks each word left to right exactly like the trie
    "x76_vocab_tokens" ->
      s"""WITH RECURSIVE v(tok) AS (VALUES $toyVocabValues),
        |w AS (SELECT doc_id, i AS wid, toks[i] AS word
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks))) AS i
        |            FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |                  FROM documents))),
        |dw AS (SELECT DISTINCT word FROM w),
        |mp AS (SELECT word, i AS pos,
        |         max(CASE WHEN substr(word, CAST(i AS INT), len(tok)) = tok
        |             THEN len(tok) END) AS mlen
        |       FROM (SELECT word, unnest(generate_series(1, len(word))) AS i
        |             FROM dw), v
        |       GROUP BY 1, 2),
        |enc AS (
        |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
        |         CAST(0 AS BIGINT) AS unk
        |  FROM dw
        |  UNION ALL
        |  SELECT e.word, e.pos + coalesce(m.mlen, 1), e.n + 1,
        |         e.unk + CASE WHEN m.mlen IS NULL THEN 1 ELSE 0 END
        |  FROM enc e LEFT JOIN mp m ON m.word = e.word AND m.pos = e.pos
        |  WHERE e.pos <= len(e.word)),
        |f AS (SELECT word, n, unk FROM enc WHERE pos > len(word))
        |SELECT doc_id, CAST(sum(f.n) AS BIGINT) AS n_tokens,
        |       CAST(sum(f.unk) AS BIGINT) AS n_unk
        |FROM w JOIN f USING (word) GROUP BY doc_id""".stripMargin,
    "x14_length_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(avg(n_chars), 2) AS mean_len,
        |       quantile_cont(n_chars, 0.5) AS p50_len,
        |       quantile_cont(n_chars, 0.95) AS p95_len,
        |       min(n_chars) AS min_len, max(n_chars) AS max_len
        |FROM documents GROUP BY 1""".stripMargin,
    "x15_split_counts" ->
      """SELECT lang,
        |       CASE WHEN b < 80 THEN 'train'
        |            WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT lang,
        |         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8)
        |                   AS UBIGINT) % 100 AS INT) AS b
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    "x16_top_bigrams" ->
      """SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
        |    AS bigram
        |  FROM documents)
        |GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "x18_pack_assignments" ->
      """WITH t AS (SELECT doc_id, lang, CAST(doc_id % 8 AS INT) AS shard,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents)
        |SELECT doc_id, lang, shard, CAST(n AS INT) AS n_tokens,
        |       CAST(floor((cum - n) / 2048.0) AS INT) AS pack_id,
        |       n > 2048 AS oversize
        |FROM (SELECT *, SUM(n) OVER (PARTITION BY lang, shard
        |                             ORDER BY doc_id) AS cum
        |      FROM t)""".stripMargin,
    // x18 + within-pack cumulative offsets and per-pack fill
    "x86_pack_offsets" ->
      """WITH t AS (SELECT doc_id, lang, CAST(doc_id % 8 AS INT) AS shard,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents),
        |p AS (SELECT doc_id, lang, shard, CAST(n AS INT) AS n_tokens,
        |        CAST(floor((cum - n) / 2048.0) AS INT) AS pack_id,
        |        n > 2048 AS oversize
        |      FROM (SELECT *, SUM(n) OVER (PARTITION BY lang, shard
        |                                   ORDER BY doc_id) AS cum
        |            FROM t))
        |SELECT doc_id, lang, shard, n_tokens, pack_id, oversize,
        |       CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard, pack_id
        |              ORDER BY doc_id) - n_tokens AS INT) AS tok_offset,
        |       CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard, pack_id)
        |            AS INT) AS pack_fill
        |FROM p""".stripMargin,
    "x19_contaminated" -> contaminationSql,
    // same argmin-key string algebra: hash || '|' || pad(1e9-1-pos),
    // sliding ROWS frame of w=4, full windows only, distinct
    "x89_winnowing" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |            || ' ' || toks[i+3]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 3)) AS i
        |            FROM t)),
        |sel AS (SELECT doc_id,
        |          min(h || '|' || lpad(CAST(999999999 - pos AS VARCHAR),
        |                               9, '0'))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk,
        |          row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY pos) AS rn
        |        FROM p)
        |SELECT DISTINCT doc_id,
        |       999999999 - CAST(string_split(mk, '|')[2] AS INT) AS pos,
        |       string_split(mk, '|')[1] AS h
        |FROM sel WHERE rn >= 4""".stripMargin,
    // x89 selections split into existing (df-capped) and incoming
    // sides, hash-keyed probe join
    "st12_winnow_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |            || ' ' || toks[i+3]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 3)) AS i
        |            FROM t)),
        |sel0 AS (SELECT doc_id,
        |          min(h || '|' || lpad(CAST(999999999 - pos AS VARCHAR),
        |                               9, '0'))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk,
        |          row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY pos) AS rn
        |        FROM p),
        |sel AS (SELECT DISTINCT doc_id, string_split(mk, '|')[1] AS h
        |        FROM sel0 WHERE rn >= 4),
        |ex AS (SELECT doc_id AS ex_id, h FROM sel WHERE doc_id % 7 <> 0),
        |keep AS (SELECT h FROM ex GROUP BY 1 HAVING count(*) <= 100),
        |exk AS (SELECT ex.ex_id, ex.h FROM ex JOIN keep USING (h)),
        |inc AS (SELECT doc_id AS in_id, h FROM sel WHERE doc_id % 7 = 0)
        |SELECT inc.in_id, exk.ex_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM inc JOIN exk USING (h) GROUP BY 1, 2""".stripMargin,
    // x89 selections → per-doc-distinct → df-capped self-join
    "x90_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |            || ' ' || toks[i+3]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 3)) AS i
        |            FROM t)),
        |sel0 AS (SELECT doc_id,
        |          min(h || '|' || lpad(CAST(999999999 - pos AS VARCHAR),
        |                               9, '0'))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk,
        |          row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY pos) AS rn
        |        FROM p),
        |sel AS (SELECT DISTINCT doc_id, string_split(mk, '|')[1] AS h
        |        FROM sel0 WHERE rn >= 4),
        |keep AS (SELECT h FROM sel GROUP BY 1 HAVING count(*) <= 100),
        |kk AS (SELECT sel.doc_id, sel.h FROM sel JOIN keep USING (h))
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM kk a JOIN kk b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // per-doc-distinct shingles both sides, hash-keyed join, bench-
    // sized rollup with zero-leak bench rows preserved
    "x91_bench_exposure" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |              ELSE list_transform(generate_series(1, len(toks) - 4),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                     || ' ' || toks[i+3] || ' ' || toks[i+4])
        |         END AS sh FROM t),
        |b AS (SELECT DISTINCT doc_id AS bench_id, unnest(sh) AS s
        |      FROM sh WHERE doc_id % 97 = 0),
        |bs AS (SELECT bench_id, count(*) AS n_shingles FROM b GROUP BY 1),
        |tr AS (SELECT DISTINCT doc_id AS train_id, unnest(sh) AS s
        |       FROM sh WHERE doc_id % 97 <> 0),
        |pp AS (SELECT bench_id, train_id, count(*) AS shared
        |       FROM b JOIN tr ON b.s = tr.s GROUP BY 1, 2),
        |ru AS (SELECT bench_id, count(*) AS n_train_docs,
        |              max(shared) AS worst
        |       FROM pp GROUP BY 1)
        |SELECT bs.bench_id, CAST(bs.n_shingles AS BIGINT) AS n_shingles,
        |       CAST(coalesce(ru.n_train_docs, 0) AS BIGINT)
        |         AS n_train_docs,
        |       round(coalesce(ru.worst, 0) / bs.n_shingles, 4)
        |         AS max_overlap
        |FROM bs LEFT JOIN ru USING (bench_id)""".stripMargin,
    // benchmark 5-gram cover over train positions, then the shared
    // excision tail (anti-join + ordered string_agg rebuild)
    "x88_decontam_excision" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |p5 AS (SELECT doc_id, i - 1 AS pos,
        |        md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |            || ' ' || toks[i+3] || ' ' || toks[i+4]) AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks) - 4)) AS i
        |            FROM t)),
        |bh AS (SELECT DISTINCT h FROM p5 WHERE doc_id % 97 = 0),
        |e AS (SELECT doc_id, pos FROM p5 JOIN bh USING (h)
        |      WHERE doc_id % 97 <> 0),
        |cov AS (SELECT DISTINCT doc_id, pos + j AS cp
        |        FROM (SELECT doc_id, pos,
        |                unnest(generate_series(0, 4)) AS j
        |              FROM e)),
        |tr AS (SELECT doc_id, toks FROM t WHERE doc_id % 97 <> 0),
        |tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |       FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS i
        |             FROM tr)),
        |k AS (SELECT tk.doc_id, tk.pos, tk.tok
        |      FROM tk LEFT JOIN cov
        |        ON tk.doc_id = cov.doc_id AND tk.pos = cov.cp
        |      WHERE cov.cp IS NULL),
        |agg AS (SELECT doc_id,
        |          string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |          count(*) AS n_kept
        |        FROM k GROUP BY 1)
        |SELECT tr.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       CAST(len(tr.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(tr.toks) - coalesce(agg.n_kept, 0) AS BIGINT)
        |         AS n_removed
        |FROM tr LEFT JOIN agg USING (doc_id)""".stripMargin,
    // per-batch regrouping of the same per-doc contamination verdicts
    "st5_bloom_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |              ELSE list_transform(generate_series(1, len(toks) - 4),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                     || ' ' || toks[i+3] || ' ' || toks[i+4])
        |         END AS sh FROM t),
        |tr AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0),
        |be AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0),
        |fl AS (SELECT DISTINCT tr.doc_id FROM tr JOIN be ON tr.s = be.s)
        |SELECT CAST(doc_id % 3 AS INT) AS batch_id,
        |       CAST(count(*) AS BIGINT) AS n_contaminated
        |FROM fl GROUP BY 1""".stripMargin,
    // the Bloom path gives the same EXACT rows (the verify join removes
    // false positives), so it replays against the identical oracle
    "x35_contamination_bloom" -> contaminationSql,
    "x13_multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
        |       md5(text) AS content_md5,
        |       CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
        |       substr(text, 1, 4) AS header_tag
        |FROM documents""".stripMargin,
    // real ASOF LEFT JOIN — DuckDB's own backward as-of operator; the
    // right side pre-dedups equal timestamps to the greatest click id,
    // mirroring asOfJoin's tiebreak ordering
    "x52_asof_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type, value
        |           FROM events),
        |p AS (SELECT event_id, user_id, ts FROM e
        |      WHERE event_type = 'purchase'),
        |c0 AS (SELECT user_id, ts, event_id AS click_id,
        |              value AS click_value
        |       FROM e WHERE event_type = 'click'),
        |c AS (SELECT user_id, ts,
        |             max(click_id) AS click_id,
        |             max_by(click_value, click_id) AS click_value
        |      FROM c0 GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       c.click_id, c.click_value,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    // same ASOF machinery as x52, then matches older than the 1-hour
    // tolerance blank to NULL (the left row itself survives)
    "x71_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type, value
        |           FROM events),
        |p AS (SELECT event_id, user_id, ts FROM e
        |      WHERE event_type = 'purchase'),
        |c0 AS (SELECT user_id, ts, event_id AS click_id,
        |              value AS click_value
        |       FROM e WHERE event_type = 'click'),
        |c AS (SELECT user_id, ts,
        |             max(click_id) AS click_id,
        |             max_by(click_value, click_id) AS click_value
        |      FROM c0 GROUP BY 1, 2),
        |a AS (SELECT p.event_id, p.user_id, p.ts, c.ts AS cts,
        |             c.click_id, c.click_value
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT event_id, user_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       CASE WHEN epoch_us(ts) - epoch_us(cts) <= 3600000000
        |            THEN click_id END AS click_id,
        |       CASE WHEN epoch_us(ts) - epoch_us(cts) <= 3600000000
        |            THEN click_value END AS click_value,
        |       CASE WHEN epoch_us(ts) - epoch_us(cts) <= 3600000000
        |            THEN epoch_us(ts) - epoch_us(cts) END AS gap_us
        |FROM a""".stripMargin,
    // the oracle states the range predicate directly; the engine's
    // banded equi-join must produce the identical pair set
    "x53_range_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type
        |           FROM events)
        |SELECT p.event_id AS purchase_id, r.event_id AS error_id,
        |       p.user_id,
        |       epoch_us(r.ts) - epoch_us(p.ts) AS gap_us
        |FROM e p JOIN e r
        |  ON p.user_id = r.user_id
        | AND p.event_type = 'purchase' AND r.event_type = 'error'
        | AND r.ts > p.ts
        | AND r.ts <= p.ts + INTERVAL 1 HOUR""".stripMargin,
    // window count = 1 + ceil((n-64)/32), final window clips to doc end
    "x54_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |        CASE WHEN n <= 64 THEN 1
        |             ELSE CAST(ceil((n - 64) / 32.0) AS BIGINT) + 1
        |        END AS nc
        |      FROM t),
        |u AS (SELECT doc_id, n,
        |        unnest(generate_series(0, nc - 1)) AS chunk_idx
        |      FROM c)
        |SELECT doc_id, chunk_idx, chunk_idx * 32 AS start_token,
        |       least(64, n - chunk_idx * 32) AS chunk_len
        |FROM u""".stripMargin,
    "x56_mixture_weights" ->
      """WITH per AS (SELECT source,
        |               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |                 AS n_tokens
        |             FROM documents GROUP BY 1),
        |w AS (SELECT source, n_tokens,
        |        pow(n_tokens::DOUBLE, 0.3::DOUBLE) AS wr
        |      FROM per),
        |tot AS (SELECT sum(wr) AS t FROM w)
        |SELECT source, n_tokens,
        |       round(wr / t, 6) AS weight,
        |       CAST(round(wr / t * 10000000::DOUBLE, 0) AS BIGINT)
        |         AS expected_tokens,
        |       round(wr / t * 10000000::DOUBLE / n_tokens, 6) AS epochs
        |FROM w, tot""".stripMargin,
    // simhash replay (same md5-nibble bits), 2-of-4 nibble-masked
    // block keys, length lower bound in-join, levenshtein <= 40 verify
    "x55_edit_neardup" ->
      s"""$toksCte,
         |fp AS (SELECT doc_id, CAST($simhashBits AS INT) AS sh FROM t),
         |e AS (SELECT fp.doc_id, sh, strlen(d.text) AS len
         |      FROM fp JOIN documents d ON fp.doc_id = d.doc_id),
         |k AS (SELECT doc_id, len,
         |        unnest([(sh & 65280) * 6 + 0, (sh & 61680) * 6 + 1,
         |                (sh & 4080) * 6 + 2, (sh & 61455) * 6 + 3,
         |                (sh & 3855) * 6 + 4, (sh & 255) * 6 + 5])
         |          AS bk
         |      FROM e),
         |c AS (SELECT DISTINCT ka.doc_id AS a, kb.doc_id AS b
         |      FROM k ka JOIN k kb ON ka.bk = kb.bk
         |       AND ka.doc_id < kb.doc_id
         |       AND abs(ka.len - kb.len) <= 40)
         |SELECT c.a, c.b,
         |       CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
         |FROM c
         |JOIN documents da ON c.a = da.doc_id
         |JOIN documents db ON c.b = db.doc_id
         |WHERE levenshtein(da.text, db.text) <= 40""".stripMargin,
    // 64-bit simhash replay (per-token md5 hex cached once per doc),
    // 4-of-8 block-masked keys, same length bound + levenshtein verify
    "x55b_edit_neardup64" ->
      s"""$toksCte,
         |hh AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs
         |       FROM t),
         |fp AS (SELECT doc_id, $simhash64Blocks AS blocks FROM hh),
         |e AS (SELECT fp.doc_id, blocks, strlen(d.text) AS len
         |      FROM fp JOIN documents d ON fp.doc_id = d.doc_id),
         |k AS (SELECT doc_id, len, unnest($simhash64Keys) AS bk
         |      FROM e),
         |c AS (SELECT DISTINCT ka.doc_id AS a, kb.doc_id AS b
         |      FROM k ka JOIN k kb ON ka.bk = kb.bk
         |       AND ka.doc_id < kb.doc_id
         |       AND abs(ka.len - kb.len) <= 40)
         |SELECT c.a, c.b,
         |       CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
         |FROM c
         |JOIN documents da ON c.a = da.doc_id
         |JOIN documents db ON c.b = db.doc_id
         |WHERE levenshtein(da.text, db.text) <= 40""".stripMargin,
    // byte-grid dHash replay: UTF-8 bytes via hex() (DuckDB blobs
    // aren't byte-indexable), 72 sequential cells, cross-multiplied
    // mean comparison, bits summed into two 32-bit halves (BIGINT
    // can't shift into bit 63)
    "x72_media_fingerprint" ->
      s"""WITH media AS (SELECT doc_id AS media_id, text FROM documents),
         |$dhashCte
         |SELECT media_id, fp_hi, fp_lo FROM fp""".stripMargin,
    // planted single-char-edit copies (ids +10M) + all-pairs hamming
    // over the same fingerprint chain — the banded plan's exact oracle
    "x73_image_neardup" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |pert AS (
         |  SELECT doc_id + 10000000 AS media_id,
         |    CASE m
         |      WHEN 1 THEN upper(substr(text, 1, 1)) || substr(text, 2)
         |      WHEN 2 THEN CASE WHEN strpos(text, 'e') > 0
         |        THEN substr(text, 1, strpos(text, 'e') - 1) || 'o' ||
         |             substr(text, strpos(text, 'e') + 1)
         |        ELSE text END
         |      ELSE CASE WHEN strpos(text, ' ') > 0
         |        THEN substr(text, 1, strpos(text, ' ') - 1) || '-' ||
         |             substr(text, strpos(text, ' ') + 1)
         |        ELSE text END
         |    END AS text
         |  FROM (SELECT doc_id, doc_id % 40 AS m, text FROM docs
         |        WHERE doc_id % 40 IN (1, 2, 3))),
         |media AS (SELECT doc_id AS media_id, text FROM docs
         |          UNION ALL SELECT media_id, text FROM pert),
         |$dhashCte
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |       CAST(bit_count(xor(a.fp_hi, b.fp_hi)) +
         |            bit_count(xor(a.fp_lo, b.fp_lo)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.fp_hi, b.fp_hi)) +
         |      bit_count(xor(a.fp_lo, b.fp_lo)) <= 4""".stripMargin,
    // stream-gate replay: planted uploads against the full corpus,
    // best match per incoming by (hamming, ex_id) — the banded gate's
    // exact answer since maxDist <= maskBlocks
    "st9_media_ingest_gate" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |inc AS (
         |  SELECT doc_id + 30000000 AS media_id,
         |         upper(substr(text, 1, 1)) || substr(text, 2) AS text
         |  FROM docs WHERE doc_id % 35 = 1),
         |media AS (SELECT doc_id AS media_id, text FROM docs
         |          UNION ALL SELECT media_id, text FROM inc),
         |$dhashCte,
         |cand AS (
         |  SELECT i.media_id AS in_id, e.media_id AS ex_id,
         |         bit_count(xor(i.fp_hi, e.fp_hi)) +
         |         bit_count(xor(i.fp_lo, e.fp_lo)) AS hamming
         |  FROM fp i JOIN fp e
         |    ON i.media_id >= 30000000 AND e.media_id < 30000000)
         |SELECT in_id AS media_id, ex_id AS match_id,
         |       CAST(hamming AS INT) AS hamming FROM (
         |  SELECT *, row_number() OVER (PARTITION BY in_id
         |            ORDER BY hamming ASC, ex_id ASC) AS rk
         |  FROM cand WHERE hamming <= 4) WHERE rk = 1""".stripMargin,
    // frame-set replay: 64-byte frames = 128-hex-char substrings of
    // hex(encode(text)), md5'd as plain strings — the exact frame
    // hash the Scala side computes; dfCap <= 1000 never fires at this
    // scale but is replicated so the semantics match at any scale
    "x74_frameset_neardup" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |pert AS (
        |  SELECT doc_id + 20000000 AS media_id,
        |         substr(text, 1, (4 * length(text)) // 5) AS text
        |  FROM docs WHERE doc_id % 30 = 7),
        |media AS (SELECT doc_id AS media_id, text FROM docs
        |          UNION ALL SELECT media_id, text FROM pert),
        |hx AS (SELECT media_id, hex(encode(text)) AS h FROM media),
        |fd AS (
        |  SELECT DISTINCT media_id, md5(substr(h, 128 * k + 1, 128)) AS fh
        |  FROM (SELECT media_id, h,
        |          unnest(range((strlen(h) + 127) // 128)) AS k
        |        FROM hx)),
        |dfc AS (SELECT fh, count(*) AS dfn FROM fd GROUP BY 1),
        |m AS (SELECT fd.media_id, fd.fh, dfn
        |      FROM fd JOIN dfc ON dfc.fh = fd.fh),
        |sizes AS (
        |  SELECT media_id, count(*) AS nf,
        |         sum(CASE WHEN dfn > 1000 THEN 1 ELSE 0 END) AS nc
        |  FROM m GROUP BY 1),
        |rare AS (SELECT media_id, fh FROM m WHERE dfn <= 1000),
        |sh AS (
        |  SELECT a.media_id AS media_a, b.media_id AS media_b,
        |         count(*) AS n_shared
        |  FROM rare a JOIN rare b
        |    ON a.fh = b.fh AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT media_a, media_b, CAST(n_shared AS BIGINT) AS n_shared,
        |       round(n_shared / (sa.nf + sb.nf - n_shared), 4) AS jaccard,
        |       CAST(least(sa.nc, sb.nc) AS BIGINT) AS capped_frames,
        |       round((n_shared + least(sa.nc, sb.nc)) /
        |             (sa.nf + sb.nf - n_shared - least(sa.nc, sb.nc)), 4)
        |         AS jaccard_ub
        |FROM sh
        |JOIN sizes sa ON sa.media_id = media_a
        |JOIN sizes sb ON sb.media_id = media_b
        |WHERE n_shared / (sa.nf + sb.nf - n_shared) >= 0.4""".stripMargin,
    // same entropy replay as x50, ranked with a unique tiebreak; the
    // decile formula floors over exact small-integer doubles
    "x57_curriculum_deciles" ->
      """WITH ent AS (
        |  SELECT doc_id,
        |         round(-sum((c / n) * ln(c / n)), 6) AS entropy
        |  FROM (SELECT doc_id, n, ch, count(*) AS c
        |        FROM (SELECT doc_id, len(text) AS n,
        |                unnest(string_split_regex(text, '')) AS ch
        |              FROM documents)
        |        GROUP BY 1, 2, 3)
        |  GROUP BY doc_id, n),
        |r AS (SELECT entropy,
        |        row_number() OVER (ORDER BY entropy DESC, doc_id ASC)
        |          AS rk,
        |        count(*) OVER () AS n
        |      FROM ent)
        |SELECT CAST(floor((rk - 1) * 10.0 / n) AS INT) AS decile,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       round(min(entropy), 6) AS min_entropy,
        |       round(max(entropy), 6) AS max_entropy,
        |       round(avg(entropy), 6) AS avg_entropy
        |FROM r GROUP BY 1""".stripMargin,
    "x58_group_sample" ->
      """SELECT doc_id, source, h FROM (
        |  SELECT doc_id, source,
        |         md5('smp:' || CAST(doc_id AS VARCHAR)) AS h,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5('smp:' || CAST(doc_id AS VARCHAR)) ASC,
        |                    doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin,
    // novelty = anti of the st4 match set (shared CTE chain)
    "x61_snapshot_novelty" ->
      s"""$st4Cte,
         |m AS (SELECT DISTINCT in_id FROM ver WHERE jaccard >= 0.8),
         |inc AS (SELECT doc_id, source FROM documents
         |        WHERE doc_id % 7 = 0)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_incoming,
         |       CAST(sum(CASE WHEN m.in_id IS NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_novel,
         |       round(sum(CASE WHEN m.in_id IS NULL THEN 1 ELSE 0 END)
         |         / count(*)::DOUBLE, 6) AS novelty_rate
         |FROM inc LEFT JOIN m ON inc.doc_id = m.in_id
         |GROUP BY 1""".stripMargin,
    // ASOF LEFT JOIN again (x52's oracle machinery), aggregated to the
    // daily conversion ledger
    "x65_click_attribution" ->
      """WITH e AS (SELECT event_id, user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type
        |           FROM events),
        |p AS (SELECT event_id, user_id, ts FROM e
        |      WHERE event_type = 'purchase'),
        |c0 AS (SELECT user_id, ts, event_id AS click_id FROM e
        |       WHERE event_type = 'click'),
        |c AS (SELECT user_id, ts, max(click_id) AS click_id
        |      FROM c0 GROUP BY 1, 2),
        |j AS (SELECT p.ts, c.ts AS click_ts
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(CASE WHEN click_ts IS NOT NULL
        |                 AND epoch_us(ts) - epoch_us(click_ts)
        |                     <= 3600000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_attributed,
        |       round(sum(CASE WHEN click_ts IS NOT NULL
        |                 AND epoch_us(ts) - epoch_us(click_ts)
        |                     <= 3600000000 THEN 1 ELSE 0 END)
        |             / count(*)::DOUBLE, 6) AS rate
        |FROM j GROUP BY 1""".stripMargin,
    "x66_weekly_retention" ->
      """WITH e AS (SELECT user_id,
        |             date_trunc('week',
        |               make_timestamp(epoch_ns(ts) // 1000)) AS wk
        |           FROM events),
        |w AS (SELECT DISTINCT user_id, wk FROM e),
        |n AS (SELECT user_id, wk - INTERVAL 7 DAY AS wk, 1 AS r FROM w)
        |SELECT strftime(w.wk, '%Y-%m-%d') AS week,
        |       CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN n.r IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_retained,
        |       round(sum(CASE WHEN n.r IS NOT NULL THEN 1 ELSE 0 END)
        |             / count(*)::DOUBLE, 6) AS retention
        |FROM w LEFT JOIN n ON w.user_id = n.user_id AND w.wk = n.wk
        |GROUP BY 1""".stripMargin,
    "x93_funnel_steps" ->
      """WITH e AS (SELECT event_id, user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type
        |           FROM events),
        |l1 AS (SELECT *,
        |         CASE WHEN event_type = 'signup' THEN ts END AS q0
        |       FROM e),
        |l2 AS (SELECT *,
        |         min(q0) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS m0
        |       FROM l1),
        |l3 AS (SELECT *,
        |         CASE WHEN event_type = 'view' AND m0 IS NOT NULL
        |              THEN ts END AS q1
        |       FROM l2),
        |l4 AS (SELECT *,
        |         min(q1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS m1
        |       FROM l3),
        |l5 AS (SELECT *,
        |         CASE WHEN event_type = 'click' AND m1 IS NOT NULL
        |              THEN ts END AS q2
        |       FROM l4),
        |l6 AS (SELECT *,
        |         min(q2) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS m2
        |       FROM l5),
        |l7 AS (SELECT *,
        |         CASE WHEN event_type = 'purchase' AND m2 IS NOT NULL
        |              THEN ts END AS q3
        |       FROM l6),
        |pu AS (SELECT user_id, min(q0) AS t0, min(q1) AS t1,
        |              min(q2) AS t2, min(q3) AS t3
        |       FROM l7 GROUP BY 1),
        |c AS (SELECT count(*) AS n_users,
        |        sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS n0,
        |        sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS n1,
        |        sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS n2,
        |        sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS n3,
        |        round(avg(epoch_us(t1) - epoch_us(t0)) / 1000000.0, 2)
        |          AS g1,
        |        round(avg(epoch_us(t2) - epoch_us(t1)) / 1000000.0, 2)
        |          AS g2,
        |        round(avg(epoch_us(t3) - epoch_us(t2)) / 1000000.0, 2)
        |          AS g3
        |      FROM pu)
        |SELECT CAST(s.step AS INT) AS step, s.event_type,
        |       CAST(s.n AS BIGINT) AS n_users,
        |       CASE WHEN s.prev > 0
        |            THEN round(s.n / s.prev::DOUBLE, 4) END AS conversion,
        |       s.g AS avg_sec_from_prev
        |FROM c, LATERAL (VALUES
        |  (0, 'signup',   c.n0, c.n_users, CAST(NULL AS DOUBLE)),
        |  (1, 'view',     c.n1, c.n0, c.g1),
        |  (2, 'click',    c.n2, c.n1, c.g2),
        |  (3, 'purchase', c.n3, c.n2, c.g3)) s(step, event_type, n, prev, g)"""
      .stripMargin,
    "x98_session_occupancy" ->
      """WITH e AS (SELECT user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts
        |           FROM events),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |        THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                               ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |sess AS (SELECT min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
        |         FROM s GROUP BY user_id, sid),
        |b AS (SELECT st AS ts, 1 AS delta FROM sess
        |      UNION ALL SELECT en AS ts, -1 AS delta FROM sess),
        |c AS (SELECT ts, delta,
        |        sum(delta) OVER (ORDER BY ts, delta
        |                         ROWS UNBOUNDED PRECEDING) AS concurrent
        |      FROM b)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
        |       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_starts,
        |       CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_ends,
        |       CAST(max(concurrent) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY 1""".stripMargin,
    "x94_event_transitions" ->
      """WITH e AS (SELECT event_id, user_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type
        |           FROM events),
        |lg AS (SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_type
        |       FROM e),
        |p AS (SELECT prev_type, event_type, count(*) AS n FROM lg
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT prev_type, sum(n) AS tot FROM p GROUP BY 1)
        |SELECT p.prev_type, p.event_type, CAST(p.n AS BIGINT) AS n,
        |       round(p.n / m.tot::DOUBLE, 4) AS p
        |FROM p JOIN m USING (prev_type)""".stripMargin,
    "x64_range_join_auto" ->
      """WITH e AS (SELECT event_id,
        |             make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |             event_type
        |           FROM events)
        |SELECT p.event_id AS p_id, r.event_id AS e_id,
        |       epoch_us(r.ts) - epoch_us(p.ts) AS gap_us
        |FROM e p JOIN e r
        |  ON p.event_type = 'purchase' AND r.event_type = 'error'
        | AND r.ts > p.ts
        | AND r.ts <= p.ts + INTERVAL 10 MINUTE""".stripMargin,
    // sequential per-row fold mirrors Spark's aggregate() exactly;
    // the cross-row mean rounds at 6
    "x69_embedding_quality" ->
      """WITH n AS (SELECT label,
        |             sqrt(list_sum(list_transform(embedding,
        |               x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |           FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero,
        |       round(avg(nrm), 6) AS mean_norm
        |FROM n GROUP BY 1""".stripMargin,
    // windowed mean-square energies from unnest(range(n)) (the x74
    // index idiom), 8 rise/fall bits via lead(), family sizes joined
    // back — integer output, so float summation order cannot surface
    "x99_envelope_fp" ->
      """WITH ex AS (
        |  SELECT vec_id, k, CAST(embedding[k + 1] AS DOUBLE) AS v, n
        |  FROM (SELECT vec_id, embedding, len(embedding) AS n,
        |          unnest(range(len(embedding))) AS k
        |        FROM embeddings WHERE len(embedding) >= 9)),
        |en AS (
        |  SELECT vec_id, CAST(floor(k * 9.0 / n) AS INT) AS win,
        |         sum(v * v) / count(*) AS e
        |  FROM ex GROUP BY 1, 2),
        |d AS (
        |  SELECT vec_id, win, e,
        |         lead(e) OVER (PARTITION BY vec_id ORDER BY win) AS nxt
        |  FROM en),
        |fp AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN nxt > e THEN 1 << win ELSE 0 END)
        |              AS BIGINT) AS envelope_fp
        |  FROM d WHERE nxt IS NOT NULL GROUP BY 1),
        |fam AS (SELECT envelope_fp, CAST(count(*) AS BIGINT) AS family_n
        |        FROM fp GROUP BY 1)
        |SELECT fp.vec_id, fp.envelope_fp, fam.family_n
        |FROM fp JOIN fam USING (envelope_fp)""".stripMargin,
    "x68_source_concentration" ->
      """WITH per AS (SELECT source,
        |               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |                 AS n_tokens
        |             FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_tokens) AS t FROM per),
        |sh AS (SELECT n_tokens::DOUBLE / t AS share FROM per, tot)
        |SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |       round(sum(share * share), 6) AS hhi,
        |       round(1.0::DOUBLE / sum(share * share), 6)
        |         AS effective_sources,
        |       round(max(share), 6) AS top_share
        |FROM sh""".stripMargin,
    // same md5-uniform (+0.5 offset avoids ln(0)), same ln/w key,
    // rounded-before-rank with id tiebreak
    "x63_weighted_sample" ->
      """WITH t AS (SELECT doc_id, source,
        |  round(ln((CAST(CAST('0x' ||
        |      substr(md5(CAST(doc_id AS VARCHAR) || 'es'), 1, 8)
        |      AS UBIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
        |    / n_chars, 6) AS es_key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, source, es_key FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY es_key DESC, doc_id ASC) AS rn
        |  FROM t)
        |WHERE rn <= 5""".stripMargin,
    // quantile_cont ≡ Spark `percentile` (the x14 parity); boundary
    // compares run long-vs-double identically in both engines
    "x62_percentile_trim" ->
      """WITH c AS (SELECT source,
        |             quantile_cont(n_chars, 0.1) AS lo,
        |             quantile_cont(n_chars, 0.9) AS hi
        |           FROM documents GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN d.n_chars >= c.lo AND d.n_chars <= c.hi
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       round(min(c.lo), 2) AS lo, round(min(c.hi), 2) AS hi
        |FROM documents d JOIN c ON d.source = c.source
        |GROUP BY 1""".stripMargin,
    // the oracle meters with a plain running-sum window; a doc is
    // selected iff the tokens spent BEFORE it are under budget
    "x59_budget_select" ->
      """WITH ent AS (
        |  SELECT doc_id,
        |         round(-sum((c / n) * ln(c / n)), 6) AS entropy
        |  FROM (SELECT doc_id, n, ch, count(*) AS c
        |        FROM (SELECT doc_id, len(text) AS n,
        |                unnest(string_split_regex(text, '')) AS ch
        |              FROM documents)
        |        GROUP BY 1, 2, 3)
        |  GROUP BY doc_id, n),
        |t AS (SELECT d.doc_id, d.source,
        |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n,
        |        ent.entropy
        |      FROM documents d JOIN ent ON d.doc_id = ent.doc_id),
        |r AS (SELECT *,
        |        sum(n) OVER (ORDER BY entropy DESC, doc_id ASC
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM r WHERE cum - n < 10000 GROUP BY 1""".stripMargin)
}
