package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge TRAINING — the learning half of the subword
  * stack ([[TextAnalysis.vocabTokenStats]] / the x76 VocabEncode kernel
  * is the applying half): learn the `merges` highest-frequency symbol
  * pair merges from the corpus, Sennrich-style ("Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016 — the
  * word-level formulation), with fully deterministic tie-breaking so
  * two engines learn byte-identical merge tables.
  *
  * Scale design (the part that matters at 100 TB): training never
  * iterates over the corpus.  The corpus is folded ONCE into the
  * distinct-word count table — vocabulary-sized, Heaps-law small — and
  * every merge round operates on that table only (count adjacent
  * symbol pairs weighted by word count → argmax → apply the merge).
  * Per round the driver receives exactly ONE row (the argmax pair —
  * the watermark-read class of collect, same discipline as Lloyd's
  * rounds in [[Similarity.ivfIndexRefined]]); the words table is
  * localCheckpointed every round so round r+1 doesn't replay rounds
  * 0..r.
  *
  * Symbol streams are stored as a single string — one leading and
  * trailing space, DOUBLE spaces between symbols (' t  h  e ') — so
  * applying merge (a, b) is one engine-portable
  * `replace(s, ' a  b ', ' ab ')`: left-to-right non-overlapping
  * replacement is exactly BPE's greedy within-round merge ("a a a"
  * under merge (a,a) → "aa a"), and Spark's `replace` and DuckDB's
  * `replace` agree on it byte-for-byte, which is what makes the merge
  * table oracle-checkable without any custom kernel.  Symbols never
  * contain spaces (characters and their concatenations), so the
  * delimiter is unambiguous.  Pair counts follow the classic
  * convention: every ADJACENT occurrence counts, overlaps included.
  * No end-of-word marker symbol — merges cannot cross words because
  * every word is its own stream; add one by appending a sentinel to
  * `word` before calling if Sennrich-exact vocab is needed.
  *
  * Ties break (count desc, sym_a asc, sym_b asc).  Runs `merges`
  * rounds, stopping early when a round has no adjacent pairs left
  * (single-symbol streams only, or an empty corpus) and returning the
  * merges learned so far — the fixed-round unrolled oracle replays the
  * stop exactly, because an empty round-r argmax empties every later
  * round's CTE too.
  *
  * Output: (round, sym_a, sym_b, merged, pair_count) — `merges` rows,
  * round 0-based in learning order.
  */
object Bpe {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.ext.Bpe")

  /** One corpus pass → (word, cnt), the vocabulary-sized table all
    * rounds run on. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    bpeTrainOnWords(wordCounts(docs, textCol), merges)

  /** Train on a precomputed (word, cnt) table. */
  def bpeTrainOnWords(words: DataFrame, merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1 (got $merges)")
    val spark = words.sparkSession
    // char symbols, doubled-space encoded; vocab-sized, pinned
    var cur = words.select(
        concat(lit(" "),
          array_join(split(col("word"), ""), "  "),
          lit(" ")).as("s"),
        col("cnt"))
      .localCheckpoint()
    val learned = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (r <- 0 until merges if !exhausted) {
      // adjacent pairs from the doubled-space stream, weighted by cnt.
      // Single-symbol streams contribute none — and must be guarded
      // explicitly: Spark's sequence(1, 0) counts DOWN ([1, 0]), it is
      // not empty.
      val syms = split(trim(col("s")), "  ")
      val pairsOf = when(size(syms) >= 2, transform(
          sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("a"),
            element_at(syms, i + lit(1)).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val best = cur
        .select(col("cnt"), explode(pairsOf).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect() // ONE argmax row per round (see scaladoc)
      if (best.isEmpty) exhausted = true // no pairs left: stop learning
      else {
        val Row(a: String, b: String, c: Long) = best(0)
        learned += ((r, a, b, a + b, c))
        // literal (non-regex) replace — codegen'd StringReplace, same
        // left-to-right non-overlap semantics as the oracle's replace
        cur = cur.withColumn("s", call_function("replace",
            col("s"), lit(s" $a  $b "), lit(s" ${a + b} ")))
          .localCheckpoint()
      }
    }
    import spark.implicits._
    learned.result()
      .toDF("round", "sym_a", "sym_b", "merged", "pair_count")
  }

  /** Exact BPE training with ONE Spark job regardless of merge count:
    * fold the corpus into the (word, cnt) table distributed, collect
    * that vocabulary-sized table (Heaps-law small — it is the merge
    * algorithm's entire working set), and run the sequential merge loop
    * driver-side.  Bit-identical to [[bpeTrainOnWords]] (same doubled-
    * space streams, same left-to-right non-overlapping replace, same
    * (count desc, sym_a asc, sym_b asc) tie order with UTF-8 byte
    * comparison matching Spark/DuckDB string sort) — BpeSpec pins the
    * equivalence.
    *
    * This is the merge-count scale path: [[bpeTrainOnWords]] drives one
    * Spark job per merge round (fine at the declared 8 rounds; 32k
    * rounds = 32k job round-trips — its documented ceiling), while here
    * rounds cost driver CPU only.  The trade is the collect: like
    * [[Similarity.cosinePairsKernel]], the contract is enforced, not
    * advisory — inputs past `maxCollectWords` are refused with a
    * pointer to the per-round trainer instead of an eventual driver
    * OOM.  (A 100 TB corpus folds to a word table many orders smaller;
    * if even that exceeds the cap, prune the tail — rare words cannot
    * win early merges — or accept per-round jobs.) */
  def bpeTrainLocal(docs: DataFrame, textCol: String, merges: Int,
                    maxCollectWords: Long = 10000000L): DataFrame =
    bpeTrainLocalOnWords(wordCounts(docs, textCol), merges,
      maxCollectWords)

  /** Driver-side exact trainer over a precomputed (word, cnt) table —
    * see [[bpeTrainLocal]]. */
  def bpeTrainLocalOnWords(words: DataFrame, merges: Int,
                           maxCollectWords: Long = 10000000L): DataFrame = {
    require(merges >= 1, s"merges must be >= 1 (got $merges)")
    val spark = words.sparkSession
    import spark.implicits._
    val rows = collectWordTable(words, maxCollectWords)
    val (learned, _) = localMergeLoop(rows, merges)
    learned.toDF("round", "sym_a", "sym_b", "merged", "pair_count")
  }

  /** The enforced-cap driver collect shared by the local trainer and
    * the local encode path — see [[bpeTrainLocal]] for the contract. */
  private def collectWordTable(words: DataFrame,
                               maxCollectWords: Long): Array[(String, Long)] = {
    tryCollectWordTable(words, maxCollectWords).getOrElse(
      throw new IllegalArgumentException(
        s"bpeTrainLocal collects the word table to the driver: input " +
          s"exceeds maxCollectWords=$maxCollectWords. Use bpeTrainOnWords " +
          "(one Spark job per merge round) for larger vocabularies."))
  }

  /** Capped driver collect that reports overflow instead of throwing —
    * the probe [[bpeEncodeCounts]] auto-dispatches on: one job either
    * way (the cap+1 limit IS the size check, no extra count() pass),
    * `None` means the vocabulary exceeds the cap and the caller must
    * stay distributed. */
  private def tryCollectWordTable(words: DataFrame, maxCollectWords: Long)
      : Option[Array[(String, Long)]] = {
    val spark = words.sparkSession
    import spark.implicits._
    val capped = math.min(maxCollectWords, Int.MaxValue - 1L).toInt
    val rows = words.select(col("word").cast("string"),
        col("cnt").cast("long"))
      .as[(String, Long)].limit(capped + 1).collect()
    if (rows.length <= capped) Some(rows) else None
  }

  /** The sequential merge loop over a collected (word, cnt) table —
    * bit-identical to the distributed trainer (BpeSpec).  Returns the
    * learned merges AND each word's FINAL symbol stream: after the
    * loop, `streams(i)` is exactly the replay of every learned merge
    * over `rows(i)._1`'s doubled-space stream, i.e. the word's
    * BPE-encoded form — which lets an encode-side caller skip a second
    * replay entirely (round-20, [[bpeEncodeCounts]]). */
  private def localMergeLoop(rows: Array[(String, Long)], merges: Int)
      : (Seq[(Int, String, String, String, Long)], Array[String]) = {
    // doubled-space symbol streams, as in the distributed trainer
    val streams = rows.map { case (w, _) =>
      " " + w.split("").mkString("  ") + " "
    }
    val cnts = rows.map(_._2)
    // unsigned UTF-8 byte order = Spark's BinaryComparable string sort
    def u8lt(x: String, y: String): Boolean =
      java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0
    val learned = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (r <- 0 until merges if !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      var j = 0
      while (j < streams.length) {
        val syms = streams(j).trim.split("  ")
        val c = cnts(j)
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
        j += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long,
            Ordering.fromLessThan(u8lt), Ordering.fromLessThan(u8lt)))
        learned += ((r, a, b, a + b, c))
        var i = 0
        while (i < streams.length) {
          streams(i) = streams(i).replace(s" $a  $b ", s" ${a + b} ")
          i += 1
        }
      }
    }
    (learned.result(), streams)
  }

  /** Flatten a learned merge table into the vocab [[
    * TextAnalysis.vocabTokenStats]] / the VocabEncode kernel consume —
    * the bridge from BPE TRAINING (x81) to greedy longest-match APPLY
    * (x76): base characters observed in the corpus (sorted, so ids are
    * stable) followed by the merged symbols in learning order.  Note
    * the two apply modes differ by construction — VocabEncode is
    * greedy longest-match (WordPiece-style) while [[bpeEncodeCounts]]
    * replays merges in learned order (BPE-style); both are standard,
    * and this vocab makes the trained symbols available to the former.
    * Driver-side result (vocabulary-sized, the merge table is k rows). */
  def mergeVocab(docs: DataFrame, textCol: String,
                 merges: Int): Seq[String] = {
    val merged = bpeTrain(docs, textCol, merges)
      .orderBy(col("round")).select(col("merged")).collect()
      .map(_.getString(0))
    val chars = wordCounts(docs, textCol)
      .select(explode(split(col("word"), "")).as("ch"))
      .distinct().orderBy(col("ch")).collect().map(_.getString(0))
    (chars ++ merged).distinct.toSeq
  }

  /** Apply a learned merge sequence and count the resulting subword
    * tokens per document — the trained-tokenizer token meter (x76's
    * vocab meter with merges learned from THIS corpus instead of a
    * frozen vocab; every token-denominated knob — mixture weights,
    * budget select, pack budgets — can now run on learned-BPE counts).
    *
    * Scale shape: the merge chain (a `merges`-step nested literal
    * replace, fully codegen'd) runs over the DISTINCT-word table —
    * vocabulary-sized — never over the corpus; per-doc counts come from
    * one exploded (doc_id, word) pass joined to that broadcast
    * word→n_syms dimension.  Merges are collected driver-side first
    * (`merges` rows, the watermark-read class).
    *
    * Output: (doc_id, n_words, bpe_tokens). */
  def bpeEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
                      merges: Int): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("word"))
    // ONE distributed job — the (word, cnt) fold — then the whole
    // train+encode runs on the collected vocabulary driver-side:
    // [[localMergeLoop]]'s final streams ARE each word's encoded form,
    // so the word→n_syms dimension comes back as a driver-built
    // broadcast table with no second corpus scan and no per-round
    // argmax jobs.  The driver collect is capped
    // (`spark.graft.bpeEncodeMaxCollectWords`, default 10M); the
    // cap+1-limited collect is itself the size probe, so a vocabulary
    // past the cap falls back to the per-round distributed trainer +
    // codegen replay over the distinct-word table, with no extra
    // count() job on the happy path (BpeSpec pins both paths equal).
    val maxCollect = docs.sparkSession.conf
      .get("spark.graft.bpeEncodeMaxCollectWords", "10000000").toLong
    val wordSyms =
      tryCollectWordTable(wordCounts(docs, textCol), maxCollect) match {
        case Some(rows) =>
          val spark = docs.sparkSession
          import spark.implicits._
          val (_, streams) = localMergeLoop(rows, merges)
          rows.indices.map(i =>
              (rows(i)._1, streams(i).trim.split("  ").length.toLong))
            .toDF("word", "__n_syms")
        case None =>
          log.warn("bpeEncodeCounts: vocabulary exceeds " +
            s"spark.graft.bpeEncodeMaxCollectWords=$maxCollect; falling " +
            "back from the driver-side encode to the distributed rounds " +
            "trainer")
          val learned = bpeTrain(docs, textCol, merges)
            .orderBy(col("round")).select(col("sym_a"), col("sym_b")).collect()
            .map(r => (r.getString(0), r.getString(1)))
          val start = concat(lit(" "),
            array_join(split(col("word"), ""), "  "), lit(" "))
          val encoded = learned.foldLeft(start) { case (e, (a, b)) =>
            call_function("replace", e, lit(s" $a  $b "), lit(s" ${a + b} "))
          }
          words.select(col("word")).distinct()
            .select(col("word"),
              size(split(trim(encoded), "  ")).cast("long").as("__n_syms"))
      }
    words.join(broadcast(wordSyms), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__n_syms")).as("bpe_tokens"))
  }
}
