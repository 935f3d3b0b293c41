package graft

import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Adversarial-skew proof for the pairwise paths: a corpus engineered
  * so thousands of docs share ONE band bucket / ONE cosine bucket, with
  * the per-task work distribution measured from real task metrics — the
  * 100×-scale skew story tested, not just documented.
  *
  * Methodology: a SparkListener records per-task shuffle records; the
  * stage moving the most records is the candidate-pair stage (the join
  * output feeding the distinct), and its task histogram is the skew
  * evidence.  AQE is off during measurement so Spark cannot re-split
  * the hot partition behind the test's back (at scale AQE skew-join is
  * a SECOND line of defense; salting must stand alone). */
class SkewStressSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body`, return stageId → per-task shuffle (write, read) record
    * counts once the listener bus has drained. */
  private def perTaskRecords(body: => Unit): Map[Int, Seq[(Long, Long)]] = {
    val recs =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, (Long, Long))]()
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) recs.add((t.stageId,
          (m.shuffleWriteMetrics.recordsWritten,
            m.shuffleReadMetrics.recordsRead)))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      BusDrain.await(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    recs.asScala.toSeq.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
  }

  private def withMeasuredConf[T](parts: Int)(body: => T): T = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", sp)
    }
  }

  /** 600 identical docs (one mega band bucket at bandRows = k) plus 100
    * distinct fillers. */
  private def hotCorpus = {
    val rnd = new scala.util.Random(1234)
    val boiler = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (1L to 600L).map((_, boiler)) ++
      (601L to 700L).map(i =>
        (i, (1 to 30).map(_ => s"t${rnd.nextInt(100000)}").mkString(" ")))
    docs.toDF("doc_id", "text")
  }

  test("salted LSH band join spreads a mega-bucket: per-task pair " +
    "volume within 2.5x of median; unsalted pins one task") {
    withMeasuredConf(16) {
      def run(salts: Int): (Long, Seq[Long]) = {
        var n = 0L
        val stages = perTaskRecords {
          n = graft.ext.Dedup.minhashLshPairs(hotCorpus, "doc_id", "text",
            n = 1, k = 8, bandRows = 8, threshold = 0.8, salts = salts)
            .count()
        }
        // the candidate-pair stage is the one writing the most records
        val pairStage = stages.maxBy(_._2.map(_._1).sum)._2.map(_._1)
        (n, pairStage.filter(_ > 0))
      }
      val (nSalted, salted) = run(16)
      val (nUnsalted, unsalted) = run(1)
      // same answer either way — salting only redistributes work
      assert(nSalted == nUnsalted && nSalted >= 179700L,
        s"pair counts diverged or implausible: $nSalted vs $nUnsalted")
      // unsalted: the single band key hash-routes EVERYTHING to one task
      assert(unsalted.max >= (unsalted.sum * 0.9).toLong,
        s"expected one pinned task, got spread $unsalted")
      // salted: the same volume spreads — no task above 2.5x the median,
      // and a real fan-out (most of the 16 sub-keys carry work)
      assert(salted.size >= 8, s"only ${salted.size} tasks carried pairs")
      val sorted = salted.sorted
      val median = sorted(sorted.size / 2)
      assert(salted.max <= median * 2.5,
        s"skewed salted spread: max=${salted.max} median=$median ($sorted)")
      assert(salted.max < unsalted.max / 4,
        s"salting should cut the hottest task >= 4x: " +
          s"${salted.max} vs ${unsalted.max}")
    }
  }

  test("salted SimHash edit-pair join spreads a mega fingerprint " +
    "bucket; unsalted pins one task") {
    withMeasuredConf(16) {
      // 1200 identical docs: one fingerprint, one length band — every
      // mask key is the same mega bucket.  Explicit salts values are
      // honored verbatim (the gate only decides under SaltsAuto), so
      // run(16) vs run(1) compares exactly the requested plans.
      val boiler = (1 to 30).map(i => s"w$i").mkString(" ")
      val rnd = new scala.util.Random(7)
      val corpus = ((1L to 1200L).map((_, boiler)) ++
        (1201L to 1250L).map(i =>
          (i, (1 to 30).map(_ => s"t${rnd.nextInt(100000)}").mkString(" ")))
        ).toDF("doc_id", "text")
      def run(salts: Int): (Long, Seq[Long]) = {
        var n = 0L
        val stages = perTaskRecords {
          n = graft.ext.Dedup.simhashEditPairs(corpus, "doc_id", "text",
            maxDist = 10, salts = salts).count()
        }
        val pairStage = stages.maxBy(_._2.map(_._1).sum)._2.map(_._1)
        (n, pairStage.filter(_ > 0))
      }
      val (nSalted, salted) = run(16)
      val (nUnsalted, unsalted) = run(1)
      // 1200 identical docs → C(1200,2) = 719400 zero-distance pairs
      assert(nSalted == nUnsalted && nSalted >= 719400L,
        s"pair counts diverged or implausible: $nSalted vs $nUnsalted")
      // unsalted: the 6 mask keys give at most 6 copies of the mega
      // bucket, so SOME task enumerates the full C(1200,2) alone
      assert(unsalted.max >= 719400L,
        s"expected a full-bucket task, got spread $unsalted")
      assert(salted.size >= 8, s"only ${salted.size} tasks carried pairs")
      val sorted = salted.sorted
      val median = sorted(sorted.size / 2)
      assert(salted.max <= median * 2.5,
        s"skewed salted spread: max=${salted.max} median=$median ($sorted)")
      // the hottest task shrinks even though total volume is 6x the
      // distinct pair count (one copy per mask key)
      assert(salted.max <= (unsalted.max * 0.6).toLong,
        s"salting should cut the hottest task: " +
          s"${salted.max} vs ${unsalted.max}")
    }
  }

  test("adaptiveSalts gate: diverse keys run unsalted under SaltsAuto, " +
    "a mega blocking bucket trips auto salts, explicit values are " +
    "honored verbatim, conf override forces salting") {
    import org.apache.spark.sql.functions.col
    import graft.ext.Dedup.{SaltsAuto, SaltsAutoDefault, adaptiveSalts}
    val diverse = (1L to 200L)
      .map(i => (i, i * 2654435761L)).toDF("id", "bk")
    assert(adaptiveSalts(diverse, Seq(col("bk")), SaltsAuto) == 1)
    // a clone family colliding on ONE blocking key — the fingerprints
    // behind it need not be identical, which is exactly why the probe
    // runs on the blocking key, not identical-fp groups
    val farm = ((1L to 1100L).map(i => (i, 42L)) ++
      (1101L to 1150L).map(i => (i, i))).toDF("id", "bk")
    assert(adaptiveSalts(farm, Seq(col("bk")), SaltsAuto)
      == SaltsAutoDefault)
    // explicit values bypass the probe and are returned verbatim —
    // a caller's own measurement is never second-guessed
    assert(adaptiveSalts(diverse, Seq(col("bk")), 16) == 16)
    assert(adaptiveSalts(farm, Seq(col("bk")), 1) == 1)
    // threshold 0 forces auto salting even without a mega bucket
    spark.conf.set(graft.ext.Dedup.SaltDupThresholdConf, "0")
    try assert(adaptiveSalts(diverse, Seq(col("bk")), SaltsAuto)
      == SaltsAutoDefault)
    finally spark.conf.unset(graft.ext.Dedup.SaltDupThresholdConf)
    // empty input stays well-defined
    assert(adaptiveSalts(
      diverse.filter(col("id") < 0), Seq(col("bk")), SaltsAuto) == 1)
  }

  test("block decomposition spreads a mega cosine bucket: blocks=4 " +
    "caps per-task pair work, identical results") {
    withMeasuredConf(16) {
      val rnd = new scala.util.Random(99)
      val hot = Array.fill(8)(1.0f)
      val corpus = ((1L to 400L).map(i => (i, hot)) ++
        (401L to 450L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
        ).toDF("vec_id", "embedding")
      def run(blocks: Int): (Set[(Long, Long)], Seq[Long]) = {
        val pairs = graft.ext.Similarity
          .cosineNearDupPairsBucketed(corpus, 0.95, dim = 8, planes = 2,
            blocks = blocks)
          .select("a", "b")
        val out = pairs.as[(Long, Long)].collect().toSet
        // measure per-task PAIR PRODUCTION (the O(n²) work itself): a
        // user repartition after the kernel forces every produced pair
        // through a shuffle, so the kernel stage's per-task shuffle
        // writes ARE its pair counts
        val stages = perTaskRecords {
          pairs.repartition(col("a")).count()
          ()
        }
        val kernelStage = stages.maxBy(_._2.map(_._1).sum)._2.map(_._1)
        (out, kernelStage.filter(_ > 0))
      }
      val (one, writesOne) = run(1)
      val (four, writesFour) = run(4)
      assert(one == four, "block decomposition must not change results")
      assert(one.size >= 79800, s"expected the mega-bucket pairs, got ${one.size}")
      // blocks=1: one task scores the whole 400-vector bucket
      assert(writesOne.max >= (writesOne.sum * 0.9).toLong,
        s"expected a pinned task, got $writesOne")
      // blocks=4: the hottest task carries at most a couple of the 10
      // block-pairs (each ~(n/B)² ≈ 1/8 of the bucket's pair space)
      assert(writesFour.max <= writesOne.max / 3,
        s"block spread too weak: ${writesFour.max} vs ${writesOne.max}")
      assert(writesFour.size >= 6,
        s"only ${writesFour.size} tasks carried pair work")
    }
  }

  test("as-of join mega-key: the window formulation serializes one " +
    "task; the tolerance-banded variant spreads it over time bands") {
    withMeasuredConf(16) {
      import org.apache.spark.sql.functions._
      // ONE monster key: 6000 left + 6000 right rows over ~16.6 hours;
      // a 60 s tolerance cuts that history into ~1000 bands
      val base = 1704067200L // 2024-01-01 00:00:00 UTC
      val l = (0 until 6000).map(i => (base + i * 10L, "m", i.toLong))
        .toDF("es", "k", "tid")
        .select(timestamp_seconds(col("es")).as("tts"), col("k"), col("tid"))
      val r = (0 until 6000).map(i => (base + i * 10L + 5L, "m", i.toLong))
        .toDF("es", "k", "qid")
        .select(timestamp_seconds(col("es")).as("qts"), col("k"), col("qid"))

      def taskReads(body: => Unit): Seq[Long] = {
        val stages = perTaskRecords(body)
        // the skew-relevant stage is the one READING the most shuffle
        // records (the per-key window / the banded join probe)
        stages.maxBy(_._2.map(_._2).sum)._2.map(_._2).filter(_ > 0)
      }

      var nWin = 0L
      val winReads = taskReads {
        nWin = graft.transform.Temporal.asOfJoin(l, r, keys = Seq("k"),
          leftTs = "tts", rightTs = "qts", payload = Seq("qid"))
          .filter(col("qid").isNotNull).count()
      }
      var nBand = 0L
      val bandReads = taskReads {
        nBand = graft.transform.Temporal.asOfJoinBanded(l, r,
          keys = Seq("k"), leftTs = "tts",
          rightTs = "qts", payload = Seq("qid"), toleranceSeconds = 60L)
          .filter(col("qid").isNotNull).count()
      }
      // same matches: every left row but the first has a 5 s-old
      // predecessor (right row i sits 5 s after left row i)
      assert(nWin == 5999L && nBand == 5999L, s"$nWin / $nBand")
      // window formulation: the single key hash-routes all 12 000
      // union rows through one task
      assert(winReads.max >= (winReads.sum * 0.9).toLong,
        s"expected one pinned window task, got $winReads")
      // banded: (k, band) keys spread the same rows across the grid
      assert(bandReads.size >= 8,
        s"only ${bandReads.size} tasks carried banded join rows")
      assert(bandReads.max <= (bandReads.sum * 0.3).toLong,
        s"banded spread too weak: max=${bandReads.max} of ${bandReads.sum}")
    }
  }

  test("winnowing df cap bounds a boilerplate mega-bucket: pair volume " +
    "stays filler-sized instead of quadratic in the hot phrase") {
    withMeasuredConf(16) {
      // 600 docs share one boilerplate phrase (plus unique filler so
      // each doc still selects its own fingerprints); uncapped, the
      // shared selections alone would enumerate C(600,2) ≈ 180 k pairs
      val rnd = new scala.util.Random(77)
      val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
      val docs = ((1L to 600L).map(i =>
          (i, s"$boiler " + (1 to 10).map(_ => s"u${i}x${rnd.nextInt(9)}").mkString(" "))) ++
        (601L to 650L).map(i =>
          (i, (1 to 20).map(_ => s"f${rnd.nextInt(100000)}").mkString(" "))))
        .toDF("doc_id", "text")
      val capped = graft.ext.Dedup.winnowedDupCandidates(docs,
        "doc_id", "text", k = 4, w = 4, minShared = 1, dfCap = 50)
      val nCapped = capped.count()
      // the boilerplate hashes (df = 600 > cap) are excluded, so pair
      // volume collapses to the incidental filler collisions
      assert(nCapped < 5000L,
        s"df cap failed to bound the mega-bucket: $nCapped pairs")
      // sanity: with a cap ABOVE the hot df, the quadratic pair set
      // exists — proving the cap (not data accident) is the bound
      val uncapped = graft.ext.Dedup.winnowedDupCandidates(docs,
        "doc_id", "text", k = 4, w = 4, minShared = 1, dfCap = 1000)
      assert(uncapped.count() >= 179700L, "expected the quadratic set")
    }
  }

  test("semanticPrune hot cell: block decomposition spreads the " +
    "per-cell kernel, identical results") {
    withMeasuredConf(64) {
      // 800 vectors engineered into ONE cell: codebook = vecs 1..2
      // (lowest ids); every other vector is a distinct basis direction
      // plus a small pull toward centroid 1, so all land in cell 1 but
      // stay mutually dissimilar (full quadratic scans, no early
      // break).  Same-direction collisions (i % 28) dedup — fine, the
      // point is the CELL is hot, not the pair output.
      val dim = 32
      def basis(k: Int, w: Double): Array[Float] = {
        val a = Array.fill(dim)(0.0f); a(k) = w.toFloat; a
      }
      val rows = Seq((1L, basis(0, 1.0)), (2L, basis(1, 1.0))) ++
        (3L to 800L).map { i =>
          val a = basis((i % 28 + 4).toInt, 1.0)
          a(0) = 0.2f
          (i, a)
        }
      val corpus = rows.toDF("vec_id", "embedding")
      def run(target: Int): (Set[(Long, Long, Boolean)], Seq[Long]) = {
        var out = Set.empty[(Long, Long, Boolean)]
        val stages = perTaskRecords {
          out = graft.ext.Similarity
            .semanticPrune(corpus, tau = 0.5, dim = dim, nlist = 2,
              cellBlockTarget = target)
            .select("vec_id", "cell", "dropped")
            .as[(Long, Long, Boolean)].collect().toSet
        }
        // the kernel stage is the one with the largest SINGLE-TASK
        // shuffle read (the grouped (cell, block-pair) rows) — total
        // reads tie with the final flag agg, which reads the same row
        // count spread thin
        val kernel = stages.maxBy(_._2.map(_._2).max)._2.map(_._2)
        (out, kernel.filter(_ > 0))
      }
      val (whole, readsWhole) = run(Int.MaxValue)
      val (blocked, readsBlocked) = run(50)
      assert(blocked == whole,
        "block decomposition must change task layout only, never results")
      assert(whole.count(_._2 == 1L) >= 798,
        s"hot cell not hot: ${whole.count(_._2 == 1L)} of ${whole.size}")
      // unguarded: the single cell key routes every row to one task
      assert(readsWhole.max >= (readsWhole.sum * 0.9).toLong,
        s"expected one pinned kernel task, got $readsWhole")
      // guarded: nb = ceil(798/50) = 16 → 136 block-pair groups spread
      // across tasks; no task holds more than ~half the cell even
      // though rows replicate nb times
      assert(readsBlocked.size >= 8,
        s"only ${readsBlocked.size} tasks carried kernel rows")
      // key-tuple hashing can co-locate a few groups per task, so the
      // per-task bound is statistical — but no task may approach the
      // full cell
      assert(readsBlocked.max <= (readsWhole.max * 0.7).toLong,
        s"hot-cell spread too weak: max=${readsBlocked.max} vs " +
          s"pinned=${readsWhole.max}")
      // the hard memory guarantee is per GROUP (one materialized array
      // per block-pair): replay the block hash and bound every group
      val nb = 16 // ceil(798 / 50)
      val perBlock = (3L to 800L)
        .groupBy(id => ((java.lang.Long.hashCode(id) & Int.MaxValue) % nb))
        .view.mapValues(_.size).toMap.withDefaultValue(0)
      val maxGroup = (for (bi <- 0 until nb; bj <- bi until nb) yield
        if (bi == bj) perBlock(bi) else perBlock(bi) + perBlock(bj)).max
      assert(maxGroup <= 150,
        s"a block-pair group holds $maxGroup rows (> 3x target)")
    }
  }

  test("x105 join-back under a TRUE boilerplate paragraph (one hash " +
    "in 40% of docs): AQE skew-join splits the hot partition and the " +
    "answer stays exact") {
    import graft.ext.Dedup
    val n = 30000L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("unique body paragraph "), col("id").cast("string"),
        when(col("id") % 5 < 2,
          lit("\n\nsubscribe to our newsletter for weekly updates"))
          .otherwise(lit(""))).as("text"))
    // correctness under the skew, default session conf: boilerplate
    // docs carry 2 paras / 1 dup, the rest 1 / 0
    val out = Dedup.paragraphDupStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out.size === n)
    out.foreach { case (id, (np, nd)) =>
      if (id % 5 < 2) assert((np, nd) === ((2L, 1L)), s"doc $id")
      else assert((np, nd) === ((1L, 0L)), s"doc $id")
    }
    // skew mechanics: the join-back shuffles (paras x df) on __h, and
    // 1200 rows of one md5 land in ONE reduce partition.  Disable the
    // broadcast escape (at corpus scale the df side is corpus-sized,
    // so the shuffled join IS the 100 TB shape) and scale the AQE skew
    // thresholds down to test size: the split must engage and no task
    // may read the hot key serially.
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      val byStage = perTaskRecords {
        Dedup.paragraphDupStats(docs, "doc_id", "text").count()
        ()
      }
      val hot = n / 5 * 2 // rows of the boilerplate hash hitting the join
      // the stage READING the most shuffle records is the join-back;
      // with the split engaged its max task reads well under the hot
      // key's full row count (serial = one task reads all ~1200)
      val joinStage = byStage.maxBy(_._2.map(_._2).sum)._2
      val maxRead = joinStage.map(_._2).max
      assert(joinStage.map(_._2).sum >= hot,
        s"join-back stage not found: ${byStage.view.mapValues(_.size).toMap}")
      assert(maxRead < hot / 2,
        s"hot hash not split: one task read $maxRead of ~$hot skewed rows")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("x103 keep-best URL dedup under a mega URL (40% of docs one " +
    "canonical form): map-side partial max_by collapses the hot key " +
    "before the shuffle") {
    import graft.ext.Web
    val n = 20000L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      when(col("id") % 5 < 2, lit("https://hot.example.com/the/page"))
        .otherwise(concat(lit("https://site.example.com/p/"),
          col("id").cast("string"))).as("url"),
      (col("id") % 997).as("n_chars"))
    withMeasuredConf(16) {
      var out: Array[org.apache.spark.sql.Row] = null
      val byStage = perTaskRecords {
        out = Web.urlDedupKeepBest(docs, "doc_id", "url", "n_chars")
          .collect()
      }
      // correctness: ONE family for the hot URL, keeper = max weight
      // with ties to lowest id (id 1996 carries n_chars 996, the max
      // weight among ids % 5 < 2 ... the exact argmax is data-defined,
      // so recompute it here)
      val hotDocs = (0L until n).filter(_ % 5 < 2)
        .map(id => (id, id % 997))
      val bestW = hotDocs.map(_._2).max
      val keeper = hotDocs.filter(_._2 == bestW).map(_._1).min
      val hot = out.find(r => !r.isNullAt(0) &&
        r.getString(0) == "https://hot.example.com/the/page").get
      assert(hot.getLong(1) === keeper)
      assert(hot.getLong(3) === hotDocs.size.toLong)
      // skew shape: the aggregate's shuffle carries one PARTIAL row
      // per (key, map partition), so the hot key crosses the wire at
      // most #map-tasks times — total shuffle volume stays at the
      // distinct-key count, not the corpus row count
      val distinctKeys = out.length.toLong
      val aggWrite = byStage.toSeq.map(_._2.map(_._1).sum).max
      assert(aggWrite < distinctKeys + 64,
        s"partial aggregation failed: $aggWrite shuffle rows for " +
          s"$distinctKeys families (corpus $n rows)")
    }
  }
}
