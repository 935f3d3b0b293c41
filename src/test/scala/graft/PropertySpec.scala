package graft

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.ColumnFns
import graft.transform.Transform
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY §5 plan item 3) — raw ScalaCheck
  * generators pumped with a fixed seed (the scalatestplus bridge is not
  * in the offline dependency set). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("funnel invariants on random event logs: step counts are " +
    "non-increasing, conversions in [0,1], and transition rows sum to 1") {
    val gen = for {
      n <- Gen.choose(5, 60)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 8L)
        t <- Gen.choose(0L, 86400L)
        e <- Gen.oneOf("a", "b", "c", "d")
      } yield (u, t, e))
    } yield rows
    samples(gen, 8).zipWithIndex.foreach { case (rows, i) =>
      val events = rows.zipWithIndex
        .map { case ((u, t, e), id) => (u, t, id, e) }
        .toDF("user_id", "sec", "event_id", "event_type")
        .select($"user_id", timestamp_seconds($"sec").as("ts"),
          $"event_id", $"event_type")
      val f = graft.ext.Behavior.funnelSteps(events, "user_id", "ts",
          "event_type", "event_id", Seq("a", "b", "c"))
        .orderBy("step")
        .select($"n_users", $"conversion").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) 1.0 else r.getDouble(1)))
      val counts = f.map(_._1)
      assert(counts.sameElements(counts.sorted.reverse),
        s"sample $i: steps must be non-increasing, got ${counts.toSeq}")
      f.foreach { case (_, c) =>
        assert(c.isNaN || (c >= 0.0 && c <= 1.0), s"sample $i: conv $c") }
      val probs = graft.ext.Behavior.transitionMatrix(events, "user_id",
          "ts", "event_type", "event_id")
        .groupBy($"prev_type").agg(sum($"p").as("s"))
        .select($"s").as[Double].collect()
      probs.foreach(s => assert(math.abs(s - 1.0) < 0.01,
        s"sample $i: row sum $s"))
    }
  }

  test("occupancy invariants on random event logs: starts and ends " +
    "balance to the session count and concurrency stays positive at " +
    "every start") {
    val gen = Gen.listOfN(40, for {
      u <- Gen.choose(1L, 6L)
      t <- Gen.choose(0L, 6L * 3600L)
    } yield (u, t))
    samples(gen, 6).zipWithIndex.foreach { case (rows, i) =>
      val events = rows.zipWithIndex
        .map { case ((u, t), id) => (u, t, id, "e") }
        .toDF("user_id", "sec", "event_id", "event_type")
        .select($"user_id", timestamp_seconds($"sec").as("ts"),
          $"event_id", $"event_type")
      val nSessions = events
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .count().count()
      val occ = graft.ext.Behavior.sessionOccupancy(events, "user_id", "ts")
        .select($"n_starts", $"n_ends", $"max_concurrent").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(occ.map(_._1).sum === nSessions, s"sample $i: starts")
      assert(occ.map(_._2).sum === nSessions, s"sample $i: ends")
      occ.filter(_._1 > 0).foreach { case (_, _, m) =>
        assert(m >= 1, s"sample $i: an hour with a start must peak >= 1") }
    }
  }

  test("F1 normalization is linear: normalize(k·v) ≈ k·normalize(v)") {
    val gen = for {
      u <- Gen.oneOf("ppb", "ng/m³", "pp100ml", "pa", "µg/m³")
      v <- Gen.choose(-1e6, 1e6)
      k <- Gen.choose(1.0, 64.0)
    } yield (u, v, k)
    val rows = samples(gen, 40)
    val df = rows.toDF("unit", "value", "k")
    val out = df.select(
      (ColumnFns.normalizeValue($"unit", $"value" * $"k") -
        $"k" * ColumnFns.normalizeValue($"unit", $"value")).as("diff"),
      ColumnFns.normalizeValue($"unit", $"value").as("norm"))
      .as[(Double, Double)].collect()
    out.foreach { case (diff, norm) =>
      assert(math.abs(diff) <= 1e-9 * math.max(1.0, math.abs(norm) * 64))
    }
  }

  test("batch from/to equals true min/max for random batches (A1)") {
    samples(Gen.nonEmptyListOf(Gen.choose(0L, 4102444800L)), 10).foreach {
      epochs =>
        val df = epochs.toDF("e")
          .select(timestamp_seconds($"e").as("timestamp"))
        val r = df.agg(min($"timestamp").as("a"), max($"timestamp").as("b"))
          .select(unix_timestamp($"a"), unix_timestamp($"b")).first()
        assert(r.getLong(0) == epochs.min && r.getLong(1) == epochs.max)
    }
  }

  test("MinHashSig kernel equals the exploded strategy on random corpora " +
    "(n = 1/2/3, ragged token counts, repeated and empty-ish tokens)") {
    val word = Gen.oneOf("a", "bb", "ccc", "dd dd", "", "zz")
    // docs of 0..6 words joined by single spaces — covers empty text,
    // below-n fallbacks, duplicate tokens, and multi-space artifacts
    // (the "dd dd"/"" words inject doubled separators after join)
    val doc = Gen.choose(0, 6).flatMap(len => Gen.listOfN(len, word))
      .map(_.mkString(" "))
    val texts = samples(doc, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    def sigs(sig: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      sig.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for (n <- Seq(1, 2, 3)) assert(
      sigs(Dedup.minhashSignatures(df, "doc_id", "text", n = n, k = 8)) ==
        sigs(Oracles.explodeMinhashSignatures(df, "doc_id", "text", n, 8)),
      s"kernel/explode mismatch at n=$n")
  }

  test("SimHashSig kernel equals the expression fold on random corpora " +
    "(multiplicity-sensitive, ragged docs); kernel plan is shuffle-free") {
    val word = Gen.oneOf("a", "bb", "ccc", "dd", "", "a") // repeats matter
    val doc = Gen.choose(0, 8).flatMap(len => Gen.listOfN(len, word))
      .map(_.mkString(" "))
    val texts = samples(doc, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    def fps(fp: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      fp.as[(Long, Int)].collect().toMap
    assert(fps(Dedup.simhashFingerprints(df, "doc_id", "text")) ==
      fps(Oracles.simhashFold(df, "doc_id", "text")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.simhashFingerprints(df, "doc_id", "text")
        .queryExecution.executedPlan
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "kernel simhash must not shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("minhash_union(sigs of parts) equals sig of the union for random " +
    "partitions of a token pool") {
    val pool = ('a' to 'z').map(_.toString)
    val part = Gen.listOfN(30, Gen.choose(0, 3)) // token i → part 0..3
    samples(part, 5).foreach { assign =>
      val docs = assign.zipWithIndex.groupBy(_._1).toSeq.map {
        case (p, xs) => (p.toLong, xs.map(x => pool(x._2 % 26)).mkString(" "))
      }
      val all = docs.map(_._2).mkString(" ")
      val df = docs.toDF("doc_id", "text")
      val viaAgg = Dedup.minhashSignatures(df, "doc_id", "text", n = 1, k = 8)
        .agg(graft.plans.MinHashUnionAgg.minhashUnion($"sig"))
        .as[Seq[String]].head()
      val direct = Dedup
        .minhashSignatures(Seq((0L, all)).toDF("doc_id", "text"),
          "doc_id", "text", n = 1, k = 8)
        .select($"sig").as[Seq[String]].head()
      assert(viaAgg == direct)
    }
  }

  test("stratifiedSample is partitioning-independent: same kept set " +
    "after an adversarial repartition") {
    val docs = (1 to 200).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else "b")).toDF("doc_id", "lang")
    def kept(df: org.apache.spark.sql.DataFrame) = graft.ext.CorpusStats
      .stratifiedSample(df, "doc_id", "lang")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept(docs) == kept(docs.repartition(13, $"lang")) &&
      kept(docs) == kept(docs.repartition(1)))
  }

  test("extendLshIndex law: matching against (corpus ⊕ batch) equals " +
    "one-shot matching against their union") {
    val corpus = Seq((1L, "p q r s t"), (2L, "u v w x y")).toDF("doc_id", "text")
    val accepted = Seq((10L, "m n o p q")).toDF("doc_id", "text")
    val incoming = Seq((20L, "m n o p q z"), (21L, "p q r s t"),
      (22L, "zz yy xx")).toDF("doc_id", "text")
    val viaExtend = Dedup.lshMatchIndexed(
      Dedup.extendLshIndex(
        Dedup.lshIndex(corpus, "doc_id", "text", n = 1, k = 8, bandRows = 2),
        accepted, "doc_id", "text"),
      incoming, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.lshMatchAgainst(
      corpus.unionByName(accepted), incoming, "doc_id", "text",
      n = 1, k = 8, bandRows = 2, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaExtend == oneShot && viaExtend.nonEmpty)
  }

  test("clusterKeepers: every keeper is a member of its own cluster and " +
    "every cluster has exactly one keeper") {
    val docs = (1L to 40L).map(i => (i, i * 7 % 13)).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 21L)).toDF("a", "b")
    val out = Dedup.clusterKeepers(docs, "doc_id", pairs, "n_chars")
      .as[(Long, Long, Long, Int)].collect()
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (c, rows) =>
      val keepers = rows.map(_._3).distinct
      assert(keepers.length == 1, s"cluster $c has keepers $keepers")
      assert(rows.map(_._1).contains(keepers.head),
        s"cluster $c keeper not a member")
      assert(rows.count(_._4 == 1) == 1, s"cluster $c is_keeper count")
    }
    assert(out.length == 40) // every doc labeled
  }

  test("duplicateClusters equals brute-force union-find on random graphs") {
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        d <- Gen.choose(1L, n - 1L) // b ≠ a by construction
      } yield { val b = (a + d) % n; (math.min(a, b), math.max(a, b)) })
    } yield (n, edges)
    samples(gen, 8).foreach { case (n, edges) =>
      // reference: plain union-find
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n.toInt).map(i => i.toLong -> find(i).toLong).toMap
      val docsDf = (0L until n.toLong).toDF("doc_id")
      val pairsDf = edges.toDF("a", "b")
      val got = Dedup.duplicateClusters(docsDf, "doc_id", pairsDf)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"n=$n edges=$edges")
    }
  }

  test("jaccard ∈ [0,1], symmetric, 1 for equal sets") {
    val gen = for {
      a <- Gen.nonEmptyListOf(Gen.choose(0, 20))
      b <- Gen.nonEmptyListOf(Gen.choose(0, 20))
    } yield (a, b)
    val pairs = samples(gen, 25)
    val df = pairs.map { case (a, b) =>
      (a.map(_.toString).mkString(" "), b.map(_.toString).mkString(" "),
        a.toSet == b.toSet)
    }.toDF("ta", "tb", "eq")
    val out = df.select(
      Dedup.jaccard(TextAnalysis.tokens($"ta"), TextAnalysis.tokens($"tb")),
      Dedup.jaccard(TextAnalysis.tokens($"tb"), TextAnalysis.tokens($"ta")),
      $"eq").as[(Double, Double, Boolean)].collect()
    out.foreach { case (j, ji, eq) =>
      assert(j >= 0.0 && j <= 1.0 && j == ji)
      if (eq) assert(j == 1.0)
    }
  }

  test("melt→pivot round trip over random wide rows (F13)") {
    val gen = Gen.listOfN(5, Gen.choose(-1e9, 1e9))
    val rows = samples(gen, 20)
    val df = rows.zipWithIndex
      .map { case (vs, i) => (i.toLong, vs(0), vs(1), vs(2), vs(3), vs(4)) }
      .toDF("id", "c0", "c1", "c2", "c3", "c4")
    val cols = (0 until 5).map(i => s"c$i")
    val melted = Transform.melt(df, Seq("id"), cols)
    assert(melted.count() == rows.length * 5L)
    val back = melted.groupBy("id").pivot("input_param", cols)
      .agg(first($"value"))
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("PointInPolygon agrees with an independent half-plane test on " +
    "random convex polygons") {
    // reference algorithm: for a CCW convex ring, inside ⟺ the point
    // is left of every directed edge (cross product ≥ 0) — a different
    // decision procedure from the expression's ray casting
    def insideConvex(px: Double, py: Double,
                     xs: Seq[Double], ys: Seq[Double]): Boolean =
      xs.indices.forall { i =>
        val j = (i + 1) % xs.length
        (xs(j) - xs(i)) * (py - ys(i)) - (ys(j) - ys(i)) * (px - xs(i)) > 0
      }
    val gen = for {
      cx <- Gen.choose(-50.0, 50.0)
      cy <- Gen.choose(-50.0, 50.0)
      k <- Gen.choose(3, 9)
      radii <- Gen.listOfN(k, Gen.choose(5.0, 20.0))
      phase <- Gen.choose(0.0, math.Pi / k)
      px <- Gen.choose(-80.0, 80.0)
      py <- Gen.choose(-80.0, 80.0)
    } yield {
      // strictly increasing angles → simple convex-ish star; keep only
      // truly convex rings below
      val angles = (0 until k).map(i => phase + i * 2 * math.Pi / k)
      val xs = angles.zip(radii).map { case (a, r) => cx + r * math.cos(a) }
      val ys = angles.zip(radii).map { case (a, r) => cy + r * math.sin(a) }
      (px, py, xs, ys)
    }
    val cases = samples(gen, 120).filter { case (_, _, xs, ys) =>
      // convexity: every vertex left of the previous edge
      xs.indices.forall { i =>
        val j = (i + 1) % xs.length; val l = (i + 2) % xs.length
        (xs(j) - xs(i)) * (ys(l) - ys(i)) -
          (ys(j) - ys(i)) * (xs(l) - xs(i)) > 0
      }
    }.filter { case (px, py, xs, ys) =>
      // skip boundary-grazing points where float tie-breaks may differ
      // between the two algorithms
      xs.indices.forall { i =>
        val j = (i + 1) % xs.length
        math.abs((xs(j) - xs(i)) * (py - ys(i)) -
          (ys(j) - ys(i)) * (px - xs(i))) > 1e-6
      }
    }
    assert(cases.nonEmpty)
    val df = cases.toDF("px", "py", "xs", "ys")
    val got = df.select(
      graft.plans.PointInPolygon.pointInPolygon(
        $"px", $"py", $"xs", $"ys")).as[Boolean].collect()
    cases.zip(got).foreach { case ((px, py, xs, ys), g) =>
      assert(g == insideConvex(px, py, xs, ys),
        s"disagreement at ($px,$py) ring=${xs.zip(ys)}")
    }
  }

  test("diff-write idempotence: same content twice → second write empty (K1)") {
    samples(Gen.nonEmptyListOf(Gen.alphaStr.suchThat(_.nonEmpty)), 3).foreach {
      contents =>
        val out = java.nio.file.Files.createTempDirectory("graft_prop_").toString
        val df = contents.distinct.zipWithIndex
          .map { case (c, i) => (s"k$i", c) }.toDF("key", "json")
        val first = graft.sinks.Sinks
          .diffWriteStations(spark, df, "key", "json", s"$out/s")._1
        val second = graft.sinks.Sinks
          .diffWriteStations(spark, df, "key", "json", s"$out/s")._1
        assert(first.count() == contents.distinct.length.toLong)
        assert(second.count() == 0)
    }
  }

  test("dHash brightness invariance: a uniform shift never flips a bit " +
    "(the cross-multiplied compare is exactly shift-invariant)") {
    import graft.ext.Multimodal
    // byte-grid form: (s₂+c·n₂)·n₁ > (s₁+c·n₁)·n₂ ⇔ s₂·n₁ > s₁·n₂ —
    // the c·n₁·n₂ terms cancel, so the property is EXACT, not approximate
    val gen = for {
      n <- Gen.choose(1, 800)
      bytes <- Gen.listOfN(n, Gen.choose(0, 200))
      c <- Gen.choose(1, 55) // clip-free headroom
    } yield (bytes.map(_.toByte).toArray, c)
    samples(gen, 60).foreach { case (b, c) =>
      val shifted = b.map(x => ((x & 0xff) + c).toByte)
      assert(Multimodal.byteGridDHash64(b) ==
        Multimodal.byteGridDHash64(shifted),
        s"byte-grid fp moved under uniform +$c shift (n=${b.length})")
    }
    // raster form: same algebra over box sums of an arbitrary image
    val rgen = for {
      w <- Gen.choose(3, 40)
      h <- Gen.choose(3, 40)
      px <- Gen.listOfN(w * h, Gen.choose(0, 200))
      c <- Gen.choose(1, 55)
    } yield (w, h, px.map(_.toByte).toArray, c)
    samples(rgen, 40).foreach { case (w, h, gray, c) =>
      val shifted = gray.map(x => ((x & 0xff) + c).toByte)
      assert(Multimodal.dHash64(gray, w, h) ==
        Multimodal.dHash64(shifted, w, h),
        s"raster fp moved under uniform +$c shift (${w}x$h)")
    }
  }

  test("dHash locality: one byte edit flips at most 2 bits; the combo " +
    "keys then guarantee a shared blocking key") {
    import graft.ext.Multimodal
    val gen = for {
      n <- Gen.choose(80, 600)
      bytes <- Gen.listOfN(n, Gen.choose(0, 255))
      pos <- Gen.choose(0, n - 1)
      nv <- Gen.choose(0, 255)
    } yield (bytes.map(_.toByte).toArray, pos, nv.toByte)
    samples(gen, 60).foreach { case (b, pos, nv) =>
      val edited = b.clone(); edited(pos) = nv
      val d = java.lang.Long.bitCount(
        Multimodal.byteGridDHash64(b) ^ Multimodal.byteGridDHash64(edited))
      // one byte lands in one cell → only that cell's two adjacent
      // comparisons can flip
      assert(d <= 2, s"single-byte edit flipped $d bits (n=${b.length})")
    }
  }

  test("NearestCellExpr equals the declarative crossJoin + max_by form " +
    "on random corpora (near-tie cosines); zero vectors take the " +
    "lowest cell where ANSI would throw") {
    import graft.plans.{Codebook, NearestCell}
    val dim = 8
    // small-integer components on a coarse grid force frequent exact
    // cosine ties at 6 decimals.  Vectors are kept non-zero: under
    // ANSI mode (the Spark 4 default) the DECLARATIVE form throws
    // DIVIDE_BY_ZERO on a zero-norm vector, where the kernel (like
    // DuckDB's NULL division and semanticPrune's mapPartitions twin)
    // degrades to the lowest cell — the kernel is strictly more
    // graceful, pinned separately below
    val nonZeroVec = Gen.listOfN(dim, Gen.choose(-2, 2).map(_.toDouble))
      .retryUntil(_.exists(_ != 0.0))
    val gen = for {
      n <- Gen.choose(6, 40)
      k <- Gen.choose(1, 5)
      rows <- Gen.listOfN(n, nonZeroVec)
    } yield (k, rows)
    samples(gen, 12).zipWithIndex.foreach { case ((k, rows), i) =>
      val emb = rows.zipWithIndex
        .map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "v")
      val cent = emb.orderBy($"vec_id").limit(k)
        .select($"vec_id".as("cell"), $"v".as("cv"))
      val cb = Codebook.fromFrame(cent, "cell", "cv").get
      val kernel = emb
        .select($"vec_id", NearestCell.nearestCell($"v", cb).as("w"))
        .select($"vec_id", $"w.cell", $"w.csim")
        .collect().map(_.toString).sorted
      val centN = cent.withColumn("cv_norm",
        sqrt(aggregate(transform($"cv", x => x * x), lit(0.0),
          (acc, x) => acc + x)))
      val declarative = emb
        .withColumn("v_norm", sqrt(aggregate(transform($"v", x => x * x),
          lit(0.0), (acc, x) => acc + x)))
        .crossJoin(broadcast(centN))
        .select($"vec_id", $"cell", round(
          (1 to dim).map(j => element_at($"v", j) * element_at($"cv", j))
            .reduce(_ + _) / ($"v_norm" * $"cv_norm"), 6).as("csim"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"cell", $"csim"),
          struct($"csim", (-$"cell").as("nc"))).as("w"))
        .select($"vec_id", $"w.cell", $"w.csim")
        .collect().map(_.toString).sorted
      assert(kernel.sameElements(declarative),
        s"sample $i (k=$k): kernel and declarative argmax diverge\n" +
          s"kernel: ${kernel.take(5).mkString("; ")}\n" +
          s"decl:   ${declarative.take(5).mkString("; ")}")
    }
    // zero-norm input: every cosine is NaN, all candidates tie, and
    // the ascending-cell first-wins rule lands on the lowest cell —
    // where the ANSI declarative form would throw
    val zcb = graft.plans.Codebook.of(Seq(
      3L -> Array(1.0, 0.0), 7L -> Array(0.0, 1.0)))
    val z = Seq((0L, Seq(0.0, 0.0))).toDF("vec_id", "v")
      .select(NearestCell.nearestCell($"v", zcb).as("w"))
      .select($"w.cell", $"w.csim").head()
    assert(z.getLong(0) == 3L && z.getDouble(1).isNaN)
  }

  test("URL canonicalization is idempotent and never leaves tracking " +
    "params, fragments, www labels, or default ports behind") {
    import graft.ext.Web
    val gen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "Http")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("Example.com", "a.b.example.NET", "x-y.org")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/A/b", "/a/b/c/", "/p//")
      params <- Gen.someOf(Seq("utm_source=x", "id=7", "fbclid=z",
        "q=Beta", "gclid=1", "utm_campaign=Y", "UTM_SOURCE=mx",
        "Fbclid=W", "GCLID=k"))
      frag <- Gen.oneOf("", "#f", "#Sec2")
    } yield s"$scheme://$www$host$port$path" +
      (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag
    val urls = samples(gen, 60)
    val out = urls.toDF("u")
      .select(col("u"), Web.canonicalUrl(col("u")).as("c1"),
        Web.canonicalUrl(Web.canonicalUrl(col("u"))).as("c2"),
        expr("url_canonicalize(u)").as("sqlc"))
      .collect()
    // the SQL registration's resolved-node twin must match the Column
    // chain bit-for-bit on every sample
    out.foreach(r => assert(r.getString(1) === r.getString(3),
      s"url_canonicalize(SQL) diverged from canonicalUrl: ${r.getString(0)}"))
    out.foreach { r =>
      val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 === c2, s"canonicalization must be idempotent for $u")
      assert(!c1.contains("#"), s"fragment survived: $u -> $c1")
      assert(!c1.toLowerCase.contains("utm_") && !c1.contains("fbclid")
        && !c1.contains("gclid"), s"tracking param survived: $u -> $c1")
      assert(!c1.contains("://www."), s"www survived: $u -> $c1")
      assert(!(c1.startsWith("http://") && c1.contains(":80/")) &&
        !(c1.startsWith("https://") && c1.contains(":443/")),
        s"default port survived: $u -> $c1")
      assert(!c1.contains("?&") && !c1.endsWith("?") && !c1.endsWith("&"),
        s"unhealed separator: $u -> $c1")
    }
  }

  test("VecKernels equal their declarative twins bit-for-bit: expanded " +
    "dot, HOF sum-of-squares, and the rDim x dim projection tree") {
    import graft.plans.{SignMatrix, VecKernels}
    val dim = 8
    val vec = Gen.listOfN(dim, Gen.choose(-1000, 1000).map(_ / 97.0))
    val gen = for {
      n <- Gen.choose(3, 20)
      rows <- Gen.listOfN(n, vec)
    } yield rows
    samples(gen, 10).zipWithIndex.foreach { case (rows, s) =>
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v, v.reverse) }
        .toDF("id", "a", "b")
      val signs = SignMatrix((0 until 3).map(r =>
        (0 until dim).map(i =>
          graft.ext.Similarity.planeSign(900 + r, i)).toArray).toArray)
      val got = df.select($"id",
          VecKernels.vecDot($"a", $"b", dim).as("d"),
          VecKernels.vecSumSq($"a").as("ss"),
          VecKernels.rpProject($"a", signs).as("rp"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getSeq[Double](3))).sortBy(_._1)
      val want = df.select($"id",
          (1 to dim).map(i => element_at($"a", i) * element_at($"b", i))
            .reduce(_ + _).as("d"),
          aggregate(transform($"a", x => x * x), lit(0.0),
            (acc, x) => acc + x).as("ss"),
          array((0 until 3).map { r =>
            (0 until dim).map(i => element_at($"a", i + 1) *
              graft.ext.Similarity.planeSign(900 + r, i)).reduce(_ + _)
          }: _*).as("rp"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getSeq[Double](3))).sortBy(_._1)
      // exact comparison — same IEEE op order is the contract
      assert(got.sameElements(want), s"sample $s: kernel != declarative")
    }
    // dimension hostility: short vectors throw, like ANSI element_at
    val short = Seq((1L, Seq(1.0, 2.0))).toDF("id", "a")
    val e = intercept[Exception](
      short.select(VecKernels.vecDot($"a", $"a", 8)).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("VecDot")))
    // structural equality: same seed => canonically equal expressions
    val s1 = graft.ext.Similarity.signMatrix(101, dim, 4)
    val s2 = graft.ext.Similarity.signMatrix(101, dim, 4)
    assert(s1 == s2 && s1.hashCode == s2.hashCode)
  }

}

/** Reference quirks — SURVEY §2.11 keep/fix decisions, pinned by test. */
class QuirksSpec extends SparkSpec {
  import spark.implicits._

  test("§2.11.1 habitatmap inverted null check: engine keeps SANE semantics") {
    // reference `if (measure) continue` pushes only falsy measures (bug);
    // this engine drops null/NaN and keeps real values (documented fix)
    val df = Seq(Some(1.5), Some(0.0), None).toDF("value")
    val kept = Transform.dropNullMeasures(df).as[Double].collect()
    assert(kept.toSet == Set(1.5, 0.0))
  }

  test("§2.11.3 aernode drop-newest-round slice keeps rounds 2..4 (W2)") {
    // rounds = days; newest (possibly partial) round excluded
    val df = Seq(
      (1L, "2024-01-04", 40), (1L, "2024-01-03", 30),
      (1L, "2024-01-02", 20), (1L, "2024-01-01", 10),
      (1L, "2023-12-31", 0)
    ).toDF("dev", "day", "v")
    val kept = Transform.roundsBetween(df, Seq("dev"), col("day"), 2, 4)
      .select("v").as[Int].collect().sorted
    assert(kept.toSeq == Seq(10, 20, 30)) // newest (40) and oldest (0) out
  }

  test("§2.11.4 smartsense -999 sentinel is preserved as a value") {
    // p9_sentinel_map semantics: 'inv' → -999.0 survives the pipeline
    val r = SparkEntry.queries("p9_sentinel_map")(spark, sf0001)
      .filter($"measure" === -999.0).count()
    assert(r > 0)
  }

  test("§2.11.6 heterogeneous timestamp conventions normalize to UTC") {
    val epoch = Seq(1714500000L).toDF("t")
      .select(Transform.normalizeTs($"t", Transform.EpochSeconds).as("ts"))
    val iso = Seq("2024-04-30T18:00:00Z").toDF("t")
      .select(Transform.normalizeTs($"t", Transform.Iso).as("ts"))
    val millis = Seq(1714500000000L).toDF("t")
      .select(Transform.normalizeTs($"t", Transform.EpochMillis).as("ts"))
    assert(epoch.union(iso).union(millis).distinct().count() == 1)
  }

}
