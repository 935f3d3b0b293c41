package graft
import graft.tools.{Json, LocalSession, StageProbe, StageRec}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line `{"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}`.
  *
  * The line is printed to stdout AND written to a file
  * (SPARK_GRAFT_BENCH_OUT, default ./BENCH_LOCAL.json) so the driver's
  * parser never races concurrent log output — round-1's recorded bench
  * had a log line spliced mid-JSON.
  *
  * SPARK_GRAFT_BENCH_RUNS (default 3): run each query N times and report
  * the minimum — warm-run mode that subtracts the ~0.5-1 s/query
  * JIT/codegen warmup AND de-noises ambient-load spikes on a shared
  * box (rounds 4/6/7 recorded phantom per-query regressions on
  * byte-identical code; min-of-3 bounds that).  The JSON carries
  * "runs" so rounds remain comparable.  (1→2 in round 3 for warm
  * numbers; 2→3 in round 8 for noise, per the round-7 verdict.)
  *
  * Round 13 ("timing":"slate-v2" in the JSON): the session slate is
  * cleared between queries (pinned caches + RDD blocks + a driver GC)
  * and one untimed warmup precedes the timed runs, so a query's
  * recording no longer depends on how many queries ran before it in
  * the session — the r12 full-suite artifact carried x73 at 6.0 s and
  * x22 at 4.4 s purely from accumulated session state (both ~2 s /
  * ~0.7 s warm in a fresh session, byte-identical code).
  *
  * Times are rounded to ms.  The STDOUT line carries the slowest-30
  * per-query map (round-8 verdict: the full 137-entry line overflowed
  * the driver's stdout tail capture, which drops the HEAD of the line —
  * `BENCH_r08.json` came back `"parsed": null`; top-30 fits).  The file
  * artifact always gets the full map; `queries_run` > map size flags
  * the stdout subset.  SPARK_GRAFT_BENCH_TOPK overrides (0 = full map).
  * Both totals are the sum of the ROUNDED per-query values so a
  * consumer cross-checking total vs entries sees an exact match.
  *
  * "spread" maps each reported query to [min, max] seconds across the
  * N runs: noisy recordings (shared-box ambient load) identify
  * themselves by a wide spread, so a per-round delta on untouched code
  * can be adjudicated from the artifact alone (round-9 verdict #5).
  *
  * Spread SELF-GATE (round-11 verdict #2): a wide spread is not just
  * self-identifying, it is self-correcting — when a query's max/min
  * exceeds SPARK_GRAFT_BENCH_SPREAD (default 2.0, min floored at
  * 300 ms so sub-second queries don't churn), up to
  * SPARK_GRAFT_BENCH_RERUNS (default 2) extra timed runs are folded
  * into its min/max.  An ambient-load spike on one run is then usually
  * beaten by a quiet rerun instead of surviving into the committed
  * artifact as a phantom regression (BENCH_r11 recorded x55 at
  * [7.38, 36.05] this way).  "reruns" in the JSON counts the extra
  * runs taken so a noisy box still identifies itself.
  *
  * REGRESSION SELF-GATE (round-15 verdict #1): the intra-run spread
  * gate is blind by construction to a UNIFORM elevation — r15's x20b
  * ran 11.6 s min-of-3 (prior artifact: 2.74 s) with every run equally
  * slow, so the spread ratio (1.56×) never tripped and the one query
  * the round needed evidence for shipped none.  The bench now reads
  * the PRIOR committed artifact at startup (SPARK_GRAFT_BENCH_PRIOR,
  * default: the output path's existing content) and, when a query's
  * min exceeds the reference min by SPARK_GRAFT_BENCH_REGRESS (default
  * 2.0×, same 300 ms floor), it (a) takes the same rerun budget —
  * a box-wide ambient elevation gets quiet-run chances — and (b) if
  * the regression survives, ships the MIN run's stage+GC evidence as
  * "regression_profile" (for a uniform regression the fastest run IS
  * the representative one; the worst run is what "spread_profile"
  * already covers).  `prior_s` rides along so the artifact is
  * self-contained.
  *
  * BEST-EVER reference (round-16 verdict #1): gating each round only
  * against the immediately prior artifact admits unbounded drift at
  * 1.3×/round (x3/x82/x55 each crept ~1.3× in r16 without a trip).
  * The artifact therefore carries a per-query "best" map — the
  * smallest min ever recorded at this sf, folded forward every run —
  * and the regression gate compares against min(prior "best", prior
  * "queries"), so the floor never rises.  A prior at a different sf,
  * with no sf field, or whose maps fail the flat-format sanity check
  * DISARMS the gate instead of arming it wrong (round-16 ADVICE).
  *
  * ELEVATION CANARY (round-18 verdict #2): two fixed-cost map-only
  * queries (f5, s7) are timed before and after the suite; their
  * ratio-to-best-ever is recorded as "elevation_factor" (first) /
  * "elevation_last", and the regression gate compares
  * elevation-NORMALIZED mins (min / divisor > gate × best) —
  * a uniformly elevated shared box now resolves from the artifact
  * instead of per-round narrative adjudication.
  *
  * Round 20 (round-19 verdict #2 + ADVICE): the gate's divisor is no
  * longer the possibly-STALE first reading alone — r19's closing run
  * read first 2.46× → last 1.26× (load easing mid-run), so late-suite
  * queries were gated ~2× looser than their actual conditions.  When a
  * query first trips the regression gate, the canary is RE-READ at
  * that decision point and the divisor becomes min(first, fresh) —
  * conservative: the gate is never loosened more than the quieter of
  * the two readings justifies (the probe's slate-clear is followed by
  * one untimed re-warm so the query's reruns stay warm).  Per-canary
  * ratios clamp at 1.0 BEFORE averaging (a faster-than-best reading
  * on one canary must not offset real elevation on the other), the
  * rerun log prints the divisor so the logged inequality is the one
  * the gate actually evaluated, and "elevation_warn" flags either
  * reading exceeding 3× — the canaries are real engine queries, so a
  * code change that slows the shared scan/parse path inflates the
  * factor and would otherwise silently widen every query's gate.
  *
  * Attribution hygiene (round-15 ADVICE): listener events are
  * delivered ASYNCHRONOUSLY, so a run's final stage-completed events
  * can arrive after the snapshot (and after a per-run clear would have
  * dropped them).  Stages are therefore bucketed to runs by their
  * SUBMISSION TIME against each run's wall-clock window, the event
  * queue is cleared once per QUERY (not per run), and the snapshot
  * waits for the listener bus to drain — a late event can no longer be
  * dropped or billed to the wrong run.  Stage names resolve to the
  * first `graft.` frame of the stage's call-site details (see
  * `StageProbe`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    // Prior committed artifact for the regression self-gate: read BEFORE
    // this run overwrites outFile.  A missing/unparseable prior simply
    // disables the gate (first run on a fresh box).  When the caller
    // writes to a round-stamped path that does not exist yet (the
    // driver's per-round artifact), fall back to the COMMITTED
    // BENCH_LOCAL.json that travels with the repo — otherwise a fresh
    // out path would permanently disarm the best-ever gate on exactly
    // the runs the gate exists for.
    val priorFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
      if (Files.exists(Paths.get(outFile))) outFile
      else "BENCH_LOCAL.json")
    // Scrape one flat {"name":sec,...} map out of the prior artifact.
    // Defensive per the round-16 ADVICE: the writer's format is flat
    // (no nested braces), so after removing every "name":num pair the
    // body must be only commas/whitespace — anything else means schema
    // drift and the whole map is discarded rather than half-parsed
    // (a truncated prior must DISARM the gate, not arm it wrong).
    def scrapeFlatMap(raw: String, key: String): Map[String, Double] = {
      val marker = "\"" + key + "\":{"
      val idx = raw.indexOf(marker)
      if (idx < 0) Map.empty
      else {
        val start = idx + marker.length
        val end = raw.indexOf('}', start)
        if (end < 0) Map.empty
        else {
          val body = raw.substring(start, end)
          val re = "\"([^\"]+)\":([0-9.]+)".r
          val residue = re.replaceAllIn(body, "").replaceAll("[,\\s]", "")
          if (residue.nonEmpty) Map.empty
          else re.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    }
    val (priorMins, priorBest): (Map[String, Double], Map[String, Double]) = {
      val p = Paths.get(priorFile)
      if (!Files.exists(p)) (Map.empty, Map.empty)
      else {
        val raw = Files.readString(p)
        // a prior recorded at a different scale factor would mis-gate
        // every query (smaller sf → no trip; larger sf → all trip).
        // PRESENT-and-equal (round-16 ADVICE): a prior with no sf field
        // at all is schema drift, not a match — exists, not forall.
        val sfOk = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(raw)
          .exists(_.group(1) == sfDir)
        if (!sfOk) (Map.empty, Map.empty)
        else (scrapeFlatMap(raw, "queries"), scrapeFlatMap(raw, "best"))
      }
    }
    // BEST-EVER reference (round-16 verdict #1): a 2×-vs-prior gate
    // admits unbounded drift at 1.3×/round (x3/x82/x55 all crept under
    // it).  The artifact carries a per-query "best" map — the smallest
    // min ever recorded at this sf — and the gate trips on
    // min > gate × best(-ever), not just vs the immediately prior round.
    def bestRef(name: String): Option[Double] =
      (priorBest.get(name).toSeq ++ priorMins.get(name).toSeq)
        .reduceOption(_ min _)
    val spark = LocalSession.session(LocalSession.envCores, "ERROR")
    // Local-iteration hooks (driver leaves both unset):
    // SPARK_GRAFT_BENCH_ONLY=x2,x16 times only matching queries;
    // SPARK_GRAFT_CONF=k=v,k=v sets session confs under the bench's own
    // min-of-N + warmup + slate methodology.
    graft.tools.DevConf.fromEnv.foreach { case (k, v) => spark.conf.set(k, v) }
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val maxReruns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUNS", "4").toInt.max(0)
    // Global rerun budget across the whole suite: with BOTH self-gates
    // armed (spread + regression-vs-prior), a box-wide ambient
    // elevation could otherwise trip rerun loops on most of the ~200
    // queries and multiply the bench's wall clock; past the cap the
    // gates stop rerunning but still ship their profiles — evidence is
    // never capped, only retries.  (r15 took 12 reruns total; 60 is
    // ample for real noise and bounds the adversarial case.)
    val rerunCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_CAP", "60").toInt
    val spreadGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD", "2.0").toDouble
    val regressGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_REGRESS", "2.0").toDouble
    val failed = scala.collection.mutable.ListBuffer[String]()
    var rerunsTaken = 0
    // In-run attribution (round-14 verdict #1): every timed run records
    // its per-stage wall/GC under a listener, and any query whose FINAL
    // spread still exceeds the gate ships its worst run's evidence in
    // the artifact ("spread_profile") — so a driver-box outlier is
    // attributed from data captured DURING the bad run (stage skew? GC?
    // driver-side gap?), never re-derived afterwards on a box that may
    // no longer misbehave.
    case class RunProf(wall: Double, stages: Seq[StageRec]) {
      def gcMs: Long = stages.map(_.gcMs).sum
      def stageMs: Long = stages.map(_.ms).sum
    }
    val probe = StageProbe.attach(spark.sparkContext)
    val spreadProfiles =
      scala.collection.mutable.LinkedHashMap.empty[String, RunProf]
    val regressProfiles =
      scala.collection.mutable.LinkedHashMap.empty[String, (RunProf, Double)]
    // ELEVATION CANARY (round-18 verdict #2): rerun counts went
    // 4→32→60 across three rounds on byte-identical code — box
    // elevation must be a NUMBER in the artifact, not a narrative.
    // Two fixed-cost map-only queries (f5 comma parse, s7 gzip
    // round-trip: flat scans, no shuffle, no skew surface) are timed
    // FIRST (before any gated query) and LAST (after the suite); each
    // measurement's ratio to that query's best-ever min is the box's
    // elevation at that moment.  The regression self-gate divides each
    // query's min by the FIRST measurement before comparing against
    // gate × best — a uniformly elevated box then resolves
    // mechanically instead of by per-round adjudication.  Clamped at
    // ≥1 (a faster-than-best box must not loosen the gate the other
    // way); canaries without a best reference contribute nothing, and
    // no reference at all disarms to 1.0 exactly like the gate itself.
    val canaries = Seq("f5_comma_parse", "s7_gzip_roundtrip")
    def canaryElevation(): Double = {
      // a full untimed pass over BOTH canaries first: the canary must
      // measure the BOX, not JVM warmth — on a cold session the first
      // measurement otherwise carries class-load/codegen/JIT residue
      // that no best-ever value includes (measured: 4.1x "elevation"
      // on a quiet box, vs 1.9x once warm)
      // a canary that cannot run on THIS corpus (local iteration
      // against a generated dir missing its table) contributes
      // nothing instead of killing the bench — same failure contract
      // as the main loop's `once`
      def tryCount(name: String): Option[Unit] =
        try SparkEntry.queries.get(name).map(_(spark, sfDir).count())
        catch { case scala.util.control.NonFatal(_) => None }
      canaries.foreach(tryCount)
      val ratios = canaries.flatMap { name =>
        for (fn <- SparkEntry.queries.get(name); b <- bestRef(name);
             _ <- tryCount(name))
          yield {
            graft.queries.ExtQueries.clearSessionSlate(spark,
              blocking = true)
            System.gc()
            fn(spark, sfDir).count() // untimed warmup
            val t = (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            t / b
          }
      }
      // clamp EACH ratio at 1.0 before averaging (round-19 ADVICE): a
      // faster-than-best reading on one canary must not offset real
      // elevation on the other (0.8 and 1.8 should read ~1.4, not 1.3)
      if (ratios.isEmpty) 1.0
      else ratios.map(math.max(1.0, _)).sum / ratios.size
    }
    val elevationFirst = canaryElevation()
    System.err.println(f"[bench] elevation canary (first): " +
      f"$elevationFirst%.3fx vs best-ever")
    // a canary reading this far above best is either a heavily loaded
    // box or a CODE regression in the shared scan/parse path the
    // canaries ride — and in the latter case the elevation divisor
    // would silently widen every query's gate (round-19 ADVICE); warn
    // loudly and flag the artifact so the reading gets adjudicated
    val elevationBound = 3.0
    if (elevationFirst > elevationBound)
      System.err.println(f"[bench] WARNING: elevation " +
        f"$elevationFirst%.3fx exceeds ${elevationBound}x — if the box " +
        "is quiet, suspect a canary-path code regression (f5/s7 are " +
        "real engine queries); the regression gate is loosened by " +
        "this factor")
    val results = SparkEntry.queries
      .filter(kv => only.forall(_.exists(kv._1.startsWith)))
      .flatMap { case (name, fn) =>
        // (wall seconds, [startMs, endMs] wall-clock window) per timed
        // run — stages attach to runs by submission-time ∈ window, so
        // late-delivered events land in the right run
        val runWins =
          scala.collection.mutable.ListBuffer[(Double, Long, Long)]()
        def once(timed: Boolean): Option[Double] = {
          val w0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            if (timed) runWins += ((wall, w0, System.currentTimeMillis()))
            Some(wall)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              None
          }
        }
        // Session slate per query (timing semantics "slate-v2", marked
        // in the JSON): 174 queries' pinned localCheckpoint blocks and
        // broadcasts otherwise accumulate through the session and tax
        // later queries with GC — x73 recorded 6.0 s in the full-suite
        // session vs 2.0 s warm in a fresh one, byte-identical code
        // (the same interference Rehearsal.time clears between
        // queries).  The clear runs BETWEEN queries only, and the
        // untimed warmup after it re-populates each query's own pinned
        // inputs (x77 labels, st10 index) plus JIT/codegen, so timed
        // runs still measure the steady state the pin semantics
        // declare.  driver-side System.gc(): local-mode executors share
        // the driver JVM, so one full collection here drains the prior
        // query's garbage instead of billing it to this query's runs.
        // blocking = true: the block-manager removals run INSIDE the
        // untimed gap instead of racing the next query's timed runs
        // (async removal contends with task execution — one candidate
        // mechanism for the r14 lshPairs driver-box spread)
        graft.queries.ExtQueries.clearSessionSlate(spark, blocking = true)
        System.gc()
        // event queue clears once per QUERY, before the warmup: stages
        // are bucketed to runs by submission time, so the untimed
        // warmup's stages (cold JIT/codegen) fall outside every timed
        // window and can never masquerade as a timed run's evidence
        probe.clear()
        val warm = once(timed = false)
        var times =
          if (warm.isEmpty) Seq.empty[Double]
          else (1 to runs).flatMap(_ => once(timed = true))
        // self-gates: an ambient-load spike shows as max/min >
        // spreadGate; a box-wide elevation shows as min > regressGate ×
        // the prior committed artifact's min.  Both take extra runs so
        // a quiet run can beat them.  (min >= 0.3 s: sub-second queries
        // flip ratio on scheduler jitter alone and their absolute error
        // is negligible.)
        val prior = bestRef(name)
        def spreadBad = times.nonEmpty && times.min >= 0.3 &&
          times.max / times.min > spreadGate
        // min is elevation-normalized before the best-ever comparison
        // (round-18 verdict #2): on a uniformly elevated box the
        // canary ratio and the query's drift cancel, so only
        // code-caused regressions trip.  The divisor starts at the
        // suite-start reading and, at this query's FIRST gate trip,
        // tightens to min(first, a fresh probe) — round-19 verdict
        // #2: the first reading can be stale by the time late-suite
        // queries run, and dividing by a louder-than-now canary
        // loosens the gate exactly where a regression could hide
        var elevDiv = elevationFirst
        var probed = false
        def regressBad = times.nonEmpty && times.min >= 0.3 &&
          prior.exists(p => times.min / elevDiv > regressGate * p)
        var extra = 0
        while (extra < maxReruns && rerunsTaken < rerunCap &&
               (spreadBad || regressBad)) {
          if (regressBad && !probed) {
            probed = true
            val fresh = canaryElevation()
            if (fresh < elevDiv) {
              System.err.println(f"[bench] $name: canary re-read " +
                f"$fresh%.3fx < first $elevDiv%.3fx — gate tightened")
              elevDiv = fresh
            }
            // the probe cleared the session slate — one untimed run
            // re-warms this query's pinned inputs before any rerun
            once(timed = false)
          }
          val why =
            if (spreadBad) f"spread ${times.max / times.min}%.1fx"
            else f"min ${times.min}%.2fs / elev $elevDiv%.2fx > " +
              f"${regressGate}x best ${prior.get}%.2fs"
          System.err.println(
            s"[bench] $name $why — rerunning (${extra + 1}/$maxReruns)")
          times = times ++ once(timed = true)
          extra += 1; rerunsTaken += 1
        }
        // a failing query must not silently poison the total — it is
        // excluded from "queries" and reported in "failed" instead
        if (times.isEmpty) { failed += name; None }
        else {
          if (spreadBad || regressBad) {
            // gate survived the reruns → ship stage evidence captured
            // DURING the offending runs.  Drain the async bus first so
            // it cannot drop tail events (round-15 ADVICE).
            val evs = probe.drain()
            def prof(win: (Double, Long, Long)): RunProf =
              RunProf(win._1, evs.filter(s =>
                s.submitMs >= win._2 && s.submitMs <= win._3))
            if (spreadBad)
              spreadProfiles(name) = prof(runWins.maxBy(_._1))
            if (regressBad)
              regressProfiles(name) = (prof(runWins.minBy(_._1)), prior.get)
          }
          Some(name -> ((times.min, times.max)))
        }
      }
    // the canary re-measured AFTER the suite: first≈last pins the box
    // state for the whole recording; first≪last names mid-suite load
    // arrival from the artifact alone
    val elevationLast = canaryElevation()
    System.err.println(f"[bench] elevation canary (last): " +
      f"$elevationLast%.3fx vs best-ever")
    // default 30: the full-map line (~4.7 KB at 137 queries) overflows
    // the driver's stdout tail capture, which cuts the HEAD of the JSON
    // line — 4 of 8 rounds recorded "parsed": null because of it.  The
    // slowest-30 line stays well inside the window; the file artifact
    // always gets the full map.  0 = no cap (full map on stdout too).
    val stdoutTopK = sys.env.getOrElse("SPARK_GRAFT_BENCH_TOPK", "30").toInt
    def msBd(v: Double): BigDecimal =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val rounded = results.map { case (k, (lo, hi)) => k -> ((msBd(lo), msBd(hi))) }
    def qJson(m: Iterable[(String, (BigDecimal, BigDecimal))]): String =
      m.map { case (k, (lo, _)) => s"\"" + k + "\":" + lo }.mkString("{", ",", "}")
    // per-query [min, max] of the N runs: a wide spread marks an entry
    // as ambient-load noise, a tight spread marks a delta as real —
    // the round-9 verdict's burden-of-proof field for phantom
    // regressions recorded on untouched code
    def spreadJson(m: Iterable[(String, (BigDecimal, BigDecimal))]): String =
      m.map { case (k, (lo, hi)) => s"\"" + k + "\":[" + lo + "," + hi + "]" }
        .mkString("{", ",", "}")
    val total = rounded.values.foldLeft(BigDecimal(0))(_ + _._1)
    val slowest = rounded.toSeq.sortBy(-_._2._1)
      .take(if (stdoutTopK > 0) stdoutTopK else rounded.size)
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    // top-5 stages by wall, total GC, and the driver-side gap (wall −
    // sum of stage wall): enough to tell a skewed/GC-bound stage from
    // scheduler/driver interference.  FILE artifact only (the stdout
    // tail capture drops long-line heads).
    def profBody(p: RunProf, wallKey: String, extraKv: String): String = {
      val top = p.stages.sortBy(-_.ms).take(5).map(s =>
        s"""[${s.ms},${s.tasks},${s.gcMs},${Json.quote(s.name)}]""")
        .mkString("[", ",", "]")
      s"""{"$wallKey":${msBd(p.wall)},$extraKv"gc_ms":${p.gcMs},""" +
        s""""stage_ms":${p.stageMs},"stages":$top}"""
    }
    // "timing" marks measurement semantics so cross-round artifact
    // diffs are not read as pure perf movement: "slate-v2" = per-query
    // session-slate clear + untimed warmup before the timed runs
    // (earlier rounds: no marker — shared session state, no warmup).
    def profJson: String =
      (if (spreadProfiles.isEmpty) ""
       else ""","spread_profile":""" + spreadProfiles.map { case (k, p) =>
         s""""$k":${profBody(p, "worst_s", "")}"""
       }.mkString("{", ",", "}")) +
      (if (regressProfiles.isEmpty) ""
       else ""","regression_profile":""" + regressProfiles.map {
         case (k, (p, prior)) =>
           s""""$k":${profBody(p, "min_s", s""""prior_s":$prior,""")}"""
       }.mkString("{", ",", "}"))
    // per-query best-ever min at this sf (current min folded into the
    // prior artifact's best) — the reference the NEXT round's regression
    // gate reads, so 1.3×/round drift compounds against a fixed floor
    // instead of a moving one.  FILE artifact only (stdout is the
    // truncated top-30 line).
    val bestOut = rounded.map { case (k, (lo, _)) =>
      k -> bestRef(k).map(b => msBd(b).min(lo)).getOrElse(lo)
    }
    def bestJson: String =
      ""","best":""" + bestOut.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    def line(m: Iterable[(String, (BigDecimal, BigDecimal))],
             prof: String, best: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"reruns":$rerunsTaken,"timing":"slate-v2","elevation_factor":${msBd(elevationFirst)},"elevation_last":${msBd(elevationLast)},"elevation_warn":${elevationFirst > elevationBound || elevationLast > elevationBound},"queries_run":${rounded.size}$failedJson,"queries":${qJson(m)},"spread":${spreadJson(m)}$prof$best,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outFile),
      line(rounded, profJson, bestJson) + "\n")
    spark.stop() // stop FIRST: no executor/shutdown log can splice the line
    println(line(slowest, "", ""))
    System.out.flush()
  }
}
