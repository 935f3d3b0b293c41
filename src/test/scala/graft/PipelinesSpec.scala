package graft

import graft.measurand.Measurands
import graft.model.MeasurandRule
import graft.pipeline.{ClarityPipeline, HawanamaPipeline, Pipelines, PurpleAirPipeline}
import graft.sinks.Sinks
import graft.transform.Transform
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("J2 supported-measurand semi-join fails fast when nothing survives") {
    intercept[IllegalArgumentException] {
      Measurands.supported(spark,
        Seq(MeasurandRule("x", "not_a_parameter", "ppb")))
    }
  }

  test("J2 supported-measurand dimension is built with no Spark job") {
    val (dim, jobs) = jobsDuring(
      Measurands.supported(spark, PurpleAirPipeline.lookup))
    assert(jobs == 0, s"$jobs Spark jobs")
    assert(dim.collect().toSeq == PurpleAirPipeline.lookup)
  }

  test("purpleair pipeline: pivot, melt, measurand join, normalize, ids") {
    val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    val m = batch.measures.collect()
    // 2 readings × 14 params − 2 nulls (pm1.0, voc of sensor 456)
    assert(m.length == 26)
    val byId = m.map(r => r.getString(0) -> r.getDouble(1)).toMap
    // ozone1: ppb→ppm ÷1000 (12 → 0.012)
    assert(math.abs(byId("purpleair-123-ozone") - 0.012) < 1e-12)
    // 0.3_um_count: pp100ml→particles/cm³ ÷100 (100 → 1.0)
    assert(byId("purpleair-123-um003") == 1.0)
    // pm2.5 passthrough µg/m³
    assert(byId("purpleair-123-pm25") == 3.4)
    // epoch-seconds timestamp normalization
    val ts = batch.measures.filter($"sensor_id" === "purpleair-123-pm25")
      .select(date_format($"timestamp", "yyyy-MM-dd HH:mm:ss"))
      .first().getString(0)
    assert(ts == "2024-04-30 18:00:00") // 1714500000 epoch seconds
  }

  test("purpleair stations assemble nested node→system→sensor docs") {
    val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    val st = batch.stations.orderBy("sensor_node_id")
    assert(st.count() == 2)
    val row = st.filter($"sensor_node_id" === "purpleair-123").first()
    val systems = row.getSeq[org.apache.spark.sql.Row](
      row.fieldIndex("sensor_systems"))
    assert(systems.length == 1)
    val sensors = systems.head.getSeq[org.apache.spark.sql.Row](2)
    assert(sensors.length == 14) // all params present for sensor 123
    // stripNulls parity: JSON has no null-valued keys
    val json = Transform.stationJson(st).select("json").as[String].collect()
    assert(json.forall(j => !j.contains("null")))
  }

  test("K1 diff-write is idempotent: second identical run writes nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft_k1_").toString
    val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    val st = Transform.stationJson(batch.stations)
    val first = Sinks.diffWriteStations(spark, st, "sensor_node_id", "json",
      s"$out/stations")._1
    assert(first.count() == 2)
    val second = Sinks.diffWriteStations(spark, st, "sensor_node_id", "json",
      s"$out/stations")._1
    assert(second.count() == 0)
    // FORCE overrides the diff (providers.js FORCE env)
    val forced = Sinks.diffWriteStations(spark, st, "sensor_node_id", "json",
      s"$out/stations", force = true)._1
    assert(forced.count() == 2)
  }

  test("K1 diff-write on a warm snapshot runs at most 5 jobs, and a " +
    "batch with no changed station rewrites nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft_k1j_").toString
    val st = Transform.stationJson(
      PurpleAirPipeline.run(spark, fixture("purpleair.json")).stations)
    val snap = new java.io.File(s"$out/stations")
    Sinks.diffWriteStations(spark, st, "sensor_node_id", "json", snap.toString)
    def files = snap.listFiles().map(f => f.getName -> f.lastModified()).toSet
    val before = files
    val (same, jobs) = jobsDuring(Sinks.diffWriteStations(spark, st,
      "sensor_node_id", "json", snap.toString)._1)
    assert(jobs <= 5, s"unchanged warm diff ran $jobs Spark jobs")
    assert(same.count() == 0)
    assert(files == before, "an unchanged batch rewrote the snapshot")
    val renamed = st.withColumn("json", when($"sensor_node_id" === "purpleair-123",
      regexp_replace($"json", "Site A", "Site A2")).otherwise($"json"))
    val (changed, jobs2) = jobsDuring(Sinks.diffWriteStations(spark, renamed,
      "sensor_node_id", "json", snap.toString)._1)
    assert(jobs2 <= 5, s"changed warm diff ran $jobs2 Spark jobs")
    assert(changed.select("sensor_node_id").as[String].collect().toSeq ==
      Seq("purpleair-123"))
    // the rewrite holds the whole batch, the changed station included
    val rewritten = spark.read.parquet(snap.toString)
      .select("sensor_node_id", "json").as[(String, String)].collect().toMap
    assert(rewritten.keySet == Set("purpleair-123", "purpleair-456"))
    assert(rewritten("purpleair-123").contains("Site A2"))
  }

  test("K1 diff-write restores the caller's active session") {
    val out = java.nio.file.Files.createTempDirectory("graft_k1s_").toString
    val st = Transform.stationJson(
      PurpleAirPipeline.run(spark, fixture("purpleair.json")).stations)
    val other = spark.newSession()
    SparkSession.setActiveSession(other)
    try {
      Sinks.diffWriteStations(spark, st, "sensor_node_id", "json",
        s"$out/stations")
      assert(SparkSession.getActiveSession.contains(other),
        "diffWriteStations left its own session active on the caller's thread")
    } finally SparkSession.setActiveSession(spark)
  }

  test("K2 measures CSV sink: header contract, gzip, ISO timestamps") {
    val out = java.nio.file.Files.createTempDirectory("graft_k2_").toString
    val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    val n = Sinks.writeMeasuresCsv(batch.measures, s"$out/m").measures
    assert(n == 26)
    val files = new java.io.File(s"$out/m").listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
    val back = spark.read.option("header", "true").csv(s"$out/m")
    assert(back.columns.toSeq == Seq("sensor_id", "measure", "timestamp"))
    assert(back.count() == 26)
    assert(back.select("timestamp").as[String].first().endsWith("Z"))
  }

  test("clarity pipeline: enrichment join, label fallback, flags, envelope") {
    val batch = ClarityPipeline.run(spark, fixture("clarity.json"))
    // unsupported metric dropped by measurand join
    assert(batch.measures.count() == 2)
    val flags = batch.measures
      .select(element_at($"flags", "clarity/qc")).as[String].collect().toSet
    assert(flags == Set("pass", "flagged"))
    // DS9 has no datasource → dropped from locations (inner join)
    assert(batch.stations.count() == 2)
    val labels = batch.stations.select("label").as[String].collect().toSet
    assert(labels == Set("Site One", "Missing device name"))
    // J3 anti report
    val missing = ClarityPipeline
      .missingDatasources(spark, fixture("clarity.json"))
      .as[String].collect()
    assert(missing.toSeq == Seq("DS9"))
  }

  test("processor dispatch runs sinks and returns the run summary") {
    val out = java.nio.file.Files.createTempDirectory("graft_disp_").toString
    val summary = Pipelines
      .processor(spark, "purpleair", fixture("purpleair.json"), out)
      .first()
    assert(summary.getString(0) == "purpleair")
    assert(summary.getLong(1) == 2) // locations
    assert(summary.getLong(2) == 26) // measures
    intercept[IllegalArgumentException] {
      Pipelines.processor(spark, "nope", fixture("purpleair.json"), out)
    }
  }

  test("K5/K7 empty batches: true locations, zero measures, null bounds, " +
    "in both sink styles") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val out = java.nio.file.Files.createTempDirectory("graft_k5e_").toString
    def k5(p: Pipelines.ProviderPipeline, b: Pipelines.Batch): Row = {
      // bounded: an Observation that never completes must not hang K5
      val summary = Await.result(
        Future(Pipelines.sinkBatch(spark, p, b, "", out)), 2.minutes)
      val (rows, jobs) = jobsDuring(summary.collect())
      assert(jobs == 0, s"${p.name}: collecting the summary ran $jobs jobs")
      assert(rows.length == 1)
      rows.head
    }
    // measures the optimizer proves empty (Spark prunes observed nodes
    // next to them), and stations and measures empty only at run time
    def noMeasures(b: Pipelines.Batch) =
      b.copy(measures = b.measures.filter(lit(false)))
    def empty(b: Pipelines.Batch, key: String) = Pipelines.Batch(
      b.stations.filter(col(key).isNull),
      b.measures.filter(col("timestamp").isNull))
    val pa = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    assert(k5(PurpleAirPipeline, noMeasures(pa)) ==
      Row("purpleair", 2L, 0L, null, null))
    assert(k5(PurpleAirPipeline, empty(pa, "sensor_node_id")) ==
      Row("purpleair", 0L, 0L, null, null))
    val haw = HawanamaPipeline.run(spark, fixture("hawanama.json"))
    assert(k5(HawanamaPipeline, noMeasures(haw)) ==
      Row("hawanama", 3L, 0L, null, null))
    assert(k5(HawanamaPipeline, empty(haw, "location")) ==
      Row("hawanama", 0L, 0L, null, null))
    // K7: no measures, no measures object
    assert(!new java.io.File(s"$out/measures/purpleair").exists())
    assert(!new java.io.File(s"$out/measures-json/hawanama").exists())
  }

  test("K4 dry-run redirects every sink under the inspection dir") {
    val dry = java.nio.file.Files.createTempDirectory("graft_dry_").toString
    val prod = "/nonexistent-production-prefix/out"
    Sinks.dryRunBase = Some(dry)
    try {
      val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
      val n = Sinks.writeMeasuresCsv(batch.measures, s"$prod/measures").measures
      assert(n == 26)
      // nothing written to the production prefix; all under dry base
      assert(!new java.io.File(prod).exists())
      val redirected = new java.io.File(
        s"$dry/nonexistent-production-prefix/out/measures")
      assert(redirected.exists())
    } finally Sinks.dryRunBase = None
  }

  test("K2/K7 single pass: one action per sink; empty batch leaves no output") {
    val out = java.nio.file.Files.createTempDirectory("graft_k7_").toString
    val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    // one QueryExecution = the batch pipeline computed once (the old
    // count()-then-write guard cost two full passes); scheduler-job
    // count is not the right pin because AQE/broadcast stages submit
    // their own jobs inside the single action
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = { execs.incrementAndGet(); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      val n = Sinks.writeMeasuresCsv(batch.measures, s"$out/m1").measures
      assert(n == 26)
      // listener bus is async — wait for the event(s) to drain
      val deadline = System.currentTimeMillis() + 10000
      while (execs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(500) // settle: catch any unexpected second action
      assert(execs.get() == 1, s"expected ONE action, saw ${execs.get()}")
    } finally spark.listenerManager.unregister(ql)
    // K7 write-then-unlink: empty batch leaves no object behind
    val n0 = Sinks.writeMeasuresCsv(
      batch.measures.filter(lit(false)), s"$out/m0").measures
    assert(n0 == 0)
    assert(!new java.io.File(s"$out/m0").exists())
  }

  test("K3 partitioned envelope: per-day docs, partition pruning") {
    val out = java.nio.file.Files.createTempDirectory("graft_k3_").toString
    val m = Seq(
      ("s1", 1.0, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      ("s2", 2.0, java.sql.Timestamp.valueOf("2024-01-02 11:00:00")),
      ("s3", 3.0, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"))
    ).toDF("sensor_id", "measure", "timestamp")
    val locs = Seq(("loc1", "Site One")).toDF("id", "label")
    assert(Sinks.writeEnvelopeJson(m, locs, "prov", s"$out/env")._1)
    val back = spark.read.text(s"$out/env")
    assert(back.count() == 2) // one envelope per day with measures
    val q = back.filter(col("day") === "2024-01-01")
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount == 1,
      "day filter must prune to one partition directory")
    val doc = q.select("value").as[String].first()
    assert(doc.contains("\"schema\":\"v0.1\"") && doc.contains("\"s1\"")
      && !doc.contains("\"s2\"") && doc.contains("Site One"))
    // K7: empty in → nothing on disk
    assert(!Sinks.writeEnvelopeJson(m.filter(lit(false)),
      locs.filter(lit(false)), "prov", s"$out/env0")._1)
    assert(!new java.io.File(s"$out/env0").exists())
  }

  test("K6 watermark table round trip") {
    val out = java.nio.file.Files.createTempDirectory("graft_wm_").toString
    val p = s"$out/wm"
    assert(Sinks.readWatermark(spark, p, "cmu").isEmpty)
    val t1 = java.sql.Timestamp.valueOf("2020-07-17 15:30:00")
    Sinks.writeWatermark(spark, p, "cmu", t1)
    assert(Sinks.readWatermark(spark, p, "cmu").contains(t1))
    val t2 = java.sql.Timestamp.valueOf("2020-07-18 00:00:00")
    Sinks.writeWatermark(spark, p, "cmu", t2)
    assert(Sinks.readWatermark(spark, p, "cmu").contains(t2))
    assert(Sinks.readWatermark(spark, p, "other").isEmpty)
  }
}
