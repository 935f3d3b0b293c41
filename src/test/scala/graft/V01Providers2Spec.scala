package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

class V01Providers2Spec extends SparkSpec {
  import spark.implicits._

  test("airqo: cohort union + key-intersect melt + null skip") {
    val b = AirQoPipeline.run(spark, fixture("airqo.json"))
    val ids = b.measures.select($"sensor_id").as[String].collect().sorted
    // 2 cohorts × params, site2 pm10 null dropped
    assert(ids.toSeq == Seq("airqo-site1-pm10", "airqo-site1-pm25",
      "airqo-site2-pm25"))
    assert(b.stations.count() == 2)
  }

  test("airqoon: status-code filter + comma-strip parse + whitelist") {
    val b = AirQoonPipeline.run(spark, fixture("airqoon.json"))
    val m = b.measures.select($"sensor_id", $"measure")
      .as[(String, Double)].collect()
    // 500-status device and non-whitelisted measurand dropped
    assert(m.toSeq == Seq(("airqoon-aq1-pm25", 1234.5)))
  }

  test("data354: deployment filter + empty-string skip + hour-ending") {
    val b = Data354Pipeline.run(spark, fixture("data354.json"))
    // st2 (flag=0) and st3 (no date) filtered from locations
    assert(b.stations.select($"location").as[String].collect().toSeq ==
      Seq("data354-st1"))
    val m = b.measures
      .select($"sensor_id", $"measure",
        date_format($"timestamp", "HH:mm").as("t"))
      .as[(String, Double, String)].collect()
    // st1: 10:00 row both params; 11:00 row PM25='' dropped, PM10 kept;
    // st2 rows semi-join dropped → 3 measures
    assert(m.length == 3)
    // hour-ending: 10:00 reading → 11:00
    assert(m.filter(_._2 == 14.2).head._3 == "11:00")
  }

  test("miri: header drop + latlon split + space→T + last-3") {
    val b = MiriPipeline.run(spark, fixture("miri.json"))
    // metadata first row dropped from devices
    val locs = b.stations
      .select($"location", $"lon", $"lat")
      .as[(String, Double, Double)].collect().sortBy(_._1)
    assert(locs.map(_._1).toSeq == Seq("miri-m1", "miri-m2"))
    // location "4.21,113.99" → lat 4.21, lon 113.99
    assert(locs.head == ("miri-m1", 113.99, 4.21))
    // m1 has 4 readings → last 3 kept → pm25 values 3,5,7 (+pm10)
    val pm25 = b.measures
      .filter($"sensor_id" === "miri-m1-pm25")
      .select($"measure").as[Double].collect().sorted
    assert(pm25.toSeq == Seq(3.0, 5.0, 7.0))
    // m2 pm10 null dropped
    assert(b.measures.filter($"sensor_id" === "miri-m2-pm10").count() == 0)
  }

  test("senstate: status filter + nested explode + geo-tz station docs") {
    val b = SenstatePipeline.run(spark, fixture("senstate.json"))
    // 503 reading dropped entirely; unknown param filtered
    assert(b.measures.count() == 2)
    val st = b.stations.first()
    assert(st.getString(st.fieldIndex("sensor_node_id")) == "senstate-t1")
    assert(st.getString(st.fieldIndex("sensor_node_city")) == "Sofia")
    // F16 nautical approximation: lon 23.32 → UTC+2
    assert(st.getString(st.fieldIndex("sensor_node_timezone")) == "UTC+2")
  }

  test("cpcb: IST cutoff window + param whitelist + local-naive parse") {
    val b = CpcbPipeline.run(spark, fixture("cpcb"))
    val m = b.measures
      .select($"sensor_id", $"measure",
        date_format($"timestamp", "yyyy-MM-dd HH:mm").as("utc"))
      .as[(String, Double, String)].collect()
    // cutoff 17:00−3h = 14:00 IST keeps 16:30+15:30, drops 13:30; Ozone
    // not whitelisted → 2 measures
    assert(m.map(_._2).sorted.toSeq == Seq(55.0, 90.0))
    // 16:30 IST = 11:00 UTC
    assert(m.filter(_._2 == 55.0).head._3 == "2024-04-30 11:00")
  }

  test("hawanama: long measurements + measurand dict-miss drop + ids") {
    val b = HawanamaPipeline.run(spark, fixture("hawanama.json"))
    val locs = b.stations.select($"location", $"label", $"ismobile")
      .as[(String, String, Boolean)].collect().sortBy(_._1)
    assert(locs.toSeq == Seq(
      ("hawanama-1", "Accra Central", false),
      ("hawanama-2", "Kumasi North", false),
      ("hawanama-3", "Tamale East", false)))
    val m = b.measures.select($"sensor_id", $"measure")
      .as[(String, Double)].collect().sorted
    // the unsupported "noise" row drops via the dict probe (J1 inner
    // join) like the reference's caught per-row throw
    assert(m.toSeq == Seq(("hawanama-1-pm25", 11.0),
      ("hawanama-1-pm25", 12.5), ("hawanama-2-pm25", 21.0)))
  }

  test("hawanama e2e: processor writes the v0.1 envelope (K3)") {
    val out = java.nio.file.Files.createTempDirectory("graft_haw_").toString
    val s = Pipelines.processor(spark, "hawanama",
      fixture("hawanama.json"), out).first()
    assert(s.getString(0) == "hawanama")
    assert(s.getLong(1) == 3 && s.getLong(2) == 3) // locations, measures
    assert(new java.io.File(s"$out/measures-json/hawanama").exists())
  }

  /** K5 of every recorded fixture through the processor — locations,
    * measures, from, to (`perfbench/scaler.py`'s FIXTURE_K5). */
  private val fixtureK5 = Map(
    "aernode" -> (1L, 6L, "2024-04-30T10:00:00Z", "2024-04-30T12:00:00Z"),
    "airgradient" -> (1L, 8L, "2024-04-30T10:00:00Z", "2024-04-30T12:00:00Z"),
    "airqo" -> (2L, 3L, "2024-04-30T10:00:00Z", "2024-04-30T10:00:00Z"),
    "airqoon" -> (2L, 1L, "2024-04-30T10:00:00Z", "2024-04-30T10:00:00Z"),
    "clarity" -> (2L, 2L, "2026-08-12T10:00:00Z", "2026-08-12T10:05:00Z"),
    "cmu" -> (3L, 33L, "2020-07-17T15:30:00Z", "2020-07-17T15:45:00Z"),
    "cpcb" -> (1L, 2L, "2024-04-30T10:00:00Z", "2024-04-30T11:00:00Z"),
    "data354" -> (1L, 3L, "2024-04-30T11:00:00Z", "2024-04-30T12:00:00Z"),
    "habitatmap" -> (4L, 1L, "2024-04-30T10:00:00Z", "2024-04-30T10:00:00Z"),
    "hawanama" -> (3L, 3L, "2026-08-12T10:00:00Z", "2026-08-12T11:00:00Z"),
    "iqair" -> (1L, 12L, "2024-04-30T01:00:00Z", "2024-04-30T12:00:00Z"),
    "lovemyair" -> (2L, 4L, "2024-04-30T09:00:00Z", "2024-04-30T11:00:00Z"),
    "miri" -> (2L, 7L, "2024-04-30T09:00:00Z", "2024-04-30T11:00:00Z"),
    "purpleair" -> (2L, 26L, "2024-04-30T18:00:00Z", "2024-04-30T18:01:00Z"),
    "senstate" -> (1L, 2L, "2024-04-30T10:00:00Z", "2024-04-30T10:00:00Z"),
    "smartsense" -> (1L, 2L, "2024-04-30T10:00:00Z", "2024-04-30T12:00:00Z"))

  private def fixtureInput(provider: String): String = provider match {
    case "cmu" => fixture("cmu").stripSuffix("/") + "/*.csv"
    case "cpcb" => fixture("cpcb")
    case "iqair" => fixture("iqair.csv")
    case p => fixture(s"$p.json")
  }

  test("full registry: 16/16 providers dispatch through the processor") {
    assert(Pipelines.registry.size == 16) // all 16 reference providers
    assert(fixtureK5.keySet == Pipelines.registry.keySet)
    val out = java.nio.file.Files.createTempDirectory("graft_all_").toString
    for (p <- Pipelines.registry.keys.toSeq.sorted) {
      val summary = Pipelines.processor(spark, p, fixtureInput(p), out)
      val (rows, jobs) = jobsDuring(summary.collect())
      assert(jobs == 0, s"$p: collecting the K5 summary ran $jobs Spark jobs")
      // the summary the sinks observed equals the old recomputed aggregate
      val b = Pipelines.registry(p).run(spark, fixtureInput(p))
      val old = Oracles.summarize(p, b.stations.count(), b.measures)
      assert(summary.schema == old.schema, p)
      assert(rows.toSeq == old.collect().toSeq, p)
      val r = rows.head
      assert((r.getLong(1), r.getLong(2), r.getTimestamp(3).toInstant.toString,
        r.getTimestamp(4).toInstant.toString) == fixtureK5(p), p)
    }
  }

  test("building a batch runs no Spark job: every payload is read with " +
    "its declared schema") {
    for (p <- Pipelines.registry.keys.toSeq.sorted) {
      val (_, jobs) = jobsDuring(Pipelines.registry(p).run(spark, fixtureInput(p)))
      assert(jobs == 0, s"$p: building the batch ran $jobs Spark jobs")
    }
  }

  test("K3 envelopes equal the cross-joined oracle on all 12 v0.1 " +
    "fixtures, in at most 50 jobs") {
    val out = java.nio.file.Files.createTempDirectory("graft_env_").toString
    val v01 = Pipelines.registry.values.filter(_.isV01).toSeq.sortBy(_.name)
    assert(v01.size == 12)
    val batches = v01.map(p => p.name -> p.run(spark, fixtureInput(p.name)))
    val (written, jobs) = jobsDuring(batches.map { case (p, b) =>
      graft.sinks.Sinks.writeEnvelopeJson(b.measures.drop("flags"),
        b.stations, p, s"$out/$p")._1
    })
    assert(written.forall(identity))
    assert(jobs <= 50, s"the 12 envelope writes ran $jobs Spark jobs")
    for ((p, b) <- batches) {
      val got = spark.read.text(s"$out/$p").select("day", "value")
        .as[(String, String)].collect().toSet
      val want = Oracles.crossJoinedEnvelopes(b.measures.drop("flags"),
        b.stations, p).as[(String, String)].collect().toSet
      assert(got.nonEmpty && got == want, p)
    }
  }

  test("a JSON payload is parsed once per scan under an explode") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import graft.model.Schemas.Payload
    for ((file, schema) <- Seq("purpleair.json" -> Payload.purpleair,
        "clarity.json" -> Payload.clarity)) {
      val plan = graft.sources.Ingest.readJson(spark, fixture(file), schema)
        .select(explode(col("data"))).queryExecution.optimizedPlan
      val parses = plan.flatMap(_.expressions.flatMap(
        _.collect { case j: JsonToStructs => j }))
      assert(parses.size == 1, s"$file: ${parses.size} from_json in\n$plan")
    }
  }
}
