package graft

import graft.pipeline.{CmuPipeline, HabitatMapPipeline, Pipelines}
import graft.sinks.Sinks
import org.apache.spark.sql.functions._

class MoreProvidersSpec extends SparkSpec {
  import spark.implicits._

  test("habitatmap fixed: average_value measures, sane null-skip") {
    val batch = HabitatMapPipeline.run(spark, fixture("habitatmap.json"))
    val fixed = batch.measures.collect()
    // station 2's null average_value dropped
    assert(fixed.length == 1)
    assert(fixed.head.getString(0) == "HabitatMap-99-pm25")
    assert(fixed.head.getDouble(1) == 7.1)
  }

  test("habitatmap mobile: paged sessions, time-range check, coordinates") {
    val batch = HabitatMapPipeline.run(spark, fixture("habitatmap.json"))
    val mobile = batch.mobileMeasures.get.orderBy("timestamp").collect()
    // 4 measurements − 1 outside [start,end] (future) = 3
    assert(mobile.length == 3)
    assert(mobile.map(_.getString(0)).toSet ==
      Set("HabitatMap-77-pm25", "HabitatMap-76-pm25"))
    // per-row coordinates present
    assert(mobile.forall(r => !r.isNullAt(3) && !r.isNullAt(4)))
  }

  test("habitatmap stations: fixed ismobile=false, mobile ismobile=true") {
    val batch = HabitatMapPipeline.run(spark, fixture("habitatmap.json"))
    val flags = batch.stations
      .select($"sensor_node_id", $"sensor_node_ismobile")
      .as[(String, Boolean)].collect().toMap
    assert(flags == Map("1" -> false, "2" -> false,
      "11" -> true, "12" -> true))
  }

  test("habitatmap processor writes both CSV header contracts") {
    val out = java.nio.file.Files.createTempDirectory("graft_hm_").toString
    Pipelines.processor(spark, "habitatmap", fixture("habitatmap.json"), out)
      .collect()
    val fixed = spark.read.option("header", "true")
      .csv(s"$out/measures/habitatmap")
    assert(fixed.columns.toSeq == Seq("sensor_id", "measure", "timestamp"))
    val mobile = spark.read.option("header", "true")
      .csv(s"$out/measures/habitatmap-mobile")
    assert(mobile.columns.toSeq ==
      Seq("sensor_id", "measure", "timestamp", "longitude", "latitude"))
    assert(mobile.count() == 3)
  }

  test("cmu: filename→timestamp −15min America/New_York (F7)") {
    // 'Location_Data 2020-07-17 11_45.csv' → 11:30 EDT = 15:30 UTC
    val ts = Seq("Location_Data 2020-07-17 11_45.csv").toDF("f")
      .select(date_format(CmuPipeline.fileTimestamp($"f"),
        "yyyy-MM-dd HH:mm:ss")).first().getString(0)
    assert(ts == "2020-07-17 15:30:00")
  }

  test("cmu: melt, NaN sentinel skip, unit normalization, first-wins stations") {
    val batch = CmuPipeline.run(spark,
      fixture("cmu").stripSuffix("/") + "/*.csv")
    val m = batch.measures.collect()
      .map(r => (r.getString(0),
        r.getTimestamp(2).toString.substring(0, 19), r.getDouble(1))).toSet
    // file1: SiteA 8 non-NaN params, SiteB 7; file2: 9 + 9 → 33 measures
    assert(m.size == 33)
    // NaN cells dropped (SiteA file1 NO is NaN)
    assert(!m.exists { case (id, ts, _) =>
      id == "CMU-SiteA-no" && ts.startsWith("2020-07-17 15:30") })
    // ppb→ppm normalization: CO 210.5 ppb → 0.2105 ppm
    val co = batch.measures
      .filter($"sensor_id" === "CMU-SiteA-co" &&
        date_format($"timestamp", "HH:mm") === "15:30")
      .select($"measure").as[Double].first()
    assert(math.abs(co - 0.2105) < 1e-12)
    // stations deduped across files
    assert(batch.stations.count() == 3)
  }

  test("cmu processor persists the watermark (K6)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cmu_").toString
    Pipelines.processor(spark, "cmu",
      fixture("cmu").stripSuffix("/") + "/*.csv", out).collect()
    val wm = Sinks.readWatermark(spark, s"$out/meta/watermark", "cmu")
    // newest file 12_00 → 11:45 EDT = 15:45 UTC
    assert(wm.map(_.toString).contains("2020-07-17 15:45:00.0"))
  }

  test("cmu watermark comes from the file names with no Spark job, skips " +
    "header-only files, and its upsert runs at most 2 jobs") {
    val glob = fixture("cmu").stripSuffix("/") + "/*.csv"
    val (wm, jobs) = jobsDuring(CmuPipeline.maxFileTimestamp(spark, glob))
    assert(jobs == 0, s"$jobs Spark jobs")
    // newest file 12_00 → 11:45 EDT = 15:45 UTC
    assert(wm.toString == "2020-07-17 15:45:00.0")
    // a newer file holding only a header adds no row to the batch, so
    // it does not move the watermark
    val dir = java.nio.file.Files.createTempDirectory("graft_cmuwm_")
    new java.io.File(fixture("cmu")).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    val header = java.nio.file.Files.readAllLines(
      new java.io.File(fixture("cmu")).listFiles().head.toPath).get(0)
    java.nio.file.Files.writeString(
      dir.resolve("Location_Data 2020-07-17 12_15.csv"), header + "\n\n")
    assert(CmuPipeline.maxFileTimestamp(spark, s"$dir/*.csv").toString ==
      "2020-07-17 15:45:00.0")
    assert(CmuPipeline.maxFileTimestamp(spark, dir.toString).toString ==
      "2020-07-17 15:45:00.0")
    assert(CmuPipeline.maxFileTimestamp(spark, s"$dir/*12_15.csv") == null)
    val out = java.nio.file.Files.createTempDirectory("graft_cmuwm2_").toString
    Sinks.writeWatermark(spark, s"$out/wm", "other",
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val (_, upsertJobs) = jobsDuring(
      Sinks.writeWatermark(spark, s"$out/wm", "cmu", wm))
    assert(upsertJobs <= 2, s"$upsertJobs Spark jobs")
    assert(Sinks.readWatermark(spark, s"$out/wm", "cmu").contains(wm))
    assert(Sinks.readWatermark(spark, s"$out/wm", "other").map(_.toString)
      .contains("2020-01-01 00:00:00.0"))
  }
}
