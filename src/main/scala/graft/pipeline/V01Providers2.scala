package graft.pipeline

import graft.functions.ColumnFns
import graft.measurand.Measurands
import graft.model.{MeasurandRule, Schemas}
import graft.sources.Ingest
import graft.transform.Transform
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The final seven providers — completing 16/16 reference coverage. */

/** Hawanama (`hawanama.js`) — the plainest v0.1 archetype: flat
  * locations + already-long measurements, measurand dict probe (J1/F1),
  * ids `hawanama-{location_id}[-{parameter}]` (F2/F3), envelope sink
  * (K3).  The 16th ACTIVE reference provider
  * (`sources/hawanama.json:6`) — an hourly source, so a user
  * scheduling the `hour` class hits it immediately. */
object HawanamaPipeline extends Pipelines.ProviderPipeline {
  val name = "hawanama"
  override val isV01 = true

  /** `hawanama.js:20-22` parameter map. */
  val lookup: Seq[MeasurandRule] = Seq(MeasurandRule("pm25", "pm25", "ug/m3"))

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val dim = Measurands.supported(spark, lookup)
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.hawanama)
    // locations endpoint `results` (hawanama.js:52-62; shape :105-118)
    val locDocs = raw.select(explode(col("locations")).as("l"))
      .select(col("l.location_id").as("location_id"),
        col("l.location").as("location_name"),
        col("l.lon").as("lon"), col("l.lat").as("lat"))
    val locs = V01.locations(locDocs, name, col("location_id"),
      col("location_name"), col("lon"), col("lat"))
    // measurements endpoint `results` — already long (hawanama.js:64-75)
    val meas = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.location_id").as("location_id"),
        col("m.parameter").as("input_param"),
        col("m.value").as("value"),
        col("m.datetime").as("datetime"))
    // J1+F1: the per-row dict probe that throws "Could not find
    // measurand" (hawanama.js:85-88, caught and skipped :124-131)
    // becomes a broadcast inner join — misses drop, rows never error.
    val resolved = Measurands.resolve(meas, dim)
    val measures = resolved.select(
      ColumnFns.synthId(lit(name), col("location_id"),
        col("measurand_parameter")).as("sensor_id"), // F2 (hawanama.js:90)
      col("measure"),
      Transform.normalizeTs(col("datetime"), Transform.Iso).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** AirQo (`airqo.js`): multi-cohort fetch-union (S11) + metric-key
  * semi-join (J4) over per-reading parameter objects. */
object AirQoPipeline extends Pipelines.ProviderPipeline {
  val name = "airqo"
  override val isV01 = true
  val params = Seq("pm2_5", "pm10")

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.airqo)
    // S11: one array per cohort response, unioned by the explode of
    // `cohorts` (airqo.js:58-75)
    val readings = raw.select(explode(col("cohorts")).as("c"))
      .select(explode(col("c.measurements")).as("m"))
      .select(col("m.site_id").as("site_id"), col("m.device").as("device"),
        col("m.time").as("time"),
        col("m.deviceDetails.longitude").as("lon"),
        col("m.deviceDetails.latitude").as("lat"),
        col("m.pm2_5.value").as("pm2_5"), col("m.pm10.value").as("pm10"))
    val locs = V01.locations(readings.dropDuplicates("site_id"), name,
      col("site_id"), col("device"), col("lon"), col("lat"))
    // J4/F13: keys ∩ parameters → melt (airqo.js:115)
    val melted = Transform.dropNullMeasures(
      Transform.melt(readings, Seq("site_id", "time"), params))
    val measures = melted.select(
      ColumnFns.synthId(lit(name), col("site_id"),
        regexp_replace(col("input_param"), "_", "")).as("sensor_id"),
      col("value").as("measure"),
      Transform.normalizeTs(col("time"), Transform.Iso).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** AirQoon (`airqoon.js`): device-list limit (§2.6), status-code filter
  * (P5), comma-strip numeric parse (F5). */
object AirQoonPipeline extends Pipelines.ProviderPipeline {
  val name = "airqoon"
  override val isV01 = true

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.airqoon)
    val devices = raw.select(explode(col("Data")).as("d"))
      .select(col("d.Id").as("Id"), col("d.Name").as("Name"),
        col("d.Location.Longitude").as("lon"),
        col("d.Location.Latitude").as("lat"))
      .limit(100) // airqoon.js:97
    val locs = V01.locations(devices, name, col("Id"), col("Name"),
      col("lon"), col("lat"))
    val telemetry = raw.select(explode(col("telemetry")).as("t"))
      .select(col("t.deviceId").as("deviceId"),
        col("t.statusCode").as("statusCode"),
        col("t.measurand").as("measurand"),
        col("t.Value").as("Value"), col("t.DateTime").as("DateTime"))
      .filter(col("statusCode") === 200) // P5 (airqoon.js:155)
      .filter(col("measurand").isin("pm25")) // param whitelist
    val measures = telemetry.select(
      ColumnFns.synthId(lit(name), col("deviceId"), col("measurand"))
        .as("sensor_id"),
      ColumnFns.parseCommaNumber(col("Value")).as("measure"), // F5 :93
      Transform.normalizeTs(col("DateTime"), Transform.Iso).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** Data354 (`data354.js`): deployment filter (P7), empty-string value
  * filter (P10), hour-ending shift (F9). */
object Data354Pipeline extends Pipelines.ProviderPipeline {
  val name = "data354"
  override val isV01 = true
  val params = Seq("PM25", "PM10")

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.data354)
    val stations = raw.select(explode(col("stations")).as("s"))
      .select(col("s.station_id").as("station_id"),
        col("s.station_name").as("station_name"),
        col("s.latitude").as("lat"), col("s.longitude").as("lon"),
        col("s.deployment_flag").as("deployment_flag"),
        col("s.deployment_date").as("deployment_date"))
      // P7 (data354.js:73)
      .filter(col("deployment_flag") === 1 && col("deployment_date") =!= "")
    val locs = V01.locations(stations, name, col("station_id"),
      col("station_name"), col("lon"), col("lat"))
    val rows = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.station_id").as("station_id"),
        col("m.timestamp").as("timestamp"),
        col("m.PM25").as("PM25"), col("m.PM10").as("PM10"))
      .join(stations.select("station_id"), Seq("station_id"), "left_semi")
    val melted = Transform.melt(rows, Seq("station_id", "timestamp"), params,
      valueName = "raw")
    val measures = melted
      .filter(col("raw").isNotNull && col("raw").cast("string") =!= "") // P10
      .select(
        ColumnFns.synthId(lit(name), col("station_id"),
          lower(col("input_param"))).as("sensor_id"),
        col("raw").cast("double").as("measure"),
        ColumnFns.hourEnding( // F9 (data354.js:108-110)
          Transform.normalizeTs(col("timestamp"), Transform.Iso))
          .as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** Miri (`miri.js`): header-row drop (S12), "lat,lon" split (F15),
  * space→'T' fix (F12), last-3 readings (W1), key-intersect melt. */
object MiriPipeline extends Pipelines.ProviderPipeline {
  val name = "miri"
  override val isV01 = true
  val params = Seq("pm25", "pm10")

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.miri)
    // S12: first element of the device list is metadata (miri.js:74)
    val devices = Ingest.dropFirstRow(
      raw.select(posexplode(col("devices")).as(Seq("idx", "d"))),
      col("idx"))
      .select(col("d.device_id").as("device_id"), col("d.name").as("name"),
        col("d.location").as("location"))
    val latlon = ColumnFns.splitLatLon(col("location")) // F15 (miri.js:123)
    val locs = V01.locations(devices, name, col("device_id"), col("name"),
      latlon.getItem(1), latlon.getItem(0))
    val readings = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.device_id").as("device_id"),
        col("m.date_added").as("date_added"),
        col("m.pm25").as("pm25"), col("m.pm10").as("pm10"))
    // W1: last 3 readings per device (miri.js:132)
    val recent = Transform.lastKPerGroup(readings, Seq("device_id"),
      to_timestamp(ColumnFns.spaceToT(col("date_added"))), 3, // F12 :140
      col("date_added"))
    val melted = Transform.dropNullMeasures(
      Transform.melt(recent, Seq("device_id", "date_added"), params))
    val measures = melted.select(
      ColumnFns.synthId(lit(name), col("device_id"), col("input_param"))
        .as("sensor_id"),
      col("value").as("measure"),
      Transform.normalizeTs(ColumnFns.spaceToT(col("date_added")),
        Transform.Iso).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** Senstate (`senstate.js`) — station-object style: status-code filter
  * (P5), nested measurement explode (J6), geo-tz from coordinates
  * (F16), full station docs with city/country/timezone. */
object SenstatePipeline extends Pipelines.ProviderPipeline {
  val name = "senstate"

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.senstate)
    val readings = raw.select(explode(col("readings")).as("r"))
      .filter(col("r.statusCode") === 200) // P5 (senstate.js:57)
      .select(col("r.token").as("token"), col("r.name").as("name"),
        col("r.city").as("city"), col("r.country").as("country"),
        col("r.coordinates.longitude").as("lon"),
        col("r.coordinates.latitude").as("lat"),
        col("r.measurements").as("measurements"))
    // J6: explode nested measurements, lookup each (senstate.js:71-103)
    val exploded = readings.select(col("token"), col("name"), col("city"),
        col("country"), col("lon"), col("lat"),
        explode(col("measurements")).as("m"))
      .select(col("token"), col("name"), col("city"), col("country"),
        col("lon"), col("lat"),
        col("m.parameters.parameter").as("parameter"),
        col("m.parameters.value").as("value"),
        col("m.date.utc").as("utc"))
      .filter(col("parameter").isin("pm25", "pm10", "temperature"))
    val measures = exploded.select(
      ColumnFns.synthId(lit(name), col("token"), col("parameter"))
        .as("sensor_id"),
      col("value").cast("double").as("measure"),
      Transform.normalizeTs(col("utc"), Transform.Iso).as("timestamp"))
    val flat = exploded
      .withColumn("sensor_id", ColumnFns.synthId(
        lit(name), col("token"), col("parameter")))
      .withColumn("measurand_parameter", col("parameter"))
      .withColumn("measurand_unit", lit("µg/m³"))
      .withColumn("sensor_node_id",
        ColumnFns.synthId(lit(name), col("token")))
      .withColumn("sensor_node_site_name", col("name"))
      .withColumn("sensor_node_source_name", lit(name))
      .withColumn("sensor_node_ismobile", lit(false))
      .withColumn("sensor_node_geometry",
        array(col("lon").cast("double"), col("lat").cast("double")))
      .withColumn("sensor_node_city", col("city"))
      .withColumn("sensor_node_country", col("country"))
      // F16 (senstate.js:67): tz from coordinates
      .withColumn("sensor_node_timezone", ColumnFns.tzFromLon(col("lon")))
    val stations = Transform.assembleStations(flat,
      Seq("sensor_node_id", "sensor_node_site_name",
        "sensor_node_source_name", "sensor_node_ismobile",
        "sensor_node_geometry", "sensor_node_city", "sensor_node_country",
        "sensor_node_timezone"))
    Pipelines.Batch(stations, measures)
  }
}

/** CPCB (`cpcb.js`): bucket CSV streams, zone-local recency cutoff
  * (F8/P12 — IST, fixed "now" for recorded payloads), param whitelist
  * (P14), local-naive timestamp normalization. */
object CpcbPipeline extends Pipelines.ProviderPipeline {
  val name = "cpcb"
  override val isV01 = true
  val params = Seq("PM2.5", "PM10", "NO2")
  val referenceNow = "2024-04-30 17:00:00" // recorded-payload clock (IST)

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val stations = Ingest.readCsv(spark, s"$inputPath/stations.csv",
      Schemas.Payload.cpcbStationsCsv)
    val locs = V01.locations(stations, name, col("station_id"),
      col("station_name"), col("longitude"), col("latitude"))
    val rows = Ingest.readCsv(spark, s"$inputPath/measurements.csv",
        Schemas.Payload.cpcbMeasurementsCsv)
      .filter(col("parameter").isin(params: _*)) // P14 (cpcb.js:154)
      // timestamps are IST-local naive strings (cpcb.js:152)
      .withColumn("ts", Transform.normalizeTs(col("datetime_local"),
        Transform.LocalNaive("Asia/Kolkata", "yyyy-MM-dd HH:mm:ss")))
      // P12: keep the trailing 3 h window, zone-consistent (cpcb.js:144-154)
      .filter(col("ts") > Transform.normalizeTs(lit(referenceNow),
        Transform.LocalNaive("Asia/Kolkata", "yyyy-MM-dd HH:mm:ss"))
        - expr("INTERVAL 3 HOURS"))
    val measures = rows.select(
      ColumnFns.synthId(lit(name), col("station_id"),
        lower(regexp_replace(col("parameter"), "\\.", ""))).as("sensor_id"),
      col("value").cast("double").as("measure"),
      col("ts").as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}
