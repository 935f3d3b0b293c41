package graft.pipeline

import graft.functions.ColumnFns
import graft.model.Schemas
import graft.sources.Ingest
import graft.transform.Transform
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The five remaining distinctive v0.1-JSON provider archetypes.  Each
  * is a short composition of the shared layers exercising the operator
  * that makes it unique in SURVEY §2; the other v0.1 providers in the
  * reference (airqo, airqoon, data354, miri, senstate, cpcb) are
  * combinations of exactly these shapes (cohort union S11 = explode(cohorts),
  * device limit = limit, variables projection = select, geo-tz F16 =
  * ColumnFns.tzFromLon, zone cutoff = p12) — all already first-class
  * operators in the engine.
  */
private[pipeline] object V01 {
  /** v0.1 locations frame from a device list. */
  def locations(devices: DataFrame, provider: String, id: Column,
                label: Column, lon: Column, lat: Column): DataFrame =
    devices.select(
      ColumnFns.synthId(lit(provider), id).as("location"),
      label.as("label"), lit(false).as("ismobile"),
      lon.cast("double").as("lon"), lat.cast("double").as("lat"))
}

/** LoveMyAir (`lovemyair.js`): unit allow-list on device parameters
  * (P8) and last-3 readings per parameter (W1). */
object LoveMyAirPipeline extends Pipelines.ProviderPipeline {
  val name = "lovemyair"
  override val isV01 = true

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.lovemyair)
    val sites = raw.select(explode(col("sites")).as("d"))
      .select(col("d.siteId").as("siteId"), col("d.siteName").as("siteName"),
        col("d.lon").as("lon"), col("d.lat").as("lat"),
        col("d.parameters").as("parameters"))
    val locs = V01.locations(sites, name, col("siteId"),
      col("siteName"), col("lon"), col("lat"))

    // P8 unit allow-list (lovemyair.js:120-123)
    val params = sites.select(col("siteId"),
        explode(col("parameters")).as("p"))
      .filter(col("p.units").isin("ug/m3"))
      .select(col("siteId"), col("p.parameterId").as("parameterId"))
    val readings = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.parameterId").as("parameterId"),
        col("m.value").as("value"), col("m.postDate").as("postDate"))
    // W1 last-3 per parameter (lovemyair.js:127)
    val last3 = Transform.lastKPerGroup(
      params.join(readings, "parameterId"),
      Seq("parameterId"), to_timestamp(col("postDate")), 3,
      col("value"))
    val measures = last3.select(
      ColumnFns.synthId(lit(name), col("siteId"), lit("pm25")).as("sensor_id"),
      col("value").cast("double").as("measure"),
      Transform.normalizeTs(col("postDate"), Transform.Iso).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** Aernode (`aernode.js`): distinct-parameter count (A4), keep rounds
  * 2..4 dropping the newest partial round (W2), metric whitelist (P14),
  * hour-ending shift (F9). */
object AernodePipeline extends Pipelines.ProviderPipeline {
  val name = "aernode"
  override val isV01 = true

  val supportedMetrics = Seq("pm25", "pm10")

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.aernode)
    val devices = raw.select(explode(col("devices")).as("d"))
      .select(col("d.device_id").as("device_id"),
        col("d.shortname").as("shortname"),
        col("d.lon_set").as("lon"), col("d.lat_set").as("lat"))
    val locs = V01.locations(devices, name, col("device_id"),
      col("shortname"), col("lon"), col("lat"))

    val meas = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.device_id").as("device_id"),
        col("m.metric_name").as("metric_name"),
        col("m.value").as("value"), col("m.time").as("time"))
    // W2: rank whole time-rounds per device desc, keep 2..4
    // (aernode.js:116-118 — newest possibly-partial round dropped)
    val rounds = Transform.roundsBetween(meas, Seq("device_id"),
      to_timestamp(col("time")), 2, 4)
    val measures = rounds
      .filter(col("metric_name").isin(supportedMetrics: _*)) // P14
      .select(
        ColumnFns.synthId(lit(name), col("device_id"), col("metric_name"))
          .as("sensor_id"),
        col("value").cast("double").as("measure"),
        // F9 hour-ending (aernode.js:119)
        ColumnFns.hourEnding(to_timestamp(col("time"))).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** IQAir (`iqair.js`): CSV day files, overfetch-first-12 rows per day
  * (W3), hour-beginning → hour-ending (F9). */
object IqAirPipeline extends Pipelines.ProviderPipeline {
  val name = "iqair"
  override val isV01 = true

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readCsv(spark, inputPath, Schemas.Payload.iqairCsv)
      .withColumnRenamed("pm25(ug/m3)", "pm25")
      .withColumn("ts", to_timestamp(col("datetime")))
    // W3 first 12 hourly rows of each (station, day) file (iqair.js:140)
    val first12 = {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("station"), date_trunc("day", col("ts")))
        .orderBy(col("ts"))
      raw.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 12).drop("__rn")
    }
    val measures = first12
      .filter(col("pm25").isNotNull)
      .select(
        ColumnFns.synthId(lit(name), col("station"), lit("pm25"))
          .as("sensor_id"),
        col("pm25").cast("double").as("measure"),
        ColumnFns.hourEnding(col("ts")).as("timestamp")) // F9 iqair.js:142
    val locs = raw.select(col("station"), col("lon"), col("lat")).distinct()
    Pipelines.Batch(
      V01.locations(locs, name, col("station"), col("station"),
        col("lon"), col("lat")),
      measures)
  }
}

/** AirGradient (`airgradient.js`): melt wide readings (F13), lagged
  * hour-bucket window (W4 — current hour is a rolling average, so keep
  * [−3h, −1h]), coordinate-precision location filter (P6). */
object AirGradientPipeline extends Pipelines.ProviderPipeline {
  val name = "airgradient"
  override val isV01 = true

  val lookup = Seq(
    graft.model.MeasurandRule("pm02", "pm25", "µg/m³"),
    graft.model.MeasurandRule("atmp", "temperature", "c"),
    graft.model.MeasurandRule("rhum", "relativehumidity", "%"))

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val dim = graft.measurand.Measurands.supported(spark, lookup)
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.airgradient)
    val devices = raw.select(explode(col("devices")).as("d"))
      .select(col("d.locationId").as("locationId"),
        col("d.locationName").as("locationName"),
        col("d.longitude").as("longitude"), col("d.latitude").as("latitude"))
    // P6: drop devices with <3 decimal places of coordinate precision
    // (airgradient.js:179-188; numeric formulation)
    val precise = devices.filter(
      col("latitude").isNotNull && col("longitude").isNotNull &&
        (abs(col("latitude") - round(col("latitude"), 2)) > 1e-9 ||
          abs(col("longitude") - round(col("longitude"), 2)) > 1e-9))
    val locs = V01.locations(precise, name, col("locationId"),
      col("locationName"), col("longitude"), col("latitude"))

    val wide = raw.select(explode(col("measures")).as("m"))
      .select(col("m.locationId").as("locationId"), col("m.date").as("date"),
        col("m.pm02").as("pm02"), col("m.atmp").as("atmp"),
        col("m.rhum").as("rhum"))
      .withColumn("ts", to_timestamp(col("date")))
    // W4: hour buckets in [now−3h, now−1h] (fixed "now" for determinism)
    val now = lit("2024-04-30 12:00:00")
    val hour = date_trunc("hour", col("ts"))
    val lagged = wide.filter(
      hour.between(date_trunc("hour", to_timestamp(now) - expr("INTERVAL 3 HOURS")),
        date_trunc("hour", to_timestamp(now) - expr("INTERVAL 1 HOURS"))))
    val melted = Transform.dropNullMeasures(
      Transform.melt(lagged, Seq("locationId", "ts"), Seq("pm02", "atmp", "rhum")))
    val resolved = graft.measurand.Measurands.resolve(melted, dim)
    val measures = resolved.select(
      ColumnFns.synthId(lit(name), col("locationId"),
        col("measurand_parameter")).as("sensor_id"),
      col("measure"),
      ColumnFns.hourEnding(date_trunc("hour", col("ts"))).as("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}

/** SmartSense (`smartsense.js`): sentinel values — `'n/a'` dropped,
  * `'inv'` → −999 (P9, quirk §2.11.4 kept), epoch-second timestamps. */
object SmartSensePipeline extends Pipelines.ProviderPipeline {
  val name = "smartsense"
  override val isV01 = true

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.smartsense)
    val devices = raw.select(explode(col("devices")).as("d"))
      .select(col("d.deviceId").as("deviceId"), col("d.label").as("label"),
        col("d.lon").as("lon"), col("d.lat").as("lat"))
    val locs = V01.locations(devices, name, col("deviceId"),
      col("label"), col("lon"), col("lat"))
    val meas = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.deviceId").as("deviceId"),
        col("m.value").as("raw"), col("m.time").as("time"))
      .filter(col("raw") =!= "n/a") // P9 drop
      .select(col("deviceId"),
        when(col("raw") === "inv", -999.0) // P9 sentinel map
          .otherwise(col("raw").cast("double")).as("measure"),
        Transform.normalizeTs(col("time"), Transform.EpochSeconds)
          .as("timestamp"))
    val measures = meas.select(
      ColumnFns.synthId(lit(name), col("deviceId"), lit("pm25"))
        .as("sensor_id"),
      col("measure"), col("timestamp"))
    Pipelines.Batch(locs, measures)
  }
}
