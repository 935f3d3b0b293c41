package graft.model

import org.apache.spark.sql.types._

/** Data model — SURVEY.md §1 re-expressed as explicit Spark schemas.
  *
  * The reference keeps everything dynamically typed JS; here every record
  * family is a case class + StructType pair: `Dataset[T]` where type
  * safety helps, `DataFrame` + schema where structure is dynamic.
  * Timestamps are `TimestampType` UTC internally (session TZ pinned);
  * per-sink rendering happens at the boundary (SURVEY §2.11.6).
  */

/** Static per-provider config row (`schema/v1.json:1-42`). */
case class SourceConfig(
    schema: String,
    provider: String,
    frequency: String, // minute | hour | day
    secretKey: Option[String],
    active: Boolean,
    meta: Map[String, String])

/** Unit-conversion dimension row (`fetcher/lib/measurand.js:3-11`). */
case class MeasurandRule(input_param: String, parameter: String, unit: String)

/** Leaf sensor (`station.js:108-174`). */
case class Sensor(
    sensor_id: String,
    measurand_parameter: String,
    measurand_unit: String)

/** Mid-level system (`station.js:49-106`). */
case class SensorSystem(
    sensor_system_id: Option[String],
    sensor_system_manufacturer_name: Option[String],
    sensors: Seq[Sensor])

/** Station document: node → systems → sensors (`station.js:1-47`). */
case class SensorNode(
    sensor_node_id: String,
    sensor_node_site_name: Option[String],
    sensor_node_source_name: String,
    sensor_node_ismobile: Option[Boolean],
    sensor_node_geometry: Option[Seq[Double]], // [lon, lat]
    sensor_node_city: Option[String],
    sensor_node_country: Option[String],
    sensor_node_timezone: Option[String],
    sensor_systems: Seq[SensorSystem])

/** Central fact row, fixed stations (`measure.js:14`, `:49-58`). */
case class FixedMeasure(
    sensor_id: String,
    measure: Double,
    timestamp: java.sql.Timestamp)

/** Fact row with per-row coordinates, mobile (`measure.js:16`, `:72-79`). */
case class MobileMeasure(
    sensor_id: String,
    measure: Double,
    timestamp: java.sql.Timestamp,
    longitude: Double,
    latitude: Double)

/** v0.1 JSON-schema station row (`clarity.js:140-147`). */
case class Location(
    location: String,
    label: String,
    ismobile: Boolean,
    lon: Double,
    lat: Double)

/** Per-run summary (`purpleair.js:88`, `clarity.js:192-208`). */
case class FetchSummary(
    source_name: String,
    locations: Long,
    measures: Long,
    from: Option[java.sql.Timestamp],
    to: Option[java.sql.Timestamp])

object Schemas {
  /** Strict source-config schema (`schema/v1.json`): required fields,
    * frequency enum enforced by [[graft.sources.Ingest.readSourceConfigs]]. */
  val sourceConfig: StructType = StructType(Seq(
    StructField("schema", StringType, nullable = false),
    StructField("provider", StringType, nullable = false),
    StructField("frequency", StringType, nullable = false),
    StructField("secretKey", StringType, nullable = true),
    StructField("active", BooleanType, nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  val frequencies: Seq[String] = Seq("minute", "hour", "day")

  val sensor: StructType = StructType(Seq(
    StructField("sensor_id", StringType, nullable = false),
    StructField("measurand_parameter", StringType, nullable = false),
    StructField("measurand_unit", StringType, nullable = false)))

  val sensorSystem: StructType = StructType(Seq(
    StructField("sensor_system_id", StringType, nullable = true),
    StructField("sensor_system_manufacturer_name", StringType, nullable = true),
    StructField("sensors", ArrayType(sensor), nullable = false)))

  val sensorNode: StructType = StructType(Seq(
    StructField("sensor_node_id", StringType, nullable = false),
    StructField("sensor_node_site_name", StringType, nullable = true),
    StructField("sensor_node_source_name", StringType, nullable = false),
    StructField("sensor_node_ismobile", BooleanType, nullable = true),
    StructField("sensor_node_geometry", ArrayType(DoubleType), nullable = true),
    StructField("sensor_node_city", StringType, nullable = true),
    StructField("sensor_node_country", StringType, nullable = true),
    StructField("sensor_node_timezone", StringType, nullable = true),
    StructField("sensor_systems", ArrayType(sensorSystem), nullable = false)))

  val fixedMeasure: StructType = StructType(Seq(
    StructField("sensor_id", StringType, nullable = false),
    StructField("measure", DoubleType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))

  val mobileMeasure: StructType = fixedMeasure
    .add("longitude", DoubleType).add("latitude", DoubleType)

  /** K5 run summary (`providers.js:59-71`): one row per provider run;
    * `from`/`to` are null when the batch has no measures. */
  val runSummary: StructType = StructType(Seq(
    StructField("source_name", StringType, nullable = false),
    StructField("locations", LongType, nullable = false),
    StructField("measures", LongType, nullable = false),
    StructField("from", TimestampType, nullable = true),
    StructField("to", TimestampType, nullable = true)))

  /** CSV header orders are part of the sink contract (`measure.js:13-17`). */
  val fixedCsvHeader: Seq[String] = Seq("sensor_id", "measure", "timestamp")
  val mobileCsvHeader: Seq[String] =
    Seq("sensor_id", "measure", "timestamp", "longitude", "latitude")

  /** Provider payload schemas (SURVEY §2.1; fields as recorded in the
    * fixtures), read by [[graft.sources.Ingest]] so no scan infers one.
    * JSON integers are `BIGINT`, fractions `DOUBLE`; a field a provider
    * sends with mixed types is `STRING` and the pipeline casts it
    * (PurpleAir's positional rows, SmartSense's sentinels).  A value of
    * another type, such as Data354's empty strings, reads as null.  CSV
    * schemas list the header's columns in file order. */
  object Payload {
    private def ddl(s: String): StructType = StructType.fromDDL(s)

    /** `purpleair.js:134-143`: `fields[]` names the columns of `data[][]`. */
    val purpleair: StructType =
      ddl("fields ARRAY<STRING>, data ARRAY<ARRAY<STRING>>")
    val clarity: StructType = ddl(
      "datasources ARRAY<STRUCT<datasourceId: STRING, name: STRING>>, " +
        "data ARRAY<STRUCT<datasourceId: STRING, metric: STRING, " +
        "value: DOUBLE, time: STRING, qc: STRING>>, " +
        "locations ARRAY<STRUCT<datasourceId: STRING, lon: DOUBLE, lat: DOUBLE>>")
    val habitatmap: StructType = ddl(
      "fixed STRUCT<sessions: ARRAY<STRUCT<id: BIGINT, title: STRING, " +
        "latitude: DOUBLE, longitude: DOUBLE, end_time_local: STRING, " +
        "streams: STRUCT<`AirBeam2-PM2.5`: STRUCT<id: BIGINT, " +
        "average_value: DOUBLE>>>>>, " +
        "mobile_pages ARRAY<STRUCT<sessions: ARRAY<STRUCT<id: BIGINT, " +
        "title: STRING, streams: STRUCT<`AirBeam2-PM2.5`: STRUCT<id: BIGINT>>>>, " +
        "fetchableSessionsCount: BIGINT>>, " +
        "measurements ARRAY<STRUCT<stream_id: BIGINT, time: BIGINT, " +
        "value: DOUBLE, longitude: DOUBLE, latitude: DOUBLE>>")
    val lovemyair: StructType = ddl(
      "sites ARRAY<STRUCT<siteId: STRING, siteName: STRING, lon: DOUBLE, " +
        "lat: DOUBLE, parameters: ARRAY<STRUCT<parameterId: STRING, " +
        "units: STRING>>>>, " +
        "measurements ARRAY<STRUCT<parameterId: STRING, value: DOUBLE, " +
        "postDate: STRING>>")
    val aernode: StructType = ddl(
      "devices ARRAY<STRUCT<device_id: STRING, shortname: STRING, " +
        "lon_set: DOUBLE, lat_set: DOUBLE>>, " +
        "measurements ARRAY<STRUCT<device_id: STRING, metric_name: STRING, " +
        "value: DOUBLE, time: STRING>>")
    val airgradient: StructType = ddl(
      "devices ARRAY<STRUCT<locationId: STRING, locationName: STRING, " +
        "longitude: DOUBLE, latitude: DOUBLE>>, " +
        "measures ARRAY<STRUCT<locationId: STRING, date: STRING, " +
        "pm02: DOUBLE, atmp: DOUBLE, rhum: DOUBLE>>")
    val smartsense: StructType = ddl(
      "devices ARRAY<STRUCT<deviceId: STRING, label: STRING, lon: DOUBLE, " +
        "lat: DOUBLE>>, " +
        "measurements ARRAY<STRUCT<deviceId: STRING, value: STRING, time: BIGINT>>")
    val hawanama: StructType = ddl(
      "locations ARRAY<STRUCT<location_id: BIGINT, location: STRING, " +
        "lon: DOUBLE, lat: DOUBLE>>, " +
        "measurements ARRAY<STRUCT<location_id: BIGINT, parameter: STRING, " +
        "value: DOUBLE, datetime: STRING>>")
    val airqo: StructType = ddl(
      "cohorts ARRAY<STRUCT<measurements: ARRAY<STRUCT<site_id: STRING, " +
        "device: STRING, time: STRING, " +
        "deviceDetails: STRUCT<longitude: DOUBLE, latitude: DOUBLE>, " +
        "pm2_5: STRUCT<value: DOUBLE>, pm10: STRUCT<value: DOUBLE>>>>>")
    val airqoon: StructType = ddl(
      "Data ARRAY<STRUCT<Id: STRING, Name: STRING, " +
        "Location: STRUCT<Longitude: DOUBLE, Latitude: DOUBLE>>>, " +
        "telemetry ARRAY<STRUCT<deviceId: STRING, statusCode: BIGINT, " +
        "measurand: STRING, Value: STRING, DateTime: STRING>>")
    val data354: StructType = ddl(
      "stations ARRAY<STRUCT<station_id: STRING, station_name: STRING, " +
        "latitude: DOUBLE, longitude: DOUBLE, deployment_flag: BIGINT, " +
        "deployment_date: STRING>>, " +
        "measurements ARRAY<STRUCT<station_id: STRING, timestamp: STRING, " +
        "PM25: DOUBLE, PM10: DOUBLE>>")
    val miri: StructType = ddl(
      "devices ARRAY<STRUCT<device_id: STRING, name: STRING, location: STRING>>, " +
        "measurements ARRAY<STRUCT<device_id: STRING, date_added: STRING, " +
        "pm25: DOUBLE, pm10: DOUBLE>>")
    val senstate: StructType = ddl(
      "readings ARRAY<STRUCT<statusCode: BIGINT, token: STRING, name: STRING, " +
        "city: STRING, country: STRING, " +
        "coordinates: STRUCT<longitude: DOUBLE, latitude: DOUBLE>, " +
        "measurements: ARRAY<STRUCT<" +
        "parameters: STRUCT<parameter: STRING, value: DOUBLE>, " +
        "date: STRUCT<utc: STRING>>>>>")

    /** `iqair.js:66-82` day file. */
    val iqairCsv: StructType = ddl(
      "station STRING, datetime TIMESTAMP, `pm25(ug/m3)` DOUBLE, " +
        "lon DOUBLE, lat DOUBLE")
    /** `cpcb.js` bucket streams: the station list and the readings. */
    val cpcbStationsCsv: StructType = ddl(
      "station_id STRING, station_name STRING, latitude DOUBLE, longitude DOUBLE")
    val cpcbMeasurementsCsv: StructType = ddl(
      "station_id STRING, parameter STRING, value DOUBLE, " +
        "datetime_local TIMESTAMP")
    /** `cmu.js` `Location_Data <ts>.csv`: `NaN` cells read as NaN. */
    val cmuCsv: StructType = ddl(
      "Site_Name STRING, Anon_Name STRING, Lat DOUBLE, Lon DOUBLE, " +
        "CO DOUBLE, NO DOUBLE, NO2 DOUBLE, O3 DOUBLE, P DOUBLE, " +
        "PM025 DOUBLE, RH DOUBLE, SO2 DOUBLE, T DOUBLE")
  }
}
