package graft.pipeline

import graft.functions.ColumnFns
import graft.measurand.Measurands
import graft.model._
import graft.sinks.Sinks
import graft.sources.Ingest
import graft.transform.Transform
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Provider pipelines — SURVEY.md §3.
  *
  * Each provider is a ~30-line DataFrame program composing the shared
  * layers (ingest → melt → measurand join → normalize → assemble →
  * sinks).  Two archetypes cover the reference's 16 providers:
  *
  *  - [[PurpleAirPipeline]] — station-object style, columnar input
  *    (`purpleair.js:25-89`, SURVEY §3.2);
  *  - [[ClarityPipeline]] — v0.1-JSON client style, datasource
  *    enrichment dim (`clarity.js:115-175`, SURVEY §3.3 — the shape of
  *    11 of 16 providers).
  *
  * `Pipelines.processor` is the dynamic-dispatch equivalent of
  * `providers.js:37-51`.
  */
object Pipelines {

  /** One fetched+transformed batch, pre-sink.  `mobileMeasures` carries
    * per-row coordinates (mobile CSV header contract, `measure.js:16`). */
  case class Batch(stations: DataFrame, measures: DataFrame,
                   mobileMeasures: Option[DataFrame] = None)

  trait ProviderPipeline {
    def name: String
    /** v0.1-JSON client style (locations+measures envelope sink) vs
      * station-object style (SURVEY §3.2 vs §3.3). */
    def isV01: Boolean = false
    /** fixture/bucket path → (stations, fixed measures[, mobile]) */
    def run(spark: SparkSession, inputPath: String): Batch
  }

  val registry: Map[String, ProviderPipeline] = Map(
    "purpleair" -> PurpleAirPipeline,
    "clarity" -> ClarityPipeline,
    "habitatmap" -> HabitatMapPipeline,
    "cmu" -> CmuPipeline,
    "lovemyair" -> LoveMyAirPipeline,
    "aernode" -> AernodePipeline,
    "iqair" -> IqAirPipeline,
    "airgradient" -> AirGradientPipeline,
    "smartsense" -> SmartSensePipeline,
    "airqo" -> AirQoPipeline,
    "airqoon" -> AirQoonPipeline,
    "data354" -> Data354Pipeline,
    "miri" -> MiriPipeline,
    "senstate" -> SenstatePipeline,
    "cpcb" -> CpcbPipeline,
    "hawanama" -> HawanamaPipeline)

  /** `Providers.processor(source)` equivalent: dispatch by provider
    * name, run the provider's sink style, return the run summary row.
    * PurpleAir-style providers upsert station docs + CSV measures
    * (`providers.js:94-159`); v0.1-style providers write the JSON
    * envelope (`providers.js:168-185`).  The K5 summary is a local
    * one-row frame of the values the sink writers return, so
    * collecting it runs no Spark job. */
  def processor(spark: SparkSession, provider: String, inputPath: String,
                outDir: String): DataFrame = {
    val p = registry.getOrElse(provider,
      throw new IllegalArgumentException(s"Unknown provider: $provider"))
    sinkBatch(spark, p, p.run(spark, inputPath), inputPath, outDir)
  }

  /** The sink half of [[processor]]: write `batch` in `p`'s sink style
    * and return its K5 summary, built from the values the writers
    * returned. */
  private[graft] def sinkBatch(spark: SparkSession, p: ProviderPipeline,
                               batch: Batch, inputPath: String,
                               outDir: String): DataFrame = {
    val provider = p.name
    val (locations, stats) = p match {
      case v01 if v01.isV01 =>
        val (_, locations, stats) = Sinks.writeEnvelopeJson(
          batch.measures.drop("flags"), batch.stations, provider,
          s"$outDir/measures-json/$provider")
        (locations, stats)
      case _ =>
        val (_, locations) = Sinks.diffWriteStations(spark,
          Transform.stationJson(batch.stations), "sensor_node_id", "json",
          s"$outDir/stations/$provider")
        val stats = Sinks.writeMeasuresCsv(batch.measures,
          s"$outDir/measures/$provider")
        batch.mobileMeasures.foreach(m =>
          Sinks.writeMeasuresCsv(m, s"$outDir/measures/$provider-mobile",
            mobile = true))
        if (p == CmuPipeline) {
          Sinks.writeWatermark(spark, s"$outDir/meta/watermark", provider,
            CmuPipeline.maxFileTimestamp(spark, inputPath))
        }
        (locations, stats)
    }
    spark.createDataFrame(java.util.List.of(Row(provider, locations,
      stats.measures, stats.from, stats.to)), Schemas.runSummary)
  }
}

/** SURVEY §3.2 archetype: columnar JSON → pivot → melt → measurand join
  * → normalize → ids → stations + measures (`purpleair.js`). */
object PurpleAirPipeline extends Pipelines.ProviderPipeline {
  val name = "purpleair"

  /** `purpleair.js:7-23` lookup, verbatim. */
  val lookup: Seq[MeasurandRule] = Seq(
    MeasurandRule("pm1.0", "pm1", "µg/m³"),
    MeasurandRule("pm2.5", "pm25", "µg/m³"),
    MeasurandRule("pm10.0", "pm10", "µg/m³"),
    MeasurandRule("0.3_um_count", "um003", "pp100ml"),
    MeasurandRule("0.5_um_count", "um005", "pp100ml"),
    MeasurandRule("1.0_um_count", "um010", "pp100ml"),
    MeasurandRule("2.5_um_count", "um025", "pp100ml"),
    MeasurandRule("5.0_um_count", "um050", "pp100ml"),
    MeasurandRule("10.0_um_count", "um100", "pp100ml"),
    MeasurandRule("humidity", "humidity", "%"),
    MeasurandRule("temperature", "temperature", "f"),
    MeasurandRule("pressure", "pressure", "mb"),
    MeasurandRule("voc", "voc", "iaq"),
    MeasurandRule("ozone1", "ozone", "ppb"))

  /** PurpleAir `fields=` projection (`purpleair.js:94-118`). */
  val fields: Seq[String] = Seq(
    "last_seen", "sensor_index", "location_type", "name", "latitude",
    "longitude") ++ lookup.map(_.input_param)

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val dim = Measurands.supported(spark, lookup)

    // S2 scan + S9 pivot (fields[] + data[][] → columns)
    val columnar = Ingest.readJson(spark, inputPath, Schemas.Payload.purpleair)
      .select(explode(col("data")).as("data"))
    val wide = Ingest.columnarPivot(columnar, fields)

    // melt (F13) + null skip (P3) + measurand join (J1) + normalize (F1)
    val melted = Transform.dropNullMeasures(
      Transform.melt(wide,
        Seq("last_seen", "sensor_index", "name", "latitude", "longitude"),
        lookup.map(_.input_param)))
    val resolved = Measurands.resolve(melted, dim)

    // F2 ids + timestamp normalization (epoch seconds, README.md:107)
    val measures = resolved
      .withColumn("sensor_id", ColumnFns.synthId(
        lit(name), col("sensor_index"), col("measurand_parameter")))
      .withColumn("timestamp",
        Transform.normalizeTs(col("last_seen"), Transform.EpochSeconds))
      .select("sensor_id", "measure", "timestamp")

    // station assembly (station.js field lists; geometry = [lon, lat])
    val flat = resolved
      .withColumn("sensor_id", ColumnFns.synthId(
        lit(name), col("sensor_index"), col("measurand_parameter")))
      .withColumn("sensor_node_id",
        ColumnFns.synthId(lit(name), col("sensor_index")))
      .withColumn("sensor_node_site_name", col("name"))
      .withColumn("sensor_node_source_name", lit(name))
      .withColumn("sensor_node_ismobile", lit(false))
      .withColumn("sensor_node_geometry",
        array(col("longitude").cast("double"), col("latitude").cast("double")))
    val stations = Transform.assembleStations(flat,
      Seq("sensor_node_id", "sensor_node_site_name",
        "sensor_node_source_name", "sensor_node_ismobile",
        "sensor_node_geometry"))

    Pipelines.Batch(stations, measures)
  }
}

/** SURVEY §3.3 archetype: measurements + datasources dims → enrichment
  * join (J3) with missing-report, v0.1 locations (`clarity.js`). */
object ClarityPipeline extends Pipelines.ProviderPipeline {
  val name = "clarity"
  override val isV01 = true

  /** `clarity.js:27-29` parameter map. */
  val lookup: Seq[MeasurandRule] =
    Seq(MeasurandRule("pm2_5ConcMassIndividual", "pm25", "ug/m3"))

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val dim = Measurands.supported(spark, lookup)
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.clarity)

    val datasources = raw.select(explode(col("datasources")).as("ds"))
      .select(col("ds.datasourceId").as("datasourceId"),
        col("ds.name").as("ds_name"))

    val meas = raw.select(explode(col("data")).as("m"))
      .select(col("m.datasourceId").as("datasourceId"),
        col("m.metric").as("input_param"), col("m.value").as("value"),
        col("m.time").as("time"), col("m.qc").as("qc"))

    // J1 + F1 + F2 + flags map ({'clarity/qc': qc}, clarity.js:163)
    val resolved = Measurands.resolve(meas, dim)
    val measures = resolved
      .withColumn("sensor_id", ColumnFns.synthId(
        lit(name), col("datasourceId"), col("measurand_parameter")))
      .withColumn("timestamp",
        Transform.normalizeTs(col("time"), Transform.Iso))
      .withColumn("flags",
        map(lit("clarity/qc"), col("qc")))
      .select("sensor_id", "measure", "timestamp", "flags")

    // J3 enrichment join + left_anti missing-datasource report
    val locs = raw.select(explode(col("locations")).as("l"))
      .select(col("l.datasourceId").as("datasourceId"),
        col("l.lon").as("lon"), col("l.lat").as("lat"))
    val enriched = locs.join(broadcast(datasources), Seq("datasourceId"))
      .select(
        ColumnFns.synthId(lit(name), col("datasourceId")).as("location"),
        coalesce(col("ds_name"), lit("Missing device name")).as("label"),
        lit(false).as("ismobile"),
        col("lon").cast("double"), col("lat").cast("double"))

    Pipelines.Batch(enriched, measures)
  }

  /** The missing-datasource anti report (`clarity.js:51-56`). */
  def missingDatasources(spark: SparkSession, inputPath: String): DataFrame = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.clarity)
    val datasources = raw.select(explode(col("datasources")).as("ds"))
      .select(col("ds.datasourceId").as("datasourceId"))
    raw.select(explode(col("locations")).as("l"))
      .select(col("l.datasourceId").as("datasourceId"))
      .join(datasources, Seq("datasourceId"), "left_anti")
      .distinct()
  }
}
