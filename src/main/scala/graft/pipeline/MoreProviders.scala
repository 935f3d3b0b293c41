package graft.pipeline

import graft.functions.ColumnFns
import graft.measurand.Measurands
import graft.model.{MeasurandRule, Schemas}
import graft.sources.Ingest
import graft.transform.Transform
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HabitatMap — the fixed+mobile dual archetype (`habitatmap.js`,
  * SURVEY §2.1 S10 pagination, §2.9 checkResponseData time-range).
  *
  * Mobile measures carry per-row coordinates (`measure.js:16`) — the
  * only provider family exercising the mobile CSV header contract.
  * The reference's inverted null check (`habitatmap.js:56-58`, SURVEY
  * §2.11.1) is implemented with the sane semantics (keep real values),
  * pinned in QuirksSpec.
  */
object HabitatMapPipeline extends Pipelines.ProviderPipeline {
  val name = "habitatmap"

  /** `habitatmap.js:7-9`. */
  val lookup: Seq[MeasurandRule] =
    Seq(MeasurandRule("AirBeam2-PM2.5", "pm25", "µg/m³"))

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val raw = Ingest.readJson(spark, inputPath, Schemas.Payload.habitatmap)

    // ---- fixed sessions: one measure per station (average_value) ----
    val fixedSessions = raw.select(explode(col("fixed.sessions")).as("s"))
      .select(col("s.id").as("session_id"), col("s.title").as("title"),
        col("s.latitude").as("latitude"), col("s.longitude").as("longitude"),
        col("s.end_time_local").as("end_time_local"),
        col("s.streams.`AirBeam2-PM2.5`.id").as("stream_id"),
        col("s.streams.`AirBeam2-PM2.5`.average_value").as("value"))
      .filter(col("stream_id").isNotNull)
    val fixedMeasures = Transform
      .dropNullMeasures(fixedSessions)
      .select(
        ColumnFns.synthId(lit("HabitatMap"), col("stream_id"), lit("pm25"))
          .as("sensor_id"),
        col("value").as("measure"),
        Transform.normalizeTs(col("end_time_local"), Transform.Iso)
          .as("timestamp"))

    // ---- mobile sessions: paged union + per-stream measurements ----
    // S10: the pages are unioned by the posexplode of `mobile_pages`
    val mobileSessions = raw
      .select(posexplode(col("mobile_pages")).as(Seq("page", "p")))
      .select(col("page"), explode(col("p.sessions")).as("s"))
      .select(col("s.id").as("session_id"), col("s.title").as("title"),
        col("s.streams.`AirBeam2-PM2.5`.id").as("stream_id"))
      .filter(col("stream_id").isNotNull)
    val measurements = raw.select(explode(col("measurements")).as("m"))
      .select(col("m.stream_id").as("stream_id"),
        col("m.time").as("time"), col("m.value").as("value"),
        col("m.longitude").as("longitude"), col("m.latitude").as("latitude"))
    // checkResponseData (utils.js:180-209): bounded time range, no
    // future data (end defaults to "now" — fixed here for determinism)
    val start = lit("2024-04-30 00:00:00")
    val end = lit("2024-05-01 00:00:00")
    val mobileMeasures = mobileSessions.join(measurements, "stream_id")
      .withColumn("timestamp",
        Transform.normalizeTs(col("time"), Transform.EpochMillis))
      .filter(col("timestamp").between(start, end))
      .select(
        ColumnFns.synthId(lit("HabitatMap"), col("stream_id"), lit("pm25"))
          .as("sensor_id"),
        col("value").as("measure"), col("timestamp"),
        col("longitude").cast("double"), col("latitude").cast("double"))

    // ---- stations: fixed (with geometry) + mobile (no geometry) ----
    val fixedFlat = fixedSessions.select(
      ColumnFns.synthId(lit("HabitatMap"), col("stream_id"), lit("pm25"))
        .as("sensor_id"),
      lit("pm25").as("measurand_parameter"), lit("µg/m³").as("measurand_unit"),
      col("session_id").cast("string").as("sensor_node_id"),
      col("title").as("sensor_node_site_name"),
      lit("HabitatMap").as("sensor_node_source_name"),
      lit(false).as("sensor_node_ismobile"),
      array(col("longitude").cast("double"), col("latitude").cast("double"))
        .as("sensor_node_geometry"))
    val mobileFlat = mobileSessions.select(
      ColumnFns.synthId(lit("HabitatMap"), col("stream_id"), lit("pm25"))
        .as("sensor_id"),
      lit("pm25").as("measurand_parameter"), lit("µg/m³").as("measurand_unit"),
      col("session_id").cast("string").as("sensor_node_id"),
      col("title").as("sensor_node_site_name"),
      lit("HabitatMap").as("sensor_node_source_name"),
      lit(true).as("sensor_node_ismobile"),
      lit(null).cast("array<double>").as("sensor_node_geometry"))
    val stations = Transform.assembleStations(
      fixedFlat.unionByName(mobileFlat),
      Seq("sensor_node_id", "sensor_node_site_name",
        "sensor_node_source_name", "sensor_node_ismobile",
        "sensor_node_geometry"))

    Pipelines.Batch(stations, fixedMeasures, Some(mobileMeasures))
  }
}

/** CMU — the richest file-based archetype (`cmu.js`): month-pruned
  * listing (F10), filename→timestamp with −15 min America/New_York
  * semantics (F7), NaN sentinels (P3), station first-wins dedup (J5),
  * watermark persistence (K6).
  */
object CmuPipeline extends Pipelines.ProviderPipeline {
  val name = "cmu"

  /** `cmu.js:23-34`. */
  val lookup: Seq[MeasurandRule] = Seq(
    MeasurandRule("CO", "co", "ppb"), MeasurandRule("NO", "no", "ppb"),
    MeasurandRule("NO2", "no2", "ppb"), MeasurandRule("O3", "o3", "ppb"),
    MeasurandRule("P", "pressure", "hpa"),
    MeasurandRule("PM025", "pm25", "μg/m³"),
    MeasurandRule("RH", "relativehumidity", "%"),
    MeasurandRule("SO2", "so2", "ppb"), MeasurandRule("T", "temperature", "c"))

  /** `Location_Data YYYY-MM-DD HH_mm.csv` → UTC instant: parse local
    * string, subtract 15 min, interpret America/New_York
    * (`cmu.js:197-219`). */
  def fileTimestamp(fileName: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ColumnFns.localToUtcShifted(
      to_timestamp(
        regexp_extract(fileName, "Location_Data (.*)\\.csv", 1),
        "yyyy-MM-dd HH_mm"),
      "America/New_York")

  def run(spark: SparkSession, inputPath: String): Pipelines.Batch = {
    val dim = Measurands.supported(spark, lookup)
    val raw = Ingest.readCsv(spark, inputPath, Schemas.Payload.cmuCsv)
      .withColumn("file", // input_file_name() is URL-encoded (space→%20)
        expr("url_decode(regexp_extract(input_file_name(), '([^/]+)$', 1))"))
      .withColumn("file_ts", fileTimestamp(col("file")))

    // melt param columns; 'NaN' strings melt to NaN doubles → P3 drop
    val melted = Transform.dropNullMeasures(
      Transform.melt(raw,
        Seq("Anon_Name", "Lat", "Lon", "file_ts"),
        lookup.map(_.input_param)))
    val resolved = Measurands.resolve(melted, dim)
    val measures = resolved
      .withColumn("sensor_id", ColumnFns.synthId(
        lit("CMU"), col("Anon_Name"), col("measurand_parameter")))
      .select(col("sensor_id"), col("measure"),
        col("file_ts").as("timestamp"))

    // stations: first occurrence wins across files (cmu.js:143-166, J5)
    val flat = resolved
      .withColumn("sensor_id", ColumnFns.synthId(
        lit("CMU"), col("Anon_Name"), col("measurand_parameter")))
      .withColumn("sensor_node_id", col("Anon_Name"))
      .withColumn("sensor_node_site_name", col("Anon_Name"))
      .withColumn("sensor_node_source_name", lit("CMU"))
      .withColumn("sensor_node_ismobile", lit(false))
      .withColumn("sensor_node_geometry",
        array(col("Lon").cast("double"), col("Lat").cast("double")))
    val stations = Transform.assembleStations(
      Transform.lastKPerGroup(flat, Seq("sensor_node_id"),
        col("file_ts"), 1, col("sensor_id"))
        .drop("__rn"),
      Seq("sensor_node_id", "sensor_node_site_name",
        "sensor_node_source_name", "sensor_node_ismobile",
        "sensor_node_geometry"))

    Pipelines.Batch(stations, measures)
  }

  /** The run's high-water mark — persisted via
    * [[graft.sinks.Sinks.writeWatermark]] after a successful batch: the
    * newest [[fileTimestamp]] among the input files that hold a data
    * row (a header-only file adds no row to the batch), or null when
    * none does.  It comes from the file listing, on the driver, and runs
    * no Spark job: each file is read only up to its first data line. */
  def maxFileTimestamp(spark: SparkSession, inputPath: String): java.sql.Timestamp = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val path = new Path(inputPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Spark's CSV reader skips blank lines and takes the first other
    // line of each file as its header
    def hasDataRow(file: Path): Boolean = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(file), java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).drop(1).hasNext
      finally in.close()
    }
    val files = Option(fs.globStatus(path)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_") && hasDataRow(st.getPath))
    // a projection of a local relation: evaluated on the driver, no job
    files.map(_.getPath.getName).toDF("file")
      .select(fileTimestamp(col("file"))).collect()
      .flatMap(r => Option(r.getTimestamp(0))).maxByOption(_.getTime).orNull
  }
}
