package graft.sinks

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

import java.sql.Timestamp
import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._

/** Sinks — SURVEY.md §2.8 (K1–K7).
  *
  * Semantics preserved from the reference:
  *  - measures are at-least-once (random object names upstream); station
  *    writes are idempotent via content diff (K1) — SURVEY §2.9;
  *  - CSV header order is a contract (`measure.js:13-17`);
  *  - station JSON strips null keys (`station.js:176-184`) — Spark's
  *    `to_json` default;
  *  - empty batches don't write (K7, `providers.js:142-144`).
  *
  * Scale: every writer is a distributed `df.write` partitioned by
  * provider/date; the diff-write join strategy is left to the
  * optimizer — AQE broadcasts the (key, hash)-skinny previous snapshot
  * when its runtime size is under the threshold and falls back to a
  * shuffled hash join when it isn't.  No forced hint: a forced
  * broadcast would hit the 8 GB broadcast hard limit / driver OOM at a
  * very large station dimension instead of degrading gracefully.
  *
  * K5 rides on the writes: each writer returns its K5 part as plain
  * values — (measures, from, to) from the measures it writes, the
  * station count from the stations it writes — taken from
  * `Observation`s on the write jobs the sinks run anyway, so publishing
  * a summary costs no pass of its own.  A value Spark does not deliver
  * is recomputed from the writer's own input ([[exact]]), so every
  * value is exact, never unknown.
  */
object Sinks {

  /** K5 `measures`, `from` and `to` of the measures a sink wrote, taken
    * on the timestamp before it renders as text; `from`/`to` are null
    * when there are no measures. */
  final case class MeasureStats(measures: Long, from: Timestamp, to: Timestamp)

  private val measureStats: Seq[Column] = Seq(
    count(lit(1)).as("measures"),
    min(col("timestamp")).as("from"),
    max(col("timestamp")).as("to"))

  private def observeStats(measures: DataFrame, obs: Observation): DataFrame =
    measures.observe(obs, measureStats.head, measureStats.tail: _*)

  /** Bound on the wait for an Observation after the action that carries
    * it has returned: the listener bus completes it asynchronously and
    * drops events when its queue is full. */
  private val ObservedWait = 10.seconds

  /** The values of `metrics`, observed by `obs` on an action that has
    * run.  When the Observation comes back empty (Spark pruned its node
    * from a plan it proved empty) or not within [[ObservedWait]], they
    * are computed over `input` instead, so the values are exact. */
  private def exact(obs: Observation, input: DataFrame, metrics: Seq[Column]): Row =
    (try Some(Await.result(obs.future, ObservedWait)).filter(_.length > 0)
     catch { case _: TimeoutException => None })
      .getOrElse(input.agg(metrics.head, metrics.tail: _*).head())

  private def stats(obs: Observation, measures: DataFrame): MeasureStats = {
    val r = exact(obs, measures, measureStats)
    MeasureStats(r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))
  }

  /** K4 — dry-run redirection (`utils.js:75-80`): when set, every sink
    * path is rebased under a local inspection directory instead of the
    * production prefix (`DRYRUN` writes to ~/Downloads in the
    * reference).  Resolution is a pure path rewrite so ALL sinks honor
    * it uniformly. */
  @volatile var dryRunBase: Option[String] = None

  def resolvePath(path: String): String = dryRunBase match {
    case Some(base) =>
      base + "/" + path.stripPrefix("/").replace(':', '_')
    case None => path
  }

  /** Existence via Hadoop's FileSystem so state/diff sinks behave
    * identically on local disk, HDFS, and object stores (a
    * `java.io.File` probe is always false off the local FS, which
    * would silently disable content-diffs and lose watermarks). */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** K2 — gzipped headered measures CSV.  `mobile` switches the header
    * contract.  Timestamps render as ISO at the boundary (internal type
    * stays TimestampType).  Returns the K5 (measures, from, to) of what
    * it wrote.
    *
    * Single pass: the K5 values ride on the write job as `observe()`
    * metrics instead of a separate `count()` action — at scale the batch
    * is computed once, not twice.  The K7 empty-batch guard inverts to
    * write-then-unlink: an empty batch's output directory is removed (a
    * metadata-only op), leaving no object — same contract as the
    * reference's pre-write check. */
  def writeMeasuresCsv(measures: DataFrame, path: String,
                       mobile: Boolean = false): MeasureStats = {
    val header = if (mobile) Schemas.mobileCsvHeader else Schemas.fixedCsvHeader
    val obs = Observation()
    val rpath = resolvePath(path)
    observeStats(measures, obs)
      .withColumn("timestamp",
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .select(header.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true").option("compression", "gzip")
      .csv(rpath)
    val written = stats(obs, measures)
    if (written.measures == 0) deleteQuiet(measures.sparkSession, rpath) // K7
    written
  }

  private def deleteQuiet(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** K1 — station diff-upsert: write only stations whose rendered JSON
    * differs from the previous snapshot (`providers.js:94-132`).
    * Change detection joins on the node key and compares content
    * hashes — the CDC anti-join of SURVEY §2.3 J7.  Returns the changed
    * subset (written iff non-empty) and the K5 station count.
    *
    * One pass over the incoming stations: the md5-tagged stations are
    * left-joined to the previous snapshot, flagged changed or not, and
    * pinned by one `localCheckpoint` job.  That job also observes the
    * station count and the changed count, the returned subset is a
    * filter over the pin, and the snapshot rewrite writes the pin — so
    * the stations are derived from the payload once, and the changed
    * count needs no probe of its own.  The snapshot is read with the
    * key and JSON columns' known types, so no job reads a footer. */
  def diffWriteStations(spark: SparkSession, stations: DataFrame,
                        keyCol: String, jsonCol: String, path: String,
                        force: Boolean = false,
                        verbose: Boolean = false): (DataFrame, Long) =
    // session-lifecycle scope (round-20 verdict #1): this entry point is
    // handed its session explicitly, so never depend on the calling
    // thread's active-session thread-local — Spark 4's SparkPlan
    // captures getActiveSession.orNull at plan construction, and a
    // thread with an unset/stale thread-local otherwise builds plans
    // whose localCheckpoint dies in LocalTableScanExec.metrics (NPE).
    // The caller's active session is restored on return.
    ColumnBridge.withActive(spark) {
      val incoming = stations.withColumn("__hash", md5(col(jsonCol)))
      val rpath = resolvePath(path)
      val flagged =
        if (force || !pathExists(spark, rpath))
          incoming.withColumn("__changed", lit(true))
        else {
          // skinny build side (key + md5 only) but NO broadcast hint: let
          // AQE pick broadcast vs shuffled-hash from the runtime size —
          // see the scale note in the object scaladoc.  Under VERBOSE the
          // previous rendered JSON rides along so the console diff can
          // show the from-side without a second snapshot read.
          val prevCols = col(keyCol).as("__k") +:
            md5(col(jsonCol)).as("__prev_hash") +:
            (if (verbose) Seq(col(jsonCol).as("__prev_json")) else Nil)
          val prev = spark.read
            .schema(StructType(Seq(stations.schema(keyCol), stations.schema(jsonCol))))
            .parquet(rpath).select(prevCols: _*)
          incoming.join(prev, incoming(keyCol) === col("__k"), "left")
            .withColumn("__changed", col("__prev_hash").isNull ||
              col("__hash") =!= col("__prev_hash"))
            .drop("__k", "__prev_hash")
        }
      // materialize + cut lineage BEFORE overwriting the snapshot the
      // diff was computed against (self-overwrite hazard)
      val obs = Observation()
      val counts = Seq(count(lit(1)).as("locations"),
        count_if(col("__changed")).as("changed"))
      val pinned = flagged.drop("__hash")
        .observe(obs, counts.head, counts.tail: _*)
        .localCheckpoint()
      val seen = exact(obs, pinned, counts)
      val out = pinned.filter(col("__changed"))
      if (verbose) {
        // VERBOSE parity (`providers.js:104-118`): per changed station,
        // an Update block rendering the new and previous documents via
        // [[prettyPrintStation]].  Console output is driver-side by
        // nature, so it is bounded to 50 stations — the reference
        // prints every station because its batches are per-provider
        // small; at corpus scale use [[stationFieldDiffs]] for the
        // data-plane form of the same information.
        out.select(col(keyCol).cast("string"), col(jsonCol),
            if (out.columns.contains("__prev_json")) col("__prev_json")
            else lit(null).cast("string"))
          .limit(50).collect().foreach { r =>
            val (key, now) = (r.getString(0), r.getString(1))
            println("-------------------------\nUpdate " + key +
              "\n----------------------> to:")
            print(prettyPrintStation(now))
            if (!r.isNullAt(2)) {
              println("-----------------> from")
              print(prettyPrintStation(r.getString(2)))
            }
            println(s"finished station: $key\n------------------------")
          }
      }
      if (seen.getLong(1) > 0) {
        // full refreshed snapshot so the next diff sees current state
        pinned.drop("__changed", "__prev_json")
          .write.mode(SaveMode.Overwrite).parquet(rpath)
      }
      (out.drop("__changed", "__prev_json"), seen.getLong(0))
    }

  /** VERBOSE parity renderer (`utils.js:146-170` prettyPrintStation):
    * one `key: value` line per top-level field; `sensor_systems`
    * renders as a "Sensor systems" section with `-- key: value` lines
    * per system and `---- <sensor_id> - <parameter> <unit>` lines per
    * sensor.  Scalar rendering follows the reference's JS template
    * interpolation: arrays join on ",", nested objects print as
    * "[object Object]", whole doubles drop the fraction. */
  def prettyPrintStation(json: String): String = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    def scalar(v: JsonNode): String =
      if (v == null || v.isNull) "null"
      else if (v.isObject) "[object Object]"
      else if (v.isArray) v.elements().asScala.map(scalar).mkString(",")
      else if (v.isFloatingPointNumber && v.asDouble() ==
        math.floor(v.asDouble()) && math.abs(v.asDouble()) < 1e15)
        v.asDouble().toLong.toString
      else v.asText()
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    val sb = new StringBuilder
    root.fields().asScala.foreach { e =>
      if (e.getKey != "sensor_systems")
        sb ++= s"${e.getKey}: ${scalar(e.getValue)}\n"
      else {
        sb ++= "Sensor systems\n"
        e.getValue.elements().asScala.foreach { ss =>
          ss.fields().asScala.foreach { f =>
            if (f.getKey != "sensors")
              sb ++= s"-- ${f.getKey}: ${scalar(f.getValue)}\n"
            else f.getValue.elements().asScala.foreach { s =>
              sb ++= s"---- ${scalar(s.get("sensor_id"))} - " +
                s"${scalar(s.get("measurand_parameter"))} " +
                s"${scalar(s.get("measurand_unit"))}\n"
            }
          }
        }
      }
    }
    sb.result()
  }

  /** Field-level diff of an incoming station batch against the current
    * snapshot — the data-plane form of the reference's VERBOSE console
    * diff, scale-safe where console printing is not: one row per
    * (station, top-level field) whose value changed, with the from/to
    * renderings (complex fields compare by their JSON text; a side
    * missing the station yields nulls for that side).  Runs entirely
    * as joins/projections over the parsed station schema — no collect,
    * no UDF. */
  def stationFieldDiffs(spark: SparkSession, stations: DataFrame,
                        keyCol: String, jsonCol: String,
                        path: String): DataFrame = {
    val rpath = resolvePath(path)
    val fieldDefs = Schemas.sensorNode.fields.filter(_.name != keyCol)
    val fields = fieldDefs.map(_.name)
    def parsed(df: DataFrame, side: String): DataFrame = {
      val p = df.select(col(keyCol).as("__key"),
        from_json(col(jsonCol), Schemas.sensorNode).as("__st"))
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      def render(f: org.apache.spark.sql.types.StructField) =
        f.dataType match {
          case _: StructType | _: ArrayType | _: MapType =>
            to_json(col(s"__st.${f.name}"))
          case _ => col(s"__st.${f.name}").cast("string")
        }
      p.select(col("__key"),
        map(fieldDefs.flatMap(f => Seq(lit(f.name), render(f))): _*)
          .as(side))
    }
    val inc = parsed(stations, "__to")
    val prev =
      if (!pathExists(spark, rpath))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          inc.withColumnRenamed("__to", "__from").schema)
      else parsed(spark.read.parquet(rpath), "__from")
    inc.join(prev, Seq("__key"), "full")
      .select(col("__key").as(keyCol),
        explode(map_from_arrays(
          typedLit(fields),
          array(fields.map(f =>
            struct(element_at(col("__from"), f).as("from_value"),
              element_at(col("__to"), f).as("to_value"))): _*))))
      .filter(!col("value.from_value").eqNullSafe(col("value.to_value")))
      .select(col(keyCol), col("key").as("field"),
        col("value.from_value").as("from_value"),
        col("value.to_value").as("to_value"))
  }

  /** K3 — v0.1 JSON envelope `{meta, measures, locations}`
    * (`clarity.js:177-190`, sink `providers.js:168-185`).  Returns
    * whether it wrote anything, the K5 station count and the K5
    * (measures, from, to) of what it wrote.
    *
    * One gzipped envelope per (provider, day) partition: measures group
    * by their timestamp's day, each day's envelope serializes in its own
    * task, and the layout is `provider=<p>/day=<d>/...` so readers
    * partition-prune.  A batch therefore never funnels its measures
    * through a single serializer.  The locations are rendered once, by
    * one collect, and every day's document embeds them as a literal
    * (the same list a cross-joined one-row aggregate would broadcast
    * through the driver, without its aggregation job).  The station
    * count is the length of that collect.  A batch with no measures
    * writes nothing (K7). */
  def writeEnvelopeJson(measures: DataFrame, locations: DataFrame,
                        source: String, path: String): (Boolean, Long, MeasureStats) = {
    val obs = Observation()
    val m = observeStats(measures, obs).withColumn("timestamp",
      date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val locs = locations.select(to_json(struct(locations.columns.map(col): _*)))
      .collect().map(_.getString(0))
    val meta = struct(lit("v0.1").as("schema"), lit(source).as("source"),
      lit("ingest-id").as("matching_method"))
    val rpath = resolvePath(path)
    m.withColumn("day", substring(col("timestamp"), 1, 10))
      .groupBy(col("day"))
      .agg(collect_list(struct(m.columns.map(col): _*)).as("measures"))
      .select(lit(source).as("provider"), col("day"),
        concat(lit("{\"meta\":"), to_json(meta), lit(",\"measures\":"),
          to_json(col("measures")),
          lit(locs.mkString(",\"locations\":[", ",", "]}"))).as("value"))
      .write.partitionBy("provider", "day")
      .mode(SaveMode.Overwrite).option("compression", "gzip")
      .text(rpath)
    val written = stats(obs, measures)
    if (written.measures == 0) deleteQuiet(measures.sparkSession, rpath) // K7
    (written.measures > 0, locs.length.toLong, written)
  }

  /** K6 — watermark persistence (`meta.js:11-42`): tiny parquet state
    * table keyed by source, read with its known schema (no footer job). */
  private val watermarkSchema = StructType(Seq(
    StructField("source", StringType), StructField("watermark", TimestampType)))

  def readWatermark(spark: SparkSession, path: String,
                    source: String): Option[java.sql.Timestamp] = {
    if (!pathExists(spark, path)) None
    else spark.read.schema(watermarkSchema).parquet(path)
      .filter(col("source") === source)
      .select(max(col("watermark"))).collect()
      .headOption.flatMap(r => Option(r.getTimestamp(0)))
  }

  /** Upsert `source`'s watermark: one job collects the other sources'
    * rows, one rewrites the table. */
  def writeWatermark(spark: SparkSession, path: String, source: String,
                     wm: java.sql.Timestamp): Unit = {
    val others =
      if (pathExists(spark, path))
        spark.read.schema(watermarkSchema).parquet(path)
          .filter(col("source") =!= source).collect().toSeq
      else Nil
    spark.createDataFrame(
        spark.sparkContext.parallelize(others :+ Row(source, wm), 1),
        watermarkSchema)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
