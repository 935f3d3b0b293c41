package graft.sinks

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

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
  * K5 rides on the writes: each provider's run summary takes its
  * values from `Observation`s on the write jobs the sinks run anyway —
  * `measures`, `from` and `to` from the measures a sink writes,
  * `locations` from the stations it reads — so publishing a summary
  * costs no pass of its own.  [[summarize]] is only the fallback for a
  * metric Spark pruned (see [[Observed]]).
  */
object Sinks {

  /** K5 values a sink observed on the rows its write job computed:
    * `locations` counts the stations it read, `measures` is the
    * (measures, from, to) row of the measures it wrote.  A value is
    * None when the write did not run, or when Spark pruned the observed
    * node from a plan the optimizer or AQE proved empty — its
    * Observation then completes with an empty row.  None means
    * unknown, never zero: [[summarizeObserved]] computes it. */
  final case class Observed(locations: Option[Long] = None,
                            measures: Option[Row] = None)

  /** The K5 `measures`, `from` and `to` of a measures frame: one
    * aggregate for the observed metric and the [[summarize]] fallback. */
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

  /** The metrics row `obs` completed with; None when it came back empty
    * (pruned node) or not within [[ObservedWait]].  Call only after an
    * action over the observed frame has run. */
  private def observed(obs: Observation): Option[Row] =
    try Some(Await.result(obs.future, ObservedWait)).filter(_.length > 0)
    catch { case _: TimeoutException => None }

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
    * stays TimestampType).
    *
    * Single pass: the row count rides on the write job as an
    * `observe()` metric instead of a separate `count()` action — at
    * scale the batch is computed once, not twice.  The K7 empty-batch
    * guard inverts to write-then-unlink: an empty batch's output
    * directory is removed (a metadata-only op), leaving no object —
    * same contract as the reference's pre-write check. */
  def writeMeasuresCsv(measures: DataFrame, path: String,
                       mobile: Boolean = false): Long =
    writeMeasuresCsvObserved(measures, path, mobile)._1

  /** [[writeMeasuresCsv]] that also returns the observed K5 (measures,
    * from, to) row, taken on the timestamp before it renders as text. */
  private[graft] def writeMeasuresCsvObserved(measures: DataFrame, path: String,
      mobile: Boolean = false): (Long, Option[Row]) = {
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
    val stats = observed(obs)
    val n = stats.fold(measures.count())(_.getLong(0))
    if (n == 0) deleteQuiet(measures.sparkSession, rpath) // K7
    (n, stats)
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
    * subset (written iff non-empty). */
  def diffWriteStations(spark: SparkSession, stations: DataFrame,
                        keyCol: String, jsonCol: String, path: String,
                        force: Boolean = false,
                        verbose: Boolean = false,
                        verboseLimit: Int = 50): DataFrame =
    diffWriteStationsObserved(spark, stations, keyCol, jsonCol, path, force,
      verbose, verboseLimit)._1

  /** [[diffWriteStations]] that also returns the observed K5 station
    * count.
    *
    * One pass over the incoming stations: the md5-tagged stations are
    * left-joined to the previous snapshot, flagged changed or not, and
    * pinned by one `localCheckpoint` job.  That job also observes the
    * K5 station count and the changed count, the returned subset is a
    * filter over the pin, and the snapshot rewrite writes the pin — so
    * the stations are derived from the payload once, and the changed
    * count needs no probe of its own.  The snapshot is read with the
    * key and JSON columns' known types, so no job reads a footer. */
  private[graft] def diffWriteStationsObserved(spark: SparkSession,
      stations: DataFrame, keyCol: String, jsonCol: String, path: String,
      force: Boolean = false, verbose: Boolean = false,
      verboseLimit: Int = 50): (DataFrame, Option[Long]) =
    // session-lifecycle scope (round-20 verdict #1): this entry point is
    // handed its session explicitly, so never depend on the calling
    // thread's active-session thread-local — Spark 4's SparkPlan
    // captures getActiveSession.orNull at plan construction, and a
    // thread with an unset/stale thread-local otherwise builds plans
    // whose localCheckpoint dies in LocalTableScanExec.metrics (NPE).
    // The caller's active session is restored on return.
    ColumnBridge.withActive(spark) {
      val (seenObs, changedObs) = (Observation(), Observation())
      val incoming = stations
        .withColumn("__hash", md5(col(jsonCol)))
        .observe(seenObs, count(lit(1)).as("locations"))
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
      val pinned = flagged.drop("__hash")
        .observe(changedObs, count_if(col("__changed")).as("changed"))
        .localCheckpoint()
      val locations = observed(seenObs).map(_.getLong(0))
      val out = pinned.filter(col("__changed"))
      if (verbose) {
        // VERBOSE parity (`providers.js:104-118`): per changed station,
        // an Update block rendering the new and previous documents via
        // [[prettyPrintStation]].  Console output is driver-side by
        // nature, so it is bounded (`verboseLimit`) — the reference
        // prints every station because its batches are per-provider
        // small; at corpus scale use [[stationFieldDiffs]] for the
        // data-plane form of the same information.
        out.select(col(keyCol).cast("string"), col(jsonCol),
            if (out.columns.contains("__prev_json")) col("__prev_json")
            else lit(null).cast("string"))
          .limit(verboseLimit).collect().foreach { r =>
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
      val changed = observed(changedObs).fold(!out.isEmpty)(_.getLong(0) > 0)
      if (changed) {
        // full refreshed snapshot so the next diff sees current state
        pinned.drop("__changed", "__prev_json")
          .write.mode(SaveMode.Overwrite).parquet(rpath)
      }
      (out.drop("__changed", "__prev_json"), locations)
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
    * (`clarity.js:177-190`, sink `providers.js:168-185`).
    *
    * Default mode writes one gzipped envelope per (provider, day)
    * partition: measures group by their timestamp's day, each day's
    * envelope serializes in its own task, and the layout is
    * `provider=<p>/day=<d>/...` so readers partition-prune.  A batch
    * therefore never funnels through a single serializer — the
    * scale-safe default.  `singleDocument = true` restores the
    * reference's one-JSON-document-per-batch contract (acceptable at
    * per-source batch sizes of 10⁴–10⁵ rows). */
  def writeEnvelopeJson(measures: DataFrame, locations: DataFrame,
                        source: String, path: String,
                        singleDocument: Boolean = false): Boolean =
    writeEnvelopeJsonObserved(measures, locations, source, path,
      singleDocument)._1

  /** [[writeEnvelopeJson]] that also returns the K5 values observed on
    * its write: the (measures, from, to) row of the measures side,
    * taken before the timestamp renders as text, and the count of the
    * locations side.  Nothing is observed when K7 skips the write. */
  private[graft] def writeEnvelopeJsonObserved(measures: DataFrame,
      locations: DataFrame, source: String, path: String,
      singleDocument: Boolean = false): (Boolean, Observed) = {
    val (mObs, lObs) = (Observation(), Observation())
    val m = observeStats(measures, mObs).withColumn("timestamp",
      date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val mCols = m.columns.map(col)
    val locAgg = locations.observe(lObs, count(lit(1)).as("locations"))
      .agg(collect_list(struct(locations.columns.map(col): _*)).as("locations"))
    val meta = struct(lit("v0.1").as("schema"), lit(source).as("source"),
      lit("ingest-id").as("matching_method")).as("meta")
    val rpath = resolvePath(path)
    // the K7 probe reads the unobserved inputs: a `limit` over an
    // observed frame would complete its Observation with partial counts
    if (singleDocument && measures.isEmpty && locations.isEmpty)
      (false, Observed()) // K7
    else {
      val envelopes =
        if (singleDocument)
          m.agg(collect_list(struct(mCols: _*)).as("measures"))
            .crossJoin(locAgg)
            .select(to_json(struct(meta, col("measures"), col("locations")))
              .as("value"))
            .write
        else
          m.withColumn("day", substring(col("timestamp"), 1, 10))
            .groupBy(col("day"))
            .agg(collect_list(struct(mCols: _*)).as("measures"))
            .crossJoin(locAgg)
            .select(lit(source).as("provider"), col("day"),
              to_json(struct(meta, col("measures"), col("locations")))
                .as("value"))
            .write.partitionBy("provider", "day")
      envelopes.mode(SaveMode.Overwrite).option("compression", "gzip")
        .text(rpath)
      val seen = Observed(observed(lObs).map(_.getLong(0)), observed(mObs))
      // the per-day layout writes one envelope per measured day, so it
      // wrote nothing iff the batch has no measures
      val written = singleDocument ||
        seen.measures.fold(measures.count())(_.getLong(0)) > 0
      if (!written) deleteQuiet(measures.sparkSession, rpath) // K7
      (written, seen)
    }
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

  /** K5 — run-summary callback boundary (SNS in the reference): a
    * one-row frame (`providers.js:59-71`), recomputed from `measures`.
    * It defines the summary's shape; [[summarizeObserved]] runs it only
    * as the fallback for a metric Spark pruned. */
  def summarize(source: String, locations: Long, measures: DataFrame): DataFrame =
    measures.agg(lit(source).as("source_name"),
      lit(locations).as("locations") +: measureStats: _*)

  /** K5 from what the sinks observed: a materialized one-row local frame
    * with [[summarize]]'s columns and values, so collecting it runs no
    * Spark job.  A value the sinks could not observe is computed from
    * the batch — `stations.count()` for `locations`, the [[summarize]]
    * aggregate for the rest — which happens only on K7-style empty
    * batches, whose observed nodes Spark may prune. */
  def summarizeObserved(source: String, seen: Observed, stations: DataFrame,
                        measures: DataFrame): DataFrame = {
    val locations = seen.locations.getOrElse(stations.count())
    val shape = summarize(source, locations, measures)
    val stats = seen.measures.getOrElse(
      shape.select("measures", "from", "to").head())
    measures.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(Seq(source, locations) ++ stats.toSeq)),
      shape.schema)
  }
}
