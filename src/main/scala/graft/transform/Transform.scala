package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared relational core — SURVEY.md §2.2/§2.5/§2.7 transforms
  * every provider pipeline composes: melt, id synthesis, timestamp
  * normalization, ranking windows, station-document assembly.
  */
object Transform {

  /** F13 — melt wide reading rows into long (parameter, value) pairs;
    * the central reshape (`airgradient.js:164-170`, `purpleair.js:58-76`).
    * Null values melt too; follow with [[dropNullMeasures]] (P3). */
  def melt(df: DataFrame, idCols: Seq[String],
           valueCols: Seq[String],
           valueName: String = "value"): DataFrame = {
    val stackArgs = valueCols
      .map(c => s"'$c', cast(`$c` as double)").mkString(", ")
    df.selectExpr(idCols ++ Seq(
      s"stack(${valueCols.size}, $stackArgs) AS (input_param, $valueName)"): _*)
  }

  /** P3 — null/NaN measure skip (`purpleair.js:60`, `cmu.js:171`). */
  def dropNullMeasures(df: DataFrame): DataFrame =
    df.filter(col("value").isNotNull && !isnan(col("value")))

  /** Timestamp-convention zoo (SURVEY §7.4.1) — table-driven per-source
    * normalization to UTC TimestampType. */
  sealed trait TsConvention
  case object EpochSeconds extends TsConvention
  case object EpochMillis extends TsConvention
  case object Iso extends TsConvention
  /** Local-naive string in a zone. */
  case class LocalNaive(zone: String, fmt: String) extends TsConvention

  def normalizeTs(c: Column, conv: TsConvention): Column = conv match {
    case EpochSeconds => timestamp_seconds(c.cast("long"))
    case EpochMillis  => timestamp_millis(c.cast("long"))
    case Iso          => to_timestamp(c)
    case LocalNaive(zone, fmt) => to_utc_timestamp(to_timestamp(c, fmt), zone)
  }

  /** W1-style per-group recency slice: newest `k` rows per key. */
  def lastKPerGroup(df: DataFrame, keys: Seq[String], order: Column,
                    k: Int, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order.desc, tieBreak.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** W2-style round slicing: rank whole rounds (distinct order values),
    * keep ranks [from, to] — drop-newest-partial semantics
    * (`aernode.js:116-118`). */
  def roundsBetween(df: DataFrame, keys: Seq[String], roundCol: Column,
                    from: Int, to: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(roundCol.desc)
    df.withColumn("__rk", dense_rank().over(w))
      .filter(col("__rk").between(from, to)).drop("__rk")
  }

  /** Assemble nested station documents from flat sensor rows:
    * (node fields…, sensor_id, parameter, unit) → SensorNode-shaped
    * struct rows (one per node).  The reference builds these object
    * graphs imperatively (`station.js`); here it is one grouped
    * collect_list of structs — a single shuffle on the node key. */
  def assembleStations(flat: DataFrame, nodeCols: Seq[String]): DataFrame = {
    val sensorStruct = struct(
      col("sensor_id"),
      col("measurand_parameter"),
      col("measurand_unit"))
    flat.groupBy(nodeCols.map(col): _*)
      .agg(sort_array(collect_set(sensorStruct)).as("sensors"))
      .withColumn("sensor_systems",
        array(struct(
          lit(null).cast("string").as("sensor_system_id"),
          lit(null).cast("string").as("sensor_system_manufacturer_name"),
          col("sensors"))))
      .drop("sensors")
  }

  /** P13 — station JSON rendering with null keys stripped
    * (`station.js:176-184`): Spark's to_json drops null fields. */
  def stationJson(stations: DataFrame): DataFrame =
    stations.withColumn("json",
      to_json(struct(stations.columns.map(col): _*)))
}
