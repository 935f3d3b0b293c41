package graft.measurand

import graft.functions.ColumnFns
import graft.model.MeasurandRule
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Measurand support + normalization — SURVEY.md §2 J1/J2/F1.
  *
  * The reference builds an in-memory dict of supported measurands and
  * probes it per row (`measurand.js:89-95`); here the dimension is a
  * broadcast Dataset and every probe is a broadcast hash join — same
  * semantics, but the join is declared, so Catalyst prunes/pushes
  * around it and it scales to any fact-side size without re-planning.
  */
object Measurands {

  /** Parameters the platform accepts (`measurand.js:49-51` — the
    * hard-coded API list, duplicates and all, de-duplicated here). */
  val supportedParameters: Set[String] = Set(
    "pm10", "pm25", "o3", "co", "no2", "so2", "bc", "co2", "pm1",
    "wind_direction", "nox", "no", "rh", "ch4", "pn", "ufp", "wind_speed",
    "pm", "ambient_temp", "pressure", "pm25-old", "relativehumidity",
    "temperature", "um003", "um010", "um050", "um025", "pm100", "um005",
    "humidity", "um100", "voc", "ozone", "pm4", "so4", "ec", "oc", "cl",
    "no3")

  /** J2 — filter a provider's lookup table to supported parameters;
    * fail fast when nothing survives (`measurand.js:59`).  Both sides
    * are driver-side constants, so the filter runs in Scala and the
    * dimension is a local Dataset of the survivors: no Spark job. */
  def supported(spark: SparkSession,
                lookups: Seq[MeasurandRule]): Dataset[MeasurandRule] = {
    import spark.implicits._
    val kept = lookups.filter(r => supportedParameters.contains(r.parameter))
    if (kept.isEmpty) throw new IllegalArgumentException("No measurands supported.")
    kept.toDS()
  }

  /** J1 + F1 — resolve each raw (input_param, value) measure through the
    * broadcast measurand dim and normalize value + unit.  Missing
    * input_params drop (inner join), mirroring the reference's dict
    * miss (`clarity.js:88-94`). */
  def resolve(measures: DataFrame, dim: Dataset[MeasurandRule],
              inputParamCol: String = "input_param",
              valueCol: String = "value"): DataFrame = {
    val d = dim.toDF()
      .withColumnRenamed("input_param", "__m_input")
      .withColumnRenamed("parameter", "measurand_parameter")
      .withColumnRenamed("unit", "__m_unit")
    measures
      .join(broadcast(d), measures(inputParamCol) === d("__m_input"), "inner")
      .withColumn("measure",
        ColumnFns.normalizeValue(col("__m_unit"), col(valueCol)))
      .withColumn("measurand_unit", ColumnFns.normalizeUnit(col("__m_unit")))
      .drop("__m_unit", "__m_input", inputParamCol, valueCol)
  }
}
