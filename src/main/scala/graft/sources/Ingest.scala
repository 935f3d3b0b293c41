package graft.sources

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source adapters — SURVEY.md §2.1 (S1–S12).
  *
  * The reference's HTTP/Drive/GCS fetches are driver-side connector
  * concerns; the data plane starts where bytes become rows.  These
  * adapters yield DataFrames from files (fixtures in tests, mounted
  * buckets in production) with the reference's scan semantics — active
  * filter, pushdown-as-options, columnar pivot, pagination union,
  * header drop — expressed declaratively so Catalyst prunes and pushes
  * for free (SURVEY §4).
  */
object Ingest {

  /** S1 — source-config scan: read `sources/` JSON files, enforce the v1
    * schema, keep `active === true` (`fetcher/sources/index.js:17-20`).
    * Unknown frequency values are rejected (schema/v1.json enum). */
  def readSourceConfigs(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.sourceConfig)
      .option("multiLine", "true").json(dir)
      .filter(col("active"))
      .filter(col("frequency").isin(Schemas.frequencies: _*))

  /** S2 — JSON documents (recorded HTTP payloads) with an explicit
    * schema; multiLine for single-object-per-file payloads. */
  def readJson(spark: SparkSession, path: String,
               schema: Option[org.apache.spark.sql.types.StructType] = None,
               multiLine: Boolean = true): DataFrame = {
    val r = spark.read.option("multiLine", multiLine.toString)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** S3/S5/S6 — CSV with headers, permissive parse (bad cells → null),
    * ragged rows tolerated (`iqair.js:66-82` relax_column_count). */
  def readCsv(spark: SparkSession, path: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true").option("mode", "PERMISSIVE")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  /** S9 — columnar→row pivot: `fields[]` + `data[][]` → named columns
    * (`purpleair.js:134-143`).  `fields` is driver-side (schema-sized),
    * the pivot itself is a pure projection. */
  def columnarPivot(columnar: DataFrame, fields: Seq[String],
                    dataCol: String = "data"): DataFrame =
    columnar.select(fields.zipWithIndex.map { case (f, i) =>
      col(dataCol).getItem(i).as(f)
    }: _*)

  /** S10/S11 — pagination / cohort accumulation: page readers produce
    * DataFrames, union them by name (`habitatmap.js:166-207`,
    * `airqo.js:58-75`).  Driver loops over pages; each page is still a
    * distributed read. */
  def unionPages(pages: Seq[DataFrame]): DataFrame =
    pages.reduce(_ unionByName _)

  /** S12 — header-row drop: first element of the feed is metadata
    * (`miri.js:74`).  `orderCol` defines "first". */
  def dropFirstRow(df: DataFrame, orderCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn", row_number().over(Window.orderBy(orderCol)))
      .filter(col("__rn") > 1).drop("__rn")
  }
}
