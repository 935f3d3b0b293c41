package graft.sources

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source adapters — SURVEY.md §2.1 (S1–S12).
  *
  * The reference's HTTP/Drive/GCS fetches are driver-side connector
  * concerns; the data plane starts where bytes become rows.  These
  * adapters yield DataFrames from files (fixtures in tests, mounted
  * buckets in production) with the reference's scan semantics — active
  * filter, pushdown-as-options, columnar pivot, header drop —
  * expressed declaratively so Catalyst prunes and pushes for free
  * (SURVEY §4).  Pagination and cohort unions (S10/S11) are the
  * pipelines' explodes over the payload's page and cohort arrays.
  */
object Ingest {

  /** S1 — source-config scan: read `sources/` JSON files, enforce the v1
    * schema, keep `active === true` (`fetcher/sources/index.js:17-20`).
    * Unknown frequency values are rejected (schema/v1.json enum). */
  def readSourceConfigs(spark: SparkSession, dir: String): DataFrame =
    readJson(spark, dir, Schemas.sourceConfig)
      .filter(col("active"))
      .filter(col("frequency").isin(Schemas.frequencies: _*))

  /** S2 — JSON documents (recorded HTTP payloads), one per file, parsed
    * with a declared schema ([[Schemas.Payload]]): each file is read as
    * one whole-text row and parsed by `from_json`.
    *
    * This is the one JSON path because it reads a payload's bytes once
    * per scan.  Spark's `multiLine` JSON reader reads them 584–631
    * times per scan: on a 4-core box a 58 KB PurpleAir payload takes
    * it 0.6–1.0 s a scan against 0.06–0.10 s here, and its cost grows
    * with the payload while this one stays flat.  Without a schema it
    * also runs an inference job per payload.
    *
    * It relies on each file holding one UTF-8 JSON document under 2 GB
    * (one row holds the whole text).  A document that does not parse
    * yields a row of nulls, a file with no bytes yields no row, and a
    * field of the wrong type reads as null: the pipelines see empty
    * input, not an error. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      // parse under a generator: a filter inferred above it cannot copy the parse
      .select(inline(array(from_json(col("value"), schema))))

  /** S3/S5/S6 — CSV with headers and a declared schema, permissive parse
    * (bad cells → null), ragged rows tolerated (`iqair.js:66-82`
    * relax_column_count).  Each file's header must name the schema's
    * columns in order, so a renamed or reordered column fails the read
    * instead of binding values to the wrong field. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("enforceSchema", "false").option("mode", "PERMISSIVE")
      .csv(path)

  /** S9 — columnar→row pivot: `fields[]` + `data[][]` → named columns
    * (`purpleair.js:134-143`).  `fields` is driver-side (schema-sized),
    * the pivot itself is a pure projection. */
  def columnarPivot(columnar: DataFrame, fields: Seq[String]): DataFrame =
    columnar.select(fields.zipWithIndex.map { case (f, i) =>
      col("data").getItem(i).as(f)
    }: _*)

  /** S12 — header-row drop: first element of the feed is metadata
    * (`miri.js:74`).  `orderCol` defines "first". */
  def dropFirstRow(df: DataFrame, orderCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn", row_number().over(Window.orderBy(orderCol)))
      .filter(col("__rn") > 1).drop("__rn")
  }
}
