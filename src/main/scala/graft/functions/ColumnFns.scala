package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function library — SURVEY.md §2.7 (F1–F17) re-expressed as pure
  * `Column` expressions (whole-stage-codegen friendly; zero UDFs except the
  * documented geo-tz case, which is itself a closed-form expression here).
  *
  * Every function cites the reference behavior it models
  * (`/root/reference/fetcher/...`).
  */
object ColumnFns {

  /** F1 — unit normalization (`fetcher/lib/measurand.js:19-36`).
    * Data-driven per-unit scale rules: ppb→ppm ÷1000, ng/m³→µg/m³ ÷1000,
    * pp100ml→particles/cm³ ÷100, pa→hpa ÷100, else identity.
    * Pure `when` chain — codegen'd, no UDF.
    */
  val unitScale: Map[String, (Double, String)] = Map(
    "ppb"     -> (1000.0, "ppm"),
    "ng/m³"   -> (1000.0, "µg/m³"),
    "pp100ml" -> (100.0, "particles/cm³"),
    "pa"      -> (100.0, "hpa"))

  def normalizeValue(unit: Column, value: Column): Column =
    unitScale.foldLeft(lit(null).cast("double")) { case (acc, (u, (div, _))) =>
      when(unit === u, value / div).otherwise(acc)
    } match {
      case chain => coalesce(chain, value)
    }

  def normalizeUnit(unit: Column): Column =
    unitScale.foldLeft(lit(null).cast("string")) { case (acc, (u, (_, renamed))) =>
      when(unit === u, renamed).otherwise(acc)
    } match {
      case chain => coalesce(chain, unit)
    }

  /** `round(x, digits)` of a double the way DuckDB and C's `round`
    * compute it: half away from zero on the binary product x·10^digits,
    * so a mean of 79.695 (stored as 79.69499…) rounds to 79.69.  Spark's
    * `round` on a double rounds the shortest decimal rendering instead
    * and gives 79.70.  The scale-0 `round` of the product agrees with C
    * because a double below k + ½ never renders as k.5 or above. */
  def roundBinary(x: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    round(x * scale, 0) / scale
  }

  /** F2/F3 — id synthesis `"{source}-{node}-{parameter}"`
    * (`purpleair.js:63`, `cmu.js:309-311`, `clarity.js:96-98`). */
  def synthId(parts: Column*): Column = concat_ws("-", parts: _*)

  /** F4 — camelize `a_bc_de → aBcDe` (`fetcher/lib/utils.js:131-140`).
    * Splits on `_`, upper-cases each subsequent head.  Built-ins only:
    * explode-free via aggregate over the split array.
    */
  def camelize(c: Column): Column = {
    val parts = split(c, "_")
    concat(
      element_at(parts, 1),
      array_join(
        transform(slice(parts, 2, 1000000),
          p => concat(upper(substring(p, 1, 1)), substring(p, 2, 1000000))),
        ""))
  }

  /** F5 — comma-strip numeric parse `parseFloat(v.replace(/,/g,''))`
    * (`airqoon.js:93`). */
  def parseCommaNumber(c: Column): Column =
    regexp_replace(c, ",", "").cast("double")

  /** F6 — epoch / ISO conversions (`smartsense.js:122`, `providers.js:146`). */
  def toEpochSeconds(ts: Column): Column = unix_timestamp(ts)
  def toIso(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** F7 — timezone-aware parse: local-naive timestamp minus 15 minutes,
    * interpreted in a named zone, to UTC (`cmu.js:211-219`). */
  def localToUtcShifted(ts: Column, zone: String): Column =
    to_utc_timestamp(ts - expr("INTERVAL 15 MINUTES"), zone)

  /** F9 — hour-beginning → hour-ending shift (`iqair.js:142`,
    * `airgradient.js:161-163`). */
  def hourEnding(ts: Column): Column = ts + expr("INTERVAL 1 HOUR")

  /** F10 — month-range generation `YYYY-MM` strings between two dates
    * (`cmu.js:126-135`; golden-tested in reference `test/cmu.test.js:8-39`). */
  def monthSequence(from: Column, to: Column): Column =
    transform(
      sequence(trunc(from, "MM"), trunc(to, "MM"), expr("INTERVAL 1 MONTH")),
      m => date_format(m, "yyyy-MM"))

  /** F12 — `' '`→`'T'` timestamp fix (`miri.js:140`). */
  def spaceToT(c: Column): Column = regexp_replace(c, " ", "T")

  /** F15 — `"lat,lon"` string split to doubles (`miri.js:123`). */
  def splitLatLon(c: Column): Column =
    transform(split(c, ","), x => x.cast("double"))

  /** F16 — timezone from coordinates (`senstate.js:67` uses geo-tz polygon
    * lookup).  The polygon dataset is not shippable here; the engine models
    * it as the closed-form nautical approximation `UTC±round(lon/15)`, which
    * is a pure expression (codegen'd, distributable).  A production build
    * swaps in a broadcast polygon table + point-in-polygon join — the
    * operator shape (per-row lookup against a broadcast dim) is identical.
    */
  def tzFromLon(lon: Column): Column = {
    val off = round(lon / 15.0, 0).cast("int")
    concat(lit("UTC"), when(off >= 0, concat(lit("+"), off.cast("string")))
      .otherwise(off.cast("string")))
  }
}
