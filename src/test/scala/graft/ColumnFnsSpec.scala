package graft

import graft.functions.ColumnFns
import org.apache.spark.sql.functions._

class ColumnFnsSpec extends SparkSpec {
  import spark.implicits._

  test("F1 unit normalization applies all four rules and identity") {
    // rules from measurand.js:19-36
    val df = Seq(
      ("ppb", 1000.0), ("ng/m³", 500.0), ("pp100ml", 100.0),
      ("pa", 101300.0), ("µg/m³", 7.5)
    ).toDF("unit", "value")
    val out = df.select(
      ColumnFns.normalizeValue($"unit", $"value").as("v"),
      ColumnFns.normalizeUnit($"unit").as("u")).collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1.0, "ppm"), (0.5, "µg/m³"), (1.0, "particles/cm³"),
      (1013.0, "hpa"), (7.5, "µg/m³")))
  }

  test("F2 id synthesis concatenates with dashes") {
    val r = Seq(("purpleair", 123, "pm25")).toDF("s", "n", "p")
      .select(ColumnFns.synthId($"s", $"n", $"p")).first().getString(0)
    assert(r == "purpleair-123-pm25")
  }

  test("F4 camelize matches reference semantics") {
    val r = Seq("relative_humidity_pct", "plain", "a_b")
      .toDF("s").select(ColumnFns.camelize($"s")).as[String].collect()
    assert(r.toSeq == Seq("relativeHumidityPct", "plain", "aB"))
  }

  test("F5 comma-strip parse") {
    val r = Seq("1,234.5").toDF("s")
      .select(ColumnFns.parseCommaNumber($"s")).first().getDouble(0)
    assert(r == 1234.5)
  }

  test("F10 month sequence reproduces reference goldens (test/cmu.test.js)") {
    def months(from: String, to: String): Seq[String] =
      Seq((from, to)).toDF("f", "t")
        .select(ColumnFns.monthSequence(to_timestamp($"f"), to_timestamp($"t")))
        .first().getSeq[String](0)
    // same month
    assert(months("2020-12-01T01:00:00Z", "2020-12-02T01:00:01Z") ==
      Seq("2020-12"))
    // year crossover
    assert(months("2020-12-01T01:00:00Z", "2021-01-02T01:00:01Z") ==
      Seq("2020-12", "2021-01"))
    // multiple years: 2019-12 .. 2021-01 inclusive = 14 months
    val multi = months("2019-12-01T01:00:00Z", "2021-01-02T01:00:01Z")
    assert(multi.size == 14 && multi.head == "2019-12" && multi.last == "2021-01")
  }

  test("F7 local-naive NY parse lands on correct UTC instant") {
    // 2020-06-15 12:00 EDT (UTC-4) − 15 min = 11:45 EDT = 15:45 UTC
    val r = Seq("2020-06-15 12:00:00").toDF("s")
      .select(date_format(
        ColumnFns.localToUtcShifted(to_timestamp($"s"), "America/New_York"),
        "yyyy-MM-dd HH:mm:ss")).first().getString(0)
    assert(r == "2020-06-15 15:45:00")
  }

  test("F16 tz-from-lon nautical approximation") {
    val r = Seq(0.0, -122.41, 179.9, -7.4).toDF("lon")
      .select(ColumnFns.tzFromLon($"lon")).as[String].collect()
    assert(r.toSeq == Seq("UTC+0", "UTC-8", "UTC+12", "UTC+0"))
  }

  test("melt round-trips against groupBy-pivot") {
    val wide = Seq((1L, 2.0, 3.0), (2L, 5.0, 7.0)).toDF("id", "a", "b")
    val long = graft.transform.Transform.melt(wide, Seq("id"), Seq("a", "b"))
    assert(long.count() == 4)
    val back = long.groupBy("id")
      .pivot("input_param", Seq("a", "b")).agg(first($"value"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(back.toSeq == Seq((1L, 2.0, 3.0), (2L, 5.0, 7.0)))
  }

  test("roundBinary rounds the binary double half away from zero, as the " +
    "oracle does; w4_hour_buckets' 79.695 bucket at sf0.001 reads 79.69") {
    // expected values are DuckDB's round(x, 2) and round(x, 0): 79.695
    // is stored as 79.69499… and rounds to 79.69 (Spark's round gives
    // 79.7), while 2.675·100 is exactly 267.5 in binary and rounds up
    val r = Seq(79.695, -79.695, 0.125, 2.675, 1.005, 12.5).toDF("x")
      .select(ColumnFns.roundBinary($"x", 2), ColumnFns.roundBinary($"x", 0))
      .as[(Double, Double)].collect()
    assert(r.toSeq == Seq((79.69, 80.0), (-79.69, -80.0), (0.13, 0.0),
      (2.68, 3.0), (1.0, 1.0), (12.5, 13.0)))
    val bucket = SparkEntry.queries("w4_hour_buckets")(spark, sf0001)
      .filter($"hour" === "2024-01-06 17:00:00")
      .select($"avg_value", $"n").as[(Double, Long)].collect()
    assert(bucket.toSeq == Seq((79.69, 2L)))
  }
}
