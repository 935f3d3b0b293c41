package graft

import graft.pipeline.{ClarityPipeline, Pipelines, PurpleAirPipeline}
import graft.sinks.Sinks
import graft.transform.Transform
import org.apache.spark.sql.functions._

/** Byte-golden sink parity (SURVEY §5.2): the rendered station JSON and
  * measures CSV bytes for one PurpleAir-style and one Clarity-style
  * fixture are pinned against recorded golden files.  This locks the
  * sink contracts the reference treats as load-bearing — CSV header
  * order (`measure.js:13-17`), ISO-Z timestamp rendering
  * (`measure.js:34-43`), and stripNulls JSON key order
  * (`station.js:176-184`) — and is what makes the K1/J7 content-diff
  * behave identically run-over-run: if bytes drifted, every diff-write
  * would spuriously rewrite every station.
  *
  * Canonicalization: part files are gunzipped (framing check) and data
  * lines sorted — the reference emits one object per fetch, the engine
  * writes partition-parallel, so row order inside the object is the
  * only intentional difference.
  *
  * Regenerate goldens after an INTENTIONAL contract change with:
  *   sbt "Test/runMain graft.GenGoldens"
  */
object Golden {
  val dir = "src/test/resources/golden"

  /** Gunzip + canonicalize a measures CSV sink dir: header first, data
    * lines sorted. */
  def canonicalCsv(outDir: String): String = {
    val files = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".csv.gz")).sortBy(_.getName)
    val lines = files.toSeq.flatMap { f =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(f))
      val s = new String(in.readAllBytes(), "UTF-8")
      in.close()
      s.split("\n").toSeq.filter(_.nonEmpty)
    }
    val header = lines.head
    (header +: lines.filterNot(_ == header).sorted).mkString("\n") + "\n"
  }

  /** Canonical station JSON: one stripNulls document per line, sorted
    * by node key. */
  def canonicalStations(spark: org.apache.spark.sql.SparkSession,
                        stations: org.apache.spark.sql.DataFrame,
                        keyCol: String): String = {
    import spark.implicits._
    Transform.stationJson(stations)
      .orderBy(keyCol).select("json").as[String].collect()
      .mkString("\n") + "\n"
  }

  def stationKey(provider: String): String =
    if (provider == "clarity") "location" else "sensor_node_id"

  def render(spark: org.apache.spark.sql.SparkSession, provider: String,
             fixturePath: String): Map[String, String] = {
    val batch = provider match {
      case "purpleair" => PurpleAirPipeline.run(spark, fixturePath)
      case "clarity" =>
        val b = ClarityPipeline.run(spark, fixturePath)
        b.copy(measures = b.measures.drop("flags"))
      case other => throw new IllegalArgumentException(other)
    }
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft_golden_$provider").toString
    Sinks.writeMeasuresCsv(batch.measures, s"$tmp/m")
    Map(
      s"${provider}_measures.csv" -> canonicalCsv(s"$tmp/m"),
      s"${provider}_stations.jsonl" ->
        canonicalStations(spark, batch.stations, stationKey(provider)))
  }
}

/** One-off golden regeneration: `sbt "Test/runMain graft.GenGoldens"`. */
object GenGoldens {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(Golden.dir).mkdirs()
    for (p <- Seq("purpleair", "clarity");
         (name, content) <- Golden.render(spark, p,
           s"src/test/resources/fixtures/$p.json")) {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"${Golden.dir}/$name"),
        content.getBytes("UTF-8"))
      println(s"[goldens] wrote ${Golden.dir}/$name (${content.length} bytes)")
    }
    spark.stop()
  }
}

class GoldenSpec extends SparkSpec {

  private def golden(name: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource(s"/golden/$name").getPath)), "UTF-8")

  for (p <- Seq("purpleair", "clarity")) {
    test(s"$p sink bytes match the recorded goldens (CSV header order, " +
      "ISO-Z timestamps, stripNulls JSON)") {
      val got = Golden.render(spark, p, fixture(s"$p.json"))
      for ((name, content) <- got) {
        assert(content == golden(name),
          s"$name drifted from golden — sink byte contract broken")
      }
    }
  }

  test("goldens carry the reference contracts explicitly") {
    val csv = golden("purpleair_measures.csv")
    assert(csv.startsWith("sensor_id,measure,timestamp\n")) // measure.js:13
    assert(csv.linesIterator.drop(1).forall(_.endsWith("Z"))) // ISO-Z out
    val json = golden("purpleair_stations.jsonl")
    assert(!json.contains("null")) // stripNulls (station.js:176-184)
    assert(json.linesIterator.forall(_.startsWith("{\"")))
  }

  test("K1 diff-write is byte-stable against the goldens: identical " +
    "rendering diffs to zero") {
    val out = java.nio.file.Files.createTempDirectory("graft_gk1_").toString
    val batch = PurpleAirPipeline.run(spark, fixture("purpleair.json"))
    val st = Transform.stationJson(batch.stations)
    // rendering equals golden → first write changes everything,
    // second (same bytes) changes nothing
    assert(Golden.canonicalStations(spark, batch.stations, "sensor_node_id")
      == golden("purpleair_stations.jsonl"))
    assert(Sinks.diffWriteStations(spark, st, "sensor_node_id", "json",
      s"$out/st")._1.count() == 2)
    assert(Sinks.diffWriteStations(spark, st, "sensor_node_id", "json",
      s"$out/st")._1.count() == 0)
  }

  test("VERBOSE diff parity: prettyPrintStation renders the reference " +
    "line format; a changed station prints its to/from blocks and " +
    "surfaces a field-level diff row") {
    import spark.implicits._
    val v1 = """{"sensor_node_id":"n1","sensor_node_site_name":"Site A",""" +
      """"sensor_node_source_name":"purpleair",""" +
      """"sensor_node_geometry":[10.5,20.0],"sensor_systems":[""" +
      """{"sensor_system_id":"ss1","sensors":[{"sensor_id":"s1",""" +
      """"measurand_parameter":"pm25","measurand_unit":"ug/m3"}]}]}"""
    val v2 = v1.replace("Site A", "Site B")
    // utils.js:146-170 rendering: key: value lines, the Sensor systems
    // section with -- and ---- prefixes, JS scalar rendering (arrays
    // join on ",", whole doubles drop the fraction)
    assert(Sinks.prettyPrintStation(v1) ==
      """sensor_node_id: n1
        |sensor_node_site_name: Site A
        |sensor_node_source_name: purpleair
        |sensor_node_geometry: 10.5,20
        |Sensor systems
        |-- sensor_system_id: ss1
        |---- s1 - pm25 ug/m3
        |""".stripMargin)
    val out = java.nio.file.Files.createTempDirectory("graft_gvd_").toString
    val first = Seq(("n1", v1)).toDF("sensor_node_id", "json")
    assert(Sinks.diffWriteStations(spark, first, "sensor_node_id",
      "json", s"$out/st")._1.count() == 1)
    // providers.js:104-118: the changed station prints an Update block
    // with the new document then the previous one
    val bos = new java.io.ByteArrayOutputStream()
    val second = Seq(("n1", v2)).toDF("sensor_node_id", "json")
    val changed = Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Sinks.diffWriteStations(spark, second, "sensor_node_id", "json",
        s"$out/st", verbose = true)._1
    }
    assert(changed.count() == 1)
    assert(changed.columns.toSeq == Seq("sensor_node_id", "json"))
    val printed = bos.toString("UTF-8")
    assert(printed.contains("Update n1"), printed)
    assert(printed.indexOf("Site B") < printed.indexOf("Site A"),
      "to-block (new) must print before from-block (previous)")
    assert(printed.contains("-----------------> from"), printed)
    assert(printed.contains("finished station: n1"), printed)
    // data-plane form: exactly the changed field, from/to rendered
    val third = Seq(("n1", v1.replace("Site A", "Site C")))
      .toDF("sensor_node_id", "json")
    val diffs = Sinks.stationFieldDiffs(spark, third, "sensor_node_id",
        "json", s"$out/st")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3)))
    assert(diffs.toSeq == Seq(
      ("n1", "sensor_node_site_name", "Site B", "Site C")), diffs.toSeq)
  }
}
