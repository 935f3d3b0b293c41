package graft
import graft.tools.{Json, LocalSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.session(LocalSession.envCores, "WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_VERIFY_ONLY=x2,x16 dumps only
    // matching queries (prefix match).  Unset (driver) = everything.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val run = SparkEntry.queries.filter(kv => selected(kv._1))
    run.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that throws must leave a trace in the artifact dir, not just
    // stderr — otherwise the correctness artifact silently shrinks and a
    // broken third of the suite reads as a clean pass.  errors.json maps
    // query name → first exception line; ran/failed counts let any
    // consumer cross-check against the declared query map.
    val errJson = failed.map { case (k, v) =>
      val line = v.linesIterator.take(1).mkString.take(500)
      s"${Json.quote(k)}: ${Json.quote(line)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    println(s"[verify] declared=${SparkEntry.queries.size} selected=${run.size} " +
      s"ok=${run.size - failed.size} failed=${failed.size}" +
      (if (failed.nonEmpty) failed.keys.mkString(" [", ",", "]") else ""))
    spark.stop()
  }
}
