package graft
import org.apache.spark.sql.SparkSession

/** Plan-inspection dev tool:
  * `sbt "runMain graft.ExplainQ <query> [sfDir] [mode]"` prints the
  * query's plan (`formatted` by default) so operator work can iterate
  * on the physical plan — codegen spans, pushed filters, exchanges —
  * not just on timings.  `SPARK_GRAFT_CONF=k=v,...` sets session confs
  * first. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.tools.DevConf.fromEnv.foreach { case (k, v) => spark.conf.set(k, v) }
    SparkEntry.queries(name)(spark, sfDir).explain(mode)
    spark.stop()
  }
}
