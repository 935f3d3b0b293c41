package graft
import org.apache.spark.sql.SparkSession
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.tools.DevConf.fromEnv.foreach { case (k, v) => spark.conf.set(k, v) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- args; i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(s"$name run $i: ${(System.nanoTime()-t0)/1e9}s rows=$n")
    }
    spark.stop()
  }
}
