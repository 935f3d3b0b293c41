package graft.tools

import graft.SparkEntry
import graft.queries.ExtQueries
import org.apache.spark.sql.SparkSession

/** The one `local[N]` session that `Verify`, `Bench`, `Rehearsal` and
  * `Dev` run on. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` with as many shuffle partitions, the UTC session
    * zone, the graft planner extensions and no UI. */
  def session(cores: Int, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Session history: runs the first `n` declared queries (name order)
    * once each over `sfDir`, clearing the session slate before each, and
    * returns how many ran.  Pinned blocks do not survive the clears; the
    * JVM residue a fresh session lacks (JIT state, old-gen occupancy,
    * weak references) does.  A query that fails on this corpus is
    * skipped: history is load, not a correctness pass. */
  def replayHistory(spark: SparkSession, sfDir: String, n: Int): Int = {
    val names = SparkEntry.queries.keys.toSeq.sorted.take(n)
    names.foreach { name =>
      ExtQueries.clearSessionSlate(spark)
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    names.size
  }
}
