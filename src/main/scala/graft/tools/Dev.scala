package graft.tools

import graft.SparkEntry
import graft.queries.ExtQueries
import org.apache.spark.sql.SparkSession

/** Dev CLI over the declared queries (`SparkEntry.queries`):
  * {{{
  * runMain graft.tools.Dev time <q>...                  two timed runs per query
  * runMain graft.tools.Dev explain <q> [mode]           the query's plan (default formatted)
  * runMain graft.tools.Dev stages <q> [runs] [history]  per-run wall, GC and top stages
  * }}}
  * The corpus is `SPARK_GRAFT_SF_DIR` (default sf0.1), the session
  * `local[SPARK_GRAFT_CPUS]` (default 4); `SPARK_GRAFT_CONF=k=v,...`
  * sets session confs first.  `stages` replays the first `history`
  * (default 0) declared queries as session history, runs one warm-up,
  * then `runs` (default 3) runs under a [[StageProbe]].  The modes take
  * a session and leave it running. */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty => time(_, sfDir, names)
      case "explain" :: name :: rest if rest.size <= 1 =>
        explain(_, sfDir, name, rest.headOption.getOrElse("formatted"))
      case "stages" :: name :: rest if rest.size <= 2 =>
        stages(_, sfDir, name, rest.headOption.fold(3)(_.toInt),
          rest.lift(1).fold(0)(_.toInt))
      case _ => throw new IllegalArgumentException("usage: Dev time <q>... " +
        "| explain <q> [mode] | stages <q> [runs] [history]")
    }
    val spark = LocalSession.session(LocalSession.envCores, "ERROR")
    DevConf.fromEnv.foreach { case (k, v) => spark.conf.set(k, v) }
    try mode(spark) finally spark.stop()
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (name <- names; i <- 1 to 2) {
      val (wall, rows) = timed(SparkEntry.queries(name)(spark, sfDir).count())
      println(f"[time] $name run $i: $wall%.3fs rows=$rows")
    }

  def explain(spark: SparkSession, sfDir: String, name: String,
              mode: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).explain(mode)

  /** Each profiled run's wall seconds and stages. */
  def stages(spark: SparkSession, sfDir: String, name: String, runs: Int,
             history: Int): Seq[(Double, Seq[StageRec])] = {
    if (history > 0) println(s"[stages] ran " +
      s"${LocalSession.replayHistory(spark, sfDir, history)} history queries")
    val fn = SparkEntry.queries(name)
    ExtQueries.clearSessionSlate(spark)
    val probe = StageProbe.attach(spark.sparkContext)
    try {
      fn(spark, sfDir).count() // warm-up
      probe.drain()
      (1 to runs).map { r =>
        probe.clear()
        val (wall, _) = timed(fn(spark, sfDir).count())
        val st = probe.drain()
        println(f"[stages] $name run $r: wall=$wall%.3fs stages=${st.size} " +
          f"stageMs=${st.map(_.ms).sum} gcMs=${st.map(_.gcMs).sum}")
        st.sortBy(-_.ms).take(10).foreach { s =>
          println(f"[stages]   ${s.ms}%6d ms gc=${s.gcMs}%5d tasks=${s.tasks}%4d " +
            f"maxTask=${s.maxTaskMs}%6d readRec=${s.readRecords}%9d " +
            f"writeRec=${s.writeRecords}%9d  ${s.name}")
        }
        (wall, st)
      }
    } finally probe.close()
  }

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}
