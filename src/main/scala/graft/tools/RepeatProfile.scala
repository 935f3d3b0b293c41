package graft.tools
import graft.SparkEntry
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Run-to-run variance profiler (dev tool):
  * `runMain graft.tools.RepeatProfile <query> [reps] [sfDir]` — runs a
  * declared query `reps` times in one session and prints each run's
  * wall time with its per-stage duration/task/GC breakdown, so a wide
  * bench spread can be attributed to a concrete stage (GC, skewed
  * task, scheduler delay) instead of guessed at.  Trailing `key=value`
  * args become session conf. */
object RepeatProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("x22_semantic_prune")
    val reps = args.lift(1).map(_.toInt).getOrElse(8)
    val sf = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val confs = DevConf.parse(args.drop(3).toSeq, "argument")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    case class St(name: String, ms: Long, tasks: Int, gcMs: Long,
                  maxTaskMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val maxTask = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.add(St(i.name.split(" at ").head, ms, i.numTasks,
          i.taskMetrics.jvmGCTime, maxTask.getAndSet(0)))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val d = t.taskInfo.duration
        var cur = maxTask.get()
        while (d > cur && !maxTask.compareAndSet(cur, d)) cur = maxTask.get()
      }
    }
    spark.sparkContext.addSparkListener(l)
    for (r <- 1 to reps) {
      stages.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sf).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(-_.ms)
      println(f"RUN $r%2d wall=$wall%6.2fs rows=$n stages=${ss.size}")
      ss.filter(_.ms > 100).foreach { s =>
        println(f"    ${s.ms}%6d ms ${s.tasks}%4d tasks gc=${s.gcMs}%5d ms" +
          f" maxTask=${s.maxTaskMs}%6d ms  ${s.name}")
      }
    }
    spark.stop()
  }
}
