package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeoutException}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One completed stage: submission time (epoch ms, -1 if unknown), wall
  * ms from submission to completion, task count, summed task GC ms, the
  * longest task's ms, shuffle records read and written, and the code
  * location that ran it. */
final case class StageRec(submitMs: Long, ms: Long, tasks: Int, gcMs: Long,
                          maxTaskMs: Long, readRecords: Long,
                          writeRecords: Long, name: String)

/** Records every completed stage of `sc` from `attach` until `close`. */
final class StageProbe private (sc: SparkContext) extends SparkListener {
  private val live = new ConcurrentLinkedQueue[StageRec]()
  private val maxTask = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    maxTask.merge((t.stageId, t.stageAttemptId), t.taskInfo.duration,
      (a: java.lang.Long, b: java.lang.Long) => math.max(a, b): java.lang.Long)
    ()
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val ms = (for (a <- i.completionTime; b <- i.submissionTime)
      yield a - b).getOrElse(-1L)
    val maxMs = Option(maxTask.remove((i.stageId, i.attemptNumber())))
      .fold(0L)(_.longValue)
    val m = i.taskMetrics
    live.add(StageRec(i.submissionTime.getOrElse(-1L), ms, i.numTasks,
      m.jvmGCTime, maxMs, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.recordsWritten, StageProbe.name(i.details, i.name)))
    ()
  }

  /** Every stage recorded since the last `clear`, once the listener bus
    * has delivered the events already posted.  A bus still busy after
    * 10 s leaves the stages recorded so far. */
  def drain(): Seq[StageRec] = {
    try BusDrain.await(sc)
    catch { case _: TimeoutException =>
      System.err.println("[probe] listener bus not drained after 10 s")
    }
    live.asScala.toSeq
  }

  def clear(): Unit = live.clear()

  def close(): Unit = sc.removeSparkListener(this)
}

object StageProbe {
  def attach(sc: SparkContext): StageProbe = {
    val p = new StageProbe(sc)
    sc.addSparkListener(p)
    p
  }

  /** The first `graft.` frame of the call-site `details`, skipping the
    * timing tools' own frames; the raw stage name is usually an
    * anonymous Spark lambda (`$anonfun$withThreadLocalCaptured$2`). */
  private def name(details: String, raw: String): String =
    details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("graft.Bench") &&
        !l.contains("graft.tools."))
      .map(_.trim.stripPrefix("at "))
      .getOrElse(raw.split(" at ").head)
}
