package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Listener side of the traced run: every job is assigned to a layer by
  * its call site (falling back to the call site of the SQL execution
  * that owns it, for jobs fired from Spark's broadcast and subquery
  * threads) and to a provider by the `perfbench.provider` local
  * property the benchmark sets around each provider.  Task metrics are
  * summed per job.  Only events between [[start]] and [[stop]] are
  * recorded; job starts are always counted. */
class JobTrace extends SparkListener {
  val ProviderKey = "perfbench.provider"

  final class Job(val layer: String, val provider: Option[String],
                  val start: Long, val checkpoint: Boolean) {
    @volatile var end: Long = start
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
  }

  val jobsStarted = new AtomicInteger()
  @volatile private var recording = false
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val jobs: mutable.Map[Int, Job] = mutable.LinkedHashMap.empty
  /** (launch, finish) of every recorded task, epoch ms. */
  val taskSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def start(): Unit = synchronized {
    jobs.clear(); taskSpans.clear(); stageJob.clear(); recording = true
  }
  def stop(): Unit = recording = false

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Layers.ofCallSite(s.details).foreach(execLayer.put(s.executionId, _))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    if (recording) {
      val props = Option(j.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      def execOf(k: String) =
        prop(k).flatMap(id => Option(execLayer.get(id.toLong)))
      val site = j.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details).getOrElse("")
      val layer = Layers.ofCallSite(site)
        .orElse(execOf("spark.sql.execution.id"))
        .orElse(execOf("spark.sql.execution.root.id"))
        .getOrElse(Layers.Other)
      val job = new Job(layer, prop(ProviderKey), j.time,
        site.linesIterator.take(1).exists(_.contains("heckpoint(")))
      synchronized { jobs(j.jobId) = job }
      j.stageIds.foreach(stageJob.put(_, job))
    }
  }

  /** Per-layer job counts and times, plus Spark-wide totals, of the jobs
    * recorded since [[start]]; `from`/`to` (epoch ms) bound the window
    * whose idle time is measured. */
  def summary(from: Long, to: Long, cores: Int): Map[String, Any] = synchronized {
    val js0 = jobs.values.toSeq
    val byLayer = js0.groupBy(_.layer).map { case (l, js) =>
      l -> Map("jobs" -> js.size, "job_s" -> js.map(j => j.end - j.start).sum / 1e3,
        "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9, "tasks" -> js.map(_.tasks).sum)
    }
    val byProvider = js0.groupBy(_.provider.getOrElse("")).map {
      case (p, js) => p -> js.size }
    // wall with no task running: window minus the union of task spans
    val spans = taskSpans.toSeq.map { case (a, b) => (a.max(from), b.min(to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var cur = (0L, 0L)
    spans.foreach { case (a, b) =>
      if (a > cur._2) { busy += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, cur._2.max(b))
    }
    busy += cur._2 - cur._1
    Map("layers" -> byLayer, "provider_jobs" -> byProvider,
      "jobs" -> js0.size, "tasks" -> js0.map(_.tasks).sum,
      "task_cpu_s" -> js0.map(_.cpuNs).sum / 1e9,
      "task_run_s" -> js0.map(_.runMs).sum / 1e3,
      "gc_s" -> js0.map(_.gcMs).sum / 1e3,
      "shuffle_read_bytes" -> js0.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> js0.map(_.shuffleWrite).sum,
      "spill_bytes" -> js0.map(_.spill).sum,
      "input_bytes" -> js0.map(_.inputBytes).sum,
      "task_busy_s" -> busy / 1e3, "cores" -> cores)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    synchronized { jobs.get(j.jobId) }.foreach(_.end = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(t.stageId)
    if (recording && job != null) synchronized {
      val m = t.taskMetrics
      job.tasks += 1
      if (m != null) {
        job.cpuNs += m.executorCpuTime
        job.runMs += m.executorRunTime
        job.gcMs += m.jvmGCTime
        job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        job.inputBytes += m.inputMetrics.bytesRead
      }
      taskSpans += ((t.taskInfo.launchTime, t.taskInfo.finishTime))
    }
  }
}

/** Driver side of the traced run: samples the tick thread's stack at a
  * fixed interval and bills each interval to the layer on top of the
  * stack, which gives a layer's wall time including planning and file
  * commits that no Spark job covers. */
class StackSampler(target: Thread, intervalMs: Long) extends Thread {
  setDaemon(true)
  setName("perfbench-sampler")
  private val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile private var running = true

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(intervalMs)
      val layer = Layers.ofStack(target.getStackTrace).getOrElse(Layers.Other)
      val now = System.nanoTime()
      ns(layer) += now - last
      last = now
    }
  }

  /** Layer -> seconds, after the sampler has stopped. */
  def finish(): Map[String, Double] = {
    running = false
    join()
    ns.map { case (k, v) => k -> v / 1e9 }.toMap
  }
}
