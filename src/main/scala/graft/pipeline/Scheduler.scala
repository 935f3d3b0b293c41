package graft.pipeline

import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scheduled-ingest production path — SURVEY §3.1.
  *
  * The reference's EventBridge→SQS→Lambda fan-out collapses into Spark
  * job scheduling: one micro-batch == one source fetch.  `runDue` reads
  * the active source configs (S1), keeps the requested frequency
  * class(es), and runs each source's pipeline as an independent job —
  * errors are captured per source (the `fetcher/error` SNS path,
  * `fetcher/index.js:31-33`) so one provider can't fail the fleet.
  *
  * On a cluster the per-source jobs run concurrently from a driver
  * thread pool (Spark schedules their tasks fairly); the SQS
  * `batchSize: 1` isolation property is preserved because each source
  * is its own action with its own sink paths.
  */
object Scheduler {

  case class RunResult(provider: String, ok: Boolean,
                       summary: Option[DataFrame], error: Option[String])

  /** K5 — the reference's SNS notification boundary as a callback
    * interface: `providers.js:59-71` publishes a run summary to the
    * success topic, `fetcher/index.js:29-33` routes failures to the
    * error topic.  Users attach a listener to wire those side channels
    * (metrics, alerting, a real SNS client) without touching the data
    * plane; the default is a no-op. */
  trait RunListener {
    /** Success topic: per-source run summary (K5 shape — source_name,
      * locations, measures, from, to).  The summary is a materialized
      * one-row local frame: reading it runs no Spark job. */
    def onSuccess(provider: String, summary: DataFrame): Unit = ()
    /** Error topic: per-source failure with the captured cause. */
    def onError(provider: String, error: Throwable): Unit = ()
  }
  object NoopListener extends RunListener

  /** Job tag carried by the Spark jobs of one provider's run in
    * [[runDue]]; a provider that misses the tick deadline has the jobs
    * under its tag cancelled. */
  def providerTag(provider: String): String = s"graft-provider-$provider"

  /** One scheduler tick for a frequency class ("minute"|"hour"|"day").
    * `inputs` maps provider name → recorded payload path.
    *
    * `parallelism` > 1 submits sources from a driver thread pool — the
    * reference's SQS `batchSize: 1` fan-out (one Lambda per source)
    * becomes concurrent Spark actions whose tasks the scheduler
    * interleaves fairly; isolation is preserved because each source
    * stays its own action with its own sink paths and error capture.
    * Results return in the same deterministic provider order either
    * way.
    *
    * `tickTimeout` bounds the parallel tick: a provider that hasn't
    * completed when the shared deadline expires is reported as a
    * RunResult error (and to the listener's error topic) instead of
    * wedging the tick forever — the reference's Lambda timeout has the
    * same role.  Providers that finished before the deadline still
    * return their real results; the straggler's Spark jobs are
    * cancelled through its [[providerTag]] and its pool thread is
    * interrupted on exit.  Default Inf preserves the old behavior. */
  def runDue(spark: SparkSession, configDir: String, frequency: String,
             inputs: Map[String, String], outDir: String,
             listener: RunListener = NoopListener,
             parallelism: Int = 1,
             process: (SparkSession, String, String, String) => DataFrame =
               Pipelines.processor,
             tickTimeout: scala.concurrent.duration.Duration =
               scala.concurrent.duration.Duration.Inf): Seq[RunResult] = {
    val due = Ingest.readSourceConfigs(spark, configDir)
      .filter(col("frequency") === frequency)
      .select(col("provider")).collect().map(_.getString(0)).toSeq.sorted
    def runOne(provider: String): RunResult = {
      // The session tag reaches every SQL execution of this thread; the
      // context tag also reaches the jobs Spark runs outside one
      // (schema inference, RDD actions).
      val tag = providerTag(provider)
      spark.addTag(tag)
      spark.sparkContext.addJobTag(tag)
      try {
        val input = inputs.getOrElse(provider,
          throw new IllegalArgumentException(s"no recorded input for $provider"))
        val summary = process(spark, provider, input, outDir)
        listener.onSuccess(provider, summary)
        RunResult(provider, ok = true, Some(summary), None)
      } catch {
        // NonFatal, not Exception: Error-rooted throwables a provider can
        // surface (codegen CompileException wrappers, assertion errors)
        // must not escape the per-source isolation contract and kill the
        // whole tick.  Genuinely fatal errors (OOM, thread death) still
        // propagate.
        case scala.util.control.NonFatal(e) =>
          listener.onError(provider, e)
          // Error-rooted throwables often carry a null message (e.g.
          // bare AssertionError) — fall back to toString so consumers
          // never see Some(null).
          RunResult(provider, ok = false, None,
            Some(Option(e.getMessage).getOrElse(e.toString)))
      } finally {
        spark.sparkContext.removeJobTag(tag)
        spark.removeTag(tag)
      }
    }
    if (parallelism <= 1) due.map(runOne)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
      import scala.concurrent.duration.{Duration, FiniteDuration}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, math.max(1, due.size)))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val futures = due.map(p => p -> Future(runOne(p)))
        // One shared deadline for the whole tick (not per provider):
        // awaiting in provider order against `deadline.timeLeft` means a
        // hung first provider can't extend the tick for later ones, and
        // an already-completed future returns its value even with zero
        // time left.
        val deadline = tickTimeout match {
          case f: FiniteDuration => Some(f.fromNow)
          case _ => None
        }
        futures.map { case (p, f) =>
          val remaining = deadline
            .map(d => d.timeLeft.max(Duration.Zero): Duration)
            .getOrElse(Duration.Inf)
          try Await.result(f, remaining)
          catch {
            case _: TimeoutException =>
              spark.interruptTag(providerTag(p))
              spark.sparkContext.cancelJobsWithTag(providerTag(p))
              val e = new TimeoutException(
                s"provider $p exceeded tick timeout $tickTimeout")
              listener.onError(p, e)
              RunResult(p, ok = false, None, Some(e.getMessage))
          }
        }
      } finally pool.shutdownNow() // interrupt stragglers past the deadline
    }
  }
}
