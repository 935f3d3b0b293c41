package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per JVM; suites reuse via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.acquire()

  /** Session-lifecycle pin (round-20 verdict #1): Spark 4's
    * `getActiveSession` filters the thread-local through `usableSession`
    * (null / stopped-context → None), and `SparkPlan` captures
    * `getActiveSession.orNull` at node CONSTRUCTION — so a test thread
    * whose inheritable thread-local is unset (or stale after an
    * abnormal earlier run) builds plans with a null session and dies
    * later inside Spark internals (`LocalTableScanExec.metrics` NPE in
    * the round-20 driver run's K1).  Re-pin the live session as this
    * thread's active session before every test, and fail FAST with a
    * diagnosis if the shared context was stopped by an earlier suite —
    * an NPE deep in `localCheckpoint` must never be the first symptom. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    assert(!spark.sparkContext.isStopped,
      "shared test SparkContext was stopped by an earlier suite/test — " +
        "every later plan would capture a null session (K1-class NPE)\n" +
        SparkSpec.stopRecord.getOrElse("no application-end record"))
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    super.withFixture(test)
  }

  /** Print the suite's elapsed time to stderr when it ends, so a test
    * tail shows where the time went. */
  override def run(testName: Option[String],
                   args: org.scalatest.Args): org.scalatest.Status = {
    val t0 = System.nanoTime()
    try super.run(testName, args)
    finally System.err.println(
      f"[graft-test] $suiteName took ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Drop a managed table AND its warehouse directory — the in-memory
    * catalog forgets tables across JVM restarts while the directory
    * persists, so a bare overwrite hits LOCATION_ALREADY_EXISTS. */
  def dropTableFully(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(loc, name)
    if (dir.exists()) {
      dir.listFiles().foreach(_.delete())
      dir.delete()
      ()
    }
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** `body`'s result and the number of Spark jobs it started, counted
    * once the listener bus has delivered their events. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftbridge.BusDrain.await(sc) // earlier jobs don't count
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graftbridge.BusDrain.await(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  private var watching = false
  @volatile private var record: Option[String] = None

  /** What the shared context's application-end event saw, once it has
    * been stopped: wall time, heap, and the thread inside
    * `SparkContext.stop` with the frames that called it. */
  def stopRecord: Option[String] = record

  /** Once per JVM: on application end, record and print to stderr who
    * stopped the context.  The bus delivers the event while the stopping
    * thread still waits inside `stop()` for the bus to drain. */
  private def watchStop(sc: SparkContext): Unit = synchronized {
    if (!watching) {
      watching = true
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          def isStop(f: StackTraceElement) =
            f.getClassName == "org.apache.spark.SparkContext" &&
              f.getMethodName == "stop"
          val stopper = Thread.getAllStackTraces.asScala
            .find(_._2.exists(isStop))
          val rt = Runtime.getRuntime
          val mb = 1L << 20
          val r = s"[graft-test] SparkContext stopped at " +
            s"${java.time.Instant.ofEpochMilli(e.time)}, JVM uptime " +
            s"${ManagementFactory.getRuntimeMXBean.getUptime / 1000} s, " +
            s"heap ${(rt.totalMemory - rt.freeMemory) / mb} MB used of " +
            s"${rt.maxMemory / mb} MB max, stopped by thread " +
            stopper.fold("<none found in SparkContext.stop>") {
              case (t, st) => s"'${t.getName}'" + st.dropWhile(!isStop(_))
                .take(25).map("\n    at " + _).mkString
            }
          record = Some(r)
          System.err.println(r)
        }
      })
    }
  }

  /** Build-or-reuse the shared session AND pin it as the calling
    * thread's active session (getOrCreate only sets the thread-local
    * on the thread that calls it; suite bodies and test runners are
    * not guaranteed to share a thread). */
  def acquire(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "t")}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.setActiveSession(s)
    watchStop(s.sparkContext)
    s
  }
}
