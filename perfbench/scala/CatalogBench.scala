package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.queries.ExtQueries
import org.apache.spark.perfbench.BusQuiet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Passes over a list of declared `SparkEntry.queries` entries, in the
  * order given, each query split into three timed phases:
  *
  *  - build: calling the query's closure, which runs its eager pins,
  *    collects and DDL;
  *  - plan: planning the fingerprint aggregate over the result;
  *  - exec: collecting that fingerprint, which is the row count plus an
  *    order-insensitive hash over every column (so no column is pruned).
  *
  * The session slate is cleared before each query, outside the timed
  * phases.  The first of `warmup_passes` untimed passes writes each
  * result as parquet, for the oracle comparison in `run.py`, and
  * fingerprints the written copy as the reference that every later pass
  * must reproduce.  Timed passes follow back to back for the run length,
  * at least `min_passes` of them.
  * With `trace`, one more pass runs with a listener that counts each
  * query's jobs before and during the action, its `localCheckpoint`
  * jobs, and its task metrics.
  *
  * Usage: CatalogBench <plan.json>
  */
object CatalogBench {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Object]])
      .asScala
    def str(k: String) = plan(k).toString
    val cores = str("cores").toInt
    val data = str("data_dir")
    val work = str("work_dir")
    val names = plan("queries").asInstanceOf[java.util.List[String]].asScala.toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = TickBench.uptimeS()
    val sc = spark.sparkContext
    val trace = new JobTrace
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val compilation = ManagementFactory.getCompilationMXBean

    def pass(resultsDir: Option[String], traced: Boolean = false): Map[String, Any] = {
      val cpu0 = os.getProcessCpuTime
      val jit0 = compilation.getTotalCompilationTime
      var timed = 0.0
      val perQuery = names.map { q =>
        ExtQueries.clearSessionSlate(spark, blocking = true)
        if (traced) { BusQuiet.await(sc); trace.start() }
        val from = System.currentTimeMillis()
        val r = resultsDir.fold(runQuery(spark, q, data))(d => writeQuery(spark, q, data, d))
        val to = System.currentTimeMillis()
        timed += r.get("wall_s").map(_.asInstanceOf[Double]).getOrElse(0.0)
        val stats = if (!traced) Map.empty[String, Any] else {
          BusQuiet.await(sc)
          trace.stop()
          val jobs = trace.synchronized(trace.jobs.values.toSeq)
          val actionAt = r.get("action_ms").map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue)
          trace.summary(from, to, cores) -- Seq("layers", "provider_jobs") ++ Map(
            "jobs_before_action" -> jobs.count(_.start < actionAt),
            "jobs_in_action" -> jobs.count(_.start >= actionAt),
            "checkpoint_jobs" -> jobs.count(_.checkpoint))
        }
        q -> (r ++ stats)
      }.toMap
      Map("wall_s" -> timed, "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "jit_s" -> (compilation.getTotalCompilationTime - jit0) / 1e3,
        "queries" -> perQuery)
    }

    val warm = pass(Some(s"$work/results"))
    val warmMore = (1 until str("warmup_passes").toInt).map(_ => pass(None))
    val ready = TickBench.uptimeS()
    // closed loop: the next pass starts when the previous one is done
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (passes.size < str("min_passes").toInt ||
        (System.nanoTime() - t0) / 1e9 < str("seconds").toDouble)
      passes += pass(None)
    val traced = if (!str("trace").toBoolean) None else {
      sc.addSparkListener(trace)
      Some(pass(None, traced = true))
    }
    val heap = heapMb()
    spark.stop()
    mapper.writeValue(new File(s"$work/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }.asJava)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(str("result_path")),
      TickBench.toJava(Map("setup" -> Map("session_s" -> sessionReady, "ready_s" -> ready),
        "warmup" -> warm, "warmup_more" -> warmMore, "passes" -> passes.toSeq, "trace" -> traced, "heap_mb" -> heap,
        "cores" -> cores,
        "env" -> Map("java" -> System.getProperty("java.version"),
          "spark" -> spark.version, "master" -> s"local[$cores]",
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))))
  }

  private def heapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def fingerprint(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
        .cast("decimal(38,0)")).as("h"))

  private def fingerprintOf(row: org.apache.spark.sql.Row): Map[String, Any] =
    Map("rows" -> row.getLong(0),
      "hash" -> Option(row.getDecimal(1)).map(_.toString).getOrElse("0"))

  private def failure(e: Throwable): Map[String, Any] =
    Map("error" -> Option(e.getMessage).getOrElse(e.toString).take(300))

  /** Times one query's three phases and returns its fingerprint, or the
    * error it threw. */
  private def runQuery(spark: SparkSession, q: String, data: String): Map[String, Any] =
    try {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, data)
      val t1 = System.nanoTime()
      val actionMs = System.currentTimeMillis()
      val fp = fingerprint(df)
      fp.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val row = fp.collect().head
      val t3 = System.nanoTime()
      Map("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
        "exec_s" -> (t3 - t2) / 1e9, "wall_s" -> (t3 - t0) / 1e9,
        "action_ms" -> actionMs) ++ fingerprintOf(row)
    } catch { case scala.util.control.NonFatal(e) => failure(e) }

  /** The warm-up form of a query: builds it, writes the result under
    * `dir`, and fingerprints the written copy. */
  private def writeQuery(spark: SparkSession, q: String, data: String,
                         dir: String): Map[String, Any] =
    try {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
      val wall = (System.nanoTime() - t0) / 1e9
      Map("wall_s" -> wall) ++
        fingerprintOf(fingerprint(spark.read.parquet(s"$dir/$q")).collect().head)
    } catch { case scala.util.control.NonFatal(e) => failure(e) }
}
