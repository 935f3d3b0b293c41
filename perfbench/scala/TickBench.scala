package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.{Pipelines, Scheduler}
import org.apache.spark.perfbench.BusQuiet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5}

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.lang.management.ManagementFactory
import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs scheduler ticks over generated provider payloads and writes what
  * it observed as one JSON document; `perfbench/run.py` generates the
  * payloads, checks the observations and prints the metrics.
  *
  * A tick is one `Scheduler.runDue` call over every provider (default
  * arguments apart from a timestamp-only run listener) followed by
  * collecting each provider's K5 summary, since the summary is the
  * tick's published result.  Ticks run back to back on one thread.
  * Everything else — snapshot reads, output counts, a full GC for the
  * retained-heap reading — happens between ticks, outside the timed
  * region.
  *
  * Usage: TickBench <plan.json>.  The plan names the workload, the
  * config directory, the input paths per variant, the run length and
  * whether to trace.
  */
object TickBench {
  private val mapper = new ObjectMapper()
  private val StationProviders = Seq("cmu", "habitatmap", "purpleair", "senstate")
  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Object]])
      .asScala
    def str(k: String) = plan(k).toString
    def strMap(m: Object) =
      m.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> v.toString }.toMap
    val workload = str("workload")
    val work = str("work_dir")
    val cores = str("cores").toInt
    val seconds = str("seconds").toDouble
    val traced = str("trace").toBoolean
    val variants = plan("inputs").asInstanceOf[java.util.Map[String, Object]]
      .asScala.map { case (k, v) => k -> strMap(v) }.toMap
    val fleet = workload == "tick_fleet"

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
    val sessionReady = uptimeS()

    val bench = new TickBench(spark, str("config_dir"), cores)
    val trace = if (traced) Some(new JobTrace) else None
    trace.foreach(spark.sparkContext.addSparkListener(_))

    // warm-up: the first tick in a fresh JVM pays class loading, JIT and
    // code generation; on tick_fleet it also seeds the station snapshot.
    // tick_fleet alternates variants A and B from there on, so every
    // later tick takes the warm diff path.
    val outOf = (g: Int) => if (fleet) s"$work/out/state" else s"$work/out/t$g"
    val variantOf = (g: Int) => variants(if (fleet && g % 2 == 1) "B" else "A")
    val warm = bench.tick(variantOf(0), outOf(0), trace, parallelism = cores)
    val setup = Map("session_s" -> sessionReady, "warmup_s" -> warm("wall_s"),
      "ready_s" -> uptimeS())

    // closed loop: the next tick starts when the previous one is done
    val ticks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var g = 1
    while (ticks.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      ticks += bench.tick(variantOf(g), outOf(g), trace); g += 1
    }
    val traceOut = trace.map { _ =>
      val traced = bench.tick(variantOf(g), outOf(g), trace, record = true)
      traced ++ Map("untraced_jobs" -> ticks.last("jobs_started"),
        "untraced_wall_s" -> ticks.last("wall_s"),
        "run_probe_s" -> bench.runProbe(variantOf(g)))
    }
    val result = Map(
      "env" -> Map("java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "master" -> s"local[$cores]",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_cpus" -> Runtime.getRuntime.availableProcessors),
      "setup" -> setup, "warmup" -> Seq(warm), "ticks" -> ticks.toSeq) ++
      traceOut.map("trace" -> _)
    spark.stop()
    val out = new File(str("result_path"))
    mapper.writerWithDefaultPrettyPrinter().writeValue(out, toJava(result))
  }

  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def toJava(v: Any): Object = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Object]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x.asInstanceOf[Object]
  }

  /** Collects every provider's K5 summary row; a method of its own so the
    * traced run bills these jobs to the summary layer. */
  def collectSummaries(spark: SparkSession, rs: Seq[Scheduler.RunResult],
                       providerKey: Option[String]): Map[String, Map[String, Any]] =
    rs.map { r =>
      providerKey.foreach(spark.sparkContext.setLocalProperty(_, r.provider))
      val row = r.summary.map(_.collect().head)
      providerKey.foreach(spark.sparkContext.setLocalProperty(_, null))
      def ts(i: Int) = row.flatMap(x => Option(x.getTimestamp(i)))
        .map(t => TsFormat.format(t.toLocalDateTime))
      r.provider -> Map[String, Any]("ok" -> r.ok, "error" -> r.error,
        "locations" -> row.map(_.getLong(1)),
        "measures" -> row.map(_.getLong(2)), "from" -> ts(3), "to" -> ts(4))
    }.toMap
}

class TickBench(spark: SparkSession, configDir: String, cores: Int) {
  import TickBench._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One tick plus its untimed checks.  With a listener attached the
    * tick's jobs are counted; `record` adds the full trace. */
  def tick(inputs: Map[String, String], outDir: String,
           listener: Option[JobTrace], record: Boolean = false,
           parallelism: Int = 1): Map[String, Any] = {
    val trace = listener.filter(_ => record)
    val before = snapshot(outDir)
    val marks = mutable.ArrayBuffer.empty[(String, Long)]
    def mark(p: String): Unit = marks.synchronized { marks += p -> System.nanoTime() }
    val runListener = new Scheduler.RunListener {
      override def onSuccess(p: String, s: DataFrame): Unit = mark(p)
      override def onError(p: String, e: Throwable): Unit = mark(p)
    }
    val seamS = mutable.LinkedHashMap.empty[String, Double]
    val sc = spark.sparkContext
    val providerKey = trace.map(_.ProviderKey)
    // the `process` seam wrapper: tags the provider's jobs and times it
    val seam = (s: SparkSession, p: String, in: String, out: String) => {
      sc.setLocalProperty(providerKey.get, p)
      val t = System.nanoTime()
      try Pipelines.processor(s, p, in, out)
      finally {
        seamS(p) = (System.nanoTime() - t) / 1e9
        sc.setLocalProperty(providerKey.get, null)
      }
    }
    if (listener.isDefined) BusQuiet.await(sc)
    val jobs0 = listener.map(_.jobsStarted.get)
    val sampler = trace.map { tr =>
      tr.start()
      val smp = new StackSampler(Thread.currentThread(), 5)
      smp.start()
      smp
    }
    val wall0 = System.currentTimeMillis()
    val (jit0, gc0) = (jitMs(), gcMs())
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val rs =
      if (trace.isDefined)
        Scheduler.runDue(spark, configDir, "hour", inputs, outDir, runListener,
          process = seam)
      else
        Scheduler.runDue(spark, configDir, "hour", inputs, outDir, runListener,
          parallelism = parallelism)
    val k5 = collectSummaries(spark, rs, providerKey)
    val t1 = System.nanoTime()
    val cpu1 = os.getProcessCpuTime
    val (jit1, gc1) = (jitMs(), gcMs())
    val wall1 = System.currentTimeMillis()
    val layerWall = sampler.map(_.finish())
    if (listener.isDefined) BusQuiet.await(sc)
    trace.foreach(_.stop())
    val jobs = listener.map(_.jobsStarted.get - jobs0.get)

    val providerS = marks.zip((t0 +: marks.map(_._2).toSeq).init).map {
      case ((p, t), prev) => p -> (t - prev) / 1e9 }.toMap
    val after = snapshot(outDir)
    val changed = after.count { case (k, h) => !before.get(k).contains(h) }
    val base = Map[String, Any](
      "wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "jit_s" -> (jit1 - jit0) / 1e3, "gc_s" -> (gc1 - gc0) / 1e3,
      "provider_s" -> providerS, "k5" -> k5,
      "measure_rows" -> measureRows(outDir, rs.map(_.provider)),
      "stations_changed" -> changed, "stations_total" -> after.size,
      "old_gen_mb" -> retainedHeapMb(),
      "jobs_started" -> jobs)
    trace.fold(base) { tr =>
      base ++ Map("seam_s" -> seamS.toMap, "layer_wall_s" -> layerWall.get,
        "window_ms" -> Seq(wall0, wall1), "listener" -> tr.summary(wall0, wall1, cores),
        "output" -> outputFiles(outDir))
    }
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Station snapshot: node key -> md5 of its rendered JSON, over every
    * station-object provider. */
  private def snapshot(outDir: String): Map[String, String] =
    StationProviders.flatMap { p =>
      val dir = s"$outDir/stations/$p"
      if (!new File(dir).exists()) Nil
      else spark.read.parquet(dir)
        .select(col("sensor_node_id").cast("string"), md5(col("json")))
        .collect().map(r => s"$p/${r.getString(0)}" -> r.getString(1)).toSeq
    }.toMap

  /** Heap in use right after a full collection, which leaves only the
    * old generation. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir).filterNot(f =>
      f.getName.startsWith(".") || f.getName.startsWith("_"))
    else dir.listFiles().toSeq.flatMap(dataFiles)

  private def gzLines(f: File): Iterator[String] = {
    val r = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(new FileInputStream(f)), "UTF-8"))
    Iterator.continually(r.readLine()).takeWhile { l =>
      if (l == null) r.close(); l != null }
  }

  /** Rows each provider wrote: CSV data lines for station providers (and
    * HabitatMap's mobile file), measures inside the v0.1 envelopes for
    * the rest. */
  private def measureRows(outDir: String, providers: Seq[String]): Map[String, Long] = {
    def csvRows(dir: String) = dataFiles(new File(dir))
      .map(f => (gzLines(f).size - 1).max(0).toLong).sum
    providers.flatMap { p =>
      if (StationProviders.contains(p)) {
        Seq(p -> csvRows(s"$outDir/measures/$p")) ++
          (if (p == "habitatmap")
            Seq("habitatmap-mobile" -> csvRows(s"$outDir/measures/$p-mobile"))
          else Nil)
      } else Seq(p -> dataFiles(new File(s"$outDir/measures-json/$p"))
        .map(f => gzLines(f).map(l => mapper.readTree(l).get("measures").size.toLong).sum)
        .sum)
    }.toMap
  }

  private def outputFiles(outDir: String): Map[String, Any] = {
    val fs = dataFiles(new File(outDir))
    Map("files" -> fs.size, "bytes" -> fs.map(_.length).sum)
  }

  /** `ProviderPipeline.run` plus one no-op materialization of each of its
    * outputs, per provider: the cost of sources, transform and measurand
    * with no sink in the way. */
  def runProbe(inputs: Map[String, String]): Map[String, Double] =
    Pipelines.registry.keys.toSeq.sorted.map { p =>
      val t = System.nanoTime()
      val b = Pipelines.registry(p).run(spark, inputs(p))
      (Seq(b.measures, b.stations) ++ b.mobileMeasures)
        .foreach(_.write.format("noop").mode("overwrite").save())
      p -> (System.nanoTime() - t) / 1e9
    }.toMap
}
