package graft.perfbench

/** Maps a call stack to the pipeline layer it is working in.
  *
  * The stack is scanned from the innermost frame outwards and the first
  * frame naming a layer's public function wins, so a job fired by
  * `Ingest.readJson` inside `PurpleAirPipeline.run` inside
  * `Pipelines.processor` counts as `sources.infer`.  The same rules
  * classify Spark job call sites (listener side) and samples of the
  * tick thread's stack (driver side). */
object Layers {
  val ConfigScan = "pipeline.config_scan"
  val Dispatch = "pipeline.dispatch"
  val Run = "pipeline.run"
  val Measurand = "measurand.dim"
  val Infer = "sources.infer"
  val Csv = "sinks.csv"
  val Envelope = "sinks.envelope"
  val Diff = "sinks.diff"
  val Watermark = "sinks.watermark"
  val Summary = "sinks.summary"
  val Other = "other"

  private def rule(cls: String, m: String): Option[String] = cls match {
    case "graft.sources.Ingest$" =>
      if (m.contains("readSourceConfigs")) Some(ConfigScan)
      else if (m.contains("readJson") || m.contains("readCsv")) Some(Infer)
      else None
    case "graft.sinks.Sinks$" =>
      if (m.contains("writeMeasuresCsv")) Some(Csv)
      else if (m.contains("writeEnvelopeJson")) Some(Envelope)
      else if (m.contains("diffWriteStations")) Some(Diff)
      else if (m.contains("Watermark")) Some(Watermark)
      else if (m.contains("summarize")) Some(Summary)
      else None
    case "graft.pipeline.CmuPipeline$" if m.contains("maxFileTimestamp") =>
      Some(Watermark)
    case "graft.measurand.Measurands$" if m.contains("supported") =>
      Some(Measurand)
    // processor's own action is the K5 `stations.count()`
    case "graft.pipeline.Pipelines$" if m.contains("processor") =>
      Some(Summary)
    case "graft.perfbench.TickBench$" if m.contains("collectSummaries") =>
      Some(Summary)
    case "graft.pipeline.Scheduler$" =>
      if (m.contains("runOne")) Some(Dispatch)
      else if (m.contains("runDue")) Some(ConfigScan)
      else None
    case c if c.startsWith("graft.pipeline.") && c.endsWith("Pipeline$") &&
        (m == "run" || m.contains("$run$")) =>
      Some(Run)
    case _ => None
  }

  /** Frames as (class, method), innermost first. */
  def classify(frames: Iterator[(String, String)]): Option[String] =
    frames.flatMap { case (c, m) => rule(c, m) }.nextOption()

  def ofStack(st: Array[StackTraceElement]): Option[String] =
    classify(st.iterator.map(e => (e.getClassName, e.getMethodName)))

  /** A Spark call-site long form: one `cls.method(File.scala:N)` per
    * line, innermost first. */
  def ofCallSite(details: String): Option[String] =
    classify(details.linesIterator.map(_.trim.stripPrefix("at "))
      .map(l => l.takeWhile(_ != '('))
      .filter(_.contains('.'))
      .map { f =>
        val i = f.lastIndexOf('.')
        (f.substring(0, i), f.substring(i + 1))
      })
}
