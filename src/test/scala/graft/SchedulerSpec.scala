package graft

import graft.pipeline.Scheduler
import graft.sources.Ingest
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SchedulerSpec extends SparkSpec {
  import spark.implicits._

  lazy val configDir: String = fixture("sources")

  test("S1 config scan: active-only, frequency enum enforced") {
    val configs = Ingest.readSourceConfigs(spark, configDir)
    val providers = configs.select("provider").as[String].collect().toSet
    // cmu inactive, badfreq rejected by the enum
    assert(providers == Set("purpleair", "habitatmap", "clarity"))
    // schema fields parsed, meta map accessible
    val meta = configs.filter($"provider" === "clarity")
      .select(element_at($"meta", "url"), $"secretKey")
      .as[(String, String)].first()
    assert(meta == ("recorded", "clarity-key"))
  }

  test("scheduler tick runs due sources, isolates per-source failures") {
    val out = java.nio.file.Files.createTempDirectory("graft_sched_").toString
    val results = Scheduler.runDue(spark, configDir, "hour",
      Map("purpleair" -> fixture("purpleair.json")), // habitatmap missing!
      out)
    assert(results.map(_.provider) == Seq("habitatmap", "purpleair"))
    val byName = results.map(r => r.provider -> r).toMap
    assert(byName("purpleair").ok)
    assert(!byName("habitatmap").ok)
    assert(byName("habitatmap").error.get.contains("no recorded input"))
    // successful source produced its summary and artifacts
    val s = byName("purpleair").summary.get.first()
    assert(s.getLong(2) == 26)
    assert(new java.io.File(s"$out/measures/purpleair").exists())
  }

  test("K5 run listener receives success and error topic events") {
    val out = java.nio.file.Files.createTempDirectory("graft_sns_").toString
    val ok = scala.collection.mutable.ArrayBuffer[String]()
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val listener = new Scheduler.RunListener {
      override def onSuccess(provider: String,
                             summary: org.apache.spark.sql.DataFrame): Unit = {
        ok += provider
        // the success payload is the K5 summary shape
        assert(summary.columns.toSeq ==
          Seq("source_name", "locations", "measures", "from", "to"))
        ()
      }
      override def onError(provider: String, error: Throwable): Unit = {
        failed += provider -> error.getMessage; ()
      }
    }
    Scheduler.runDue(spark, configDir, "hour",
      Map("purpleair" -> fixture("purpleair.json")), out, listener)
    assert(ok.toSeq == Seq("purpleair"))
    assert(failed.map(_._1).toSeq == Seq("habitatmap"))
    assert(failed.head._2.contains("no recorded input"))
  }

  test("parallel tick: concurrent sources, same results and isolation") {
    val out = java.nio.file.Files.createTempDirectory("graft_par_").toString
    val results = Scheduler.runDue(spark, configDir, "hour",
      Map("purpleair" -> fixture("purpleair.json")), out,
      parallelism = 4)
    assert(results.map(_.provider) == Seq("habitatmap", "purpleair"))
    val byName = results.map(r => r.provider -> r).toMap
    assert(byName("purpleair").ok && !byName("habitatmap").ok)
    assert(byName("purpleair").summary.get.first().getLong(2) == 26)
  }

  test("per-source isolation holds for Error-rooted failures (NonFatal)") {
    val out = java.nio.file.Files.createTempDirectory("graft_err_").toString
    // the `process` seam stands in for a pipeline whose codegen/assembly
    // fails with an Error-rooted throwable (e.g. a wrapped
    // CompileException) — the tick must capture it and keep going
    val results = Scheduler.runDue(spark, configDir, "hour",
      Map("purpleair" -> fixture("purpleair.json"),
        "habitatmap" -> fixture("habitatmap.json")), out,
      process = (s, p, in, o) =>
        if (p == "habitatmap") throw new AssertionError("codegen blew up")
        else graft.pipeline.Pipelines.processor(s, p, in, o))
    val byName = results.map(r => r.provider -> r).toMap
    assert(!byName("habitatmap").ok)
    assert(byName("habitatmap").error.get.contains("codegen blew up"))
    assert(byName("purpleair").ok) // the Error did not kill the tick
  }

  test("tick timeout: a hung provider becomes a RunResult error, the " +
    "rest of the tick completes") {
    import scala.concurrent.duration._
    val out = java.nio.file.Files.createTempDirectory("graft_to_").toString
    val errored = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new Scheduler.RunListener {
      override def onError(provider: String, error: Throwable): Unit = {
        errored.add(provider); ()
      }
    }
    val results = Scheduler.runDue(spark, configDir, "hour",
      Map("purpleair" -> fixture("purpleair.json"),
        "habitatmap" -> fixture("habitatmap.json")), out,
      listener, parallelism = 2,
      process = (s, p, in, o) =>
        // habitatmap stands in for a provider wedged on a dead upstream
        if (p == "habitatmap") { Thread.sleep(600000L); null }
        else graft.pipeline.Pipelines.processor(s, p, in, o),
      tickTimeout = 15.seconds)
    val byName = results.map(r => r.provider -> r).toMap
    assert(results.map(_.provider) == Seq("habitatmap", "purpleair"))
    assert(!byName("habitatmap").ok)
    assert(byName("habitatmap").error.get.contains("tick timeout"))
    assert(byName("purpleair").ok,
      "the deadline must not fail providers that finished in time")
    assert(errored.contains("habitatmap"), "timeout hits the error topic")
  }

  test("tick timeout cancels the stragglers' Spark jobs, in and outside " +
    "SQL executions") {
    import scala.concurrent.duration._
    val out = java.nio.file.Files.createTempDirectory("graft_cancel_").toString
    val sc = spark.sparkContext
    val stragglers = Seq("habitatmap", "purpleair")
    // job id -> provider whose tag it carries
    val tagged = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
          .split(",")
        stragglers.find(p => tags.exists(_.endsWith(Scheduler.providerTag(p))))
          .foreach(tagged.put(j.jobId, _))
      }
    }
    // about 1000 s of 1 ms rows per task; both scans check for a kill
    // per row or per batch
    val slow = udf { (x: Long) => Thread.sleep(1); x }
    sc.addSparkListener(l)
    try {
      val results = Scheduler.runDue(spark, configDir, "hour",
        stragglers.map(p => p -> fixture(s"$p.json")).toMap, out,
        parallelism = 2,
        process = (s, p, _, _) => {
          if (p == "habitatmap") // a SQL execution
            s.range(0, 2000000, 1, 2).select(sum(slow(col("id")))).collect()
          else // an RDD action, like schema inference: no SQL execution
            s.sparkContext.parallelize(0 until 2000000, 2)
              .map { x => Thread.sleep(1); x }.count()
          null
        },
        tickTimeout = 5.seconds)
      assert(results.forall(_.error.exists(_.contains("tick timeout"))),
        results)
      org.apache.spark.graftbridge.BusDrain.await(sc)
      import scala.jdk.CollectionConverters._
      assert(tagged.values.asScala.toSet == stragglers.toSet,
        s"jobs carrying a provider tag: $tagged")
      def stillActive = sc.statusTracker.getActiveJobIds().toSet
        .filter(tagged.containsKey)
      val deadline = System.nanoTime() + 5.seconds.toNanos
      while (stillActive.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(stillActive.isEmpty,
        s"tagged jobs $stillActive still active after the tick timed out")
    } finally sc.removeSparkListener(l)
  }

  test("minute tick runs clarity alone (frequency classes)") {
    val out = java.nio.file.Files.createTempDirectory("graft_sched2_").toString
    val results = Scheduler.runDue(spark, configDir, "minute",
      Map("clarity" -> fixture("clarity.json")), out)
    assert(results.map(_.provider) == Seq("clarity") && results.head.ok)
    assert(new java.io.File(s"$out/measures-json/clarity").exists())
  }

  test("malformed payloads on the product path: truncated, wrong-typed, " +
    "empty and zero-byte inputs never escape the tick; each provider is ok " +
    "with a K7-empty summary or a captured error") {
    import java.nio.file.{Files, Path}
    import graft.pipeline.Pipelines
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fx = java.nio.file.Paths.get(fixture("cmu")).getParent
    // provider -> (payload files relative to the fixture root, input path
    // relative to the case directory)
    val payloads = Pipelines.registry.keys.toSeq.sorted.map {
      case "cmu" => "cmu" -> (Seq("cmu/Location_Data 2020-07-17 11_45.csv",
        "cmu/Location_Data 2020-07-17 12_00.csv"), "cmu/*.csv")
      case "cpcb" => "cpcb" -> (Seq("cpcb/stations.csv",
        "cpcb/measurements.csv"), "cpcb")
      case "iqair" => "iqair" -> (Seq("iqair.csv"), "iqair.csv")
      case p => p -> (Seq(s"$p.json"), s"$p.json")
    }
    val csvProviders = Set("cmu", "cpcb", "iqair")
    def lines(csv: String) = csv.linesIterator.toSeq
    def emptied(n: ObjectNode): ObjectNode = {
      n.fieldNames().asScala.toSeq.foreach { f =>
        n.get(f) match {
          case _: ArrayNode => n.set[ObjectNode](f, mapper.createArrayNode())
          case o: ObjectNode => emptied(o)
          case _ =>
        }
      }
      n
    }
    def wrongTyped(n: ObjectNode): ObjectNode = {
      n.fieldNames().asScala.toSeq.foreach(f => n.put(f, "wrong"))
      n
    }
    def doc(text: String) = mapper.readTree(text).asInstanceOf[ObjectNode]
    // case -> (JSON payload rewrite, CSV file rewrite).  A CSV cut in
    // half keeps the rows before the cut, so only the JSON half of the
    // truncated case must come back empty.
    val cases: Seq[(String, String => String, String => String)] = Seq(
      ("truncated", t => t.take(t.length / 2), t => t.take(t.length / 2)),
      ("wrong-typed", t => wrongTyped(doc(t)).toString,
        t => (lines(t).head +: lines(t).tail.map(_.split(",", -1)
          .map(_ => "wrong").mkString(","))).mkString("\n")),
      ("empty arrays", t => emptied(doc(t)).toString, t => lines(t).head),
      ("zero-byte", _ => "", _ => ""))
    val outcomes = cases.map { case (name, json, csv) =>
      val root = Files.createTempDirectory("graft_malformed_")
      val cfg = Files.createDirectories(root.resolve("sources"))
      val inputs = payloads.map { case (p, (files, input)) =>
        Files.writeString(cfg.resolve(s"$p.json"), s"""{"schema": "v1", """ +
          s""""provider": "$p", "frequency": "hour", "active": true}""")
        files.foreach { f =>
          val text = Files.readString(fx.resolve(f))
          val dest: Path = root.resolve("in").resolve(f)
          Files.createDirectories(dest.getParent)
          Files.writeString(dest, if (f.endsWith(".json")) json(text) else csv(text))
        }
        p -> root.resolve("in").resolve(input).toString
      }.toMap
      val results = Scheduler.runDue(spark, cfg.toString, "hour", inputs,
        root.resolve("out").toString)
      assert(results.map(_.provider) == payloads.map(_._1), name)
      name -> results.map { r =>
        val outcome =
          if (r.ok) {
            val s = r.summary.get.collect().head
            val k7Empty = s.getLong(2) == 0 && s.isNullAt(3) && s.isNullAt(4)
            assert(k7Empty || (name == "truncated" && csvProviders(r.provider)),
              s"$name ${r.provider}: summary $s is not K7-empty")
            s"ok(${s.getLong(1)}/${s.getLong(2)})"
          } else {
            assert(r.error.exists(_.nonEmpty), s"$name ${r.provider}")
            "error"
          }
        r.provider -> outcome
      }
    }
    outcomes.foreach { case (name, rs) =>
      println(s"[malformed] $name: " + rs.map { case (p, o) => s"$p=$o" }
        .mkString(", "))
    }
  }
}

/** Plan-shape regression tests: the physical plans we rely on at scale. */
class PlanShapeSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
      case p => p.treeString
    }
  }

  test("J1 measurand join broadcasts the dimension side") {
    val plan = planString("j1_measurand_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastQueryStage"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("scans prune columns: j1 reads 4 of 11 lineitem columns") {
    val plan = planString("j1_measurand_join")
    assert(plan.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
        "l_linenumber:int,l_quantity:double>"), plan)
  }

  test("whole-stage codegen covers the hot path of f13 melt") {
    val df = SparkEntry.queries("f13_melt")(spark, sf0001)
    val codegen = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegen.nonEmpty)
  }
}
