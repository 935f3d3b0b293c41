package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.{Dev, Json}

/** The dev CLI's modes run on a caller's session and leave it running;
  * `stages` records every stage of a profiled run. */
class DevSpec extends SparkSpec {

  test("Dev stages records a shuffling query's stages, named by graft frames") {
    // x23 checkpoints its per-source groupBy while it builds, so those
    // stages run under a graft.ext frame
    val runs = Dev.stages(spark, sf0001, "x23_source_mix", runs = 2,
      history = 0)
    assert(runs.size == 2)
    for ((wall, st) <- runs) {
      assert(wall > 0)
      assert(st.size >= 2, st)
      assert(st.forall(_.ms >= 0), st)
      assert(st.exists(_.name.startsWith("graft.")), st.map(_.name))
    }
  }

  test("time, explain and stages leave the session running") {
    Dev.time(spark, sf0001, Seq("a6_distinct"))
    Dev.explain(spark, sf0001, "a6_distinct", "simple")
    Dev.stages(spark, sf0001, "a6_distinct", runs = 1, history = 1)
    assert(!spark.sparkContext.isStopped)
  }

  test("Json.quote round-trips quotes, backslashes and control characters") {
    val mapper = new ObjectMapper()
    for (s <- Seq("", "plain", "a\"b", "c\\d", "e\nf", "g\th", "i\u0001j",
        "\"\\\n\t\u0001\r\u001f mixed"))
      assert(mapper.readValue(Json.quote(s), classOf[String]) == s)
  }
}
