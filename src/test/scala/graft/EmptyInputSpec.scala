package graft

/** Empty-input resilience: every declared query runs against zero-row
  * copies of all input tables without throwing — the shape of an empty
  * source partition, provider outage, or brand-new day at scale.
  * Global aggregates (a1/a3/a7/k3/x68) legitimately emit one null/zero row
  * on empty input (DuckDB's global-agg semantics — same shape the
  * oracle would produce); fixed-shape reports (the 4-step funnel, the
  * dim-row zero model) emit exactly their shape; everything else must
  * return zero rows. */
class EmptyInputSpec extends SparkSpec {

  /** Write zero-row copies of every input table (schemas preserved;
    * events stays RAW nanos longs — Tables.events floors ts DIV 1000
    * on read, so a pre-floored TIMESTAMP would re-divide) and return
    * the staged dir. */
  private def stageEmpty(src: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$src/$t.parquet")
        .limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every declared query survives empty input tables") {
    val dir = stageEmpty(sf0001)
    val globalAggSingletons = Set(
      "a1_batch_from_to", "a3_watermark_max", "a7_count_compare",
      "k3_envelope", "x68_source_concentration", "x97_model_eval")
    // fixed-shape reports: row count is a function of the OPERATOR's
    // parameters, not the data — the oracle produces the same shape
    val fixedShape = Map(
      "x93_funnel_steps" -> 4L,    // one row per declared step
      "x95_quality_train" -> 64L)  // dim-row zero model (untrained)
    val failures = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val n = fn(spark, dir).count()
        if (n > 0 && !globalAggSingletons.contains(name) &&
            !fixedShape.contains(name))
          failures += s"$name returned $n rows on empty input"
        if (n != 1 && globalAggSingletons.contains(name))
          failures += s"$name: global agg should emit exactly 1 row, got $n"
        if (fixedShape.contains(name) && n != fixedShape(name))
          failures += s"$name: fixed-shape report should emit exactly " +
            s"${fixedShape(name)} rows, got $n"
      } catch {
        case e: Throwable =>
          failures += s"$name THREW ${e.getClass.getSimpleName}: " +
            e.getMessage.replaceAll("\n", " ").take(120)
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
