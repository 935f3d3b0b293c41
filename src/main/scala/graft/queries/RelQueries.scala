package graft.queries

import graft.{Q, Tables}
import graft.functions.ColumnFns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core — SURVEY.md §2.3 joins (J1–J7), §2.4 aggregations
  * (A1–A7), §2.5 windows (W1–W5), §2.6 sort/limit/set-ops — each declared
  * as a (Spark query, DuckDB oracle) pair over the driver's tables.
  *
  * Conventions for oracle hash-parity:
  *  - timestamps leave the plan as `yyyy-MM-dd HH:mm:ss` strings,
  *  - sums over integral doubles are exact; sums over cents-valued doubles
  *    are rounded to 2 decimals on both sides,
  *  - integer sums/counts are cast to BIGINT in DuckDB (it widens to
  *    HUGEINT by default),
  *  - every window has a total order (unique-key tiebreak) so ranks are
  *    deterministic.
  */
object RelQueries {
  private val TS = "yyyy-MM-dd HH:mm:ss"
  private val DTS = "%Y-%m-%d %H:%M:%S"

  val qs: Map[String, Q] = Map(
    // ----- A: aggregations ------------------------------------------------
    // A1 running from/to min/max over the batch (measure.js:20-28)
    "a1_batch_from_to" -> ((s, d) =>
      Tables.orders(s, d).agg(
        date_format(min(col("o_orderdate")), TS).as("from_ts"),
        date_format(max(col("o_orderdate")), TS).as("to_ts"))),

    // A2 per-group counts for the run summary (purpleair.js:88)
    "a2_summary_counts" -> ((s, d) =>
      Tables.orders(s, d).groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
             countDistinct(col("o_custkey")).as("n_customers"))),

    // A3 max watermark across the run (cmu.js:89-91, :109-114)
    "a3_watermark_max" -> ((s, d) =>
      Tables.events(s, d).agg(
        date_format(max(col("ts")), TS).as("watermark"))),

    // A4 distinct parameter count per device (aernode.js:115)
    "a4_distinct_count" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))),

    // A5 group-by-first dedup, deterministic first-wins (cmu.js:143-145)
    "a5_group_first" -> ((s, d) =>
      Tables.customer(s, d).groupBy(col("c_nationkey"))
        .agg(min(col("c_custkey")).as("first_custkey"),
             count(lit(1)).as("n"))),

    // A6 distinct-append of missing keys (clarity.js:51-56)
    "a6_distinct" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderpriority")).distinct()),

    // A7 fetched-vs-kept count compare w/ overfetch flag (utils.js:194-207)
    "a7_count_compare" -> ((s, d) =>
      Tables.events(s, d).agg(
        count(lit(1)).as("fetched"),
        count(when(col("value") <= 200, 1)).as("kept"))
        .withColumn("overfetched", col("fetched") > col("kept"))),

    // ----- J: joins (all dims broadcast — reference does map lookups) -----
    // J1 measurand lookup join + F1 normalization (measurand.js:89-95)
    "j1_measurand_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("p_brand"),
          when(col("p_type") === "SMALL", col("l_quantity") / 1000)
            .when(col("p_type") === "LARGE", col("l_quantity") / 100)
            .otherwise(col("l_quantity")).as("measure"))
    }),

    // J2 supported-measurand semi-join (measurand.js:47-59)
    "j2_supported_semijoin" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
        .filter(col("r_name").isin("ASIA", "EUROPE"))
      n.join(r, n("n_regionkey") === r("r_regionkey"), "left_semi")
    }),

    // J3 datasource enrichment join — hits (clarity.js:100-108)
    "j3_enrich_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d).filter(col("n_regionkey") <= 2)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("label"))
    }),

    // J3 missing-datasource anti report (clarity.js:51-56, :170-172)
    "j3_missing_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d).filter(col("n_regionkey") <= 2)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey"))
    }),

    // J5 station-dedup existence join: first row per key (cmu.js:143-166)
    "j5_first_per_key" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"))
    }),

    // J6 explode nested readings then look up each (senstate.js:71-103)
    "j6_explode_join" -> ((s, d) =>
      Tables.part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))),

    // J7 diff-against-previous CDC join before write (providers.js:101-116)
    "j7_diff_join" -> ((s, d) => {
      val all = Tables.orders(s, d)
      val existing = all.filter(col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey").as("e_key"), col("o_totalprice").as("e_price"))
      val incoming = all.filter(col("o_orderdate") < lit("1999-01-01"))
        .select(col("o_orderkey"), col("o_totalprice"))
      incoming.join(existing, incoming("o_orderkey") === existing("e_key"), "left")
        .filter(col("e_key").isNull || col("o_totalprice") =!= col("e_price"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ----- W: windows -----------------------------------------------------
    // W1 last-3 readings per device (lovemyair.js:127; miri.js:132)
    "w1_last3_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),

    // W2 keep rounds 2..4, drop newest partial round (aernode.js:116-118)
    "w2_rounds_2_to_4" -> ((s, d) => {
      val day = date_trunc("day", col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(day.desc)
      Tables.events(s, d)
        .withColumn("rk", dense_rank().over(w))
        .filter(col("rk").between(2, 4))
        .select(col("user_id"), col("event_id"),
          date_format(day, TS).as("round_day"), col("rk"))
    }),

    // W3 first-12 rows of each day file (iqair.js:140)
    "w3_first12_per_day" -> ((s, d) => {
      val day = date_trunc("day", col("ts"))
      val w = Window.partitionBy(day).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 12)
        .select(date_format(day, TS).as("day"), col("event_id"), col("rn"))
    }),

    // W4 lagged hour-bucket window (airgradient.js:137-159)
    "w4_hour_buckets" -> ((s, d) => {
      val hour = date_trunc("hour", col("ts"))
      Tables.events(s, d)
        .filter(hour.between(lit("2024-01-05 00:00:00"), lit("2024-01-06 23:00:00")))
        .groupBy(date_format(hour, TS).as("hour"))
        .agg(ColumnFns.roundBinary(avg(col("value")), 2).as("avg_value"),
             count(lit(1)).as("n"))
    }),

    // W5 sorted-scan top-k with early exit (cmu.js:254-264)
    "w5_topk_sorted" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // §2.6 union of per-page / per-cohort results (habitatmap.js:199)
    "u1_union_pages" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val cohorts = Seq("FURNITURE", "MACHINERY", "BUILDING")
        .map(seg => c.filter(col("c_mktsegment") === seg))
      cohorts.reduce(_ unionByName _)
        .select(col("c_custkey"), col("c_mktsegment"))
    }))

  val sql: Map[String, String] = Map(
    "a1_batch_from_to" ->
      s"""SELECT strftime(min(o_orderdate), '$DTS') AS from_ts,
         |       strftime(max(o_orderdate), '$DTS') AS to_ts
         |FROM orders""".stripMargin,
    "a2_summary_counts" ->
      """SELECT o_orderpriority AS priority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY 1""".stripMargin,
    "a3_watermark_max" ->
      s"SELECT strftime(max(ts), '$DTS') AS watermark FROM events",
    "a4_distinct_count" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "a5_group_first" ->
      """SELECT c_nationkey, min(c_custkey) AS first_custkey,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1""".stripMargin,
    "a6_distinct" -> "SELECT DISTINCT o_orderpriority FROM orders",
    "a7_count_compare" ->
      """SELECT CAST(count(*) AS BIGINT) AS fetched,
        |       CAST(count(CASE WHEN value <= 200 THEN 1 END) AS BIGINT) AS kept,
        |       count(*) > count(CASE WHEN value <= 200 THEN 1 END) AS overfetched
        |FROM events""".stripMargin,
    "j1_measurand_join" ->
      """SELECT l_orderkey, l_linenumber, p_brand,
        |       CASE WHEN p_type = 'SMALL' THEN l_quantity / 1000
        |            WHEN p_type = 'LARGE' THEN l_quantity / 100
        |            ELSE l_quantity END AS measure
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    "j2_supported_semijoin" ->
      """SELECT * FROM nation
        |WHERE n_regionkey IN
        |  (SELECT r_regionkey FROM region WHERE r_name IN ('ASIA','EUROPE'))""".stripMargin,
    "j3_enrich_join" ->
      """SELECT c_custkey, n_name AS label
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey <= 2""".stripMargin,
    "j3_missing_anti" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)""".stripMargin,
    "j5_first_per_key" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "j6_explode_join" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY 1""".stripMargin,
    "j7_diff_join" ->
      """SELECT i.o_orderkey, i.o_totalprice
        |FROM (SELECT o_orderkey, o_totalprice FROM orders
        |      WHERE o_orderdate < TIMESTAMP '1999-01-01') i
        |LEFT JOIN (SELECT o_orderkey AS e_key, o_totalprice AS e_price
        |           FROM orders
        |           WHERE o_orderdate < TIMESTAMP '1997-01-01') e
        |  ON i.o_orderkey = e.e_key
        |WHERE e.e_key IS NULL OR i.o_totalprice != e.e_price""".stripMargin,
    "w1_last3_per_group" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "w2_rounds_2_to_4" ->
      s"""SELECT user_id, event_id,
         |       strftime(date_trunc('day', ts), '$DTS') AS round_day, rk
         |FROM (
         |  SELECT user_id, event_id, ts,
         |         dense_rank() OVER (PARTITION BY user_id
         |                            ORDER BY date_trunc('day', ts) DESC) AS rk
         |  FROM events) WHERE rk BETWEEN 2 AND 4""".stripMargin,
    "w3_first12_per_day" ->
      s"""SELECT strftime(date_trunc('day', ts), '$DTS') AS day, event_id, rn
         |FROM (
         |  SELECT ts, event_id,
         |         row_number() OVER (PARTITION BY date_trunc('day', ts)
         |                            ORDER BY ts ASC, event_id ASC) AS rn
         |  FROM events) WHERE rn <= 12""".stripMargin,
    "w4_hour_buckets" ->
      s"""SELECT strftime(date_trunc('hour', ts), '$DTS') AS hour,
         |       round(avg(value), 2) AS avg_value,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM events
         |WHERE date_trunc('hour', ts)
         |      BETWEEN TIMESTAMP '2024-01-05 00:00:00'
         |          AND TIMESTAMP '2024-01-06 23:00:00'
         |GROUP BY 1""".stripMargin,
    "w5_topk_sorted" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "u1_union_pages" ->
      """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'FURNITURE'
        |UNION ALL
        |SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'
        |UNION ALL
        |SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin)
}
