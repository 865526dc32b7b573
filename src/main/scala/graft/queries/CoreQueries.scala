package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Seqno
import Tables._

/** SURVEY.md §2.3 Q01–Q23: the relational query surface the reference's
  * output model exists to serve (reference README.md:2,14-18;
  * rosbag_example.cpp:37-73). Every query is deterministic (total ORDER
  * BY) and has a DuckDB oracle twin in `oracle` with identical column
  * names and types.
  *
  * Scale notes are inline per query; the general rules: filters stay
  * pushable (no expressions over the scan columns before the filter),
  * small dimensions are broadcast, derived doubles are rounded so the
  * hash compare is robust to summation-order ULP drift.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  val all: Map[String, Q] = Map(
    // Q01 — time-range filter + sort; predicate pushed to parquet
    // row-group stats (the analog of bag chunk time pruning, README.md:8).
    "q01_range_filter_sort" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp_ntz") &&
                col("l_shipdate") <= lit("1997-06-30").cast("timestamp_ntz"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Q02 — projection / column pruning (README.md:10 motivation).
    "q02_project" -> ((s, d) =>
      events(s, d).select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))),

    // Q03 — hash aggregation, the rosbag-info query (rosbag_example.cpp:37-49).
    "q03_group_agg" -> ((s, d) =>
      events(s, d).groupBy(col("event_type")).agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(28,10)")), 2).cast("double").as("sum_value"),
        ntz(min(col("ts"))).as("min_ts"),
        ntz(max(col("ts"))).as("max_ts"))
        .orderBy(col("event_type"))),

    // Q04 — derived span metrics freq/data_rate (rosbag_example.cpp:28-34).
    "q04_derived_rate" -> ((s, d) =>
      events(s, d).groupBy(col("event_type")).agg(
        count(lit(1)).as("cnt"),
        (max(us(col("ts"))) - min(us(col("ts")))).as("span_us"),
        sum(col("value").cast("decimal(28,10)")).cast("double").as("sv"))
        .select(
          col("event_type"), col("cnt"),
          rk(col("cnt") * lit(1000000.0) / col("span_us"), 6).as("freq_hz"),
          rk(col("sv") * lit(1000000.0) / col("span_us"), 4).as("value_rate"))
        .orderBy(col("event_type"))),

    // Q05 — hierarchical rollup (rosbag_example.cpp:51-65 re-aggregation).
    // region/nation are tiny dims: Catalyst broadcasts both joins.
    "q05_rollup" -> ((s, d) => {
      val j = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      j.rollup(col("r_name"), col("n_name")).agg(
          count(lit(1)).as("cnt"),
          round(sum(col("c_acctbal").cast("decimal(28,10)")), 2).cast("double").as("sum_bal"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    // Q06 — distinct aggregate (implied: connection cardinalities).
    "q06_distinct_agg" -> ((s, d) =>
      orders(s, d).groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("o_orderstatus"))),

    // Q07 — shuffle equi join + agg (seqno/connection join model README.md:119-121).
    "q07_join_agg" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(28,10)")), 2).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))),

    // Q08 — broadcast join with pushed filter on the dimension
    // (the reference's in-memory connection hash join,
    // FlattenedRosWriter.cpp:172-178).
    "q08_broadcast_join" -> ((s, d) =>
      lineitem(s, d)
        .join(broadcast(part(s, d).filter(col("p_size") < 15)),
              col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity").cast("decimal(28,10)")), 2).cast("double").as("qty"))
        .orderBy(col("p_brand"))),

    // Q09 — semi + anti join, counted per nation.
    "q09_semi_anti" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d); val n = broadcast(nation(s, d))
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
        .withColumn("kind", lit("with_orders"))
      val noO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
        .withColumn("kind", lit("without_orders"))
      withO.unionByName(noO).select("n_name", "kind", "cnt")
        .orderBy(col("n_name"), col("kind"))
    }),

    // Q10 — global dense seqno (reference FlattenedRosWriter.cpp:195,256)
    // via the scale-safe range-partition + prefix-sum operator, not a
    // single-partition window (SURVEY.md §7.5).
    "q10_global_seqno" -> ((s, d) => {
      val e = events(s, d).select(col("event_id"), col("ts"))
      Seqno.globalSeqno(e, Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("seqno"))
        .orderBy(col("event_id"))
    }),

    // Q11 — lag() inter-event gaps per user (freq semantics,
    // rosbag_example.cpp:28-30).
    "q11_lag_gaps" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("gap_us", us(col("ts")) - lag(us(col("ts")), 1).over(w))
        .groupBy(col("user_id")).agg(
          count(col("gap_us")).as("n_gaps"),
          min(col("gap_us")).as("min_gap"),
          max(col("gap_us")).as("max_gap"),
          rk(sum(col("gap_us")).cast("double") / count(col("gap_us")), 4).as("avg_gap"))
        .orderBy(col("user_id"))
    }),

    // Q12 — moving average, ROWS frame.
    "q12_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      events(s, d)
        .select(col("event_id"), col("user_id"),
                rk(sum(col("value").cast("decimal(28,10)")).over(w).cast("double") /
                   count(col("value")).over(w), 4).as("mavg"))
        .orderBy(col("event_id"))
    }),

    // Q13 — top-k: planned as TakeOrderedAndProject (no full sort at scale).
    "q13_topk" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),

    // Q14 — limit after sort (reference --max_mbs early stop, O2).
    "q14_limit" -> ((s, d) =>
      events(s, d).select(col("event_id"), col("event_type"))
        .orderBy(col("event_id")).limit(100)),

    // Q15 — union-all of type-filtered projections (per-type ↔ spine
    // reconstruction, README.md:108-121).
    "q15_union" -> ((s, d) => {
      val e = events(s, d)
      e.filter(col("event_type") === "click").select(col("event_id"), col("value"))
        .unionByName(
          e.filter(col("event_type") === "view").select(col("event_id"), col("value")))
        .orderBy(col("event_id"))
    }),

    // Q16 — intersect / except, tagged into one relation.
    "q16_setops" -> ((s, d) => {
      val c = customer(s, d)
      val a = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      val b = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      a.intersect(b).withColumn("kind", lit("intersect"))
        .unionByName(a.except(b).withColumn("kind", lit("except")))
        .select(col("kind"), col("c_custkey"))
        .orderBy(col("kind"), col("c_custkey"))
    }),

    // Q17 — string functions (sanitize O19, MessageTable.cpp:315).
    "q17_string_funcs" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        regexp_replace(col("p_type"), " ", "_").as("type_sanitized"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 5).as("name_5"),
        length(col("p_name")).cast("long").as("name_len"))
        .orderBy(col("p_partkey"))),

    // Q18 — sec/usec decomposition + timestamp rebuild (time model,
    // MessageTable.cpp:187-203,284-292).
    "q18_date_funcs" -> ((s, d) =>
      events(s, d).select(
        col("event_id"),
        (us(col("ts")) / lit(1000000L)).cast("long").as("sec"),
        (us(col("ts")) % lit(1000000L)).as("micros"),   // % matches DuckDB
        ntz(timestamp_micros(us(col("ts")))).as("rebuilt"),
        ntz(date_trunc("day", col("ts"))).as("day"))
        .orderBy(col("event_id"))),

    // Q19 — JSON extraction on events.props. The interpreted
    // (CodegenFallback) JSON parse is this query's entire per-row
    // cost, and the naive form pays it TWICE per row: the optimizer
    // reconstitutes the k_val filter below the Project, so
    // get_json_object evaluates in the Filter AND again in the
    // Project. (The round-18 filter-after-aggregate move did NOT fix
    // this — Catalyst pushed the group-key predicate straight back
    // below the aggregate; the r18 after-plan showed both evals, as
    // the round-18 verdict called out.) The fix that sticks: make the
    // k_val projection NON-DETERMINISTIC (guide §4.4) by adding
    // `cast(rand()*0 as long)` — exactly 0 for every row and NULL-
    // transparent (null + 0 = null), so values are bit-identical —
    // which forbids Catalyst from duplicating or reordering the
    // expression past the projection boundary. The filter then runs
    // ABOVE the projection on the computed column: ONE
    // get_json_object per scanned row (a single Project(get_json_object)
    // below Filter(isnotnull AND >= 50)), and it still prunes before
    // the aggregation.
    "q19_json" -> ((s, d) =>
      events(s, d)
        .withColumn("k_val",
          get_json_object(col("props"), "$.k").cast("long") +
            (rand() * 0).cast("long"))
        .filter(col("k_val") >= 50)
        .groupBy(col("k_val")).agg(
          count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(28,10)")), 2).cast("double").as("sum_value"))
        .orderBy(col("k_val"))),

    // Q20 — array functions over embeddings (arrays extension,
    // README.md:126-129). Dot/norm folded in DOUBLE, sequentially, so
    // the oracle's list_* fold matches bit-for-bit after round().
    "q20_array_funcs" -> ((s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).as("first_elem"),
        element_at(col("embedding"), -1).as("last_elem"),
        rk(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 6).as("l2_norm"))
        .orderBy(col("vec_id"))),

    // Q21 — cube over (event_type, day).
    "q21_cube" -> ((s, d) =>
      events(s, d)
        .withColumn("day", ntz(date_trunc("day", col("ts"))))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))),

    // Q22 — as-of join: latest event per user at-or-before each order
    // date (sensor-stream alignment, SURVEY.md §7.6). Union + window
    // carry-forward: ONE shuffle by user_id, no single-partition stage,
    // no cross product — survives 100× scale (skew note: hot users
    // bound the window partition, salt if a user exceeds task memory).
    "q22_asof_join" -> ((s, d) => {
      val e = events(s, d).groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("event_id"))
      val left = e.select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("long").as("o_orderkey"), lit(0).as("tag"))
      val right = orders(s, d).select(col("o_custkey").as("user_id"),
        col("o_orderdate").as("ts"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"), lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      left.unionByName(right)
        .withColumn("matched_event_id", last(col("event_id"), ignoreNulls = true).over(w))
        .withColumn("matched_ts",
          ntz(last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w)))
        .filter(col("tag") === 1)
        .select(col("o_orderkey"), col("matched_event_id"), col("matched_ts"))
        .orderBy(col("o_orderkey"))
    }),

    // Q23 — range join: events within ±1 day of the user's order date.
    // Equi key (user) + range post-filter keeps Catalyst on a hash/SMJ
    // join, never BNLJ (SURVEY.md §7.6).
    "q23_range_join" -> ((s, d) => {
      val e = events(s, d).select(col("user_id"), col("ts"), col("event_id"))
      orders(s, d)
        .join(e, col("user_id") === col("o_custkey") &&
          col("ts") >= col("o_orderdate") - expr("INTERVAL 1 DAY") &&
          col("ts") <= col("o_orderdate") + expr("INTERVAL 1 DAY"), "left")
        .groupBy(col("o_orderkey")).agg(count(col("event_id")).as("n_events"))
        .orderBy(col("o_orderkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q01_range_filter_sort" ->
      """SELECT * FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-03-01' AND TIMESTAMP '1997-06-30'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_project" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id",
    "q03_group_agg" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_type, COUNT(*) AS cnt, CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_value,
        |       MIN(ts) AS min_ts, MAX(ts) AS max_ts
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q04_derived_rate" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |g AS (
        |  SELECT event_type, COUNT(*) AS cnt,
        |         MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us,
        |         CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv
        |  FROM ev GROUP BY event_type)
        |SELECT event_type, cnt,
        |       FLOOR(cnt * 1000000.0 / span_us * 1000000.0 + 0.5) / 1000000.0 AS freq_hz,
        |       FLOOR(sv * 1000000.0 / span_us * 10000.0 + 0.5) / 10000.0 AS value_rate
        |FROM g ORDER BY event_type""".stripMargin,
    "q05_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS cnt, CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q06_distinct_agg" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q07_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q08_broadcast_join" ->
      """SELECT p_brand, COUNT(*) AS cnt, CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,10))), 2) AS DOUBLE) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 15
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q09_semi_anti" ->
      """SELECT n_name, kind, cnt FROM (
        |  SELECT n_name, 'with_orders' AS kind, COUNT(*) AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY n_name
        |  UNION ALL
        |  SELECT n_name, 'without_orders' AS kind, COUNT(*) AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY n_name)
        |ORDER BY n_name, kind""".stripMargin,
    "q10_global_seqno" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_id,
        |       CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS seqno
        |FROM ev ORDER BY event_id""".stripMargin,
    "q11_lag_gaps" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM ev)
        |SELECT user_id, COUNT(gap_us) AS n_gaps, MIN(gap_us) AS min_gap,
        |       MAX(gap_us) AS max_gap, FLOOR(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) * 10000.0 + 0.5) / 10000.0 AS avg_gap
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q12_moving_avg" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_id, user_id,
        |       FLOOR(CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE)
        |             / COUNT(value) OVER w * 10000.0 + 0.5) / 10000.0 AS mavg
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q13_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q14_limit" ->
      "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 100",
    "q15_union" ->
      """SELECT event_id, value FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, value FROM events WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin,
    "q16_setops" ->
      """SELECT 'intersect' AS kind, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 'except' AS kind, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY kind, c_custkey""".stripMargin,
    "q17_string_funcs" ->
      """SELECT p_partkey, regexp_replace(p_type, ' ', '_', 'g') AS type_sanitized,
        |       upper(p_name) AS name_upper, substr(p_name, 1, 5) AS name_5,
        |       length(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q18_date_funcs" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_id,
        |       epoch_us(ts) // 1000000 AS sec,
        |       epoch_us(ts) % 1000000 AS micros,
        |       make_timestamp(epoch_us(ts)) AS rebuilt,
        |       date_trunc('day', ts) AS day
        |FROM ev ORDER BY event_id""".stripMargin,
    "q19_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |       COUNT(*) AS cnt, CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY k_val ORDER BY k_val""".stripMargin,
    "q20_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       embedding[1] AS first_elem, embedding[-1] AS last_elem,
        |       FLOOR(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))
        |             * 1000000.0 + 0.5) / 1000000.0 AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q21_cube" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS cnt
        |FROM ev
        |GROUP BY CUBE (event_type, date_trunc('day', ts))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q22_asof_join" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |e AS (
        |  SELECT user_id, ts, MAX(event_id) AS event_id
        |  FROM ev GROUP BY user_id, ts)
        |SELECT o_orderkey, e.event_id AS matched_event_id, e.ts AS matched_ts
        |FROM orders
        |ASOF LEFT JOIN e ON o_custkey = e.user_id AND e.ts <= o_orderdate
        |ORDER BY o_orderkey""".stripMargin,
    "q23_range_join" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT o_orderkey, COUNT(event_id) AS n_events
        |FROM orders LEFT JOIN ev
        |  ON user_id = o_custkey
        | AND ts BETWEEN o_orderdate - INTERVAL 1 DAY AND o_orderdate + INTERVAL 1 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin
  )
}
