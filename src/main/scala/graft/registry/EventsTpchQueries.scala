package graft.registry

import graft.registry.QuerySupport._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational queries over `events` (aggregate, window, JSON, sessionize,
  * pivot, as-of join) and the TPC-H-style tables (join, aggregate, window, set,
  * semi and anti join).
  */
object EventsTpchQueries {

  val all: Seq[Query] = Seq(
    // ---------- events (agg / window / json / sessionize) ---------------------
    Query("e_type_agg",
      oracle = "SELECT event_type, count(*) AS cnt, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type",
      build = (s, dir) =>
        t(s, dir, "events").groupBy("event_type").agg(
          count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))),
    Query("e_hourly",
      oracle = "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, count(*) AS cnt " +
        "FROM events GROUP BY 1",
      build = (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"))
          .agg(count(lit(1)).as("cnt"))),
    Query("e_json_extract",
      oracle = "SELECT event_type, CAST(SUM(CAST(regexp_extract(props, '\"k\":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k " +
        "FROM events GROUP BY event_type",
      build = (s, dir) =>
        t(s, dir, "events").groupBy("event_type").agg(
          sum(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
            .as("sum_k"))),
    Query("e_sessionize",
      oracle = "SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (" +
        "SELECT user_id, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 " +
        "THEN 1 ELSE 0 END::BIGINT AS new_sess FROM (" +
        "SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts " +
        "FROM events)) GROUP BY user_id",
      build = (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
              .otherwise(0L))
          .groupBy("user_id").agg(sum("new_sess").as("n_sessions"),
            count(lit(1)).as("n_events"))
      }),
    Query("e_pivot",
      oracle = "SELECT date_trunc('hour', ts) AS hour, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, " +
        "CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view " +
        "FROM events GROUP BY 1",
      // relational pivot with an EXPLICIT value list — no values-discovery job,
      // so the plan is a single hash aggregate over (hour) with map-side combine
      build = (s, dir) =>
        t(s, dir, "events")
          .withColumn("hour", date_trunc("hour", col("ts")))
          .groupBy("hour")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))),
    Query("j_asof",
      oracle = "SELECT l.user_id, l.ts, l.event_id, r.p_event_id, r.p_cents FROM " +
        "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l " +
        "ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS p_event_id, " +
        "CAST(round(max_by(value, event_id) * 100) AS BIGINT) AS p_cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) r " +
        "ON l.user_id = r.user_id AND l.ts >= r.ts",
      build = (s, dir) => {
        // as-of enrichment: each click joined to the user's most recent purchase
        // at or before it (one keyed shuffle — graft.ops.AsofJoin's union+window
        // re-expression; oracle = DuckDB's native ASOF LEFT JOIN)
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max(col("event_id")).as("p_event_id"),
            round(max_by(col("value"), col("event_id")) * 100).cast("long").as("p_cents"))
        graft.ops.AsofJoin.asof(clicks, purchases, "user_id", "ts",
          Seq("p_event_id", "p_cents"))
      }),
    Query("e_session_windows",
      // replay session_window's merge rule (windows merge when they overlap or
      // TOUCH — SessionizeSpec pins the boundary): diff > 30 min starts a new
      // session, window = [min(ts), max(ts) + gap)
      oracle = "SELECT user_id, MIN(ts) AS sess_start, MAX(ts) + INTERVAL 30 MINUTE AS sess_end, " +
        "count(*) AS n_events FROM (" +
        "SELECT user_id, ts, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sess_id FROM (" +
        "SELECT user_id, ts, event_id, CASE WHEN prev_ts IS NULL OR " +
        "date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END::BIGINT AS new_sess FROM (" +
        "SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS prev_ts FROM events))) GROUP BY user_id, sess_id",
      // native session_window sessionization (same expression streams watermarked
      // via graft.streaming.Sessionize.sessionStream; parity in StreamingSpec)
      build = (s, dir) => graft.streaming.Sessionize.sessions(t(s, dir, "events"))),
    Query("e_topk_users",
      oracle = "SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS purchase_cents FROM events " +
        "WHERE event_type = 'purchase' GROUP BY user_id " +
        "ORDER BY purchase_cents DESC, user_id LIMIT 10",
      build = (s, dir) =>
        t(s, dir, "events").filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(round(col("value") * 100).cast("long")).as("purchase_cents"))
          .orderBy(desc("purchase_cents"), col("user_id")).limit(10)),

    // ---------- TPC-H-ish (join / agg / window / set / semi / anti) -----------
    Query("q1_agg",
      oracle = "SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, count(*) AS cnt " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus",
      build = (s, dir) =>
        t(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-01"))
          .groupBy("l_returnflag", "l_linestatus").agg(
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
            count(lit(1)).as("cnt"))),
    Query("q3_join",
      oracle = "SELECT c_mktsegment, CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS rev_e4, " +
        "count(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey GROUP BY c_mktsegment",
      build = (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("c_mktsegment")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long")).as("rev_e4"), count(lit(1)).as("n"))
      }),
    Query("j_semi",
      oracle = "SELECT o_orderstatus, count(*) AS n FROM orders WHERE EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey) GROUP BY o_orderstatus",
      build = (s, dir) => {
        val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
        o.join(l.select(col("l_orderkey").as("o_orderkey")).distinct(),
            Seq("o_orderkey"), "left_semi")
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      }),
    Query("j_anti",
      oracle = "SELECT c_mktsegment, count(*) AS n FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment",
      build = (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        c.join(o.select(col("o_custkey").as("c_custkey")).distinct(),
            Seq("c_custkey"), "left_anti")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      }),
    Query("w_window_topk",
      oracle = "SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, rn FROM (" +
        "SELECT l_suppkey, l_orderkey, l_linenumber, CAST(row_number() OVER " +
        "(PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn " +
        "FROM lineitem) WHERE rn <= 2",
      build = (s, dir) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"), col("rn").cast("long").as("rn"))
      }),
    Query("set_except",
      oracle = "SELECT DISTINCT l_partkey FROM lineitem EXCEPT " +
        "SELECT DISTINCT p_partkey AS l_partkey FROM part WHERE p_size > 40",
      build = (s, dir) => {
        val l = t(s, dir, "lineitem").select("l_partkey").distinct()
        val p = t(s, dir, "part").filter(col("p_size") > 40)
          .select(col("p_partkey").as("l_partkey")).distinct()
        l.except(p)
      }),
    Query("agg_distinct",
      oracle = "SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders, " +
        "count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY l_returnflag",
      build = (s, dir) =>
        t(s, dir, "lineitem").groupBy("l_returnflag")
          .agg(count_distinct(col("l_orderkey")).as("n_orders"),
            count_distinct(col("l_partkey")).as("n_parts"))),
    Query("agg_rollup",
      oracle = "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
      build = (s, dir) =>
        t(s, dir, "lineitem").rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty")))
  )
}
