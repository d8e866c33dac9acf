package graft.operators

/** DuckDB oracle SQL for q01–q20 — semantically identical to the Spark
  * plans in [[CoreQueries]], with matching column aliases and the same
  * deterministic ORDER BY. Integer-exact where possible; doubles are
  * rounded identically on both sides. DuckDB-specific care: SUM(int)
  * returns HUGEINT → cast to BIGINT; events.ts is TIMESTAMP_NS → cast
  * to TIMESTAMP (micros) to match Spark's timestamp precision.
  */
object CoreOracles {
  val sql: Map[String, String] = Map(
    "q01_case_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus <> 'P' AND o_totalprice > 500.0
        |  AND o_orderkey NOT IN (42, 4242)
        |ORDER BY o_orderkey""".stripMargin,

    "q02_event_unpivot" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |) WHERE value IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q03_event_union" ->
      """SELECT * FROM (
        |  SELECT user_id AS entity_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |  UNION ALL
        |  SELECT o_custkey, 'ORDER_PLACED', o_orderdate FROM orders
        |  UNION ALL
        |  SELECT o_custkey, 'SHIPPED', l_shipdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |) ORDER BY entity_id, ts, event_type""".stripMargin,

    "q04_distinct_events" ->
      """SELECT user_id, event_type, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q05_dim_join" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q06_lead_lag" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_type = 'purchase' AND (prev_type IS NULL OR prev_type <> 'purchase')
        |                THEN 'TO_PURCHASE'
        |              WHEN event_type <> 'purchase' AND prev_type = 'purchase'
        |                THEN 'FROM_PURCHASE' END AS transition,
        |         ts
        |  FROM t
        |)
        |SELECT user_id, event_id, transition, ts FROM c
        |WHERE transition IS NOT NULL
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q07_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM t
        |), g AS (
        |  SELECT user_id, ts,
        |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
        |  FROM s
        |)
        |SELECT user_id, session_num, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM g GROUP BY user_id, session_num
        |ORDER BY user_id, session_num""".stripMargin,

    "q08_last_per_key" ->
      """WITH t AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |)
        |SELECT user_id, event_type, ts AS last_ts, value AS last_value, event_id AS last_event_id
        |FROM t WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q09_conditional_agg" ->
      """SELECT o_orderpriority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
        |       CAST(SUM(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value,
        |       ROUND(AVG(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q10_quantiles" ->
      """SELECT n_name, COUNT(*) AS n_open,
        |       ROUND(quantile_cont(days_pending, 0.5), 4) AS p50_days,
        |       ROUND(quantile_cont(days_pending, 0.75), 4) AS p75_days,
        |       ROUND(quantile_cont(days_pending, 0.95), 4) AS p95_days
        |FROM (
        |  SELECT n_name,
        |         CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS DOUBLE) AS days_pending
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderstatus = 'O'
        |)
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q11_backlog" ->
      """WITH opened AS (
        |  SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_opened
        |  FROM orders GROUP BY 1
        |), comp AS (
        |  SELECT o_orderkey, MAX(l_shipdate) AS completed
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F' GROUP BY o_orderkey
        |), closed AS (
        |  SELECT date_trunc('month', completed) AS month, COUNT(*) AS n_closed
        |  FROM comp GROUP BY 1
        |), merged AS (
        |  SELECT COALESCE(o.month, c.month) AS month,
        |         COALESCE(n_opened, 0) AS n_opened, COALESCE(n_closed, 0) AS n_closed
        |  FROM opened o FULL OUTER JOIN closed c ON o.month = c.month
        |)
        |SELECT month, n_opened, n_closed,
        |       CAST(SUM(n_opened - n_closed) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
        |FROM merged ORDER BY month""".stripMargin,

    "q12_survival" ->
      """WITH comp AS (
        |  SELECT l_orderkey, MAX(l_shipdate) AS completed FROM lineitem GROUP BY l_orderkey
        |), obs AS (
        |  SELECT CASE WHEN o_orderstatus = 'F'
        |              THEN date_diff('day', CAST(o_orderdate AS DATE), CAST(completed AS DATE))
        |              ELSE date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-06-01') END AS t_days,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS event
        |  FROM orders LEFT JOIN comp ON o_orderkey = l_orderkey
        |), by_t AS (
        |  SELECT CAST(t_days AS BIGINT) AS t_days,
        |         CAST(SUM(event) AS BIGINT) AS n_events,
        |         CAST(SUM(1 - event) AS BIGINT) AS n_censored,
        |         COUNT(*) AS n_obs
        |  FROM obs WHERE t_days IS NOT NULL GROUP BY 1
        |), risk AS (
        |  SELECT t_days, n_events, n_censored,
        |         CAST(SUM(n_obs) OVER (ORDER BY t_days ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |  FROM by_t
        |)
        |SELECT t_days, n_risk, n_events, n_censored,
        |       ROUND(EXP(SUM(LN(GREATEST(CAST(n_risk - n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 1e-300)))
        |                 OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)), 6) AS survival
        |FROM risk ORDER BY t_days""".stripMargin,

    "q13_classifier" ->
      """SELECT end_state,
        |       CAST(year(o_orderdate) + CASE WHEN month(o_orderdate) >= 10 THEN 1 ELSE 0 END AS BIGINT) AS fy,
        |       COUNT(*) AS n_orders
        |FROM orders
        |JOIN (VALUES ('F', 'COMPLETE'), ('O', 'OPEN'), ('P', 'PENDING')) AS m(status, end_state)
        |  ON o_orderstatus = status
        |GROUP BY end_state, fy
        |ORDER BY end_state, fy""".stripMargin,

    // generated from the SAME declared type list q14 validates its
    // discovered pivot columns against (ADVICE r3: no second hardcoding)
    "q14_pivot" ->
      ("SELECT user_id,\n" +
        CoreQueries.EventTypes.map(t =>
          s"       MIN(CASE WHEN event_type = '$t' THEN CAST(ts AS TIMESTAMP) END) AS first_$t")
          .mkString(",\n") +
        "\nFROM events GROUP BY user_id ORDER BY user_id"),

    "q15_chain_ids" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |         LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date
        |  FROM orders
        |), s AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |         CASE WHEN prev_date IS NULL
        |                OR date_diff('day', CAST(prev_date AS DATE), CAST(o_orderdate AS DATE)) > 365
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM t
        |), g AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |         CAST(SUM(is_new) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chain_num
        |  FROM s
        |)
        |SELECT o_orderkey, o_custkey, chain_num,
        |       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey, chain_num
        |                                     ORDER BY o_orderdate, o_orderkey
        |                                     ROWS UNBOUNDED PRECEDING) AS chain_root,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey, chain_num
        |                               ORDER BY o_orderdate, o_orderkey) AS INT) AS chain_pos
        |FROM g ORDER BY o_orderkey""".stripMargin,

    "q16_fy_agg" ->
      """SELECT CAST(year(o_orderdate) + CASE WHEN month(o_orderdate) >= 10 THEN 1 ELSE 0 END AS BIGINT) AS fy,
        |       o_orderpriority, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY fy, o_orderpriority
        |ORDER BY fy, o_orderpriority""".stripMargin,

    "q17_topk" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                                 ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk
        |  FROM customer
        |)
        |SELECT n_name, rnk, c_custkey, c_name, c_acctbal
        |FROM r JOIN nation ON c_nationkey = n_nationkey
        |WHERE rnk <= 3
        |ORDER BY n_name, rnk""".stripMargin,

    "q18_regex_class" ->
      """SELECT CASE WHEN regexp_matches(p_type, '^(SMALL|MEDIUM|LARGE)$') THEN 'SIZED'
        |            WHEN regexp_matches(p_type, 'ECON|PROMO') THEN 'VALUE'
        |            ELSE 'STANDARD' END AS class,
        |       COUNT(*) AS n_parts,
        |       CAST(COUNT(DISTINCT CAST(regexp_extract(p_brand, '[0-9]+') AS BIGINT)) AS BIGINT) AS n_brands,
        |       ROUND(AVG(p_retailprice), 2) AS avg_retail
        |FROM part GROUP BY class ORDER BY class""".stripMargin,

    "q19_asof_join" ->
      """WITH t AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), m AS (
        |  SELECT event_id, user_id, ts, event_type, us,
        |         MAX(CASE WHEN event_type = 'view' THEN us END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_us
        |  FROM t
        |)
        |SELECT event_id, user_id, ts, make_timestamp(prev_view_us) AS prev_view_ts,
        |       us - prev_view_us AS gap_us
        |FROM m WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q20_histogram" ->
      """WITH t AS (
        |  SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS delay_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |)
        |SELECT CAST(FLOOR(delay_days / 30.0) AS BIGINT) AS bucket,
        |       CAST(FLOOR(delay_days / 30.0) AS BIGINT) * 30 AS bucket_start_days,
        |       COUNT(*) AS n_items, ROUND(AVG(delay_days), 4) AS avg_delay
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,

    // q75 mirror: the existential form of the window-funnel — a user
    // reaches level k iff ANY (t, event_id)-lex-ordered chain of the
    // first k steps exists with every step inside the window anchored
    // at the chain's first event. The Spark side's greedy fold computes
    // exactly this predicate (latest-start dominance); the oracle spells
    // out the exists-joins.
    "q75_window_funnel" -> {
      val T = graft.operators.EventLog.FunnelWindowUs
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id, event_type
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |), u0 AS (
        |  SELECT DISTINCT user_id FROM e
        |), l1 AS (
        |  SELECT DISTINCT user_id FROM e WHERE event_type = 'view'
        |), l2 AS (
        |  SELECT DISTINCT a.user_id
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |  WHERE a.event_type = 'view' AND b.event_type = 'click'
        |    AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
        |    AND b.t - a.t <= ${T}
        |), l3 AS (
        |  SELECT DISTINCT a.user_id
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |            JOIN e c ON b.user_id = c.user_id
        |  WHERE a.event_type = 'view' AND b.event_type = 'click'
        |    AND c.event_type = 'purchase'
        |    AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
        |    AND (c.t > b.t OR (c.t = b.t AND c.event_id > b.event_id))
        |    AND c.t - a.t <= ${T}
        |), nn AS (
        |  SELECT (SELECT COUNT(*) FROM u0) AS n0, (SELECT COUNT(*) FROM l1) AS n1,
        |         (SELECT COUNT(*) FROM l2) AS n2, (SELECT COUNT(*) FROM l3) AS n3
        |)
        |SELECT * FROM (
        |  SELECT 1 AS level, 'view' AS step, CAST(n1 AS BIGINT) AS n_users,
        |         CAST(n1 * 10000 // NULLIF(n0, 0) AS BIGINT) AS conv_pm FROM nn
        |  UNION ALL
        |  SELECT 2, 'click', CAST(n2 AS BIGINT), CAST(n2 * 10000 // NULLIF(n1, 0) AS BIGINT) FROM nn
        |  UNION ALL
        |  SELECT 3, 'purchase', CAST(n3 AS BIGINT), CAST(n3 * 10000 // NULLIF(n2, 0) AS BIGINT) FROM nn
        |) ORDER BY level""".stripMargin
    },

    "q35_funnel" ->
      s"""WITH f AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS s,
        |         MIN(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
        |         MIN(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
        |         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
        |  FROM events GROUP BY user_id
        |), r AS (
        |  SELECT s, v, c, p,
        |         (s IS NOT NULL) AS r1,
        |         (s IS NOT NULL AND v IS NOT NULL AND v >= s) AS r2,
        |         (s IS NOT NULL AND v IS NOT NULL AND v >= s AND c IS NOT NULL AND c >= v) AS r3,
        |         (s IS NOT NULL AND v IS NOT NULL AND v >= s AND c IS NOT NULL AND c >= v
        |          AND p IS NOT NULL AND p >= c) AS r4
        |  FROM f
        |), g AS (
        |  SELECT SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS n_r1,
        |         SUM(CASE WHEN r2 THEN v - s END) AS g_r2, SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS n_r2,
        |         SUM(CASE WHEN r3 THEN c - v END) AS g_r3, SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS n_r3,
        |         SUM(CASE WHEN r4 THEN p - c END) AS g_r4, SUM(CASE WHEN r4 THEN 1 ELSE 0 END) AS n_r4
        |  FROM r
        |)
        |SELECT CAST(n_r1 AS BIGINT) AS n_signup, CAST(n_r2 AS BIGINT) AS n_view,
        |       CAST(n_r3 AS BIGINT) AS n_click, CAST(n_r4 AS BIGINT) AS n_purchase,
        |       ${CoreQueries.avgGap4("g_r2", "n_r2", "//")} AS avg_us_signup_view,
        |       ${CoreQueries.avgGap4("g_r3", "n_r3", "//")} AS avg_us_view_click,
        |       ${CoreQueries.avgGap4("g_r4", "n_r4", "//")} AS avg_us_click_purchase
        |FROM g""".stripMargin,

    "q36_cohort" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |), f AS (
        |  SELECT user_id, MIN(us) AS first_us FROM ev GROUP BY user_id
        |)
        |SELECT CAST(CAST(make_timestamp(first_us) AS DATE) AS TIMESTAMP) AS cohort_day,
        |       CAST(FLOOR(CAST(us - first_us AS DOUBLE) / (7.0 * 86400.0 * 1000000.0)) AS BIGINT) AS week_offset,
        |       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active_users,
        |       COUNT(*) AS n_events
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY cohort_day, week_offset
        |ORDER BY cohort_day, week_offset""".stripMargin,

    "q41_rollup" ->
      """SELECT COALESCE(r_name, '(all)') AS region,
        |       COALESCE(n_name, '(all)') AS nation,
        |       COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,

    "q42_moving_avg" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_opened
        |  FROM orders GROUP BY 1
        |)
        |SELECT month, n_opened,
        |       ROUND(CAST(SUM(n_opened) OVER w3 AS DOUBLE)
        |             / CAST(COUNT(*) OVER w3 AS DOUBLE), 4) AS ma3,
        |       CAST(SUM(n_opened) OVER wc AS BIGINT) AS cum_opened
        |FROM monthly
        |WINDOW w3 AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |       wc AS (ORDER BY month ROWS UNBOUNDED PRECEDING)
        |ORDER BY month""".stripMargin,

    "q45_skew_salting" ->
      """SELECT CASE WHEN user_id < 75 THEN 0 ELSE user_id END AS hot_key,
        |       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        |FROM events
        |GROUP BY hot_key
        |ORDER BY hot_key""".stripMargin,

    "q44_anti_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_no_items,
        |       ROUND(SUM(o_totalprice), 2) AS stranded_value
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // q58: the bloom pre-filter is semantics-preserving (false positives
    // re-checked by the exact join), so the oracle is the plain join
    "q58_bloom_prefilter" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // q59: run-collapse then version — the second window runs over the
    // collapsed rows, exactly like the Spark plan
    "q59_scd_history" ->
      """WITH ch AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), kept AS (
        |  SELECT user_id, ts, event_id, state FROM ch
        |  WHERE prev IS NULL OR state <> prev
        |)
        |SELECT user_id, ROW_NUMBER() OVER w AS version, state,
        |       ts AS eff_from, LEAD(ts) OVER w AS eff_to,
        |       (LEAD(ts) OVER w IS NULL) AS is_current
        |FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    // q60: same lattice + the same grouping-id bit order
    // (status bit 1, priority bit 0)
    "q60_cube" ->
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |       COALESCE(o_orderpriority, '(all)') AS priority,
        |       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |       COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,

    // mirror of CoreQueries.q68GapFill: same hourly grain, same dense
    // spine bounds, same floor(value*100) exact gauge, same IGNORE NULLS
    // carry-forward frame
    "q68_gap_fill" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |         CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_v100
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT MIN(hour) AS min_h, MAX(hour) AS max_h FROM hourly
        |), spine AS (
        |  SELECT t.event_type,
        |         unnest(generate_series(b.min_h, b.max_h, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT DISTINCT event_type FROM hourly) t, bounds b
        |)
        |SELECT s.event_type, s.hour,
        |       CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
        |       h.sum_v100,
        |       last_value(h.sum_v100 IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.hour
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_v100
        |FROM spine s LEFT JOIN hourly h
        |  ON s.event_type = h.event_type AND s.hour = h.hour
        |ORDER BY s.event_type, s.hour""".stripMargin,

    // mirror of CoreQueries.q70ConstraintAudit: one conditional-agg pass
    // per table + one anti-join RI count, same permyriad arithmetic
    "q70_constraint_audit" ->
      """WITH oagg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_cust,
        |         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
        |         CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_price
        |  FROM orders
        |), orph AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan
        |  FROM lineitem l WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |), li AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_li FROM lineitem
        |), rows0 AS (
        |  SELECT 'orders_orderkey_unique' AS check_name,
        |         (n - n_keys) * 10000 // n AS observed_pm FROM oagg
        |  UNION ALL
        |  SELECT 'orders_custkey_complete', n_null_cust * 10000 // n FROM oagg
        |  UNION ALL
        |  SELECT 'orders_status_accepted', n_bad_status * 10000 // n FROM oagg
        |  UNION ALL
        |  SELECT 'orders_price_positive', n_bad_price * 10000 // n FROM oagg
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_referential', n_orphan * 10000 // n_li
        |  FROM orph, li
        |)
        |SELECT check_name, CAST(observed_pm AS BIGINT) AS observed_pm,
        |       CAST(0 AS BIGINT) AS threshold_pm,
        |       (observed_pm <= 0) AS passed
        |FROM rows0
        |ORDER BY check_name""".stripMargin,

    // mirror of CoreQueries.q65ApproxAgg: same salted portable hash
    // (p56's device), same 1% predicate, exact-BIGINT quantities, same
    // scaled estimates and permyriad error columns
    "q65_approx_agg" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         ('0x' || substr(md5('q65:' || CAST(l_orderkey AS VARCHAR)
        |                              || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
        |           % 100 AS u
        |  FROM lineitem
        |), ag AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |         CAST(SUM(CASE WHEN u = 0 THEN 1 ELSE 0 END) * 100 AS BIGINT) AS est_rows,
        |         CAST(SUM(CASE WHEN u = 0 THEN qty ELSE 0 END) * 100 AS BIGINT) AS est_qty
        |  FROM li GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n_rows, est_rows,
        |       abs(est_rows - n_rows) * 10000 // n_rows AS err_rows_pm,
        |       sum_qty, est_qty,
        |       abs(est_qty - sum_qty) * 10000 // sum_qty AS err_qty_pm
        |FROM ag
        |ORDER BY l_returnflag""".stripMargin,
    // q72 mirror — same doubled-median integer device (quantile_cont ≡
    // percentile interpolation, carried ×2 as exact int64) and the
    // cleared Hampel threshold 20000·dev2 > 44478·mad4
    "q72_anomaly_mad" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, CAST(quantile_cont(n_events, 0.5) * 2 AS BIGINT) AS med2
        |  FROM daily GROUP BY event_type
        |), dev AS (
        |  SELECT d.*, m.med2, abs(d.n_events * 2 - m.med2) AS dev2
        |  FROM daily d JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
        |  FROM dev GROUP BY event_type
        |)
        |SELECT d.event_type, strftime(d.event_date, '%Y-%m-%d') AS event_date,
        |       d.n_events, d.med2, d.dev2, a.mad4,
        |       CAST(d.dev2 * 20000 > a.mad4 * 44478 AS INT) AS anomaly
        |FROM dev d JOIN mad a USING (event_type)
        |ORDER BY event_type, event_date""".stripMargin,
    // q73 mirror — same 7-day window join, (ts, touch_type) tie-breaks
    // (r17: only the boundary touch's TYPE is credited, so the
    // tie-break is on type — a 2-bit code that packs with the bounded
    // 7-day µs offset into one hash-aggregable int64 on the Spark
    // side; same-type ts ties credit the same type under any order),
    // integer permyriad credits, explicit __NONE__ accounting row
    "q73_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), p AS (
        |  SELECT user_id, event_id AS conv_id, ts AS p_ts FROM ev
        |  WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, event_type AS touch_type, ts AS t_ts, event_id AS touch_id
        |  FROM ev WHERE event_type IN ('view', 'click', 'signup')
        |), j AS (
        |  SELECT p.conv_id, t.touch_type, t.t_ts, t.touch_id
        |  FROM p JOIN t ON p.user_id = t.user_id
        |   AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
        |), c AS (
        |  SELECT touch_type,
        |         CASE WHEN ROW_NUMBER() OVER (PARTITION BY conv_id
        |                ORDER BY t_ts, touch_type) = 1 THEN 10000 ELSE 0 END AS first_pm,
        |         CASE WHEN ROW_NUMBER() OVER (PARTITION BY conv_id
        |                ORDER BY t_ts DESC, touch_type DESC) = 1 THEN 10000 ELSE 0 END AS last_pm,
        |         10000 // COUNT(*) OVER (PARTITION BY conv_id) AS linear_pm
        |  FROM j
        |), agg AS (
        |  SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |         CAST(SUM(first_pm) AS BIGINT) AS credit_first_pm,
        |         CAST(SUM(last_pm) AS BIGINT) AS credit_last_pm,
        |         CAST(SUM(linear_pm) AS BIGINT) AS credit_linear_pm
        |  FROM c GROUP BY touch_type
        |), none AS (
        |  SELECT '__NONE__' AS touch_type,
        |         CAST(COUNT(*) AS BIGINT) AS n_touches,
        |         CAST(COUNT(*) * 10000 AS BIGINT) AS credit_first_pm,
        |         CAST(COUNT(*) * 10000 AS BIGINT) AS credit_last_pm,
        |         CAST(COUNT(*) * 10000 AS BIGINT) AS credit_linear_pm
        |  FROM p WHERE conv_id NOT IN (SELECT conv_id FROM j)
        |)
        |SELECT * FROM agg UNION ALL SELECT * FROM none
        |ORDER BY touch_type""".stripMargin
  )
}
