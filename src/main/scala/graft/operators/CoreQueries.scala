package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Checkpoints.Ops

/** Core relational/temporal operators q01–q20 (SURVEY.md §2).
  *
  * Each re-expresses a capability of the reference R library
  * (`/root/reference/R/events.R`, `scratch/...`) Spark-first: declarative
  * DataFrame plans, window functions for the reference's vector tricks,
  * broadcast joins for dims, aggregate-then-window for time series.
  *
  * Every query has a deterministic total order (ORDER BY all output
  * columns or a unique key) and aliases that match the DuckDB oracle
  * exactly.
  */
object CoreQueries {

  /** q01: filtered scan with exclusion predicates.
    * Mirrors EventCaseExclusions (reference constants.R:2): dummy-key and
    * merged-case exclusions applied to every case scan. Filters + column
    * pruning push into the parquet scan.
    */
  def q01CaseScan(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= "P" &&
        col("o_totalprice") > 500.0 &&
        !col("o_orderkey").isin(42L, 4242L))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** q02: unpivot measure columns into a long (metric, value) event log.
    * Mirrors event_getDateCols + tidyr::gather (reference events.R:22,48):
    * N date columns of BRIEFF → long event rows.
    */
  def q02EventUnpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .filter(col("value").isNotNull)
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }

  /** q03: union heterogeneous event sources into one unified log.
    * Mirrors event_all (reference events.R:923): every extractor's output
    * rbind-ed into a single (entity, type, date) fact log.
    */
  def q03EventUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id").as("entity_id"), col("event_type"), col("ts"))
    val placed = Tables.orders(spark, dir)
      .select(col("o_custkey").as("entity_id"),
        lit("ORDER_PLACED").as("event_type"), col("o_orderdate").as("ts"))
    val shipped = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("entity_id"),
        lit("SHIPPED").as("event_type"), col("l_shipdate").as("ts"))
    ev.unionByName(placed).unionByName(shipped)
      .orderBy("entity_id", "ts", "event_type")
  }

  /** q04: dedup events per (entity, type) keeping the earliest.
    * Mirrors event_ssoc's distinct(BFCORLID, DATE) (reference events.R:409),
    * made deterministic (min instead of first-encountered).
    */
  def q04DistinctEvents(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(min(col("ts")).as("first_ts"))
      .orderBy("user_id", "event_type")
  }

  /** q05: multi-hop broadcast dim join + rollup aggregation.
    * Mirrors the STAFF lookup join (reference events.R:95) and the ro.csv
    * joins (scratch/other/pending-nods.R). Dims are broadcast — no shuffle
    * on the fact side beyond the final aggregation.
    */
  def q05DimJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy("r_name", "n_name")
  }

  /** q06: lead/lag transition detection over per-entity ordered log.
    * Mirrors .parseVSOLocs (reference events.R:139): LOC_PLUS1 via shifted
    * vectors → here a lag() window; emits TO_/FROM_ 'purchase' transitions.
    */
  def q06LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("transition",
        when(col("event_type") === "purchase" &&
          (col("prev_type").isNull || col("prev_type") =!= "purchase"), "TO_PURCHASE")
        .when(col("event_type") =!= "purchase" && col("prev_type") === "purchase", "FROM_PURCHASE"))
      .filter(col("transition").isNotNull)
      .select("user_id", "event_id", "transition", "ts")
      .orderBy("user_id", "ts", "event_id")
  }

  /** q07: gap-based sessionization via cumulative sum of breaks.
    * Mirrors .parseDecisionLocs' group_by(cumsum(!grepl(...))) segmentation
    * (reference events.R:214): a running sum over an ordered per-entity
    * log splits it into contiguous segments. Gap rule: >30 min starts a
    * new session. One shuffle on user_id; both windows share it.
    */
  def q07Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_num", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_num")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_num")
  }

  /** q08: latest event per (entity, type) with deterministic tie-break.
    * Mirrors .parseRemReturnLocs (reference events.R:263): last checkout to
    * location 96 wins (row_number()==n() → here row_number over desc).
    */
  def q08LastPerKey(spark: SparkSession, dir: String): DataFrame = {
    // graft_last_by2 (functions/ArgMax.scala), not max_by(struct) and
    // not a winner-ts join-back (r17, the r16 orderAssembly finding
    // applied here): max_by's struct buffer is not UnsafeRow-mutable,
    // so the declarative aggregate silently planned partial+final
    // SortAggregate — a per-partition sort of every raw event. The
    // custom TypedImperativeAggregate keeps the ideal shape — ONE
    // corpus scan, hash-grouped partials, one winner-grain exchange,
    // no sort, no second pass — where the alternatives measured at sf1
    // (32-core sweep): max_by/SortAggregate 1.94 s, winners-join-back
    // 1.75 s (flat across the sf1→sf10 decade but re-scans the
    // corpus), graft_last_by2 see BASELINE.md r17. Packing (ts, id)
    // into one int64 for a plain max is unsound at scale: 51-bit epoch
    // micros + 30-bit ids at sf10 already exceed 63 bits.
    // Null contract made EXPLICIT on both sides (ADVICE r17):
    // graft_last_by2 skips rows with a null ordering key, while the
    // oracle's ROW_NUMBER would rank them (nulls-last) and could emit a
    // null-ts winner for an all-null group — so both the operator and
    // the oracle filter null keys up front and a keyless group simply
    // has no row. The filter is vacuous on this corpus (no null
    // ts/event_id) and folds into the scan.
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("event_id").isNotNull)
      .groupBy("user_id", "event_type")
      .agg(call_function("graft_last_by2",
        unix_micros(col("ts")), col("event_id"), col("value")).as("w"))
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("w.k1")).as("last_ts"),
        col("w.v").as("last_value"),
        col("w.k2").as("last_event_id"))
      .orderBy("user_id", "event_type")
  }

  /** q09: count + N conditional aggregates per group.
    * Mirrors scratch/hearings/by-ro.R: count(*) plus
    * sum(case when HEARING_DISP='H' then 1 end) family per RO.
    */
  def q09ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_pending"),
        sum(when(col("o_totalprice") > 100000.0, 1).otherwise(0)).as("n_high_value"),
        round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy("o_orderpriority")
  }

  /** q10: group quantiles of pending ages.
    * Mirrors scratch/other/pending-nods.R: quantile(days_pending,
    * .5/.75/.95) per RO of open NODs. Interpolated percentiles ≡ DuckDB
    * quantile_cont.
    *
    * Exact quantiles WITHOUT `percentile()` (VERDICT r10 #2): Spark's
    * percentile is a TypedImperativeAggregate that collects every group
    * value into one aggregation buffer — the row-domain collection a
    * 100 TB group cannot hold. days_pending is integer-valued with a
    * BOUNDED domain (days between two dates in the data's window,
    * ~2.5k distinct), so a value-grain histogram IS the complete
    * distribution: one map-side-combinable aggregation to the
    * (nation × day) grain, then the order statistics are read off the
    * per-group cumulative counts and interpolated with percentile()'s
    * own formula — lo + (hi − lo)·frac at position q·(n−1) — so the
    * result is bit-identical to the collected form (values are exact
    * integers; q51's refinement device, degenerate one-level case).
    */
  def q10Quantiles(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("2002-01-01 00:00:00"))
    val days = datediff(cutoff.cast("date"), col("o_orderdate").cast("date"))
    // customer joins SHUFFLE-HASH, not broadcast (r17 sf10 probe):
    // building ONE driver-side map over every customer costs more than
    // letting each task build its 1/32nd slice — 1.82 s vs 1.17 s at
    // sf10, neutral at sf1 (0.83 vs 0.78) — and a 100 TB customer dim
    // outgrows the driver anyway; SHJ probes without sorting either
    // side (the r16 q20 SHJ negative was a 60M-row build side — this
    // build is the dim).
    val grid = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O")
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
          .hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), days.cast("long").as("d"))
      .agg(count(lit(1)).as("cnt"))
      // tiny (|nations|·|days| rows); checkpointed so the quantile
      // branch and the n_open branch don't each re-scan orders
      .graftCheckpoint()
    val wOrd = Window.partitionBy("n_name").orderBy("d")
    val cum = grid
      .withColumn("cum", sum(col("cnt")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("n_name")))
    // per (group, quantile): ranks lo=⌊q(n−1)⌋ and hi=min(lo+1, n−1);
    // a grid row serves rank r when cum−cnt ≤ r < cum
    val picked = cum
      .withColumn("q", explode(array(lit(0.5), lit(0.75), lit(0.95))))
      .withColumn("pos", col("q") * (col("n") - 1L).cast("double"))
      .withColumn("lo_rank", floor(col("pos")).cast("long"))
      .withColumn("hi_rank", least(col("lo_rank") + 1L, col("n") - 1L))
      .withColumn("which", explode(array(lit("lo"), lit("hi"))))
      .withColumn("rank",
        when(col("which") === "lo", col("lo_rank")).otherwise(col("hi_rank")))
      .filter(col("rank") >= col("cum") - col("cnt") && col("rank") < col("cum"))
      .groupBy("n_name", "q")
      .agg(
        max(when(col("which") === "lo", col("d"))).cast("double").as("lo_v"),
        max(when(col("which") === "hi", col("d"))).cast("double").as("hi_v"),
        max(col("pos")).as("pos"), max(col("lo_rank")).as("lo_rank"))
      .withColumn("v", round(
        col("lo_v") + (col("hi_v") - col("lo_v")) *
          (col("pos") - col("lo_rank").cast("double")), 4))
    grid.groupBy("n_name").agg(sum(col("cnt")).as("n_open"))
      .join(picked.groupBy("n_name").agg(
          max(when(col("q") === 0.5, col("v"))).as("p50_days"),
          max(when(col("q") === 0.75, col("v"))).as("p75_days"),
          max(when(col("q") === 0.95, col("v"))).as("p95_days")),
        Seq("n_name"))
      .orderBy("n_name")
  }

  /** q11: event deltas → monthly cumulative backlog curve.
    * Mirrors scratch/other/event-history.R's historical backlog: +1 on
    * open, -1 on close, cumulative over time. Scale posture: aggregate
    * to month grain FIRST (map-side combine), then window over the tiny
    * aggregated series — never a global sort of raw facts.
    */
  def q11Backlog(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val opened = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_opened"))
    // completion dates aggregate BEFORE the join (r17): joining raw
    // lineitem first and grouping the join output paid the key-grain
    // exchange on the POST-join rows (F-share of 60M at sf10); the
    // map-side combine reduces lineitem 4× before its one exchange, and
    // the F-key join is then SHUFFLE-HASH on the key-only build (the
    // q20/q44 regime — at sf10 the 60MB F-key side exceeds the
    // broadcast threshold and the default regime sort-merges both
    // sides: 16.8 s vs 4.2 s in the r17 probe arms).
    // the F-key build side is DISTINCT (ADVICE r17): the pre-aggregated
    // lineitem side is one row per key, so a duplicated o_orderkey in a
    // corrupt orders file would double-count n_closed where the oracle's
    // post-join groupBy(o_orderkey) collapses it. dropDuplicates is a
    // map-side-combinable key-grain aggregate on the already-projected
    // build column — the same distinct build q70's AQE-reuse pins.
    val closed = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("completed"))
      .join(orders.filter(col("o_orderstatus") === "F")
          .select("o_orderkey").dropDuplicates("o_orderkey").hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("completed")).as("month"))
      .agg(count(lit(1)).as("n_closed"))
    val w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    opened.join(closed, Seq("month"), "full_outer")
      .select(col("month"),
        coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("backlog", sum(col("n_opened") - col("n_closed")).over(w))
      .orderBy("month")
  }

  /** q12: censored durations → Kaplan–Meier survival curve.
    * Mirrors scratch/other/example_survival.R (Surv(age.exit, event)):
    * duration = order placed → completion; censored at a fixed cutoff for
    * unfinished orders. S(t) = Π (1 - d/n) computed as exp(Σ ln(·)) so the
    * math is identical in Spark and the oracle; floor the factor at 1e-300
    * so a final d=n step yields 0 instead of engine-specific ln(0).
    */
  def q12Survival(spark: SparkSession, dir: String): DataFrame = {
    // ONE-EXCHANGE subject assembly (r11): [[Tables.orderAssembly]],
    // the shared union-aggregate that replaced this family's
    // lineitem-aggregate + SHUFFLE_HASH join (two corpus exchanges and
    // a subject-grain hash table → one orderkey exchange, no join).
    val obs = Tables.orderAssembly(spark, dir)
      .select(
        when(col("is_final"), datediff(col("last_ship"), col("odate")))
          .otherwise(datediff(lit("2002-06-01").cast("date"), col("odate")))
          .cast("long").as("t_days"),
        when(col("is_final"), 1L).otherwise(0L).as("event"))
      .filter(col("t_days").isNotNull)
    val byT = obs.groupBy("t_days")
      .agg(sum(col("event")).as("n_events"),
        sum(lit(1L) - col("event")).as("n_censored"),
        count(lit(1)).as("n_obs"))
    val wOrd = Window.orderBy("t_days")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk",
        sum(col("n_obs")).over(wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("factor",
        greatest((col("n_risk") - col("n_events")).cast("double") / col("n_risk").cast("double"),
          lit(1e-300)))
      .withColumn("survival", round(exp(sum(log(col("factor"))).over(wCum)), 6))
      .select("t_days", "n_risk", "n_events", "n_censored", "survival")
      .orderBy("t_days")
  }

  /** q13: small mapping-table classification join.
    * Mirrors EventEndStateClassifier (reference constants.R:15): BFDC code →
    * end-state label via merge with a literal dataframe; broadcast join here.
    */
  def q13Classifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mapping = Seq(("F", "COMPLETE"), ("O", "OPEN"), ("P", "PENDING"))
      .toDF("status", "end_state")
    val fy = (year(col("o_orderdate")) +
      when(month(col("o_orderdate")) >= 10, 1).otherwise(0)).cast("long").as("fy")
    Tables.orders(spark, dir)
      .join(broadcast(mapping), col("o_orderstatus") === col("status"))
      .groupBy(col("end_state"), fy)
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("end_state", "fy")
  }

  /** q14: event log → wide per-entity phase matrix, DYNAMIC pivot.
    * Mirrors scratch/other/phase-history.R's `spread(EVENT_TYPE, DATE)`
    * (and form8-changes.R:43): the column set is whatever event types
    * exist in the data — `Dataset.pivot(col)` discovers the distinct
    * values (sorted, so deterministic), no hardcoded literals. The
    * discovery pass is one distinct-aggregation on the pivot column;
    * at scale that's a map-side-combined shuffle of |distinct types|
    * rows, negligible next to the main aggregation.
    */
  /** The event_type domain the q14 oracle is generated from. The pivot
    * itself stays dynamic (discovers values from data); this list only
    * anchors the oracle SQL, and q14 fails loudly if the discovered
    * domain drifts from it instead of silently diverging from the oracle
    * schema (ADVICE r3).
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def q14Pivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type")
      .agg(min(col("ts")))
    val discovered = wide.columns.filter(_ != "user_id").sorted.toSeq
    require(discovered == EventTypes,
      s"event_type domain drifted from the oracle's: ${discovered.mkString(",")}")
    wide.select(wide.columns.toIndexedSeq.map(c =>
        if (c == "user_id") col(c) else col(s"`$c`").as(s"first_$c")): _*)
      .orderBy("user_id")
  }

  /** q15: chain/case-linking across related records.
    * Mirrors scratch/other/event-history.R's logical_cases: field appeals
    * chained across remands into one logical case. Here: a customer's
    * orders within 365 days of the previous link into a chain; the chain
    * root id labels every member. Windows replace the reference's
    * iterate-to-fixpoint self-join loop — one shuffle, no iteration.
    */
  def q15ChainIds(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wc = Window.partitionBy("o_custkey", "chain_num")
      .orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_date").isNull ||
          datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")) > 365, 1L)
          .otherwise(0L))
      .withColumn("chain_num", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("chain_root", first(col("o_orderkey")).over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("chain_pos", row_number().over(wc))
      .select("o_orderkey", "o_custkey", "chain_num", "chain_root", "chain_pos")
      .orderBy("o_orderkey")
  }

  /** q16: fiscal-year (Oct–Sep) bucketed aggregation.
    * Mirrors scratch/other/pending-nods.R's socs_per_yr FY windows. FY
    * computed with pure integer month logic (portable across engines).
    */
  def q16FyAgg(spark: SparkSession, dir: String): DataFrame = {
    val fy = (year(col("o_orderdate")) +
      when(month(col("o_orderdate")) >= 10, 1).otherwise(0)).cast("long").as("fy")
    Tables.orders(spark, dir)
      .groupBy(fy, col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("fy", "o_orderpriority")
  }

  /** q17: top-k per group with rank.
    * Mirrors scratch/decisions/docket-order.R ranking; deterministic
    * tie-break on the unique key.
    */
  def q17TopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rnk"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("n_name", "rnk")
  }

  /** q18: regex classification + aggregation.
    * Mirrors the reference's regex location classes (constants.R:21
    * AbeyanceLocs "24|39", DecisionLocs "D[1-5]") applied via grepl.
    */
  def q18RegexClass(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .withColumn("class",
        when(col("p_type").rlike("^(SMALL|MEDIUM|LARGE)$"), "SIZED")
          .when(col("p_type").rlike("ECON|PROMO"), "VALUE")
          .otherwise("STANDARD"))
      .withColumn("brand_num", regexp_extract(col("p_brand"), "[0-9]+", 0).cast("long"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_parts"),
        countDistinct(col("brand_num")).as("n_brands"),
        round(avg(col("p_retailprice")), 2).as("avg_retail"))
      .orderBy("class")
  }

  /** q19: as-of join — latest 'view' at or before each 'purchase'.
    * Mirrors the reference's status-as-of-date lookups (hearing held
    * before decision, etc.). Spark-first: a single per-entity window over
    * the unioned ordered log (MAX of the monotone view timestamp over the
    * preceding frame) — linear, one shuffle, no O(n²) range join.
    */
  def q19AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_view_us",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        timestamp_micros(col("prev_view_us")).as("prev_view_ts"),
        (col("us") - col("prev_view_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** q20: duration histogram with fixed-width buckets.
    * Mirrors notebooks/dispatch/time-to-ep.Rmd's time-to-EP distribution:
    * ship delay bucketed into 30-day bins.
    */
  def q20Histogram(spark: SparkSession, dir: String): DataFrame = {
    val delay = datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
    // fact⋈fact rides SHUFFLE-HASH with the orders side as build (r17
    // probe, min-of-2 noop): vs the default regime (broadcast at tiny
    // sf, SMJ past the threshold) the explicit small-side build wins
    // 7.32 → 4.22 s at sf10, 1.93 → 1.09 s at sf1, neutral at sf0.1
    // (0.51 vs 0.53) — no sort of either 60M-row side, per-task build
    // slices of the key+date projection only. This REVISES the r16
    // negative result: conf-forced AQE SMJ→SHJ conversion measured
    // worse because the conversion inherits the sort-merge plan's
    // exchanges+sorts; a planner-time hint never plans the sorts.
    Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
          .hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days", delay)
      .withColumn("bucket", floor(col("delay_days") / 30.0).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_items"), round(avg(col("delay_days")), 4).as("avg_delay"))
      .withColumn("bucket_start_days", col("bucket") * 30)
      .select("bucket", "bucket_start_days", "n_items", "avg_delay")
      .orderBy("bucket")
  }

  /** q35: staged funnel counts + inter-stage timing.
    * Mirrors the reference's phase-timeliness analyses (NOD→SOC→FORM9;
    * scratch/intake/activation-to-case-review.R): users advance
    * signup → view → click → purchase iff each stage's first event is at
    * or after the previous stage's. Single aggregation, no joins; gaps
    * in integer microseconds (exact cross-engine).
    */
  def q35Funnel(spark: SparkSession, dir: String): DataFrame = {
    def firstUs(t: String) =
      min(when(col("event_type") === t, unix_micros(col("ts"))))
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(firstUs("signup").as("s"), firstUs("view").as("v"),
        firstUs("click").as("c"), firstUs("purchase").as("p"))
      .withColumn("r1", col("s").isNotNull)
      .withColumn("r2", col("r1") && col("v").isNotNull && col("v") >= col("s"))
      .withColumn("r3", col("r2") && col("c").isNotNull && col("c") >= col("v"))
      .withColumn("r4", col("r3") && col("p").isNotNull && col("p") >= col("c"))
    def stage(flag: String, a: String, b: String) =
      Seq(sum(when(col(flag), col(a) - col(b))).as(s"g_$flag"),
        sum(when(col(flag), 1L).otherwise(0L)).as(s"n_$flag"))
    perUser.agg(sum(when(col("r1"), 1L).otherwise(0L)).as("n_r1"),
        stage("r2", "v", "s") ++ stage("r3", "c", "v") ++ stage("r4", "p", "c"): _*)
      .select(col("n_r1").as("n_signup"), col("n_r2").as("n_view"),
        col("n_r3").as("n_click"), col("n_r4").as("n_purchase"),
        expr(avgGap4("g_r2", "n_r2", "DIV")).as("avg_us_signup_view"),
        expr(avgGap4("g_r3", "n_r3", "DIV")).as("avg_us_view_click"),
        expr(avgGap4("g_r4", "n_r4", "DIV")).as("avg_us_click_purchase"))
  }

  /** q35's mean gap rounded half-up to 4dp, as SQL shared with the
    * oracle (`div` is the dialect's integer division): the exact-int
    * quotient SUM / COUNT is split into whole and remainder parts so the
    * rounding happens in integers, then one double division by 10⁴. A
    * double quotient rounded to 4dp can differ between engines in the
    * last digit once the sum has 12+ digits (seed-1 sf0.01:
    * 15073456561764 / 74 = …942.756756…, whose double is …942.756744…).
    * Gaps are ≥ 0; `rem·20000` stays in int64 below 4.6·10¹⁴ users. */
  private[graft] def avgGap4(gaps: String, n: String, div: String): String =
    s"CAST(($gaps $div $n) * 10000 + (($gaps % $n) * 20000 + $n) $div (2 * $n) AS DOUBLE) / 10000.0"

  /** q36: cohort retention matrix.
    * Mirrors usage-over-time analyses (notebooks/intake/certification-
    * usage.Rmd): users cohorted by first-event date; activity bucketed by
    * week offset from that first event. Two aggregations sharing the
    * user_id shuffle; the cohort join is on the aggregated (small) side.
    */
  def q36Cohort(spark: SparkSession, dir: String): DataFrame = {
    // cohort anchor via a frame-less min window — one shuffle on user_id,
    // no self-join back onto the event stream
    val w = Window.partitionBy("user_id")
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("first_us", min(col("us")).over(w))
      .withColumn("cohort_day",
        timestamp_micros(col("first_us")).cast("date").cast("timestamp"))
      .withColumn("week_offset", floor((col("us") - col("first_us")).cast("double") /
        (7.0 * 86400.0 * 1000000.0)).cast("long"))
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active_users"),
        count(lit(1)).as("n_events"))
      .orderBy("cohort_day", "week_offset")
  }

  /** q41: hierarchical rollup summary (region → nation → grand total).
    * Mirrors the reference's multi-level reports (per-RO tables with
    * totals rows). Subtotal NULLs are coalesced to '(all)' so both
    * engines' NULL-ordering differences never matter.
    */
  def q41Rollup(spark: SparkSession, dir: String): DataFrame = {
    // via the SQL surface: Dataset.rollup trips the analyzer's dataset-id
    // ambiguity heuristic when the grouping columns come through joins of
    // session-cached relations; GROUP BY ROLLUP in SQL resolves cleanly
    Tables.customer(spark, dir).createOrReplaceTempView("q41_customer")
    Tables.nation(spark, dir).createOrReplaceTempView("q41_nation")
    Tables.region(spark, dir).createOrReplaceTempView("q41_region")
    spark.sql(
      """SELECT COALESCE(r_name, '(all)') AS region,
        |       COALESCE(n_name, '(all)') AS nation,
        |       COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
        |FROM q41_customer
        |JOIN q41_nation ON c_nationkey = n_nationkey
        |JOIN q41_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin)
  }

  /** q42: rolling trend window over the monthly series.
    * Mirrors the notebooks' smoothed backlog/receipts trend lines:
    * 3-month moving average + running cumulative total. Aggregate to
    * month grain first; windows run over the tiny series. Moving average
    * as explicit SUM/COUNT over the frame — engine-internal windowed AVG
    * implementations differ in accumulation.
    */
  def q42MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_opened"))
    val w3 = Window.orderBy("month").rowsBetween(-2, Window.currentRow)
    val wc = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("ma3", round(
        sum(col("n_opened")).over(w3).cast("double") / count(lit(1)).over(w3).cast("double"), 4))
      .withColumn("cum_opened", sum(col("n_opened")).over(wc))
      .orderBy("month")
  }

  /** q45: salted two-phase aggregation over a skewed key.
    * The skew pattern of the reference's data (a handful of ROs holding
    * half the caseload): collapsing user_id < 75 onto one hot key makes
    * ~50% of rows share a group. Phase 1 groups by (key, salt) so the
    * hot key spreads across 16 reducers; phase 2 combines the partials.
    * The result is identical to a direct GROUP BY (the oracle) — the
    * salt is purely a shuffle-balancing device.
    */
  def q45SkewSalting(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("hot_key", when(col("user_id") < 75, 0L).otherwise(col("user_id")))
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("hot_key", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
      .groupBy("hot_key")
      .agg(sum(col("pn")).as("n_events"), round(sum(col("pv")), 2).as("total_value"))
      .orderBy("hot_key")
  }

  /** q44: anti-join — cases with no activity in the child table.
    * Mirrors the reference's "pending with no SOC" style queries
    * (scratch/other/pending-nods.R: BFDSOC is null / NOT EXISTS):
    * orders that have no lineitem at all, counted by status.
    */
  def q44AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    // anti join rides SHUFFLE-HASH (r17 probe, min-of-2 noop): 5.54 →
    // 2.47 s at sf10, 1.42 → 1.00 at sf1, and it wins even at sf0.1
    // (0.44 → 0.36) where the default still broadcasts — the key-only
    // build column hashes cheaper than it broadcasts. Pre-aggregating
    // the build to distinct keys measured WORSE (2.97 s at sf10: the
    // extra agg pass isn't paid back). Same r16-negative revision as
    // q20: hint-planned SHJ ≠ conf-forced AQE conversion.
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).select("l_orderkey").hint("shuffle_hash"),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_no_items"),
        round(sum(col("o_totalprice")), 2).as("stranded_value"))
      .orderBy("o_orderstatus")
  }

  /** q58 logical plan: fact–dim shuffle join with a selective dim filter,
    * the shape Catalyst's InjectRuntimeFilter rewrites into a bloom-filter
    * pre-scan of the fact side. Kept separate (lazy, no conf changes) so
    * PlanSpec can pin the rewrite on the optimized plan.
    */
  private[graft] def q58Plan(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
  }

  /** q58: runtime bloom-filter pre-join scan reduction — the mechanism
    * that makes a selective fact–dim shuffle join survive 100 TB. The
    * selective dim filter (urgent orders) builds a `bloom_filter_agg`
    * over the join keys as a scalar subquery; Catalyst injects
    * `might_contain(bloom, xxhash64(l_orderkey))` into the FACT scan, so
    * non-qualifying lineitem rows die at the scan instead of being
    * shuffled — at cluster scale that converts a full-fact exchange into
    * a filtered one at the cost of one small dim pre-pass. Semantics are
    * UNCHANGED (bloom false positives are re-checked by the exact join),
    * which is exactly what makes the oracle a plain SQL join.
    *
    * The rewrite only fires under shuffle-join planning with the
    * application-side size gate open, so those confs are set for the
    * duration of an eager `localCheckpoint` materialization (the result
    * is a ≤3-row aggregate) and restored in a finally — the session-wide
    * broadcast threshold is NOT left disabled for other queries. On a
    * real cluster none of this ceremony exists: the fact side exceeds the
    * 10 GB application-side default and the rewrite fires on its own.
    */
  def q58BloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try q58Plan(spark, dir).graftCheckpoint()
    finally prev.foreach { case (k, vo) =>
      vo.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }.orderBy("o_orderstatus")

  /** q59: SCD type-2 dimension history build — reconstruct each
    * entity's state-validity intervals from its raw event stream: drop
    * no-change events (run collapse via lag), then version each
    * surviving change with [eff_from, eff_to) from its own timestamp
    * and the NEXT change's (lead), open interval = current row. This is
    * the PRIORLOC shape the reference is built on — VACOLS keeps each
    * case's location history as checked-out/checked-in intervals
    * (reference R/events.R:55-90: LOCDOUT/LOCDIN per BFKEY) and every
    * analysis reconstructs "where is the case, since when"; here the
    * interval table is DERIVED from the change log, the standard
    * warehouse CDC→SCD2 materialization.
    *
    * Scale posture: ONE exchange on user_id serves both window passes —
    * the run-collapse filter preserves the sort, so versioning/lead
    * reuse the same sorted partitioning (PlanSpec pins a single hash
    * exchange); state per window is one row. Entity skew is bounded by
    * per-entity event counts (VACOLS-like logs: hundreds per case, not
    * millions); the presentation sort is oracle determinism only.
    */
  /** q60: CUBE / grouping-sets aggregation — every subtotal combination
    * of (status, priority) in one pass, with an explicit grouping-id so
    * consumers can tell a cube-ALL row from a genuine dimension value
    * (the q41 rollup's COALESCE trick is ambiguous the moment a dim is
    * nullable; `grouping()` is the ANSI answer). Complements q41:
    * ROLLUP is the hierarchy shape, CUBE the full lattice — the status-
    * report cross-tabs the reference renders from every angle
    * (notebooks' type×disposition×year breakdowns) are grouping sets.
    *
    * Scale posture: Spark expands the lattice BEFORE the exchange (one
    * Expand + one partial-aggregated shuffle on the expanded keys — 4×
    * the map-side rows for 2 dims, still one pass over the fact table,
    * never 4 scans); low-cardinality grouping keys partial-aggregate to
    * ~|lattice| rows per task.
    */
  def q60Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg((grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
          .cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("gid"), col("n_orders"), col("total_price"))
      .orderBy("gid", "status", "priority")
  }

  def q59ScdHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("state") =!= col("prev"))
      .withColumn("version", row_number().over(w))
      .withColumn("eff_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("state"),
        col("ts").as("eff_from"), col("eff_to"),
        col("eff_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** q70: declarative data-quality constraint audit — the Deequ / dbt-
    * test shape (Schelter et al., VLDB'18 "Automating Large-Scale Data
    * Quality Verification"): a constraint suite over the fact tables
    * evaluated as ONE conditional-aggregation pass per table plus one
    * linear anti-join for referential integrity, reported as
    * (constraint, observed permyriad, threshold permyriad, passed).
    * Every pipeline this engine feeds (training-data builds, the
    * reference's published tables) gates on exactly this audit.
    *
    * Constraints: o_orderkey uniqueness; o_custkey completeness;
    * o_orderstatus accepted values; o_totalprice positive range;
    * lineitem→orders referential integrity (orphan rate). Thresholds
    * are permyriad bars so the report is exact-integer.
    *
    * 100 TB posture: row-level constraints fold into one map-side-
    * combined aggregation per table (no per-constraint scans — the
    * Deequ trick); uniqueness rides the same pass as count+distinct;
    * the RI check is ONE left-anti equi-join (shuffle on the key, the
    * join the warehouse already bucket-lays-out via q39). Nothing is
    * quadratic; the report grain is |constraints|.
    */
  def q70ConstraintAudit(spark: SparkSession, dir: String): DataFrame =
    q70ConstraintCore(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  /** Core over any (orders, lineitem) frames — extracted so the spec can
    * drive corrupted data (duplicate keys, nulls, bad enums, orphans)
    * through the production plan and see every failure arm fire. */
  private[graft] def q70ConstraintCore(o: DataFrame, liDf: DataFrame): DataFrame = {
    // row-level constraints fold into ONE exchange-free map-side pass;
    // the key-grain work is SHARED (r17 sf10 probe): countDistinct
    // inside this agg cost 2.3 s of the 3.9 s pair at sf10 (0.41 s
    // without), and the RI anti join needs the same key grain — so
    // ONE groupBy(o_orderkey) aggregate feeds BOTH the uniqueness
    // count and the anti-join build (identical subtrees → AQE
    // ReusedExchange; the join build is already hash-partitioned on
    // the key, no further shuffle).
    val oAgg = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("n_bad_status"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("n_bad_price"))
    // ALL key-grain work — orders-key uniqueness, the RI orphan count,
    // AND the lineitem row total — rides ONE union-aggregate (r18, the
    // q12/q53 orderAssembly device replacing r17's shared-exchange +
    // anti-join shape): tag each side, partial-aggregate the union to
    // the key grain map-side (lineitem's ~4 rows/key collapse before
    // the exchange), and read every statistic off that grain in a
    // second tiny aggregate. No join at all — the r17 plan still paid
    // the SHJ probe + its own 60M-row lineitem exchange; this exchange
    // carries only the combined (key, n_ord, n_li) partials. r18 sf10
    // pair: 2.33 s vs the anti-join shape's 3.18 s (same DuckDB side).
    // The orders side filters null keys (countDistinct semantics: a
    // NULL key is not a distinct key); lineitem null keys stay — they
    // match nothing, so they are orphans, exactly as the left_anti
    // form counted them.
    val keyGrain = o.filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey").as("k"), lit(1L).as("ord"), lit(0L).as("li"))
      .unionAll(liDf.select(col("l_orderkey").as("k"),
        lit(0L).as("ord"), lit(1L).as("li")))
      .groupBy("k")
      .agg(sum(col("ord")).as("n_ord"), sum(col("li")).as("n_li_k"))
    val keyStats = keyGrain.agg(
      sum(when(col("n_ord") > 0L, 1L).otherwise(0L)).as("n_keys"),
      sum(when(col("n_ord") === 0L, col("n_li_k")).otherwise(0L)).as("n_orphan"),
      sum(col("n_li_k")).as("n_li"))
    val m = oAgg.crossJoin(broadcast(keyStats))
    // ONE evaluation of the metrics row, fanned into the report rows by
    // a single explode — a 5-way union of selects over `m` would plan
    // five copies of the whole aggregation tree (15 aggregate jobs)
    def entry(name: String, observed: String): Column =
      struct(lit(name).as("check_name"),
        expr(observed).cast("long").as("observed_pm"),
        lit(0L).as("threshold_pm"),
        (expr(observed).cast("long") <= 0L).as("passed"))
    m.select(explode(array(
        entry("orders_orderkey_unique", "(n - n_keys) * 10000 DIV n"),
        entry("orders_custkey_complete", "n_null_cust * 10000 DIV n"),
        entry("orders_status_accepted", "n_bad_status * 10000 DIV n"),
        entry("orders_price_positive", "n_bad_price * 10000 DIV n"),
        entry("lineitem_orderkey_referential", "n_orphan * 10000 DIV n_li")))
        .as("c"))
      .select("c.*")
      .orderBy("check_name")
  }

  /** q65: approximate aggregation over a deterministic hash sample —
    * the interactive-analytics shape at 100 TB (BlinkDB / AQP, Agarwal
    * et al. EuroSys'13): aggregate a p = 1% sample, scale estimates by
    * 1/p, and report the measured error against the exact answer — the
    * q49/q51 approximate+measured-error pattern applied to plain
    * relational aggregation (production drops the exact columns and
    * answers 100× less data).
    *
    * The sample predicate is p56's salted-hash device, never rand():
    * reproducible across engines and runs, growth-stable under fact
    * appends (an old row never flips in or out), and independent of
    * the grouping column — per-group estimates stay unbiased. At
    * 100 TB only the sample crosses the exchange and touches agg
    * state; with a materialized sample table (the AQP deployment) the
    * scan shrinks 100× too. Quantities aggregate as exact BIGINT
    * (cast per row), so estimate arithmetic is integer-exact in both
    * engines.
    */
  /** q68: calendar-spine gap filling with LOCF — the time-series
    * regularization every warehouse/IoT pipeline runs before charting
    * or modeling (the reference's monthly trend tables assume a dense
    * month axis; a 100 TB event lake guarantees nothing of the sort):
    * the (event_type, hour) metric series joins against a generated
    * dense hour spine, missing cells fill with 0 counts, and the gauge
    * column carries the last observed value forward (`last(...,
    * ignoreNulls)` ≡ DuckDB `last_value(... IGNORE NULLS)`, framed
    * rows-unbounded-preceding..current — leading cells before the
    * first observation stay NULL, the honest answer).
    *
    * Values aggregate as Σ floor(value·100) — IEEE multiply+floor is
    * deterministic in both engines, so the gauge is exact BIGINT.
    *
    * 100 TB posture: ONE map-side aggregate reduces the raw events to
    * the (type, hour) grain; the spine is |types| × |hours| — bounded
    * by the TIME RANGE, independent of corpus size (the q11/q12
    * aggregate-then-window discipline); the bounds row broadcasts, the
    * spine join and the LOCF window run on grain rows only.
    */
  def q68GapFill(spark: SparkSession, dir: String): DataFrame =
    q68GapFillCore(Tables.events(spark, dir))

  /** Core over any (event_type, ts, value) frame — extracted so the
    * spec can drive constructed sparse series through the production
    * plan (leading gaps, all-null stretches, single-hour types). */
  private[graft] def q68GapFillCore(events: DataFrame): DataFrame = {
    val hourly = events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        floor(col("value") * 100).cast("long").as("v100"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n_events"), sum(col("v100")).as("sum_v100"))
    val bounds = hourly.agg(min(col("hour")).as("min_h"), max(col("hour")).as("max_h"))
    val spine = hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(min_h, max_h, interval 1 hour)")).as("hour"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_v100"))
      .withColumn("locf_v100", last(col("sum_v100"), ignoreNulls = true).over(w))
      .orderBy("event_type", "hour")
  }

  def q65ApproxAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
        (PortableHash.ph(concat(lit("q65:"), col("l_orderkey"),
          lit(":"), col("l_linenumber"))) % 100).as("u"))
    // exact and estimate ride ONE aggregation over ONE scan — the
    // sample contributes via conditional sums, so there is no second
    // scan and no join (in production only the estimate branch exists
    // and the filter prunes at the scan)
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
        (sum(when(col("u") === 0, 1L).otherwise(0L)) * 100).as("est_rows"),
        (sum(when(col("u") === 0, col("qty")).otherwise(0L)) * 100).as("est_qty"))
      .select(col("l_returnflag"), col("n_rows"), col("est_rows"),
        expr("abs(est_rows - n_rows) * 10000 DIV n_rows").as("err_rows_pm"),
        col("sum_qty"), col("est_qty"),
        expr("abs(est_qty - sum_qty) * 10000 DIV sum_qty").as("err_qty_pm"))
      .orderBy("l_returnflag")
  }

  /** q73: multi-touch conversion attribution — the marketing-analytics
    * report assigning each purchase's credit to the touches (view /
    * click / signup events of the same user) in its preceding 7-day
    * window, under the three standard models at once: FIRST-touch,
    * LAST-touch, and LINEAR (equal split). Credits are integer
    * permyriad — linear = 10000 DIV n per touch (floor; exact both
    * engines), first/last = 10000 to the boundary touch with ties
    * broken on (ts, event_id). Purchases with no touch in window are
    * reported as an explicit `__NONE__` row (never silently dropped —
    * attribution reports must account for every conversion).
    *
    * 100 TB posture: ONE user-keyed equi-join with the time-range
    * predicate (st37's attribution shape — never a theta-only join);
    * the per-conversion window runs over each purchase's bounded
    * 7-day touch set; the report is a partial-aggregated rollup to the
    * ≤|touch types|+1 grain. The unattributed row is a broadcast
    * left-anti of the tiny conversion set.
    */
  def q73Attribution(spark: SparkSession, dir: String): DataFrame =
    q73AttributionCore(Tables.events(spark, dir))

  /** Rule core over any (event_id, user_id, event_type, ts) frame —
    * property tests drive random touch/conversion layouts through the
    * production plan. */
  /** q73's credited touch domain, in 2-bit-code order (index = code).
    * ONE Seq drives BOTH the event-type filter and the packed-int64
    * type code (ADVICE r17): a 4th touch type added to the filter
    * without a code would otherwise silently alias with the last
    * `.otherwise` arm and double-credit boundary reads. */
  private val TouchTypes = Seq("click", "signup", "view")

  /** touch_type → 2-bit code, failing LOUDLY on anything outside
    * [[TouchTypes]] instead of aliasing it (the filter makes the error
    * arm unreachable today; it exists to keep filter and mapping from
    * drifting apart). */
  private def touchCode(c: Column): Column =
    TouchTypes.zipWithIndex.tail
      .foldLeft(when(c === TouchTypes.head, 0L)) {
        case (acc, (t, i)) => acc.when(c === t, i.toLong)
      }
      .otherwise(raise_error(concat_ws(" ",
        lit("q73: touch_type outside the credited domain:"), c)))

  private[graft] def q73AttributionCore(ev: DataFrame): DataFrame = {
    // both join legs are filters of the SAME user_id-repartitioned
    // subtree: the filters sit ABOVE the exchange, so the two legs'
    // exchanges are canonically identical and collapse into ONE events
    // shuffle (scan once, shuffle once), and the join sees both children
    // already hash-partitioned on user_id — no further exchange (r9; two
    // separate filtered scans each paid their own exchange before)
    val ev2 = ev
      .filter(col("event_type").isin("purchase" +: TouchTypes: _*))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .repartition(col("user_id"))
    val p = ev2.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("ts").as("p_ts"))
    val t = ev2.filter(col("event_type").isin(TouchTypes: _*))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ts").as("t_ts"), col("event_id").as("touch_id"))
    val joined = p.hint("shuffle_hash").join(t, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    // the touch-credit pairs NEVER shuffle (r9 — the r8 verdict's q73
    // item): the join output partial-aggregates map-side to the
    // (conv_id, touch_type) grain, so the only pair-sized work is
    // pipelined inside the join stage, and the prior rn/count windows'
    // exchange+sort over every pair (~5M rows at sf1, the measured
    // cost) collapses to window passes on the ≤|convs|·|touch types|
    // grain.
    //
    // The boundary touch rides a PACKED INT64, not a min/max(struct)
    // (r17, the r16 orderAssembly finding): a struct agg buffer is not
    // UnsafeRow-mutable, so the struct form silently planned
    // SortAggregate — per-partition sorts of the PAIR-sized join
    // output. Packing is safe here because the join bounds the window:
    // dt = p_ts − t_ts ∈ (0, 7 days] < 2^40 µs, and the tie-break is
    // the 2-bit TYPE code (boundary identity never leaves the query —
    // only its type is credited — so ties on (conv, ts) resolve by
    // touch_type; same-type ties credit the same type either way).
    // packed = dt·4 + (3 − code): max(packed) = earliest ts then
    // lexicographically-first type; min(packed) = latest ts then
    // lexicographically-last type — exactly the oracle's
    // ORDER BY t_ts, touch_type / ORDER BY t_ts DESC, touch_type DESC.
    val packed = (unix_micros(col("p_ts")) - unix_micros(col("t_ts"))) * 4L +
      (lit(3L) - touchCode(col("touch_type")))
    val ct = joined.groupBy("conv_id", "touch_type")
      .agg(count(lit(1)).as("cnt"),
        max(packed).as("pf"), min(packed).as("pl"))
    val wc = Window.partitionBy("conv_id")
    val decode = (pk: Column) => lit(3L) - pmod(pk, lit(4L))
    val myCode = touchCode(col("touch_type"))
    val credited = ct
      .withColumn("n", sum(col("cnt")).over(wc))
      .withColumn("first_code", decode(max(col("pf")).over(wc)))
      .withColumn("last_code", decode(min(col("pl")).over(wc)))
      .groupBy("touch_type")
      .agg(sum(col("cnt")).as("n_touches"),
        // per conv exactly one grain row's type equals the boundary
        // touch's type, so each conversion contributes 10000 pm once
        sum(when(col("first_code") === myCode, 10000L)
          .otherwise(0L)).as("credit_first_pm"),
        sum(when(col("last_code") === myCode, 10000L)
          .otherwise(0L)).as("credit_last_pm"),
        // Σ over the conv's touches of 10000 DIV n, grouped by type
        sum(expr("10000 DIV n") * col("cnt")).as("credit_linear_pm"))
    val unattributed = p.join(
        ct.select("conv_id").distinct(), Seq("conv_id"), "left_anti")
      .agg(count(lit(1)).as("n_convs"))
      .select(lit("__NONE__").as("touch_type"),
        col("n_convs").as("n_touches"),
        (col("n_convs") * 10000).as("credit_first_pm"),
        (col("n_convs") * 10000).as("credit_last_pm"),
        (col("n_convs") * 10000).as("credit_linear_pm"))
    credited.unionByName(unattributed).orderBy("touch_type")
  }

  /** q72: robust anomaly detection on the daily event-volume series —
    * the median/MAD outlier monitor (Hampel's rule: flag
    * |x − median| > 3·1.4826·MAD, the robust z-score every pipeline
    * health dashboard runs where mean/stddev would let one spike mask
    * itself). Completes the monitoring family: t39 watches
    * DISTRIBUTION drift, q70 audits ROW-LEVEL constraints, q72 flags
    * VOLUME anomalies per (event_type, day).
    *
    * Exactness device: medians of integers are half-integers — carried
    * DOUBLED as exact int64 (2·median = a+b, the interpolation sum;
    * same for the deviation median), and Hampel's 4.4478·MAD threshold
    * clears to pure integer arithmetic: |x−med| > 4.4478·MAD ⟺
    * 20000·dev2 > 44478·mad4, dev2 = |2x − med2|. No floats anywhere,
    * both engines agree bit-for-bit (percentile ≡ quantile_cont on the
    * q10 precedent, doubled to integers here).
    *
    * 100 TB posture: ONE events scan partial-aggregates to the
    * (type, day) grain — the only data-sized shuffle; the two median
    * passes and the broadcast joins back run on that tiny bounded grain
    * (|types|·|days| rows regardless of corpus size).
    */
  def q72AnomalyMad(spark: SparkSession, dir: String): DataFrame =
    q72AnomalyCore(Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("event_date")))

  /** Rule core over any (event_type, event_date) frame — property tests
    * drive constructed spiked series through the production plan. */
  private[graft] def q72AnomalyCore(events: DataFrame): DataFrame =
    q72Tail(events.groupBy("event_type", "event_date")
      .agg(count(lit(1)).as("n_events")))

  /** q72's report tail over the (event_type, event_date, n_events)
    * grain — shared with st47 (the streaming monitor), so the
    * continuously maintained report cannot drift from the batch rule
    * (the t39/st44 discipline). */
  private[graft] def q72Tail(daily: DataFrame): DataFrame = {
    val med = daily.groupBy("event_type")
      .agg((expr("percentile(n_events, 0.5)") * 2).cast("long").as("med2"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev2", abs(col("n_events") * 2 - col("med2")))
    val mad = dev.groupBy("event_type")
      .agg((expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"),
        date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("n_events"), col("med2"), col("dev2"), col("mad4"),
        (col("dev2") * 20000 > col("mad4") * 44478).cast("int").as("anomaly"))
      .orderBy("event_type", "event_date")
  }
}
